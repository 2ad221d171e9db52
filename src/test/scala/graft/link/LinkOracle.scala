package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Column-expression entity linker `EntityLink` replaced, kept as the
  * reference its Scala scorer must equal: the kb exploded to alias rows,
  * LEFT broadcast-joined to the mentions on the normalized surface, scored
  * as SQL expressions, and the best candidate per mention row picked by
  * `min_by` over a row id.
  */
object LinkOracle {

  def normKey(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  def contextSimilarity(context: Column, profile: Column): Column = {
    val a = array_distinct(filter(split(lower(context), "\\s+"), t => t =!= lit("")))
    val b = array_distinct(filter(split(lower(profile), "\\s+"), t => t =!= lit("")))
    val inter = size(array_intersect(a, b)).cast("double")
    when(size(a) > 0 && size(b) > 0, round(inter / sqrt(size(a).cast("double") * size(b).cast("double")), 6))
      .otherwise(lit(0.0))
  }

  def linkScore(ctxSim: Column, prior: Column): Column = round(lit(0.6) * ctxSim + lit(0.4) * prior, 6)

  def scoreBucket(linkScore: Column): Column =
    when(linkScore.isNull, lit("unlinked")).otherwise(format_string("%.1f", floor(linkScore * 10) / 10))

  private def scored(mentions: DataFrame, kb: DataFrame, joinType: String): DataFrame = {
    val aliasRows = kb.select(
        col("entity_id"), col("canonical_name"), col("profile"),
        coalesce(col("prior"), lit(0.5)).as("prior"),
        explode(array_union(col("aliases"), array(col("canonical_name")))).as("alias"))
      .withColumn("alias_key", normKey(col("alias")))
      .dropDuplicates("alias_key", "entity_id")
    mentions
      .withColumn("surface_key", normKey(col("surface")))
      .join(broadcast(aliasRows), col("surface_key") === col("alias_key"), joinType)
      .withColumn("ctx_sim", contextSimilarity(col("context"), col("profile")))
      .withColumn("link_score", linkScore(col("ctx_sim"), col("prior")))
  }

  def candidates(mentions: DataFrame, kb: DataFrame): DataFrame = scored(mentions, kb, "inner")

  def link(mentions: DataFrame, kb: DataFrame, minScore: Double = 0.0): DataFrame = {
    val keys = mentions.columns.toSeq.map(col)
    val rowId = "_link_row"
    scored(mentions.withColumn(rowId, monotonically_increasing_id()), kb, "left")
      .groupBy(col(rowId) +: keys: _*)
      .agg(min_by(
        struct(col("entity_id"), col("canonical_name"), col("ctx_sim"), col("link_score")),
        when(col("link_score") >= minScore, struct(negate(col("link_score")), col("entity_id")))).as("b"))
      .select(keys ++ Seq(col("b.entity_id").as("entity_id"), col("b.canonical_name").as("canonical_name"),
        col("b.ctx_sim").as("ctx_sim"), col("b.link_score").as("link_score")): _*)
  }
}

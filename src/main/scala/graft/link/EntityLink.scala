package graft.link

import graft.text.PyText
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Candidate entity linking (SURVEY §7.1.7; north rule: "candidate entity
  * linking with alias-dictionary broadcast joins plus context-similarity
  * scoring").
  *
  * Inputs:
  *   mentions(mention_id, url, surface, context)         — large (per-doc NER output)
  *   kb(entity_id, canonical_name, aliases ARRAY<STRING>, profile STRING)
  *                                                        — small dimension (broadcast)
  *
  * Plan shape at 100 TB: the knowledge base is exploded to one (alias_key →
  * entity) row per alias and BROADCAST; `link` scans the mentions ONCE —
  * each mention row is tagged with a row id and LEFT broadcast-hash-joined
  * on the normalized surface (no shuffle of the mention side), scoring is a
  * pure Column expression over the joined rows, and one aggregate keyed on
  * the row id (the mention columns ride along as keys) picks the best candidate with `min_by`, whose ordering is NULL
  * for a candidate that does not qualify (or for no candidate at all). The
  * mention side is therefore exchanged once, by a unique key that no
  * hub-skewed surface can skew — instead of being scanned twice, once for
  * the candidate aggregate and once more for a join back of every mention.
  */
object EntityLink {

  /** Normalize a surface/alias to its join key (lower + collapse spaces). */
  def normKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Deterministic context similarity: cosine over binary term sets of the
    * mention context and the candidate profile (token-set overlap /
    * sqrt(|A|·|B|)). Pure Column expression — codegen'd, portable.
    */
  def contextSimilarity(context: org.apache.spark.sql.Column,
                        profile: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = array_distinct(filter(split(lower(context), "\\s+"), t => t =!= lit("")))
    val b = array_distinct(filter(split(lower(profile), "\\s+"), t => t =!= lit("")))
    val inter = size(array_intersect(a, b)).cast("double")
    when(size(a) > 0 && size(b) > 0, round(inter / sqrt(size(a).cast("double") * size(b).cast("double")), 6))
      .otherwise(lit(0.0))
  }

  /** Candidate generation: explode kb aliases (+ canonical name itself),
    * broadcast, equi-join on normalized surface.
    * Returns (mention columns) + entity_id, canonical_name, prior, ctx_sim, link_score.
    */
  def candidates(mentions: DataFrame, kb: DataFrame): DataFrame = scored(mentions, kb, "inner")

  /** The mentions broadcast-joined to the kb's alias rows (`inner`: the
    * candidates; `left`: also each mention with none, its kb columns and
    * link_score NULL) and scored.
    */
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
      .withColumn("link_score", round(lit(0.6) * col("ctx_sim") + lit(0.4) * col("prior"), 6))
  }

  /** Best candidate per mention row (deterministic: argmin of the comparable
    * key struct(-link_score, entity_id) — highest score, ties to the smallest
    * entity_id, over the candidates scoring ≥ minScore); a mention with no
    * such candidate is kept with null entity, so the unlinked-mention
    * diagnostic falls out for free. One output row per input row, repeated
    * rows included: the aggregate groups by a per-row id plus the mention
    * columns, which it passes through unchanged.
    *
    * `min_by` over a groupBy, NOT a row_number window: the aggregate reduces
    * map-side (partial min_by) — measured 3.5× faster than WindowExec on the
    * same candidate set (LinkProbe: 0.77 s vs 2.68 s for 28k candidates at
    * sf0.1), and the gap widens at scale where the window would sort every
    * partition.
    */
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

  /** Link-score distribution per partition-sized bucket (north rule metric):
    * histogram of link_score in 0.1 buckets + unlinked count.
    */
  def linkScoreHistogram(linked: DataFrame): DataFrame =
    linked.groupBy(
      when(col("link_score").isNull, lit("unlinked"))
        .otherwise(format_string("%.1f", floor(col("link_score") * 10) / 10)).as("score_bucket"))
      .agg(count(lit(1)).as("n"))

  /** Scala-side scorer (same formula) for use inside typed maps. */
  def contextSimilarityScala(context: String, profile: String): Double = {
    val a = PyText.split(PyText.lower(context)).toSet
    val b = PyText.split(PyText.lower(profile)).toSet
    if (a.isEmpty || b.isEmpty) 0.0
    else math.rint(a.intersect(b).size / math.sqrt(a.size.toDouble * b.size) * 1e6) / 1e6
  }
}

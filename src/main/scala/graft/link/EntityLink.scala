package graft.link

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Candidate entity linking (SURVEY §7.1.7; north rule: "candidate entity
  * linking with alias-dictionary broadcast joins plus context-similarity
  * scoring").
  *
  * Inputs:
  *   mentions(mention_id, url, surface, context)         — large (per-doc NER output)
  *   kb(entity_id, canonical_name, aliases ARRAY<STRING>, profile STRING, prior DOUBLE)
  *                                                        — small dimension (broadcast)
  *
  * Plan shape at 100 TB: the knowledge base is collected ONCE on the driver
  * into a [[KbIndex]] — alias key → that key's candidates, deduplicated on
  * (alias_key, entity_id), each with its profile's token set and its prior —
  * and broadcast. Linking is then a map-side join: every mention row is
  * looked up and scored where it already is, inside one narrow map. The
  * mention side is never exchanged, joined or grouped, so no hub-skewed
  * surface can skew anything and a repeated mention row simply yields one
  * output row per input row. `Pipeline.run` calls the same per-mention
  * scorer inside its per-partition pass.
  *
  * The scorer reproduces Spark's own string semantics (so it equals the
  * SQL formula `regexp_replace(lower(trim(s)), '\s+', ' ')` for keys and
  * `split(lower(text), '\s+')` for token sets): `trim` strips spaces only,
  * `lower` is Spark's UTF8_BINARY lowercasing under the session's
  * `spark.sql.icu.caseMappings.enabled`, `\s` is `java.util.regex`'s ASCII
  * whitespace, and `round(x, 6)` rounds HALF_UP on the decimal form of x.
  */
object EntityLink {

  /** One alias-row of the knowledge base: the kb columns, the alias it was
    * reached by and its key, and the profile's token set. `prior` is the kb
    * prior, 0.5 where NULL.
    */
  final case class Candidate(entityId: String, canonicalName: String, profile: String, prior: Double,
                             alias: String, aliasKey: String, profileTokens: Set[String])

  /** A candidate scored against one mention's context. */
  final case class Scored(candidate: Candidate, ctxSim: Double, linkScore: Double)

  /** The knowledge base by normalized alias key. `useICU` is the session's
    * case-mapping choice at build time; mention keys and tokens are made
    * with the same choice wherever the index is used.
    */
  final class KbIndex private[link] (useICU: Boolean, byKey: Map[String, Array[Candidate]])
      extends Serializable {

    /** Every candidate of the mention, scored (the inner-join rows). */
    def scored(surface: String, context: String): Array[Scored] = {
      val key = normKey(surface, useICU)
      val cands = if (key == null) Array.empty[Candidate] else byKey.getOrElse(key, Array.empty[Candidate])
      if (cands.isEmpty) Array.empty
      else {
        val ctx = tokens(context, useICU)
        cands.map { c =>
          val sim = similarity(ctx, c.profileTokens)
          Scored(c, sim, linkScore(sim, c.prior))
        }
      }
    }

    /** The mention's best candidate among those scoring ≥ minScore: the
      * highest score, ties to the smallest entity_id in binary UTF-8 order;
      * None when no candidate qualifies.
      */
    def best(surface: String, context: String, minScore: Double): Option[Scored] =
      scored(surface, context).foldLeft(Option.empty[Scored]) { (b, s) =>
        if (compareDoubles(s.linkScore, minScore) < 0) b
        else if (b.forall(ranksAbove(s, _))) Some(s)
        else b
      }
  }

  private val Ws = java.util.regex.Pattern.compile("\\s+")

  /** Spark's `lower` on a UTF8_BINARY string. */
  private def lower(s: UTF8String, useICU: Boolean): UTF8String =
    CollationSupport.Lower.exec(s, CollationFactory.UTF8_BINARY_COLLATION_ID, useICU)

  /** The session's case-mapping choice (an existing Spark conf). */
  def useICU(spark: SparkSession): Boolean =
    spark.conf.get(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key).toBoolean

  /** A surface's or alias's join key: `regexp_replace(lower(trim(s)), '\s+', ' ')`;
    * NULL stays NULL.
    */
  def normKey(s: String, useICU: Boolean): String =
    if (s == null) null
    else Ws.matcher(lower(UTF8String.fromString(s).trim(), useICU).toString).replaceAll(" ")

  /** The distinct non-empty tokens of `split(lower(s), '\s+')`; empty for NULL. */
  private def tokens(s: String, useICU: Boolean): Set[String] =
    if (s == null) Set.empty
    else Ws.split(lower(UTF8String.fromString(s), useICU).toString, -1).iterator.filter(_.nonEmpty).toSet

  /** Context similarity: cosine over binary term sets of the mention context
    * and the candidate profile, |A∩B| / sqrt(|A|·|B|) rounded to 6 places;
    * 0.0 when either side has no token (NULL included).
    */
  def contextSimilarity(context: String, profile: String, useICU: Boolean): Double =
    similarity(tokens(context, useICU), tokens(profile, useICU))

  private def similarity(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty || b.isEmpty) 0.0
    else round6(a.count(b.contains) / math.sqrt(a.size.toDouble * b.size.toDouble))

  /** round(0.6·ctx_sim + 0.4·prior, 6). */
  def linkScore(ctxSim: Double, prior: Double): Double = round6(0.6 * ctxSim + 0.4 * prior)

  /** The histogram bucket of a link score: `format_string('%.1f',
    * floor(score * 10) / 10)`, or "unlinked" for none.
    */
  def scoreBucket(linkScore: Option[Double]): String = linkScore match {
    case None => "unlinked"
    case Some(s) => String.format(java.util.Locale.US, "%.1f", Double.box(math.floor(s * 10).toLong / 10.0))
  }

  /** Spark's `round(x, 6)` on a double. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark's double order: NaN above everything, -0.0 equal to 0.0. */
  private def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** `a` before `b` in the order of struct(-link_score, entity_id): the
    * higher score, then the smaller entity_id (NULL first).
    */
  private def ranksAbove(a: Scored, b: Scored): Boolean = {
    val c = compareDoubles(-a.linkScore, -b.linkScore)
    c < 0 || c == 0 && {
      val (x, y) = (a.candidate.entityId, b.candidate.entityId)
      if (x == null) y != null
      else y != null && UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)) < 0
    }
  }

  /** The knowledge base as a [[KbIndex]], built from one collect: each kb
    * row is reached by its aliases and its canonical name
    * (`array_union(aliases, array(canonical_name))`; a row with NULL
    * aliases is reached by nothing), deduplicated on (alias_key, entity_id).
    */
  private def kbIndex(kb: DataFrame): KbIndex = {
    val icu = useICU(kb.sparkSession)
    val seen = mutable.HashSet.empty[(String, String)]
    val byKey = mutable.HashMap.empty[String, mutable.ArrayBuffer[Candidate]]
    kb.select(col("entity_id"), col("canonical_name"), col("profile"), coalesce(col("prior"), lit(0.5)),
        array_union(col("aliases"), array(col("canonical_name"))))
      .collect().foreach { r =>
        if (!r.isNullAt(4)) {
          val (id, name, profile, prior) = (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))
          val profileTokens = tokens(profile, icu)
          r.getSeq[String](4).foreach { alias =>
            val key = normKey(alias, icu)
            if (key != null && seen.add((key, id)))
              byKey.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
                Candidate(id, name, profile, prior, alias, key, profileTokens)
          }
        }
      }
    new KbIndex(icu, byKey.iterator.map { case (k, cs) => k -> cs.toArray }.toMap)
  }

  /** The index, broadcast. */
  def broadcastIndex(kb: DataFrame): Broadcast[KbIndex] =
    kb.sparkSession.sparkContext.broadcast(kbIndex(kb))

  /** Every (mention, candidate) pair on the normalized surface, scored.
    * Returns (mention columns) + surface_key, entity_id, canonical_name,
    * profile, prior, alias, alias_key, ctx_sim, link_score.
    */
  def candidates(mentions: DataFrame, kb: DataFrame): DataFrame = {
    val k = kb.schema
    val aliasNullable = k("canonical_name").nullable || k("aliases").dataType.asInstanceOf[ArrayType].containsNull
    val schema = StructType(mentions.schema.fields ++ Seq(
      StructField("surface_key", StringType, mentions.schema("surface").nullable),
      StructField("entity_id", StringType, k("entity_id").nullable),
      StructField("canonical_name", StringType, k("canonical_name").nullable),
      StructField("profile", StringType, k("profile").nullable),
      StructField("prior", DoubleType, nullable = false),
      StructField("alias", StringType, aliasNullable),
      StructField("alias_key", StringType, aliasNullable),
      StructField("ctx_sim", DoubleType),
      StructField("link_score", DoubleType)))
    perMention(mentions, kb, schema) { (ix, surface, context) =>
      ix.scored(surface, context).iterator.map { s =>
        val c = s.candidate
        Seq(c.aliasKey, c.entityId, c.canonicalName, c.profile, c.prior, c.alias, c.aliasKey, s.ctxSim, s.linkScore)
      }
    }
  }

  /** Best candidate per mention row (deterministic: the highest link_score
    * among the candidates scoring ≥ minScore, ties to the smallest
    * entity_id); a mention with no such candidate is kept with NULL kb
    * columns, so the unlinked-mention diagnostic falls out for free. One
    * output row per input row, repeated rows included. Returns (mention
    * columns) + entity_id, canonical_name, ctx_sim, link_score.
    */
  def link(mentions: DataFrame, kb: DataFrame, minScore: Double = 0.0): DataFrame = {
    val schema = StructType(mentions.schema.fields ++ Seq(
      StructField("entity_id", StringType), StructField("canonical_name", StringType),
      StructField("ctx_sim", DoubleType), StructField("link_score", DoubleType)))
    perMention(mentions, kb, schema) { (ix, surface, context) =>
      Iterator.single(ix.best(surface, context, minScore) match {
        case Some(s) => Seq(s.candidate.entityId, s.candidate.canonicalName, s.ctxSim, s.linkScore)
        case None => Seq(null, null, null, null)
      })
    }
  }

  /** Each mention row, followed by each of the column tails `f` makes of
    * it against the broadcast index: one narrow map over the mentions.
    */
  private def perMention(mentions: DataFrame, kb: DataFrame, schema: StructType)
                        (f: (KbIndex, String, String) => Iterator[Seq[Any]]): DataFrame = {
    val index = broadcastIndex(kb)
    val (s, c) = (mentions.schema.fieldIndex("surface"), mentions.schema.fieldIndex("context"))
    mentions.mapPartitions { rows =>
      val ix = index.value
      rows.flatMap(r => f(ix, r.getString(s), r.getString(c)).map(tail => Row.fromSeq(r.toSeq ++ tail)))
    }(Encoders.row(schema))
  }

  /** Link-score distribution per partition-sized bucket (north rule metric):
    * histogram of link_score in 0.1 buckets + unlinked count, bucketed by
    * `scoreBucket`.
    */
  def linkScoreHistogram(linked: DataFrame): DataFrame = {
    val bucket = udf((s: java.lang.Double) => scoreBucket(Option(s).map(_.doubleValue))).asNonNullable()
    linked.groupBy(bucket(col("link_score")).as("score_bucket")).agg(count(lit(1)).as("n"))
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Order-insensitive content digest of a row set: row count, sum of the low
  * 32 bits of each row's hash (so duplicate rows count) and XOR of the full
  * 64-bit hashes. Rows are hashed through their JSON rendering, which every
  * column type (maps included) has.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  override def toString: String = s"rows=$rows sum=$sum xor=$xor"
}

object Checks {

  def digest(df: DataFrame): Digest = {
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same rows minus the first one: the corrupted input of the self-test. */
  def dropFirstRow(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd.zipWithIndex().filter(_._2 != 0L).map(_._1), df.schema)

  /** Triple columns that identify a triple's content (run_id excluded). */
  val tripleCols: Seq[String] = Seq("customer_id", "url", "subj", "pred", "obj", "confidence")

  def tripleDigest(triples: DataFrame): Digest = digest(triples.select(tripleCols.map(col): _*))

  /** Connected-component labels by a driver-side union-find: every id maps to
    * the smallest id (string order) of its component, as
    * `Canonicalize.connectedComponents` defines it.
    */
  def unionFindLabels(edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** `Pipeline.run`'s canonical_id of a canonical key: "canon_" and the
    * first 16 hex digits of its SHA-256.
    */
  def canonicalId(key: String): String =
    "canon_" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8)).take(8).map(b => f"${b & 0xff}%02x").mkString

  /** Triple precision and recall of the public per-doc functions against the
    * reference fixture, computed as the parity test does: lower-cased
    * (subj, pred, obj) plus confidence rounded to 1e-6, over the fixture's
    * 500 documents of the seed-42 corpus.
    */
  def tripleParity(fixture: java.nio.file.Path): (Double, Double) = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    val expected = java.nio.file.Files.readAllLines(fixture).asScala.filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      n.get("url").asText() -> n.get("triples").elements().asScala.map { x =>
        (x.get("subj").asText().toLowerCase, x.get("pred").asText(),
          x.get("obj").asText().toLowerCase, r6(x.get("confidence").asDouble()))
      }.toSet
    }.toMap
    var tp = 0L; var fp = 0L; var fn = 0L
    (0L until expected.size.toLong).foreach { i =>
      val p = graft.corpus.Corpus.genPage(i, 42L)
      val doc = graft.analyze.DocAnalyze.analyze(p)
      val g = graft.kg.GraphBuild.build(doc, graft.needs.Needs.profile(doc))
      val got = graft.kg.GraphBuild.triples(g)
        .map(t => (t.subj.toLowerCase, t.pred, t.obj.toLowerCase, r6(t.confidence))).toSet
      val exp = expected.getOrElse(p.url, Set.empty)
      tp += (got intersect exp).size; fp += (got -- exp).size; fn += (exp -- got).size
    }
    (if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp), if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn))
  }

  /** Expected per-query digests, one `name rows sum xor` line per query. */
  def readExpected(path: java.nio.file.Path): Map[String, Digest] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, r, s, x) = l.split("\\s+")
        q -> Digest(r.toLong, s.toLong, x.toLong)
      }.toMap
  }
}

/** Summary statistics of a sample. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Highest percentile (whole number) with at least ten samples above it,
    * and its value; None when the sample is too small to have one.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 50 by -1).find(p => xs.size * (100 - p) / 100.0 >= 10.0)
      .map(p => p -> quantile(xs, p / 100.0))
}

package graft.tools

import graft.corpus.Corpus
import graft.kg.{GraphBuild, Pipeline}
import graft.ops.{NearDup, TextOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** DATA-size scaling probe (the bench's scaling section varies CORES; this
  * varies the INPUT): the five headline operator families over the same
  * deterministic synthetic corpus at N and 10N documents, parquet-backed so
  * scans are included. Near-linear growth (wall ratio well under 2× the
  * 10× data ratio, i.e. < 20×) is the empirical backing for the "uniform
  * keys, no skew" plan claims. Near-dup paths run the production
  * discipline: exact dedup first, then the guardrailed scale entrypoint
  * (the synthetic generator's 8-sentence vocabulary makes true duplicate
  * mass quadratic in corpus size — any algorithm's PAIR COUNT explodes on
  * it, which is a corpus property; the guardrail keeps the probe measuring
  * the algorithm, and the dropped-bucket accounting is printed).
  * Usage: runMain graft.tools.DataScaleProbe [nBase] [reps] [opFilter]
  * (opFilter: comma-separated op names — re-measure a single op after a
  * steal burst without paying for the full matrix)
  */
object DataScaleProbe {
  def main(args: Array[String]): Unit = {
    val nBase = args.lift(0).map(_.toLong).getOrElse(50000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val opFilter = args.lift(2).map(_.split(",").toSet)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tmp = java.nio.file.Files.createTempDirectory("graft-datascale").toString
    def corpusDir(n: Long): String = {
      val dir = s"$tmp/docs_$n"
      Corpus.pages(spark, n, partitions = 128)
        .select(monotonically_increasing_id().as("doc_id"), $"text")
        .write.parquet(dir)
      dir
    }

    def timeOp(f: => Long): (Double, Long) = {
      var rows = 0L
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        rows = f
        (System.nanoTime() - t0) / 1e9
      }
      (ts.min, rows)
    }

    case class Res(op: String, n: Long, sec: Double, rows: Long)
    val results = scala.collection.mutable.ArrayBuffer.empty[Res]

    for (n <- Seq(nBase, nBase * 10)) {
      val dir = corpusDir(n)
      def docs = spark.read.parquet(dir)
      // canonical docs after exact dedup — the production pre-pass for all
      // near-dup families; materialized once per size like a real pipeline
      val canonical = TextOps.exactDedup(docs)
        .where(!col("is_duplicate")).select(col("doc_id"))
        .join(docs, Seq("doc_id")).localCheckpoint()
      println(s"n=$n canonical=${canonical.count()}")

      def enabled(op: String): Boolean = opFilter.forall(_.contains(op))
      def record(op: String)(f: => Long): Unit = {
        if (enabled(op)) {
          val (sec, rows) = timeOp(f)
          results += Res(op, n, sec, rows)
          println(f"n=$n%-8d $op%-16s $sec%7.2f s  rows=$rows")
        }
      }
      record("exact_dedup")(TextOps.exactDedup(docs).count())
      record("lsh_candidates")(NearDup.lshCandidates(
        NearDup.lshBands(NearDup.minhashSignatures(canonical)), maxBucket = 64).count())
      if (enabled("lsh_verified")) {
        // construction guarded too: lshVerifiedPairsScaled localCheckpoints eagerly
        val scaled = NearDup.lshVerifiedPairsScaled(canonical, 0.8, maxBucket = 64)
        record("lsh_verified")(scaled.pairs.count())
        println(s"n=$n lsh_verified drops: ${scaled.logDrops()}")
      }
      record("simhash_neardup")(NearDup.simhashNearDupPairs(
        canonical, maxHamming = 4, maxBucket = 64).count())
      if (enabled("embedding_neardup")) {
        val embScaled = graft.ops.Similarity.cosineNearDupPairsScaled(
          graft.ops.Similarity.hashedEmbeddings(canonical), 0.95,
          planes = 12, tables = 4, idCol = "doc_id", embCol = "emb",
          dim = 64, maxBucket = 512)
        record("embedding_neardup")(embScaled.pairs.count())
        println(s"n=$n embedding_neardup drops: ${embScaled.logDrops()}")
      }
      // EXACT prefix-filter similarity join (q73 family) at a threshold
      // high enough that the synthetic corpus's quadratic duplicate mass
      // (8-sentence vocabulary) stays out of the TRUE pair set — the
      // operator is exact, so unlike the LSH families there is no bucket
      // cap to hide behind; the probe measures the real thing
      record("prefix_jaccard")(NearDup.prefixJaccardPairs(canonical, 99, 100).count())
      // hamming<=1 deletion-neighborhood join (q94 family) over fixed-
      // format ids — the low-entropy worst case for prefix blocking is the
      // DESIGNED case for mask blocking
      record("hamming_join") {
        val names = spark.range(n / 10).select(col("id").as("c_custkey"),
          concat(lit("Item#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"))
        NearDup.hammingJoin(names, "c_custkey", "c_name").count()
      }
      record("kg_triples")(Pipeline.docGraphs(spark,
        Corpus.pages(spark, n, partitions = 128))
        .flatMap(g => GraphBuild.triples(g)).count())
      // winnowing twins over the SAME docs: the md5-gram Column variant vs
      // the Karp-Rabin mapPartitions stage — the per-position cost claim
      // (triple-slice window lambda + ~25 md5 calls vs O(1) rolling update)
      // measured, not argued
      record("winnow_column")(TextOps.winnowingFingerprints(docs).count())
      record("winnow_rolling")(TextOps.winnowingFingerprintsRolling(docs).count())
      // entity linking (q38 shape): typed NER flatMap + broadcast vocab-KB
      // dimension + min_by best-candidate — the "hub-surface skew-immune"
      // claim driven at 10× data
      record("entity_linking")(graft.SparkEntry.entityLinkingOverDocs(spark, docs).count())
      // connected components (large-star/small-star) on a 3n-edge hub+chain
      // mix: 3n/2 spokes on one hub + 1000-hop chains — the dedup families'
      // sub-linearity evidence extended to the canonicalization operator.
      // 3n keeps both sizes above Canonicalize's 100k-edge driver bound at
      // the default nBase, so the ratio compares the star loop with itself
      record("canon_cc") {
        val e = 3 * n
        val hub = spark.range(1, e / 2)
          .select(lit("h0").as("src"), concat(lit("h"), col("id")).as("dst"))
        val chain = spark.range(e / 2).select(
          concat(lit("c"), (col("id") / 1000).cast("long"), lit("_"),
            (col("id") % 1000)).as("src"),
          concat(lit("c"), (col("id") / 1000).cast("long"), lit("_"),
            (col("id") % 1000) + 1).as("dst"))
        graft.canon.Canonicalize.connectedComponents(spark, hub.union(chain)).count()
      }
    }

    println("\nop               nBase_s  n10x_s  wall_ratio (linear=10)")
    results.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, rs) =>
      val lo = rs.find(_.n == nBase).get
      val hi = rs.find(_.n == nBase * 10).get
      println(f"$op%-16s ${lo.sec}%7.2f ${hi.sec}%7.2f  ${hi.sec / lo.sec}%6.2fx")
    }
    spark.stop()
  }
}

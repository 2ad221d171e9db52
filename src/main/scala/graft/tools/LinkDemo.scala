package graft.tools

import graft.corpus.Corpus
import graft.exec.MainSession
import graft.link.EntityLink
import org.apache.spark.sql.functions._

/** CLI drive for entity linking + the streaming front-end:
  * mentions are the NER output of the synthetic corpus; the KB is a small
  * alias dictionary (broadcast side). Also streams 200 pages through
  * `StreamingPipeline.pipelineStream` and prints the committed triple count.
  * Usage: runMain graft.tools.LinkDemo [nDocs]
  */
object LinkDemo {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 500L
    val spark = MainSession(8, "graft-link-demo")
    import spark.implicits._

    // mentions from the corpus NER stage
    val mentions = Corpus.pages(spark, n, partitions = 8)
      .map(graft.analyze.DocAnalyze.analyze)
      .flatMap(d => d.entities.map(e => (d.url, e.text, e.entityType, d.text.take(400))))
      .toDF("url", "surface", "entity_type", "context")
      .withColumn("mention_id", monotonically_increasing_id())

    val kb = Seq(
      ("KB_INTEL", "Intel Corporation", Seq("Intel", "intel corp"),
        "semiconductors chips manufacturing technology capacity", 0.9),
      ("KB_GOOGLE", "Google", Seq("google llc", "Google"),
        "search software cloud engineering", 0.8),
      ("KB_MSFT", "Microsoft", Seq("Microsoft", "msft"),
        "software windows cloud azure", 0.8),
      ("KB_AMZN", "Amazon", Seq("Amazon", "amzn"),
        "retail cloud aws logistics", 0.8))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")

    val linked = EntityLink.link(mentions, kb)
    println("=== linked mention sample ===")
    linked.where($"entity_id".isNotNull)
      .select("surface", "entity_id", "ctx_sim", "link_score").distinct().show(10, truncate = false)
    println("=== link-score histogram (north-rule metric) ===")
    EntityLink.linkScoreHistogram(linked).orderBy("score_bucket").show(15, truncate = false)
    val total = linked.count(); val hit = linked.where($"entity_id".isNotNull).count()
    println(s"=== mentions: $total, linked: $hit ===")

    // streaming front-end drive
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-demo").toString
    Corpus.pages(spark, 200, partitions = 4).write.parquet(s"$dir/pages")
    val q = graft.streaming.StreamingPipeline.pipelineStream(spark, s"$dir/pages", s"$dir/kg", s"$dir/ckpt")
    q.awaitTermination(120000)
    val triples = new graft.io.ParquetTableIO(s"$dir/kg").readCommitted(spark, "triples").count()
    println(s"=== streaming triples committed: $triples ===")
    spark.stop()
  }
}

package graft.tools

import graft.corpus.Corpus
import graft.exec.MainSession
import graft.kg.{GraphQueries, Pipeline}
import org.apache.spark.sql.functions.col

/** CLI entry point: run the full KG pipeline over the synthetic corpus and
  * materialize nodes/edges/triples/metrics/lineage tables.
  *
  * Usage: runMain graft.tools.RunPipeline <nDocs> <outDir> [cores] [resume] [v1]
  * (`v1` opts into the v1-builder mode: co-occurrence edges, temporal
  * stamps, confidence smoothing.) Runs on local[cores] unless submitted:
  * `spark-submit --master <url> --class graft.tools.RunPipeline <jar> …`
  * runs on that master; the summary line names the master it ran on.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    val n = args(0).toLong
    val outDir = args(1)
    val cores = if (args.length > 2) args(2).toInt else 4
    val resume = args.contains("resume")
    val v1 = args.contains("v1")
    val spark = MainSession(cores, "graft-kg-pipeline")

    val t0 = System.nanoTime()
    val pages = Corpus.pages(spark, n, partitions = cores * 4)
    // fresh runId per ATTEMPT (the commit protocol refuses reuse — resume
    // dedup rides on the lineage table, not on the run id)
    val runId = s"run_${n}_${System.currentTimeMillis()}"
    Pipeline.run(spark, pages, runId = runId, outDir = outDir, resume = resume, v1 = v1)
    val secs = (System.nanoTime() - t0) / 1e9

    // committed rows only: a crashed attempt's orphan rows stay on disk
    val tio = new graft.io.ParquetTableIO(outDir)
    val nodes = tio.readCommitted(spark, "nodes")
    val edges = tio.readCommitted(spark, "edges")
    val triples = tio.readCommitted(spark, "triples")
    println(s"=== pipeline done in ${f"$secs%.1f"}s on ${spark.sparkContext.master}: " +
      s"${nodes.count()} nodes, ${edges.count()} edges, ${triples.count()} triples from $n pages ===")
    println("--- node_type histogram ---")
    nodes.groupBy("node_type").count().orderBy("node_type").show(20, truncate = false)
    println("--- predicate histogram ---")
    triples.groupBy("pred").count().orderBy("pred").show(20, truncate = false)
    println("--- sample triples ---")
    triples.select("customer_id", "subj", "pred", "obj", "confidence").show(10, truncate = false)
    val someCustomer = nodes.select("customer_id").limit(1).collect()(0).getString(0)
    println(s"--- customer summary: $someCustomer ---")
    val (nh, eh) = GraphQueries.customerSummary(nodes, edges, someCustomer)
    nh.show(12, truncate = false)
    eh.show(12, truncate = false)
    if (v1) {
      println("--- temporal stamps (v1, F19) ---")
      nodes.groupBy("temporal_category").count().show(5, truncate = false)
      println(s"distinct temporal_index values: " +
        nodes.select("temporal_index").distinct().count())
    }
    println("--- per-partition metrics (lineage/north rule) ---")
    val metrics = tio.readCommitted(spark, "metrics")
    metrics.orderBy("partition_id").show(8, truncate = false)
    // the fold's balance: this run's docs per partition, from its metrics rows alone
    val docs = metrics.where(col("run_id") === runId).select("docs_processed").collect().map(_.getLong(0))
    if (docs.nonEmpty)
      println(s"fold: ${docs.length} partitions with docs, docs_processed max/mean " +
        f"${docs.max * docs.length.toDouble / docs.sum}%.3f")
    spark.stop()
  }
}

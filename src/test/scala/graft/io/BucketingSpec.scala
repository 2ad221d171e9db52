package graft.io

import graft.SparkSpec
import graft.corpus.Corpus
import graft.kg.Pipeline
import org.apache.spark.sql.functions._

/** Bucketed-table co-location (SURVEY §4.4: DISTRIBUTE BY bucket at write).
  * Writing nodes and edges bucketed on customer_id lets per-customer joins
  * run shuffle-free: both sides arrive pre-partitioned, so the join plan has
  * no Exchange — at 100 TB this is the difference between a full-corpus
  * shuffle and a local merge per bucket.
  */
class BucketingSpec extends SparkSpec {

  test("bucketed write removes the shuffle from the nodes-edges join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    Pipeline.run(spark, Corpus.pages(spark, 120, partitions = 4), "brun", dir)
    val tio = new ParquetTableIO(dir)
    val (nodes, edges) = (tio.readCommitted(spark, "nodes"), tio.readCommitted(spark, "edges"))

    spark.sql("DROP TABLE IF EXISTS nodes_b")
    spark.sql("DROP TABLE IF EXISTS edges_b")
    // in-memory catalog forgets tables across JVMs but the warehouse files
    // survive — clear them so saveAsTable can claim the location
    for (t <- Seq("nodes_b", "edges_b")) {
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    nodes.write.bucketBy(8, "customer_id").sortBy("customer_id")
      .mode("overwrite").saveAsTable("nodes_b")
    edges.write.bucketBy(8, "customer_id").sortBy("customer_id")
      .mode("overwrite").saveAsTable("edges_b")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val n = spark.table("nodes_b").groupBy($"customer_id").agg(count(lit(1)).as("n_nodes"))
      val e = spark.table("edges_b").groupBy($"customer_id").agg(count(lit(1)).as("n_edges"))
      val joined = n.join(e, Seq("customer_id"))

      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // same join on unbucketed frames DOES shuffle (sanity of the assertion)
    val n2 = nodes.groupBy($"customer_id").agg(count(lit(1)).as("n_nodes"))
    val e2 = edges.groupBy($"customer_id").agg(count(lit(1)).as("n_edges"))
    val plain = n2.join(e2, Seq("customer_id")).queryExecution.executedPlan.toString
    assert(plain.contains("Exchange") || plain.contains("AQEShuffleRead") ||
      plain.contains("AdaptiveSparkPlan"))
  }
}

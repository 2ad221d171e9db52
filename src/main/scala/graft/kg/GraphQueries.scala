package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read/query API over the materialized nodes/edges tables — the Spark
  * equivalent of the Gremlin query proxy (neptune_query_proxy.py:110-221)
  * and the CLI reader (scripts/neptune_customer_graph_reader.py).
  * Plain DataFrame queries: partition pruning on customer_id does the work
  * Neptune's property index did.
  */
object GraphQueries {

  /** Per-customer edges with BOTH endpoints in the customer's subgraph,
    * at most 100 — J8 endpoint semi-join (query_customer_edges :143-186).
    */
  def customerEdges(nodes: DataFrame, edges: DataFrame, customerId: String): DataFrame = {
    val ids = nodes.where(col("customer_id") === customerId).select(col("node_id")).distinct()
    edges.where(col("customer_id") === customerId)
      .join(ids.withColumnRenamed("node_id", "source_node_id"), Seq("source_node_id"), "left_semi")
      .join(ids.withColumnRenamed("node_id", "target_node_id"), Seq("target_node_id"), "left_semi")
      .limit(100)
  }

  /** Per-customer summary: type histograms (query_customer_summary :188-221, A1). */
  def customerSummary(nodes: DataFrame, edges: DataFrame, customerId: String): (DataFrame, DataFrame) = (
    nodes.where(col("customer_id") === customerId).groupBy("node_type").count(),
    edges.where(col("customer_id") === customerId).groupBy("relationship_type").count())

  /** W3 — latest extraction per customer (neptune_customer_graph_reader.py
    * :156-176: sort extractions by timestamp desc, take the first). Spark
    * shape: one window row_number over (customer_id) ordered by ts desc with
    * a deterministic tie-break — no driver-side listing.
    *
    * @param extractions DataFrame with (customer_id, extraction_id, ts, ...)
    */
  def latestExtractionPerCustomer(extractions: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("customer_id"))
      .orderBy(col("ts").desc, col("extraction_id").desc)
    extractions.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
  }

  /** W3 composition — a customer's nodes from its latest extraction only
    * (read_customer_nodes_s3 with extraction_id=None, :167-176).
    */
  def latestCustomerNodes(nodes: DataFrame, extractions: DataFrame, customerId: String): DataFrame = {
    val latest = latestExtractionPerCustomer(
      extractions.where(col("customer_id") === customerId))
      .select(col("customer_id"), col("extraction_id"))
    nodes.join(broadcast(latest), Seq("customer_id", "extraction_id"), "left_semi")
  }

  /** A5 — degree per node (exploded endpoints). */
  def nodeDegrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("source_node_id"), col("target_node_id"))).as("node_id"))
      .groupBy("node_id").count().withColumnRenamed("count", "degree")

  /** W2 — top-k most-connected nodes with content (v2:1339-1343). */
  def centralEntities(nodes: DataFrame, edges: DataFrame, k: Int): DataFrame =
    nodeDegrees(edges)
      .join(nodes.select(col("node_id"), col("content")).dropDuplicates("node_id"), Seq("node_id"))
      .orderBy(desc("degree"), asc("node_id")).limit(k)

  /** A3/A4/W7 — graph metrics per customer: density, avg confidence, the
    * lexicographic-max "most_common_relationship" quirk (v2:1347-1348),
    * diversity and quality score (v2:1353-1382).
    */
  def graphMetrics(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val n = nodes.groupBy(col("customer_id")).agg(
      count(lit(1)).as("total_nodes"),
      avg(col("confidence")).as("avg_node_confidence"),
      countDistinct(col("node_type")).as("entity_diversity"))
    val e = edges.groupBy(col("customer_id")).agg(
      count(lit(1)).as("total_edges"),
      avg(col("weight")).as("avg_edge_confidence"),
      countDistinct(col("relationship_type")).as("relationship_diversity"),
      max(col("relationship_type")).as("most_common_relationship")) // W7 quirk kept as spec
    n.join(e, Seq("customer_id"), "left")
      .na.fill(0L, Seq("total_edges", "relationship_diversity"))
      .na.fill(0.0, Seq("avg_edge_confidence"))
      .withColumn("graph_density",
        when(col("total_nodes") > 1,
          col("total_edges") / (col("total_nodes") * (col("total_nodes") - 1)))
          .otherwise(lit(0.0)))
      .withColumn("quality_score",
        lit(0.3) * col("avg_node_confidence") + lit(0.3) * col("avg_edge_confidence") +
          lit(0.2) * least(col("entity_diversity") / 6.0, lit(1.0)) +
          lit(0.2) * least(col("relationship_diversity") / 5.0, lit(1.0)))
  }

  /** Referential-integrity audit over a (nodes, edges) graph — the
    * post-write validation a KG ingest pipeline runs before promoting a
    * batch (S6 generalized from read-back counts to constraint checks).
    * One row per check, ALWAYS all six rows (zero-violation checks report
    * 0, so a green audit is an explicit six-row certificate, not an empty
    * frame):
    *   dangling_src / dangling_dst — edge endpoint not present in nodes
    *   duplicate_edge_id / duplicate_node_id — id occurs on >1 row (counts
    *     the EXTRA rows: total - distinct)
    *   self_loop — src_id = dst_id
    *   empty_content — node content NULL or ''
    *
    * 100 TB shape: exactly TWO scans of edges and TWO of nodes — a naive
    * one-branch-per-check union re-scans the (100 TB) edge table six
    * times. Both dangling checks ride one exploded-endpoint anti-join
    * against the node-id set (no collect); both per-table duplicate/
    * content checks fold into ONE scalar aggregate per table, unpivoted.
    * Callers should pass materialized tables (or checkpoint derived
    * frames) — the audit consumes each input twice. Column names follow
    * q18/q19 (node_id/content, edge_id/src_id/dst_id).
    */
  def integrityAudit(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val ids = nodes.select(col("node_id")).distinct()
    // scan 1 of edges: both endpoint sides tagged, one anti-join; the
    // literal check list left-joined back so zero-violation sides still
    // report an explicit 0 row
    val dangling = Seq("dangling_src", "dangling_dst").toDF("check_name")
      .join(
        edges.select(col("src_id").as("node_id"), lit("dangling_src").as("check_name"))
          .unionAll(edges.select(col("dst_id").as("node_id"), lit("dangling_dst").as("check_name")))
          .join(ids, Seq("node_id"), "left_anti")
          .groupBy(col("check_name")).agg(count(lit(1)).as("cn")),
        Seq("check_name"), "left")
      .select(col("check_name"), coalesce(col("cn"), lit(0L)).as("n"))
    // scan 2 of edges / scan 2 of nodes: all scalar checks in one
    // aggregate each, unpivoted via map+explode (order = declaration order)
    val edgeChecks = edges.agg(
        (count(lit(1)) - countDistinct(col("edge_id"))).as("dup"),
        coalesce(sum(when(col("src_id") === col("dst_id"), 1L).otherwise(0L)), lit(0L)).as("loops"))
      .select(explode(map(
        lit("duplicate_edge_id"), col("dup"),
        lit("self_loop"), col("loops"))).as(Seq("check_name", "n")))
    val nodeChecks = nodes.agg(
        (count(lit(1)) - countDistinct(col("node_id"))).as("dup"),
        coalesce(sum(when(col("content").isNull || col("content") === "", 1L).otherwise(0L)), lit(0L)).as("empty"))
      .select(explode(map(
        lit("duplicate_node_id"), col("dup"),
        lit("empty_content"), col("empty"))).as(Seq("check_name", "n")))
    dangling.unionAll(edgeChecks).unionAll(nodeChecks)
  }
}

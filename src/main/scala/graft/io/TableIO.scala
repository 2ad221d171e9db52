package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table I/O seam (SURVEY §7.0): the engine targets Iceberg-style
  * catalog-managed tables, but no Iceberg runtime jar exists in this
  * environment — so the default implementation is partitioned Parquet under
  * a warehouse directory, and a real Iceberg catalog is a config swap
  * (`spark.sql.catalog.* = org.apache.iceberg.spark.SparkCatalog`) plus an
  * `IcebergTableIO` that appends via `writeTo(table).append()`.
  * All pipeline writes/reads go through this trait; nothing else in the
  * engine knows the storage format.
  */
trait TableIO {
  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit
  /** Reads a table with `schema`, or, without one, with the schema its
    * files hold between them.
    */
  def read(spark: SparkSession, table: String, schema: Option[StructType] = None): DataFrame
  def exists(table: String): Boolean

  /** Atomic run-commit protocol (resume safety): every pipeline row carries
    * a run_id; a run becomes VISIBLE only once its commit marker exists —
    * one atomic file-create after all appends (with Iceberg this collapses
    * into the snapshot commit). A crash mid-run leaves orphan rows with an
    * uncommitted run_id that every reader filters out, so resume can safely
    * reprocess those urls without duplicating data.
    */
  def commit(runId: String): Unit
  def committedRuns(): Set[String]

  /** Read a table with uncommitted (crashed-run) rows filtered out. */
  def readCommitted(spark: SparkSession, table: String): DataFrame = committed(read(spark, table))

  /** The rows of a `read` that belong to committed runs. */
  def committed(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    rows.where(col("run_id").isin(committedRuns().toSeq: _*))
  }
}

/** Parquet-under-warehouse implementation (the environment default). */
final class ParquetTableIO(warehouse: String) extends TableIO {
  private def path(table: String) = s"$warehouse/$table"

  override def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Append)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path(table))
  }

  // without a schema, mergeSchema: table schemas have grown across versions
  // (round 4 added temporal_index/temporal_category to nodes/edges), and
  // resume=true into a directory written by an older binary leaves
  // mixed-schema files — plain parquet reads sample ONE footer, so the new
  // columns could silently vanish (or appear) depending on which file wins.
  // Merging footers pins the union schema; older files surface the new
  // columns as null. It costs a job over every footer, which a caller that
  // knows the table's schema skips. At catalog scale Iceberg's own schema
  // evolution replaces this option.
  override def read(spark: SparkSession, table: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.option("mergeSchema", "true"))(spark.read.schema(_)).parquet(path(table))

  override def exists(table: String): Boolean =
    new java.io.File(path(table)).exists()

  override def commit(runId: String): Unit = {
    // the marker NAME is the run_id readers filter on, so it must be a safe
    // path component as-is (silently sanitizing would break the marker ↔
    // run_id correspondence) — reject escaping ids instead
    require(runId == Redact.sanitizeKeyComponent(runId),
      s"runId '$runId' is not a safe path component — use [a-zA-Z0-9-_.], <=50 chars")
    val dir = java.nio.file.Paths.get(warehouse, "_commits")
    java.nio.file.Files.createDirectories(dir)
    // CREATE_NEW: committing the same runId twice would retroactively expose
    // a crashed attempt's orphan rows next to the retry's rows (duplicates);
    // each attempt must commit exactly once under a fresh id
    java.nio.file.Files.write(dir.resolve(runId),
      java.lang.Long.toString(System.currentTimeMillis()).getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
  }

  override def committedRuns(): Set[String] = {
    val dir = new java.io.File(s"$warehouse/_commits")
    if (!dir.exists()) Set.empty
    else dir.listFiles().map(_.getName).toSet
  }
}

/** Exports (SURVEY §2.1 S11 — neptune_customer_graph_reader.py:376-440):
  * per-customer nodes/edges as CSV or JSON plus a driver-side text summary.
  * Export hygiene (F12/F13): string columns are PII-redacted and the
  * customer-id path component sanitized, mirroring the reference's
  * boundary sanitization (graph_extraction_agent.py:245-285, 705-712).
  */
object Exports {
  def exportCustomer(nodes: DataFrame, edges: DataFrame, customerId: String,
                     outDir: String, format: String = "json"): Unit = {
    import org.apache.spark.sql.functions._
    def prep(df: DataFrame) = Redact.redactFrame(df.where(col("customer_id") === customerId))
    val n = prep(nodes)
    val e = prep(edges)
    val dir = s"$outDir/${Redact.sanitizeKeyComponent(customerId)}"
    format match {
      case "csv" =>
        // CSV cannot carry arrays — stringify evidence like the reference's
        // pandas to_csv did
        n.write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$dir/nodes_csv")
        e.withColumn("evidence", concat_ws("|", col("evidence")))
          .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$dir/edges_csv")
      case _ =>
        n.write.mode(SaveMode.Overwrite).json(s"$dir/nodes_json")
        e.write.mode(SaveMode.Overwrite).json(s"$dir/edges_json")
    }
  }

  /** Small text summary collected to the driver: `GraphQueries.customerSummary`'s
    * type histograms, each by count descending, then type.
    */
  def summary(nodes: DataFrame, edges: DataFrame, customerId: String): String = {
    import org.apache.spark.sql.functions._
    def lines(h: DataFrame): String = h.orderBy(desc("count"), asc(h.columns.head)).collect()
      .map(r => s"  ${r.get(0)}: ${r.get(1)}\n").mkString
    val (nh, eh) = graft.kg.GraphQueries.customerSummary(nodes, edges, customerId)
    s"customer: $customerId\nnodes:\n${lines(nh)}edges:\n${lines(eh)}"
  }
}

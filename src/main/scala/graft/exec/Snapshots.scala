package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncating snapshots for the iterative loops (canonicalization,
  * PageRank, BFS, SSSP). `localCheckpoint` persists its RDD in the block
  * manager and Dataset has no handle to unpersist it, so `checkpoint`
  * reports the ids of the RDDs it added and `free` unpersists them once the
  * snapshot is superseded — otherwise a loop retains one cached table per
  * round.
  */
object Snapshots {

  /** `df.localCheckpoint(eager)` and the ids of the RDDs it persisted. A
    * lazy snapshot is computed by the first job that reads it; free what it
    * was built from only after that job.
    */
  def checkpoint(df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = df.localCheckpoint(eager)
    (out, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  /** Unpersist the RDDs a `checkpoint` reported (non-blocking). */
  def free(spark: SparkSession, ids: Set[Int]): Unit = {
    val sc = spark.sparkContext
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}

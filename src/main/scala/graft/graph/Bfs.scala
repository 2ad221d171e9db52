package graft.graph

import graft.exec.Snapshots.{checkpoint, free}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-hop neighborhood expansion (breadth-first) over a (src_id, dst_id)
  * edge list — the "everything within k hops of X" KG query. dist(node) =
  * min #hops from the seed, capped at k.
  *
  * 100 TB shape: each round joins the CURRENT FRONTIER (not the visited
  * set) onto the src-keyed edge list — work per round is proportional to
  * the frontier's out-edges, the Pregel shape — then anti-joins visited.
  * Lineage is truncated per round with the ≤2-live-snapshots
  * localCheckpoint discipline (graft.exec.Snapshots);
  * the loop exits early when the frontier empties (one scalar count per
  * round reaches the driver, nothing else).
  */
object Bfs {

  def khop(spark: SparkSession, edges: DataFrame, seed: Column, k: Int,
           directed: Boolean = false): DataFrame = {
    val base = edges.select(col("src_id").as("src"), col("dst_id").as("dst"))
    val sym = if (directed) base
      else base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
    val (e, eIds) = checkpoint(sym.distinct())

    var (visited, visitedIds) = checkpoint(
      spark.range(1).select(seed.as("node_id"), lit(0L).as("dist")))
    var frontier = visited
    var d = 0
    var frontierSize = 1L
    while (d < k && frontierSize > 0L) {
      d += 1
      val next = frontier.join(e, frontier("node_id") === e("src"))
        .select(e("dst").as("node_id")).distinct()
        .join(visited, Seq("node_id"), "left_anti")
        .select(col("node_id"), lit(d.toLong).as("dist"))
      // ONE job per round: the union snapshot is a LAZY local checkpoint
      // (plan truncated immediately) that the frontier count itself
      // materializes; the superseded visited snapshot is freed only AFTER
      // that count, since the lazy snapshot's computation reads it
      val (union, unionIds) = checkpoint(visited.unionAll(next), eager = false)
      frontier = union.where(col("dist") === d)
      frontierSize = frontier.count()
      free(spark, visitedIds)
      visited = union
      visitedIds = unionIds
    }
    free(spark, eIds) // visited snapshot stays live for the caller
    visited
  }
}

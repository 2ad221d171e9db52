package graft.graph

import graft.exec.Snapshots.{checkpoint, free}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Damped PageRank over a directed (src_id, dst_id) edge list — the
  * centrality upgrade of the degree-based q20/q21 (a hub pointed at by
  * important nodes outranks one pointed at by leaves). 10 power iterations
  * at damping d = 0.85: a fixed count, so the result is deterministic and
  * SQL-oracle-replayable (no convergence-threshold branch that could flip
  * between engines).
  *
  * Semantics (the standard Brin/Page formulation with uniform teleport and
  * uniform dangling redistribution):
  *   r₀(v)    = 1/N
  *   rₜ₊₁(v)  = (1−d)/N + d·( Σ_{(u,v)∈E} rₜ(u)/outdeg(u) + Dₜ/N )
  * where Dₜ = Σ_{u dangling} rₜ(u). Total mass stays 1 every iteration.
  *
  * 100 TB shape: per iteration ONE join of ranks onto the (src-keyed) edge
  * list + ONE dst-keyed sum aggregation (both uniform unless the graph is
  * hub-skewed — AQE skew join stays on), plus a 1-row dangling-mass
  * aggregate that is crossJoin-broadcast back (never collected to the
  * driver). Out-degrees are computed once. Lineage is truncated per
  * iteration with the ≤2-live-snapshots localCheckpoint discipline
  * (graft.exec.Snapshots).
  */
object PageRank {

  def pageRank(spark: SparkSession, edges: DataFrame): DataFrame = {
    val d = 0.85
    val (e, eIds) = checkpoint(
      edges.select(col("src_id").as("src"), col("dst_id").as("dst")))
    val (nodes, nodeIds) = checkpoint(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    val n = nodes.count() // one scalar, computed once (not per iteration)
    require(n > 0, "pageRank needs a non-empty graph")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))

    // out-degree rides the rank snapshot (null = dangling): the per-
    // iteration plan then needs NO outdeg join (odeg is already on the rank
    // row flowing into the inflow sum) and NO anti-join for the dangling
    // mass (a narrow null-filter aggregate over the materialized snapshot)
    // — two joins fewer per iteration than the previous shape, with the
    // identical per-edge r/odeg terms and row sets.
    var (ranks, rankIds) = checkpoint(
      nodes.join(outdeg, nodes("id") === outdeg("src"), "left")
        .select(col("id"), col("odeg"), lit(1.0 / n).as("r")))
    free(spark, nodeIds) // init consumed it; e + ranks carry everything the loop needs
    for (_ <- 1 to 10) {
      // dangling mass: rank sitting on nodes with no out-edges; kept as a
      // 1-row frame and broadcast back — no driver collect in the loop
      val dang = ranks.where(col("odeg").isNull)
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dm"))
      // every src in e has odeg >= 1, so joining the full rank snapshot is
      // exactly the old ranks⋈outdeg composition
      val inflow = e.join(ranks, e("src") === ranks("id"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("odeg")).as("inflow"))
      val (next, nextIds) = checkpoint(
        ranks.select(col("id"), col("odeg")).join(inflow, Seq("id"), "left")
          .crossJoin(broadcast(dang))
          .select(col("id"), col("odeg"),
            (lit((1.0 - d) / n) +
              lit(d) * (coalesce(col("inflow"), lit(0.0)) + col("dm") / n)).as("r")))
      // localCheckpoint() is eager: `next` is materialized, so the snapshot
      // it was built from can be freed immediately
      free(spark, rankIds)
      ranks = next
      rankIds = nextIds
    }
    val out = ranks.select(col("id").as("node_id"), round(col("r"), 6).as("rank"))
    free(spark, eIds) // ranks snapshot stays live for the caller
    out
  }
}

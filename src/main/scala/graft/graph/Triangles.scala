package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficient over an undirected
  * edge list — the graph-quality metric layer over the KG's co-mention
  * structure (how clique-ish is each entity's neighborhood).
  */
object Triangles {

  /** Distinct undirected co-mention edges from (doc_id, surface) mention rows:
    * two entities mentioned in the same document get an edge; canonical
    * (a < b) orientation, corpus-level distinct.
    *
    * Plan: per-doc sorted DISTINCT surface set via ONE hash aggregate,
    * then a NARROW nested-transform pair explosion (the NER extractor caps
    * mentions at 10/doc, so fan-out is ≤ 45 pairs/doc — bounded by
    * construction, no quadratic blowup), then one distinct. No self-join
    * on doc_id: the aggregate+explode shape shuffles each mention row
    * once instead of twice.
    */
  def comentionEdges(mentions: DataFrame): DataFrame =
    mentions
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("surface"))).as("ms"))
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Per-node triangle count, degree, and local clustering coefficient
    * 2T/(d(d-1)) over an undirected (a < b, distinct) edge list.
    *
    * Scale shape: edges are RE-ORIENTED low→high by (degree, id) before
    * the wedge join — the classic power-law skew guard: a hub's wedge
    * fan-out is bounded by its HIGHER-degree neighbor count (amortized
    * O(√|E|)) instead of its full degree, so no reducer sees a
    * hub-squared pair list. Any acyclic orientation enumerates each
    * triangle exactly once, so counts are identical to the naive a<b
    * formulation — which is what the SQL oracle replays, making the
    * orientation-equivalence itself driver-checked. Joins are equi-joins
    * on uniform keys; per-node rollup is one map-side-partial hash agg.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // NOTE on reuse: edges ends in a distinct/aggregate exchange in every
    // caller, so its three references below deduplicate via ReusedExchange
    // (verified: adding explicit localCheckpoints here measured SLOWER —
    // two extra actions for work Spark already shares).
    val deg = edges.select(col("a").as("n"))
      .unionAll(edges.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("degree"))
    val withDeg = edges
      .join(deg.select(col("n").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("degree").as("db")), "b")
    val aLower: Column = (col("da") < col("db")) ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("u"),
      when(aLower, col("b")).otherwise(col("a")).as("v"))
    // wedge u→v→w closed by u→w: exactly one wedge per triangle in a
    // total-order orientation (the order-minimal vertex is the pivot)
    val tris = oriented.as("o1")
      .join(oriented.as("o2"), col("o1.v") === col("o2.u"))
      .join(oriented.as("o3"),
        col("o1.u") === col("o3.u") && col("o2.v") === col("o3.v"))
      .select(col("o1.u").as("x"), col("o1.v").as("y"), col("o2.v").as("z"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("degree") >= 2,
          (lit(2.0) * coalesce(col("triangles"), lit(0L))) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)), 6).as("clustering"))
  }
}

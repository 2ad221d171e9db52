package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  test("pageRank: matches a driver-side power-iteration replay; mass conserved; sink outranks sources") {
    import spark.implicits._
    val edgeList = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"))
    val edges = edgeList.toDF("src_id", "dst_id")

    val got = PageRank.pageRank(spark, edges).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap

    // independent replay of the exact semantics (uniform teleport, uniform
    // dangling redistribution, 10 iterations, d = 0.85)
    val nodes = Seq("a", "b", "c", "d")
    val n = nodes.size.toDouble
    val outdeg = edgeList.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10) {
      val dang = nodes.filterNot(outdeg.contains).map(r).sum
      r = nodes.map { v =>
        val inflow = edgeList.filter(_._2 == v).map { case (u, _) => r(u) / outdeg(u) }.sum
        v -> ((1.0 - 0.85) / n + 0.85 * (inflow + dang / n))
      }.toMap
    }

    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == nodes.toSet)
    nodes.foreach(v => assert(got(v) == r6(r(v)), s"$v: ${got(v)} vs ${r(v)}"))
    // total mass stays 1 (up to 6dp rounding of 4 values)
    assert(math.abs(got.values.sum - 1.0) < 4 * 5e-7)
    // c is the sink everyone points at; a and d have no in-edges and tie
    assert(got("c") > got("b") && got("b") > got("a"))
    assert(got("a") == got("d"))
  }

  test("pageRank: custom column names, self-contained two-cycle is uniform") {
    import spark.implicits._
    // a <-> b: symmetric, no dangling mass -> both exactly (1-d)/2 + d/2 = 1/2
    val edges = Seq(("a", "b"), ("b", "a")).toDF("from", "to")
    val got = PageRank.pageRank(spark, edges.toDF("src_id", "dst_id")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 0.5, "b" -> 0.5))
  }

  test("pageRank: empty graph throws") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src_id", "dst_id")
    intercept[IllegalArgumentException](PageRank.pageRank(spark, empty))
  }
}

package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BfsSpec extends SparkSpec {

  private def chain(n: Int) = {
    import spark.implicits._
    (1 until n).map(i => (s"n$i", s"n${i + 1}")).toDF("src_id", "dst_id")
  }

  test("khop undirected: chain distances capped at k") {
    val out = Bfs.khop(spark, chain(7), lit("n1"), k = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("n1" -> 0L, "n2" -> 1L, "n3" -> 2L, "n4" -> 3L, "n5" -> 4L))
  }

  test("khop directed: edges only traversed forward") {
    val out = Bfs.khop(spark, chain(4), lit("n2"), k = 4, directed = true).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("n2" -> 0L, "n3" -> 1L, "n4" -> 2L)) // n1 unreachable
  }

  test("khop: early exit when frontier empties before k; min-dist on cycles") {
    import spark.implicits._
    // triangle a-b-c: both b and c at dist 1, nothing at dist 2; k=10 must
    // terminate after the empty round, not loop
    val tri = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src_id", "dst_id")
    val out = Bfs.khop(spark, tri, lit("a"), k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("khop: seed with no edges returns just the seed") {
    val out = Bfs.khop(spark, chain(3), lit("offgraph"), k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("offgraph" -> 0L))
  }
}

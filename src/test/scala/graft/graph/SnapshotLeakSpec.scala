package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The graph loops free every superseded snapshot (graft.exec.Snapshots):
  * one call leaves only the snapshot it returns cached. A dropped `free`
  * would leave one RDD per round. Connected components on a small graph
  * frees even that one, so a query built on it can be rebuilt any number
  * of times.
  */
class SnapshotLeakSpec extends SparkSpec {

  private def leftCached(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    run.collect()
    (sc.getPersistentRDDs.keySet.toSet -- before).size
  }

  test("pageRank, khop (k=4) and ssspBounded (4 rounds) each leave at most 1 cached RDD on a 30-node chain") {
    import spark.implicits._
    val chain = (0 until 29).map(i => (f"c$i%02d", f"c${i + 1}%02d", 1L)).toDF("src", "dst", "w")
    val ids = chain.toDF("src_id", "dst_id", "w")
    val pr = leftCached(PageRank.pageRank(spark, ids))
    val bfs = leftCached(Bfs.khop(spark, ids, lit("c00"), k = 4))
    val sssp = leftCached(ShortestPath.ssspBounded(spark, chain, lit("c00"), rounds = 4))
    assert(pr <= 1, s"pageRank left $pr cached RDDs")
    assert(bfs <= 1, s"khop left $bfs cached RDDs")
    assert(sssp <= 1, s"ssspBounded left $sssp cached RDDs")
  }

  test("q28_canon_components: 10 constructions and collects leave the cached RDD set flat") {
    val q28 = graft.SparkEntry.queries("q28_canon_components")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    for (_ <- 1 to 10) q28(spark, "/root/testdata/sf0.001").collect()
    val grown = sc.getPersistentRDDs.keySet.toSet -- before
    assert(grown.isEmpty, s"10 q28 runs left ${grown.size} cached RDDs")
  }
}

package graft.tools

import graft.canon.Canonicalize
import org.apache.spark.sql.SparkSession

/** Canonicalization CC at scale: (1) a deterministic synthetic edge list
  * with a heavy hub star (~30% of all edges on one node), random mass, and
  * 16-hop chains; (2) a deep single PATH of `depth` hops — the adversarial
  * case for label propagation (O(diameter) rounds) that the large-star/
  * small-star rounds close in O(log depth). The defaults (1M generated
  * edges, ~190k of them distinct; a 200k-hop path) both exceed
  * Canonicalize's driver bound of 100k distinct edges, so both run the star
  * loop; smaller arguments measure the driver union-find instead. Reports
  * wall time, component stats, and the live cached-RDD count (the star
  * loop keeps only its final edge snapshot, the driver regime none).
  * Usage: runMain graft.tools.CanonScale [nEdges] [chainDepth]
  */
object CanonScale {
  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toLong).getOrElse(1000000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val m = math.max(n / 10, 1L)
    val edges = spark.range(n).map { i =>
      (i % 10) match {
        case k if k < 6 => (s"v${(i * 2654435761L) % m}", s"v${(i * 40503L + 7) % m}")
        case k if k < 9 => ("hub", s"v${i % m}") // ~30% of edges on one node
        case _ => (s"c${i / 160}_${(i % 160) / 10}", s"c${i / 160}_${(i % 160) / 10 + 1}")
      }
    }.toDF("src", "dst").localCheckpoint()
    println(s"edges=${edges.count()}")

    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val t0 = System.nanoTime()
    val cc = Canonicalize.connectedComponents(spark, edges)
    val nComp = cc.select("component").distinct().count()
    val nNodes = cc.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val live = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    println(f"cc: $nNodes%d nodes, $nComp%d components in $secs%.1f s; live cached RDDs added: ${live.size}")

    // deep-chain probe: one path of `depth` hops, worst case for O(diameter)
    // algorithms; star rounds converge in ~log2(depth)
    val depth = args.lift(1).map(_.toLong).getOrElse(200000L)
    val chain = spark.range(depth).map(i => (f"p$i%09d", f"p${i + 1}%09d"))
      .toDF("src", "dst").localCheckpoint()
    val t1 = System.nanoTime()
    val cc2 = Canonicalize.connectedComponents(spark, chain)
    val ok = cc2.where(org.apache.spark.sql.functions.col("component") =!= "p000000000").count()
    val secs2 = (System.nanoTime() - t1) / 1e9
    println(f"deep chain: $depth%d hops in $secs2%.1f s; mislabeled=$ok (must be 0)")
    spark.stop()
  }
}

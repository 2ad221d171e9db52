package graft.canon

import graft.SparkSpec

/** Connected-components canonicalization (J10): correctness vs a brute-force
  * union-find oracle, hub-skew shapes, and idempotence (north rule).
  */
class CanonicalizeSpec extends SparkSpec {

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical = min member per component (matches hash-min propagation)
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min
      members.map(_ -> m)
    }
  }

  private def runCC(edges: Seq[(String, String)]): Map[String, String] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    Canonicalize.connectedComponents(spark, df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("CC matches union-find on a fixed graph with transitive chains") {
    val edges = Seq(
      "a" -> "b", "b" -> "c",           // chain
      "d" -> "e",                        // pair
      "f" -> "f2", "f2" -> "f3", "f3" -> "f", // cycle
      "x" -> "y")
    assert(runCC(edges) == unionFind(edges))
  }

  test("CC handles hub skew (star with 200 spokes + chains)") {
    val star = (1 to 200).map(i => "hub" -> f"spoke$i%03d")
    val chains = (1 to 20).map(i => f"spoke$i%03d" -> f"leaf$i%03d")
    val edges = star ++ chains
    val got = runCC(edges)
    assert(got == unionFind(edges))
    assert(got.values.toSet.size == 1) // all one component
    assert(got("leaf005") == "hub")    // min label is "hub"
  }

  test("CC matches union-find on random graphs (seeded property loop)") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(39)
      val m = 1 + rnd.nextInt(80)
      val edges = (1 to m).map { _ =>
        (f"v${rnd.nextInt(n)}%02d", f"v${rnd.nextInt(n)}%02d")
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        assert(runCC(edges) == unionFind(edges), s"trial $trial failed on $edges")
    }
  }

  test("CC converges on a 1000-hop chain (O(log n) star rounds, not O(diameter))") {
    import spark.implicits._
    // hash-min label propagation needed one round per hop — 1000 hops blew
    // past maxIter=50 and silently returned unconverged labels; star
    // contraction closes this in ~log rounds
    val chain = (0 until 1000).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    val out = Canonicalize.connectedComponents(spark, chain.toDF("src", "dst"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(out.length == 1001)
    assert(out.forall(_._2 == "n0000"), s"unconverged labels: ${out.filter(_._2 != "n0000").take(5).toSeq}")
  }

  test("CC loop frees superseded edge checkpoints (<=1 live snapshot)") {
    import spark.implicits._
    // before the round-3 fix the loop left one cached RDD per round behind
    val chain = (0 until 30).map(i => (f"c$i%02d", f"c${i + 1}%02d"))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = Canonicalize.connectedComponents(spark, chain.toDF("src", "dst"))
    assert(out.collect().map(_.getString(1)).toSet == Set("c00"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    // only the FINAL edge snapshot may stay cached: every superseded round
    // snapshot is freed
    assert(leaked.size <= 1, s"leaked ${leaked.size} cached RDDs: $leaked")
  }

  test("canonicalization is idempotent: canon(canon(x)) == canon(x)") {
    import spark.implicits._
    val aliases = Seq(
      ("intel", "intel corporation"), ("intel corp", "intel corporation"),
      ("google", "alphabet"), ("alphabet inc", "alphabet"))
      .toDF("alias", "canonical")
    val keys = Seq("intel", "intel corp", "intel corporation", "google",
      "alphabet", "alphabet inc", "unrelated co").toDF("key")
    val once = Canonicalize.canonicalKeys(spark, keys, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // apply again: feed canonical keys back through
    val keys2 = once.values.toSeq.distinct.toDF("key")
    val twice = Canonicalize.canonicalKeys(spark, keys2, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((_, c) <- once) assert(twice(c) == c, s"canonical key $c not a fixed point")
    // transitive chain merged
    assert(once("intel") == once("intel corp") && once("intel") == once("intel corporation"))
    assert(once("unrelated co") == "unrelated co")
  }
}

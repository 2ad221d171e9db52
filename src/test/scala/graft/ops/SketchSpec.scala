package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Portable-HLL sketch + TF-IDF ranking tests. */
class SketchSpec extends SparkSpec {

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Driver-side replay of Sketch.hllDistinct's register + estimator math. */
  private def hllReplay(values: Seq[String]): (Long, Double) = {
    val m = Sketch.hllM
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val regs = values.map { v =>
      val h = md5Hex(v)
      val bucket = Integer.parseInt(h.substring(0, 2), 16)
      val tail = h.substring(2, 14)
      val rest = tail.dropWhile(_ == '0')
      val rho =
        if (rest.isEmpty) 49
        else {
          val lz = "89abcdef".indexOf(rest.head) match {
            case -1 => "4567".indexOf(rest.head) match {
              case -1 => if (rest.head == '2' || rest.head == '3') 2 else 3
              case _ => 1
            }
            case _ => 0
          }
          (12 - rest.length) * 4 + lz + 1
        }
      bucket -> rho
    }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val nReg = regs.size
    val sumInv = regs.values.map(mx => math.pow(2.0, -mx)).sum + (m - nReg).toDouble
    val raw = alpha * m.toDouble * m / sumInv
    val zeros = (m - nReg).toDouble
    val est = if (raw <= 2.5 * m && zeros > 0) m.toDouble * math.log(m / zeros) else raw
    (nReg.toLong, BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("hllDistinct: exact count right, estimate matches driver replay bit-for-bit") {
    import spark.implicits._
    val rows = ((1 to 500).map(i => ("big", s"value_$i")) ++
      Seq(("tiny", "only"), ("tiny", "only"), ("dup", "x"), ("dup", "x"), ("dup", "y")))
      .toDF("source", "s")
    val got = Sketch.hllDistinct(rows, "source", "s").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

    val (rBig, eBig) = hllReplay((1 to 500).map(i => s"value_$i"))
    val (rTiny, eTiny) = hllReplay(Seq("only"))
    val (rDup, eDup) = hllReplay(Seq("x", "y"))
    assert(got("big") == ((500L, rBig, eBig)))
    assert(got("tiny") == ((1L, rTiny, eTiny)))
    assert(got("dup") == ((2L, rDup, eDup)))
    // the sketch is a real estimator: within 15% of truth at n=500, m=256
    assert(math.abs(got("big")._3 - 500.0) / 500.0 < 0.15)
    // duplicates never inflate the estimate (register max is idempotent)
    val withDups = rows.union(rows)
    val again = Sketch.hllDistinct(withDups, "source", "s").collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(again("big") == got("big")._3)
  }

  test("hllDistinct: NULL is no value — left out of n_exact and the registers; all-NULL groups count 0") {
    import spark.implicits._
    val rows = Seq[(String, Option[String])](
      ("mixed", Some("a")), ("mixed", None), ("mixed", Some("b")), ("mixed", None),
      ("nulls", None), ("nulls", None)).toDF("g", "v")
    val got = Sketch.hllDistinct(rows, "g", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val (rMixed, eMixed) = hllReplay(Seq("a", "b"))
    assert(got("mixed") == ((2L, rMixed, eMixed)))
    assert(got("nulls") == ((0L, 0L, 0.0)))
    // n_exact agrees with countDistinct, which skips NULLs
    val exact = rows.groupBy($"g").agg(countDistinct($"v")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.view.mapValues(_._1).toMap == exact)
  }

  test("tfidfTopK: smoothed idf, 6dp-rounded before ranking, token-asc tie-break") {
    import spark.implicits._
    val d = Seq((1L, "apple banana apple"), (2L, "banana cherry")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopK(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5)))
      .sortBy(t => (t._1, t._6))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfRare = math.log(3.0 / 2.0) + 1.0 // df=1, N=2
    assert(got.toSeq == Seq(
      (1L, "apple", 2L, 1L, r6(2 * idfRare), 1L),
      (1L, "banana", 1L, 2L, 1.0, 2L),
      (2L, "cherry", 1L, 1L, r6(idfRare), 1L),
      (2L, "banana", 1L, 2L, 1.0, 2L)))
    // tie-break: equal scores rank by token ascending
    val ties = Seq((7L, "zz aa mm")).toDF("doc_id", "text")
    val order = TextOps.tfidfTopK(ties).collect().sortBy(_.getLong(5)).map(_.getString(1)).toSeq
    assert(order == Seq("aa", "mm", "zz"))
  }

  test("cmsHeavyHitters: estimate matches driver replay, always >= exact, collisions overcount") {
    import spark.implicits._
    val width = 4; val depth = 2 // tiny sketch → collisions guaranteed
    // 40 distinct items with skewed counts: item i appears i times
    val values = (1 to 40).flatMap(i => Seq.fill(i)(s"item$i"))
    val rows = values.toDF("v")
    val got = Sketch.cmsHeavyHitters(rows, "v", width = width, depth = depth, topK = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // driver replay of the counter table + probe
    def bucket(v: String, r: Int): Int =
      Integer.parseInt(md5Hex(s"$v:$r").substring(0, 2), 16) % width
    val counters = (for (v <- values; r <- 0 until depth) yield (r, bucket(v, r)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val exact = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.length == 5)
    got.foreach { case (v, ex, est) =>
      assert(ex == exact(v))
      assert(est == (0 until depth).map(r => counters((r, bucket(v, r)))).min)
      assert(est >= ex) // CMS one-sided error
    }
    // top-5 by exact desc: items 36..40
    assert(got.map(_._1).toSet == (36 to 40).map(i => s"item$i").toSet)
    // with 40 items in 4 buckets, at least one probe must actually overcount
    assert(got.exists { case (_, ex, est) => est > ex })
  }

  test("histogramQuantiles: matches driver replay, error <= one bucket width, degenerate group") {
    import spark.implicits._
    val buckets = 16
    // group a: 1..100 uniform; group b: constant (hi==lo handled globally)
    val vals = (1 to 100).map(i => ("a", i.toDouble)) ++ Seq.fill(10)(("b", 40.0))
    val df = vals.toDF("g", "v")
    val out = Sketch.histogramQuantiles(df, "v", "g", buckets = buckets,
        qs = Seq(0.5, 0.9)).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // driver replay
    val lo = 1.0; val hi = 100.0
    def bucket(v: Double): Int = math.min(math.floor((v - lo) / (hi - lo) * buckets), buckets - 1).toInt
    def replay(vs: Seq[Double], q: Double): Double = {
      val counts = vs.groupBy(bucket).view.mapValues(_.size.toLong).toMap
      val sorted = counts.toSeq.sortBy(_._1)
      val n = vs.size.toLong
      var cum = 0L
      val b = sorted.collectFirst { case (bk, c) if { cum += c; cum.toDouble >= q * n } => bk }.get
      BigDecimal(lo + b * (hi - lo) / buckets).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val as = vals.filter(_._1 == "a").map(_._2)
    assert(out("a")._1 == 100L)
    assert(out("a")._2 == replay(as, 0.5))
    assert(out("a")._3 == replay(as, 0.9))
    // estimate within one bucket width of the exact quantile
    val w = (hi - lo) / buckets
    assert(math.abs(out("a")._2 - 50.0) <= w + 1e-9)
    assert(math.abs(out("a")._3 - 90.0) <= w + 1e-9)
    // constant group: all its mass in bucket(40.0), both quantiles = that edge
    val bEdge = BigDecimal(lo + bucket(40.0) * w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("b") == ((10L, bEdge, bEdge)))
  }

  test("bloomMembership: replay-exact, no false negatives, forced false positive") {
    import spark.implicits._
    val m = 16; val k = 2 // tiny filter → false positives near-certain
    val block = (1 to 10).map(i => s"bad$i").toDF("b")
    val probe = ((1 to 10).map(i => s"bad$i") ++ (1 to 40).map(i => s"ok$i")).toDF("p")
    val got = Sketch.bloomMembership(probe, "p", block, "b", m = m, k = k)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2))).toSeq
    def pos(v: String, i: Int): Int = Integer.parseInt(md5Hex(s"$v:$i").substring(0, 3), 16) % m
    val bits = (for (v <- (1 to 10).map(i => s"bad$i"); i <- 0 until k) yield pos(v, i)).toSet
    got.foreach { case (v, hit, inSet) =>
      assert(inSet == v.startsWith("bad"))
      assert(hit == (0 until k).forall(i => bits(pos(v, i))))
      if (inSet) assert(hit, s"false negative on $v") // the Bloom contract
    }
    assert(got.size == 50)
    // 20 of 16 possible bit positions set → a clean item must collide
    assert(got.exists { case (_, hit, inSet) => hit && !inSet })
  }

  test("hllMergedDistinct: shard-merged estimate equals the single-pass global sketch") {
    import spark.implicits._
    // 3 shards with overlapping values — merge must dedupe across shards
    val rows = ((1 to 300).map(i => ("s0", s"v${i}")) ++
      (200 to 500).map(i => ("s1", s"v${i}")) ++
      (1 to 50).map(i => ("s2", s"v${i}"))).toDF("shard", "v")
    val merged = Sketch.hllMergedDistinct(rows, "shard", "v").collect()(0)
    val direct = Sketch.hllDistinct(rows.withColumn("g", lit("all")), "g", "v").collect()(0)
    assert(merged.getLong(0) == 3L)                                  // n_shards
    assert(merged.getLong(1) == 500L)                                // n_exact
    assert(merged.getLong(2) == direct.getLong(2))                   // n_registers
    assert(merged.getDouble(3) == direct.getDouble(3), "merged estimate must be bit-identical to single-pass")
    // sketch accuracy sanity at m=256: within 15% of truth here
    assert(math.abs(merged.getDouble(3) - 500.0) / 500.0 < 0.15)
  }

  test("hllMergedDistinct: NULL values in two shards add no register") {
    import spark.implicits._
    val values = (1 to 300).map(i => ("s0", Option(s"v$i"))) ++
      (200 to 300).map(i => ("s1", Option(s"v$i")))
    val nulls = Seq(("s0", None), ("s1", None), ("s1", None))
    val rows = (values ++ nulls).toDF("shard", "v")
    val merged = Sketch.hllMergedDistinct(rows, "shard", "v").collect()(0)
    val clean = Sketch.hllMergedDistinct(values.toDF("shard", "v"), "shard", "v").collect()(0)
    val direct = Sketch.hllDistinct(rows.withColumn("g", lit("all")), "g", "v").collect()(0)
    assert(merged.getLong(1) == 300L)                                // n_exact skips NULL
    assert(merged.getLong(2) == clean.getLong(2))                    // n_registers
    assert(merged.getLong(2) == direct.getLong(2))
    assert(merged.getDouble(3) == clean.getDouble(3))
    assert(merged.getDouble(3) == direct.getDouble(3))
  }
}

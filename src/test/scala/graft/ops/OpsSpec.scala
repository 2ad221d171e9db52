package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Training-data operator tests: dedup, near-dup, similarity, multimodal. */
class OpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts, keeps min doc_id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "different", 4L -> "a b c")
    val out = TextOps.exactDedup(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 1L, false, 3L), (2L, 1L, true, 3L), (3L, 3L, false, 1L), (4L, 1L, true, 3L)))
  }

  test("token stats and fingerprint") {
    val d = docs(1L -> "  Hello   world  hello ", 2L -> "x")
    val out = d.select(col("doc_id"), TextOps.tokenCount(col("text")).as("t"),
      TextOps.distinctTokenCount(col("text")).as("d"),
      TextOps.fingerprint(col("text")).as("f")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(out(0)._2 == 3 && out(0)._3 == 3) // Hello != hello before lowering in counts
    assert(out(0)._4 == graft.text.PyText.md5Hex("hello world hello"))
  }

  test("BPE-ish token count: contractions, space-prefixed runs, punct runs") {
    val d = docs(
      1L -> "I'll say we're fine, don't panic!",
      2L -> "abc123 def  45.6",
      3L -> "")
    val out = d.select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // "I"+"'ll"+" say"+" we"+"'re"+" fine"+","+" don"+"'t"+" panic"+"!"
    assert(out(1L) == 11, s"got ${out(1L)}")
    // "abc"+"123"+" def"+" 45"+"."+"6"  (double space: second " def"-style
    // prefix swallows one space, the extra one is uncounted whitespace)
    assert(out(2L) == 6, s"got ${out(2L)}")
    assert(out(3L) == 0)
  }

  test("winnowing fingerprints: selection matches a driver-side replay; shared substrings share fps") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog"
    val t2 = "a different prefix but the quick brown fox jumps appears here"
    val t3 = "zz"                                      // shorter than k → no grams
    val d = Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text")
    val got = TextOps.winnowingFingerprints(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // driver-side replay of the md5-gram variant, same k/w and tie rule
    def replay(text: String, k: Int = 5, w: Int = 4): Set[(Int, Long)] = {
      if (text.length < k) return Set.empty
      val hs = (0 to text.length - k).map(i =>
        java.lang.Long.parseLong(graft.text.PyText.md5Hex(text.substring(i, i + k)).take(6), 16))
      if (hs.length < w) return Set.empty
      (0 to hs.length - w).map { s =>
        var best = s
        for (j <- s + 1 until s + w) if (hs(j) <= hs(best)) best = j
        (best + 1, hs(best))
      }.toSet
    }
    assert(got.filter(_._1 == 1L).map(x => (x._2, x._3)).toSet == replay(t1))
    assert(got.filter(_._1 == 2L).map(x => (x._2, x._3)).toSet == replay(t2))
    assert(!got.exists(_._1 == 3L))
    // the winnowing guarantee: a shared substring of length >= w+k-1 (here
    // "the quick brown fox jumps", 25 >= 8) yields a shared fp VALUE
    val f1 = got.filter(_._1 == 1L).map(_._3).toSet
    val f2 = got.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 & f2).nonEmpty)
    // Karp-Rabin twin: same guarantee, O(1) rolling hash
    val r1 = TextOps.winnowRolling(t1).map(_._2).toSet
    val r2 = TextOps.winnowRolling(t2).map(_._2).toSet
    assert((r1 & r2).nonEmpty)
    assert(TextOps.winnowRolling(t3).isEmpty)
    // unrelated text shares nothing under either variant
    val u = "entirely unrelated symbols 0123456789!@#$%^&*()qwertyuiop"
    assert((TextOps.winnowRolling(u).map(_._2).toSet & r1).isEmpty)
    assert((replay(u).map(_._2) & f1).isEmpty)
  }

  test("winnowRolling DataFrame stage: selection ≡ an independent BigInt replay; density guarantee") {
    import spark.implicits._
    // independent Karp-Rabin reimplementation: BigInt mod arithmetic per
    // gram (no multiplyHigh trick, no rolling update — a second derivation
    // that validates the O(1) mulmod path end to end)
    def krHashes(text: String, k: Int): Vector[Long] = {
      val M = BigInt(2).pow(61) - 1
      val B = BigInt(257)
      (0 to text.length - k).map { i =>
        text.substring(i, i + k).foldLeft(BigInt(0))((a, c) => (a * B + c.toInt) mod M).toLong
      }.toVector
    }
    // the shared selection rule (rightmost min per window, deduped) — the
    // same semantics the Column variant's replay test asserts
    def select(hs: Vector[Long], w: Int): Set[(Int, Long)] =
      if (hs.length < w) Set.empty
      else (0 to hs.length - w).map { s =>
        var best = s
        for (j <- s + 1 until s + w) if (hs(j) <= hs(best)) best = j
        (best + 1, hs(best))
      }.toSet
    val rnd = new scala.util.Random(20260817L)
    val alphabet = "abcdefg "
    for (trial <- 1 to 20) {
      val text = (0 until (4 + rnd.nextInt(80))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val got = TextOps.winnowRolling(text).toSet
      assert(got == select(krHashes(text, 5), 4), s"trial $trial text='$text'")
      // density guarantee: in any w consecutive windows at least one
      // position is selected → selected positions are never > w apart
      val n = text.length - 4
      if (n >= 4) {
        val ps = got.map(_._1).toSeq.sorted
        assert(ps.head <= 4 && ps.last >= n - 3 &&
          ps.zip(ps.tail).forall { case (a, b) => b - a <= 4 }, s"gap in $ps")
      }
    }
    // the DataFrame stage ≡ the driver function per doc (and drops empties)
    val t1 = "the quick brown fox jumps over the lazy dog"
    val t2 = "a different prefix but the quick brown fox jumps appears here"
    val d = Seq((1L, t1), (2L, t2), (3L, "zz")).toDF("doc_id", "text")
    val got = TextOps.winnowingFingerprintsRolling(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.filter(_._1 == 1L).map(x => (x._2, x._3)).toSet == TextOps.winnowRolling(t1).toSet)
    assert(got.filter(_._1 == 2L).map(x => (x._2, x._3)).toSet == TextOps.winnowRolling(t2).toSet)
    assert(!got.exists(_._1 == 3L))
    // MOSS guarantee through the stage: the shared >= w+k-1 substring yields
    // a shared fp value across docs
    val f1 = got.filter(_._1 == 1L).map(_._3).toSet
    val f2 = got.filter(_._1 == 2L).map(_._3).toSet
    assert((f1 & f2).nonEmpty)
  }

  test("spanDedup: first occurrence wins across docs, within a doc, partial chunks, empty docs") {
    val d = docs(
      1L -> "a b c d e f g",   // chunks (span=3): [a b c][d e f][g]
      2L -> "a b c x y z",     // [a b c] duplicates doc1 chunk 1
      3L -> "g",               // [g] duplicates doc1's trailing partial chunk
      4L -> "p q r p q r",     // within-doc: chunk 2 duplicates chunk 1
      5L -> "")                // no tokens -> zeroed row survives
    val out = TextOps.spanDedup(d, span = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, 0L), (2L, 2L, 1L, 3L), (3L, 1L, 1L, 1L),
      (4L, 2L, 1L, 3L), (5L, 0L, 0L, 0L)))
  }

  test("gopherQualityFilters: every flag trips on its own fixture; stopwords are DISTINCT") {
    val d = docs(
      1L -> "the a cat",       // all pass
      2L -> "the the the",     // only 1 DISTINCT stopword -> stop_ok false
      3L -> "a 12 34 56",      // alpha 1/4 < 0.75; mwl 1.75 < 2 -> both false
      4L -> "x",               // 1 token < min 2 -> tokens_ok false
      5L -> "the a b c d e")   // 6 tokens > max 5 -> tokens_ok false
    val out = TextOps.gopherQualityFilters(d, stopwords = Seq("the", "a"),
      minTokens = 2, maxTokens = 5, minMeanWordLen = 2.0, maxMeanWordLen = 4.0,
      minAlphaFrac = 0.75).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
        r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))))
      .toMap
    assert(out(1L) == ((3L, 2.333333, 1.0, 2L, true, true, true, true, true)))
    assert(out(2L) == ((3L, 3.0, 1.0, 1L, true, true, true, false, false)))
    assert(out(3L) == ((4L, 1.75, 0.25, 1L, true, false, false, false, false)))
    assert(out(4L)._1 == 1L && !out(4L)._5 && !out(4L)._9)
    assert(out(5L)._1 == 6L && !out(5L)._5 && !out(5L)._9)
  }

  test("boilerplateSpans: group-scoped frequency, per-doc-distinct spans, minDocs floor") {
    import spark.implicits._
    val d = Seq(
      (1L, "srcA", "x y z"),     // bigrams {x y, y z}
      (2L, "srcA", "x y q"),     // {x y, y q}
      (3L, "srcA", "m n"),       // {m n}
      (6L, "srcA", "x y x y"),   // {x y, y x} after per-doc distinct
      (4L, "srcB", "x y w"),     // 'x y' is 1/1 of srcB but minDocs=2 -> NOT boiler
      (5L, "srcB", "k")          // no bigrams -> zeroed row
    ).toDF("doc_id", "source", "text")
    // srcA has 4 docs; 'x y' occurs in 3 of them (0.75 >= 0.5, >= 2 docs) -> boiler
    val out = TextOps.boilerplateSpans(d, minFrac = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5), (3L, 1L, 0L, 0.0),
      (4L, 2L, 0L, 0.0), (5L, 0L, 0L, 0.0), (6L, 2L, 1L, 0.5)))
  }

  test("unigramLogProb: corpus-global model, per-doc mean log10 p, empty doc keeps null row") {
    val d = docs(1L -> "a a a b", 2L -> "b", 3L -> "")
    // counts: a=3, b=2, total=5
    val out = TextOps.unigramLogProb(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .sortBy(_._1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp1 = r6((3 * math.log10(3.0 / 5) + math.log10(2.0 / 5)) / 4)
    val exp2 = r6(math.log10(2.0 / 5))
    assert(out.toSeq == Seq((1L, 4L, Some(exp1)), (2L, 1L, Some(exp2)), (3L, 0L, None)))
  }

  test("minhash signatures identical for identical shingle sets, differ otherwise") {
    val d = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "z y x w v")
    val sig = NearDup.minhashSignatures(d, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val by = sig.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(by(1L) == by(2L))
    assert(by(1L) != by(3L))
    assert(by(1L).size == 4)
  }

  test("LSH candidates ⊇ high-jaccard pairs; verified jaccard exact") {
    // 40-token docs where pairs (1,2) are near-identical, 3 unrelated
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val jac = NearDup.jaccardPairs(d, 0.8).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(jac.length == 1 && jac(0)._1 == 1L && jac(0)._2 == 2L)
    assert(math.abs(jac(0)._3 - 37.0 / 39.0) < 1e-4) // 38∩? shingles: 37 common of 38+38
    val cands = NearDup.lshCandidatePairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup pair should be a candidate via at least one band (high prob at jac 0.95)
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("lshVerifiedPairs (scale path) finds the near-dup pairs exact jaccard finds") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = NearDup.jaccardPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaLsh = NearDup.lshVerifiedPairs(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaLsh.subsetOf(exact)) // verification is exact → no false positives
    assert(exact.nonEmpty)
    // at jaccard>0.8 the 2×4-band LSH recall should be near-total here
    val recall = viaLsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall: missed ${exact -- viaLsh}")
  }

  test("lshVerifiedPairsScaled: guardrail prunes the mega-bucket, drops are accounted") {
    import spark.implicits._
    // a 12-doc identical cluster (all 8 bands collide → every bucket size 12)
    // plus one genuine near-dup pair and one loner
    val mega = (0L until 12L).map(i => (i, "the quick brown fox jumps over the lazy sleeping dog tonight"))
    val pair = Seq(
      (100L, "spark writes shuffle files to local disk before the reduce stage begins now"),
      (101L, "spark writes shuffle files to local disk before the reduce stage begins today"))
    val loner = Seq((200L, "entirely unrelated text about knowledge graphs and entity canonicalization rules"))
    val docs = (mega ++ pair ++ loner).toDF("doc_id", "text")
    val scaled = NearDup.lshVerifiedPairsScaled(docs, 0.5, maxBucket = 8)
    val pairs = scaled.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega-cluster's 66 pairs are pruned; the honest near-dup pair survives
    assert(pairs == Set((100L, 101L)), s"got $pairs")
    val dropped = scaled.droppedBuckets.collect()
      .map(r => (r.getLong(2))) // bucket_size
    assert(dropped.nonEmpty && dropped.forall(_ == 12L), s"dropped sizes ${dropped.toSeq}")
    val (nb, mx) = scaled.logDrops()
    assert(nb == dropped.length.toLong && mx == 12L)
    // unlimited form on the same corpus DOES emit the quadratic mass —
    // the guardrail is the only difference
    val unlimited = NearDup.lshVerifiedPairs(docs, 0.5).collect().length
    assert(unlimited == 66 + 1, s"unlimited emitted $unlimited")
    // no overflow → empty accounting, zero summary
    val clean = NearDup.lshVerifiedPairsScaled(pair.toDF("doc_id", "text"), 0.5)
    assert(clean.logDrops() == ((0L, 0L)) && clean.droppedBuckets.isEmpty)
  }

  test("simhash-banded near-dup: pigeonhole recall <=3, exact hamming, no false positives") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappz"), // 1 token off
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // identical to 0
      (3L, "completely different content about spark engines and rows"),
      (4L, "one more unrelated document mentioning tables and columns"))
      .toDF("doc_id", "text")
    val got = NearDup.simhashNearDupPairs(docs, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // identical docs: hamming 0, guaranteed candidate (all 4 bands equal)
    assert(got((0L, 2L)) == 0L)
    // 1-token-off docs: small hamming, found via some shared band; the
    // reported distance must equal the driver-side popcount exactly
    def ham(a: String, b: String) =
      java.lang.Long.bitCount(NearDup.simhashMd5Long(a) ^ NearDup.simhashMd5Long(b))
    val d01 = ham("alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "alpha beta gamma delta epsilon zeta eta theta iota kappz")
    if (d01 <= 3) assert(got((0L, 1L)) == d01.toLong) // pigeonhole guarantee
    got.foreach { case (_, h) => assert(h <= 8) }
    // distant docs: not reported at a tight threshold
    val tight = NearDup.simhashNearDupPairs(docs, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!tight.contains((3L, 4L)) && !tight.contains((0L, 3L)))
    // hex/long surfaces agree
    assert(NearDup.simhashMd5Hex("alpha beta") ==
      f"${NearDup.simhashMd5Long("alpha beta")}%016x")
  }

  test("brute-force cosine top-k: self excluded, ranks deterministic") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(emb, Seq(0L), k = 2).collect()
      .map(r => (r.getLong(1), r.getInt(3))).toSeq.sortBy(_._2)
    assert(out.map(_._1) == Seq(3L, 1L)) // closest to (1,0) is (1,0.05) then (0.9,0.1)
  }

  test("LSH top-k: candidates stay in-cluster; multi-table recall beats single-table") {
    import spark.implicits._
    // two tight clusters around RANDOM centers (a ±all-ones center is
    // adversarial for ±1 hyperplanes: any balanced plane projects it to
    // exactly 0 and the sign becomes noise — real embeddings don't sit on
    // the Rademacher lattice)
    val rnd = new scala.util.Random(7)
    val c0 = Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f)
    val c1 = Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f)
    val rows = (0 until 100).map { i =>
      val base = if (i % 2 == 0) c0 else c1
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.05f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 5).collect().map(_.getLong(1)).toSet
    val lsh = Similarity.lshTopK(emb, Seq(0L), k = 5).collect().map(_.getLong(1)).toSet
    assert(lsh.nonEmpty)
    // correctness: every LSH neighbor is a true same-cluster neighbor
    assert(lsh.forall(_ % 2 == 0), s"cross-cluster neighbor in $lsh")
    assert(bf.forall(_ % 2 == 0))
    // recall: multi-table union recovers a reasonable share of true top-k
    val recall = (bf intersect lsh).size.toDouble / bf.size
    assert(recall >= 0.4, s"LSH recall $recall too low; bf=$bf lsh=$lsh")
  }

  test("IVF top-k: in-cluster candidates, full recall when probing all lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 100).map { i =>
      val base = if (i % 2 == 0) Array.fill(16)(1.0f) else Array.fill(16)(-1.0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.1f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(emb, Seq(0L), k = 5).collect().map(_.getLong(1)).toSet
    val ivf = Similarity.ivfTopK(emb, Seq(0L), centroids = 8, nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(ivf.nonEmpty && ivf.forall(_ % 2 == 0), s"cross-cluster neighbor in $ivf")
    // probing EVERY inverted list makes IVF exhaustive → identical to brute force
    val full = Similarity.ivfTopK(emb, Seq(0L), centroids = 8, nprobe = 8)
      .collect().map(_.getLong(1)).toSet
    assert(full == bf, s"nprobe=centroids must equal brute force: $full vs $bf")
  }

  test("IVF trained quantizer: k-means recall beats the first-N seed set on clustered data") {
    import spark.implicits._
    // 8 one-hot clusters in 16d; ids 0-7 (the seed set) are ALL cluster-0
    // points, so the untrained quantizer is degenerate and scatters the
    // other clusters across lists; 2 k-means rounds recover the structure
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val k = if (i < 8) 0 else i % 8
      val v = (0 until dim).map(j =>
        (if (j == 2 * k) 1.0f else 0.0f) + (((i * 31 + j * 17) % 7) - 3) * 0.02f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = Seq(30L, 55L, 85L, 110L, 135L, 165L, 190L)
    val truth = Similarity.bruteForceTopK(vecs, queries, 5).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    def recall(trainIters: Int): Double = {
      val got = Similarity
        .ivfTopK(vecs, queries, centroids = 8, nprobe = 1, trainIters = trainIters)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      queries.map(q => (got.getOrElse(q, Set.empty[Long]) & truth(q)).size / 5.0).sum / queries.size
    }
    val untrained = recall(0)
    val trained = recall(2)
    assert(trained > untrained, s"trained $trained vs untrained $untrained")
    assert(trained >= 0.95, s"trained recall $trained")
  }

  test("trainIvfCentroids is partitioning-invariant: bit-identical centroids at any parallelism") {
    import spark.implicits._
    // the determinism claim behind the q35 oracle: the centroid update is a
    // sequential fold over id-SORTED values, so physical partitioning must
    // not change a single bit of any coordinate
    val vecs = (0 until 300).map { i =>
      (i.toLong, (0 until 12).map(j => ((((i * 37 + j * 11) % 19) - 9) * 0.07f)))
    }.toDF("vec_id", "embedding")
    def train(parts: Int): Seq[(Long, Seq[Double])] =
      Similarity.trainIvfCentroids(vecs.repartition(parts), centroids = 8)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val one = train(1)
    val seven = train(7)
    assert(one.map(_._1) == seven.map(_._1))
    one.zip(seven).foreach { case ((cid, ca), (_, cb)) =>
      assert(ca.length == cb.length && ca.indices.forall(i =>
        java.lang.Double.doubleToLongBits(ca(i)) == java.lang.Double.doubleToLongBits(cb(i))),
        s"centroid $cid differs across partitionings")
    }
  }

  test("embedding-cosine near-dup (5th family): hashed-TF vectors, LSH candidates, exact cosine") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while spark shuffles rows"
    val d = docs(
      1L -> base,
      2L -> base,                                   // exact dup → identical vector
      3L -> (base + " today"),                      // near-dup → high cosine
      4L -> "completely unrelated content about huffman tables and jpeg markers")
    val emb = Similarity.hashedEmbeddings(d)
    // identical docs → bit-identical vectors
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(vecs(1L) == vecs(2L) && vecs.values.forall(_.length == 64))
    assert(vecs(1L).sum == 13.0) // one count per token
    val pairs = Similarity.cosineNearDupPairsScaled(emb, 0.9).pairs
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 0.9 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("cosineNearDupPairsScaled: guardrail prunes mega-buckets, drops are accounted") {
    import spark.implicits._
    // 12 identical docs → 12 bit-identical vectors → every table's bucket
    // holds the whole cluster; plus one honest near-dup pair and a loner
    val mega = (0L until 12L).map(i => (i, "the quick brown fox jumps over the lazy sleeping dog tonight"))
    val pair = Seq(
      (100L, "spark writes shuffle files to local disk before the reduce stage begins now"),
      (101L, "spark writes shuffle files to local disk before the reduce stage begins today"))
    val loner = Seq((200L, "entirely unrelated text about knowledge graphs and entity canonicalization rules"))
    val emb = Similarity.hashedEmbeddings((mega ++ pair ++ loner).toDF("doc_id", "text"))
    val scaled = Similarity.cosineNearDupPairsScaled(emb, 0.9, maxBucket = 8)
    val pairs = scaled.pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the mega-cluster's 66 pairs are pruned; the honest near-dup pair survives
    assert(pairs == Set((100L, 101L)), s"got $pairs")
    val droppedSizes = scaled.droppedBuckets.collect().map(_.getLong(2))
    // the identical cluster lands whole in exactly one bucket per table —
    // each dropped bucket holds the 12 cluster members (plus possibly the
    // pair docs / loner if they hash alongside)
    assert(droppedSizes.nonEmpty && droppedSizes.forall(_ >= 12L), s"dropped sizes ${droppedSizes.toSeq}")
    val (nb, mx) = scaled.logDrops()
    assert(nb == droppedSizes.length.toLong && mx == droppedSizes.max)
    // uncapped form on the same corpus DOES emit the quadratic mass, with
    // empty accounting
    val unlimited = Similarity.cosineNearDupPairsScaled(emb, 0.9)
    assert(unlimited.pairs.count() == 66L + 1L)
    assert(unlimited.logDrops() == ((0L, 0L)) && unlimited.droppedBuckets.isEmpty)
  }

  test("cosineNearDupPairsScaled: a repeated vec_id row keeps its pair") {
    import spark.implicits._
    // the guardrail case's honest near-dup pair, with doc 100's vector row
    // repeated: summing the hyperplane bits of both copies would carry the
    // vector into a wrong bucket in every table and lose the pair
    val pair = Seq(
      (100L, "spark writes shuffle files to local disk before the reduce stage begins now"),
      (101L, "spark writes shuffle files to local disk before the reduce stage begins today"))
    val emb = Similarity.hashedEmbeddings(pair.toDF("doc_id", "text"))
    val repeated = emb.union(emb.where($"doc_id" === 100L))
    val pairs = Similarity.cosineNearDupPairsScaled(repeated, 0.9)
      .pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.toSet == Set((100L, 101L)), s"got $pairs")
    // the verification joins match each copy: one pair row per copy
    assert(pairs.length == 2, s"got $pairs")
  }

  test("cosineNearDupPairs fails loudly on an embedding-dimension mismatch") {
    import spark.implicits._
    val bad = Seq(
      (1L, Array.fill(64)(1.0)),
      (2L, Array.fill(63)(1.0))) // wrong length → would silently mis-bucket
      .toDF("doc_id", "emb")
    val ex = intercept[Exception] {
      Similarity.cosineNearDupPairsScaled(bad, 0.9).pairs.count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("embedding dim != 64")), s"got $ex")
  }

  test("cosineNearDupPairs has no false positives vs driver-side brute force (seeded loop)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    val words = Vector("alpha", "beta", "gamma", "delta", "spark", "rows", "table", "join",
      "shuffle", "codegen", "plan", "filter", "agg", "sort", "scan", "write")
    for (trial <- 1 to 3) {
      val rows = (0L until 30L).map { i =>
        val n = 8 + rnd.nextInt(10)
        (i, (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text")
      val emb = Similarity.hashedEmbeddings(d)
      val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var dp = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
        math.round(dp / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
      }
      val truth = (for {
        a <- vecs.keys; b <- vecs.keys if a < b
        c = cos(vecs(a), vecs(b)) if c >= 0.9
      } yield ((a, b), c)).toMap
      val got = Similarity.cosineNearDupPairsScaled(emb, 0.9).pairs
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // exactness on the candidate set: every emitted pair is a true pair
      // with the exact rounded cosine (LSH may MISS pairs, never invent)
      got.foreach { case (k, c) =>
        assert(truth.contains(k) && truth(k) == c, s"trial $trial false positive $k -> $c")
      }
    }
  }

  test("hyperplane family is non-degenerate: distinct planes, no negation pairs, balanced") {
    // the round-4 regression guard: (31i+17j)%2 collapsed every plane to one
    // of TWO vectors or their negations — recall tests passed because giant
    // buckets trivially contain the neighbors; assert the family property
    // directly so a formula change fails here first
    val planes = (0 until 48).map(j => Similarity.hyperplane(64, j).toSeq)
    assert(planes.distinct.size == 48, s"only ${planes.distinct.size} distinct planes of 48")
    val upToNegation = planes.map(p => Seq(p, p.map(-_)).minBy(_.mkString(","))).distinct
    assert(upToNegation.size == 48, s"negation-duplicate planes: ${48 - upToNegation.size}")
    planes.zipWithIndex.foreach { case (p, j) =>
      assert(math.abs(p.sum) <= 24, s"plane $j imbalance ${p.sum}")
    }
  }

  test("lshTopK rejects a wrong declared dim at execution (no silent wrong-bucket hashing)") {
    import spark.implicits._
    val emb = (0L until 10L).map(i => (i, Array.fill(16)(1.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.lshTopK(emb, Seq(0L), k = 3, dim = 64).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dim")), s"unexpected failure: $ex")
    // correct dim passes
    assert(Similarity.lshTopK(emb, Seq(0L), k = 3, dim = 16).count() >= 0)
  }

  test("sampled IVF training ≡ full training on the sampled subset, bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val vecs = (0 until 400).map { i =>
      (i.toLong, (0 until 12).map(j => ((((i * 37 + j * 11) % 19) - 9) * 0.07f)))
    }.toDF("vec_id", "embedding")
    // maxTrainVectors=100 on 400 vectors → mod 4: the trainer must behave
    // exactly as if invoked unsampled on the pmod(xxhash64)=0 survivors
    val sampled = Similarity.trainIvfCentroids(vecs, centroids = 8,
      maxTrainVectors = 100L).collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq
    val subset = vecs.where(pmod(xxhash64(col("vec_id")), lit(4L)) === 0L)
    val replay = Similarity.trainIvfCentroids(subset, centroids = 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    assert(sampled.map(_._1) == replay.map(_._1))
    sampled.zip(replay).foreach { case ((cid, ca), (_, cb)) =>
      assert(ca.length == cb.length && ca.indices.forall(i =>
        java.lang.Double.doubleToLongBits(ca(i)) == java.lang.Double.doubleToLongBits(cb(i))),
        s"centroid $cid differs between sampled and subset-replayed training")
    }
    // the sample is real: strictly fewer training vectors than the corpus
    assert(subset.count() < 400 && subset.count() > 0)
  }

  test("IVF with sampled training keeps recall on clustered data") {
    import spark.implicits._
    // same 8-one-hot-cluster corpus as the trained-quantizer test; training
    // on a ~1/3 id-hash sample must still recover the cluster structure
    val dim = 16
    val vecs = (0 until 600).map { i =>
      val k = i % 8
      val v = (0 until dim).map(j =>
        (if (j == 2 * k) 1.0f else 0.0f) + (((i * 31 + j * 17) % 7) - 3) * 0.02f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = Seq(30L, 55L, 85L, 110L, 135L, 165L, 190L)
    val truth = Similarity.bruteForceTopK(vecs, queries, 5).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val got = Similarity.ivfTopK(vecs, queries, centroids = 8, nprobe = 2,
      trainIters = 2, maxTrainVectors = 200L)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall =
      queries.map(q => (got.getOrElse(q, Set.empty[Long]) & truth(q)).size / 5.0).sum / queries.size
    assert(recall >= 0.9, s"sampled-training IVF recall $recall")
  }

  test("multimodal: PNG/JPEG/WAV header decoders recover the encoded values") {
    assert(Multimodal.decodePng(Multimodal.pngBytes(7L, 640, 480)) == Some((640, 480)))
    // JPEG parser must WALK past APP0 to the SOF segment
    assert(Multimodal.decodeJpeg(Multimodal.jpegBytes(7L, 575, 303)) == Some((575, 303)))
    assert(Multimodal.decodeWav(Multimodal.wavBytes(7L, 44100, 2)) == Some((44100, 2)))
    // cross-sniffing: each decoder rejects the other formats and garbage
    assert(Multimodal.decodePng(Multimodal.jpegBytes(1L, 10, 10)).isEmpty)
    assert(Multimodal.decodeJpeg(Multimodal.wavBytes(1L, 8000, 1)).isEmpty)
    assert(Multimodal.decodeWav(Multimodal.pngBytes(1L, 10, 10)).isEmpty)
    assert(Multimodal.decode(Array[Byte](1, 2, 3)) == ((false, 0, 0, 0, 0, 0L)))
    assert(Multimodal.decode(null) == ((false, 0, 0, 0, 0, 0L)))
    // truncated structures fail cleanly, not with exceptions
    assert(Multimodal.decodePng(Multimodal.pngBytes(1L, 10, 10).take(20)).isEmpty)
    assert(Multimodal.decodeJpeg(Multimodal.jpegBytes(1L, 10, 10).take(10)).isEmpty)
  }

  // Independent closed-form replay of the fixed-point IDCT spec for the
  // generator's (dc, a1@zigzag1, a2@zigzag2) blocks — constants HARDCODED
  // (not read from Multimodal.idctK) so this is a second derivation: only
  // v∈{0,1}, u∈{0,1} basis positions are active, so pixel(y,x) =
  // clamp(floorDiv(K0·(K0·dc + K1(x)·a1) + K0·K1(y)·a2 + 2²⁵, 2²⁶) + 128).
  private val jpegK1 = Array(4017L, 3406L, 2276L, 799L, -799L, -2276L, -3406L, -4017L)
  private def jpegExpectedPixel(id: Long, x: Int, y: Int): Long = {
    val k0 = 2896L
    val dc = 8L * (Multimodal.jpegGray(id) - 128)
    val s = k0 * (k0 * dc + jpegK1(x) * Multimodal.jpegAc1(id)) +
      k0 * jpegK1(y) * Multimodal.jpegAc2(id)
    math.max(0L, math.min(255L, Math.floorDiv(s + (1L << 25), 1L << 26) + 128L))
  }
  private def jpegExpectedSum(id: Long, w: Int, h: Int): Long =
    (for (y <- 0 until 8; x <- 0 until 8) yield
      jpegExpectedPixel(id, x, y) *
        (w / 8 + (if (x < w % 8) 1 else 0)) *
        (h / 8 + (if (y < h % 8) 1 else 0))).sum
  private def jpegExpectedLen(id: Long, w: Int, h: Int): Long = {
    val m = (id % 16).toInt
    val t = if (m == 0) 0 else 7 + (31 - Integer.numberOfLeadingZeros(m))
    def szBits(v: Int): Int = if (v == 0) 0 else 3 + (32 - Integer.numberOfLeadingZeros(math.abs(v)))
    val bpm = 4 + 3 + szBits(Multimodal.jpegAc1(id)) + szBits(Multimodal.jpegAc2(id))
    val nb = ((w + 7) / 8).toLong * ((h + 7) / 8)
    val r = Multimodal.jpegRestartInterval(id)
    if (r == 0) 175 + ((nb * bpm + t + 7) / 8)
    else {
      // DRI: +6 header; nseg byte-aligned segments, each paying the DC
      // category magnitude t once (predictor reset), + 2 bytes per RSTn
      val nseg = (nb + r - 1) / r
      val rlast = nb - (nseg - 1) * r
      181 + (nseg - 1) * ((r * bpm + t + 7) / 8 + 2) + ((rlast * bpm + t + 7) / 8)
    }
  }

  // independent color replay: same luma cell as jpegExpectedPixel, flat
  // chroma, JFIF fixed-point conversion with HARDCODED constants (second
  // derivation vs Multimodal.yccToRgb)
  private def jpegColorPixel(id: Long, x: Int, y: Int): Long = {
    val yv = jpegExpectedPixel(id, x, y)
    val cb = 4L * ((id % 9) - 4)
    val cr = 4L * ((id % 11) - 5)
    def rnd16(v: Long) = Math.floorDiv(v + 32768L, 65536L)
    def cl(v: Long) = math.max(0L, math.min(255L, v))
    cl(yv + rnd16(91881L * cr)) + cl(yv - rnd16(22553L * cb + 46802L * cr)) +
      cl(yv + rnd16(116130L * cb))
  }
  private def jpegColorSum(id: Long, w: Int, h: Int): Long =
    (for (y <- 0 until 8; x <- 0 until 8) yield
      jpegColorPixel(id, x, y) *
        (w / 8 + (if (x < w % 8) 1 else 0)) *
        (h / 8 + (if (y < h % 8) 1 else 0))).sum
  private def jpegColorLen(id: Long, w: Int, h: Int): Long = {
    val m = (id % 16).toInt
    val ty = if (m == 0) 0 else 7 + (31 - Integer.numberOfLeadingZeros(m))
    def szBits(v: Int): Int = if (v == 0) 0 else 3 + (32 - Integer.numberOfLeadingZeros(math.abs(v)))
    val bpm = 4 + 3 + szBits(Multimodal.jpegAc1(id)) + szBits(Multimodal.jpegAc2(id))
    def tOf(dc: Int): Int = if (dc == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(dc))
    val tcb = tOf(8 * (Multimodal.jpegCb(id) - 128))
    val tcr = tOf(8 * (Multimodal.jpegCr(id) - 128))
    val nmcu = ((w + 15) / 16).toLong * ((h + 15) / 16)
    311 + (nmcu * (4 * bpm + 14) + ty + tcb + tcr + 7) / 8
  }

  test("multimodal: JPEG Huffman+IDCT decode recovers exact pixel sums (AC ripples included)") {
    // round-trip: the generator emits a REAL baseline entropy stream with
    // nonzero AC coefficients; the decoder Huffman-decodes every MCU,
    // dequantizes through the zigzag, and runs the fixed-point IDCT — sums
    // must match the independent closed form exactly, including
    // non-multiple-of-8 dims (partial-block crop math). Ids cover every
    // (a1, a2) combination class: id%5 ∈ {0..4} × id%7 ∈ {0..6}.
    for ((id, w, h) <- Seq((0L, 8, 8), (7L, 575, 303), (15L, 64, 48), (16L, 13, 9),
      (5L, 100, 100), (12L, 40, 24), (17L, 30, 30), (23L, 64, 8), (30L, 9, 80))) {
      val bytes = Multimodal.jpegBytes(id, w, h)
      assert(Multimodal.decodeJpeg(bytes) == Some((w, h)))
      assert(Multimodal.decodeJpegPixels(bytes) == Some(jpegExpectedSum(id, w, h)),
        s"pixel sum mismatch for id=$id ${w}x$h")
    }
    // a DC-only image (a1=0 at id%5==2, a2=0 at id%7==3) still reduces to
    // the flat w·h·gray sum — and an image WITH ripples must NOT equal it,
    // or the AC path would be untested
    val flatId = 17L // 17%5==2, 17%7==3
    assert(Multimodal.jpegAc1(flatId) == 0 && Multimodal.jpegAc2(flatId) == 0)
    assert(jpegExpectedSum(flatId, 32, 32) == 32L * 32 * Multimodal.jpegGray(flatId))
    // AC sensitivity of the ORACLE STATISTIC: on full blocks the antisymmetric
    // ripples (K1(7−x) = −K1(x)) cancel in the SUM even though individual
    // pixels move, so the evidence lives in partial edge blocks — assert that
    // the actual q27 corpus (its jpg dims) contains images whose expected sum
    // differs from the flat w·h·gray value an AC-ignoring decoder would get
    val acSensitive = (0L until 1000L)
      .filter(i => i % 3 == 1 && i % 17 != 0)
      .count { i =>
        val w = 64 + (i % 512).toInt; val h = 48 + (i % 256).toInt
        jpegExpectedSum(i, w, h) != w.toLong * h * Multimodal.jpegGray(i)
      }
    assert(acSensitive > 50,
      s"only $acSensitive AC-sensitive jpgs — the oracle would barely detect an AC-ignoring decoder")
    // the engine's basis constants match the test's hardcoded second source
    assert((0 until 8).forall(x => Multimodal.idctK(1, x) == jpegK1(x)))
    assert((0 until 8).forall(x => Multimodal.idctK(0, x) == 2896L))
    // closed-form byte length (the q27 oracle's formula): 175 header +
    // ceil((nblocks·(4+acbits) + t)/8) entropy bytes
    for ((id, w, h) <- Seq((0L, 8, 8), (7L, 575, 303), (15L, 64, 48), (17L, 30, 30), (30L, 9, 80))) {
      assert(Multimodal.jpegBytes(id, w, h).length == jpegExpectedLen(id, w, h),
        s"byte length formula broke for id=$id ${w}x$h")
    }
    // the round-trip ids above mix restart-marker and plain streams
    assert(Seq(0L, 15L, 16L, 5L, 17L, 30L).forall(Multimodal.jpegRestartInterval(_) > 0))
    assert(Seq(7L, 12L, 23L).forall(Multimodal.jpegRestartInterval(_) == 0))
    // restart markers really on the wire: a DRI image carries exactly
    // nseg-1 cyclic RSTn byte pairs, and breaking the cycle fails cleanly
    val driBytes = Multimodal.jpegBytes(16L, 40, 24) // r=2, nb=15 → 7 markers
    def rstPositions(b: Array[Byte]): Seq[Int] = (0 until b.length - 1).filter(i =>
      (b(i) & 0xff) == 0xff && ((b(i + 1) & 0xff) & 0xf8) == 0xd0)
    assert(rstPositions(driBytes).length == 7)
    val broken = driBytes.clone()
    broken(rstPositions(driBytes).head + 1) = 0xd7.toByte // out-of-cycle RSTn
    assert(Multimodal.decodeJpegPixels(broken).isEmpty)
    // truncated entropy stream and garbage fail cleanly
    val good = Multimodal.jpegBytes(3L, 32, 32)
    assert(Multimodal.decodeJpegPixels(good.take(good.length - 20)).isEmpty)
    assert(Multimodal.decodeJpegPixels(Multimodal.wavBytes(1L, 8000, 1)).isEmpty)
  }

  test("multimodal: color JPEG (YCbCr 4:2:0) — interleaved MCUs, chroma upsample, fixed-point RGB") {
    // round-trip against the independent replay, covering edge MCUs
    // (non-multiple-of-16 dims), zero-DC luma, all chroma sign classes
    for ((id, w, h) <- Seq((4L, 16, 16), (10L, 575, 303), (16L, 64, 48), (22L, 13, 9),
      (28L, 40, 30), (34L, 100, 100), (58L, 33, 17), (0L, 24, 24))) {
      val bytes = Multimodal.jpegColorBytes(id, w, h)
      assert(Multimodal.decodeJpeg(bytes) == Some((w, h)))
      assert(Multimodal.decodeJpegPixels(bytes) == Some(jpegColorSum(id, w, h)),
        s"color pixel sum mismatch id=$id ${w}x$h")
      assert(bytes.length == jpegColorLen(id, w, h), s"color byte length broke id=$id ${w}x$h")
    }
    // neutral-chroma cross-check: Cb=Cr=128 (id ≡ 49 mod 99) → R=G=B=Y, so
    // the color statistic must equal EXACTLY 3× the grayscale one — ties
    // the color path to the independently-validated luma path
    assert(Multimodal.jpegCb(49L) == 128 && Multimodal.jpegCr(49L) == 128)
    assert(Multimodal.decodeJpegPixels(Multimodal.jpegColorBytes(49L, 32, 32)) ==
      Some(3L * jpegExpectedSum(49L, 32, 32)))
    // non-neutral chroma must MOVE the statistic away from 3×gray
    assert(Multimodal.decodeJpegPixels(Multimodal.jpegColorBytes(4L, 32, 32)) !=
      Some(3L * jpegExpectedSum(4L, 32, 32)))
    // engine conversion constants = the test's hardcoded second source
    assert(Multimodal.yccToRgb == ((91881L, 22553L, 46802L, 116130L)))
    // truncation fails cleanly
    val cg = Multimodal.jpegColorBytes(10L, 48, 48)
    assert(Multimodal.decodeJpegPixels(cg.take(cg.length - 20)).isEmpty)
  }

  test("multimodal: resize + video frame-sample on really-decoded pixels") {
    // resize: nearest-neighbor ÷2 picks source (2x, 2y) → closed-form sum
    val png = Multimodal.pngBytes(5L, 20, 14)
    val Some((rw, rh, rs)) = Multimodal.resizePng(png, 2)
    assert((rw, rh) == (10, 7))
    val expect = (for (y <- 0 until 7; x <- 0 until 10)
      yield 3L * Multimodal.pixelValue(5L, 2 * x, 2 * y)).sum
    assert(rs == expect)
    // degenerate factors rejected; non-PNG rejected
    assert(Multimodal.resizePng(png, 0).isEmpty)
    assert(Multimodal.resizePng(Multimodal.wavBytes(1L, 8000, 1), 2).isEmpty)
    // video: GVID index parse, every-2nd-frame decode, per-frame formula
    val vid = Multimodal.videoBytes(7L, frames = 5, w = 16, h = 12)
    val frames = Multimodal.sampleFrames(vid, every = 2)
    assert(frames.map(_._1) == Seq(0, 2, 4))
    frames.foreach { case (f, w, h, s) =>
      assert(w == 16 && h == 12)
      val e = (for (y <- 0 until 12; x <- 0 until 16)
        yield 3L * Multimodal.pixelValue(7L * 1000 + f, x, y)).sum
      assert(s == e, s"frame $f pixel sum")
    }
    // every=1 decodes all frames; corrupt/truncated containers yield none
    assert(Multimodal.sampleFrames(vid, 1).map(_._1) == Seq(0, 1, 2, 3, 4))
    assert(Multimodal.sampleFrames(Array[Byte](9, 9, 9), 2).isEmpty)
    assert(Multimodal.sampleFrames(vid.take(vid.length - 10), 2).isEmpty)
  }

  test("multimodal: WAV PCM decode recovers closed-form sample stats") {
    val wav = Multimodal.wavBytes(9L, 16000, 2)
    val Some((n, sum, peak)) = Multimodal.decodeWavPcm(wav)
    assert(n == 32)
    val vals = (0 until 32).map(i => Multimodal.wavSample(9L, i))
    assert(vals.forall(v => v >= -2048 && v <= 2047))
    assert(sum == vals.map(v => math.abs(v).toLong).sum)
    assert(peak == vals.map(math.abs).max)
    // header decode still agrees; non-wav and corrupt rejected
    assert(Multimodal.decodeWav(wav) == Some((16000, 2)))
    assert(Multimodal.decodeWavPcm(Multimodal.pngBytes(1L, 10, 10)).isEmpty)
    assert(Multimodal.decodeWavPcm(wav.take(50)).isEmpty)
  }

  test("multimodal: PNG pixel decode (inflate + unfilter) matches the generation formula") {
    // decode goes chunk walk → Inflater → unfilter; expected sum from formula
    for ((id, w, h) <- Seq((7L, 64, 48), (123L, 575, 303), (0L, 1, 1))) {
      val expect = (for (y <- 0 until h; x <- 0 until w) yield 3L * Multimodal.pixelValue(id, x, y)).sum
      assert(Multimodal.decodePngPixels(Multimodal.pngBytes(id, w, h)) == Some(expect), s"id=$id")
    }
    // multi-block zlib path: raw > 65535 forces >1 stored block (575*303 does)
    val big = Multimodal.pngBytes(9L, 575, 303)
    val raw = 303 * (3 * 575 + 1)
    assert(big.length == 57 + raw + 6 + 5 * ((raw + 65534) / 65535))
    // truncated IDAT fails cleanly; header dims still parse
    val cut = big.take(big.length / 2)
    assert(Multimodal.decodePng(cut) == Some((575, 303)))
    assert(Multimodal.decodePngPixels(cut).isEmpty)
    // all 5 spec filters round-trip: forward-filter a known raw image with
    // each type, then unfilter must reproduce it (generator only emits 0-2)
    val (w, h, bpp) = (5, 4, 3)
    val rawImg = Array.tabulate(h * w * bpp)(i => ((i * 37 + 11) % 256).toByte)
    def px(y: Int, i: Int) = rawImg(y * w * bpp + i) & 0xff
    for (f <- 0 to 4) {
      val filtered = new Array[Byte](h * (1 + w * bpp))
      for (y <- 0 until h) {
        filtered(y * (1 + w * bpp)) = f.toByte
        for (i <- 0 until w * bpp) {
          val left = if (i >= bpp) px(y, i - bpp) else 0
          val up = if (y > 0) px(y - 1, i) else 0
          val ul = if (y > 0 && i >= bpp) px(y - 1, i - bpp) else 0
          val pred = f match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) / 2
            case 4 =>
              val pp = left + up - ul
              val (pa, pb, pc) = (math.abs(pp - left), math.abs(pp - up), math.abs(pp - ul))
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul
          }
          filtered(y * (1 + w * bpp) + 1 + i) = ((px(y, i) - pred) & 0xff).toByte
        }
      }
      assert(Multimodal.unfilterScanlines(filtered, w, h, bpp).map(_.toSeq) == Some(rawImg.toSeq), s"filter $f")
    }
    // unknown filter type rejected
    val badFilter = Array.fill[Byte](1 + w * bpp)(0)
    badFilter(0) = 9
    assert(Multimodal.unfilterScanlines(badFilter, w, 1, bpp).isEmpty)
  }

  test("multimodal feature extraction: real header decode + corrupt payload path") {
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 100)
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 100)
    val corrupt = feats.filter(!_.valid)
    assert(corrupt.nonEmpty && corrupt.forall(f => f.media_id % 17 == 0))
    val valid = feats.filter(_.valid)
    assert(valid.filter(f => f.kind != "wav").forall(f =>
      f.width == 64 + f.media_id % 512 && f.height == 48 + f.media_id % 256))
    assert(valid.filter(_.kind == "wav").forall(f =>
      f.sample_rate == 8000 + (f.media_id % 8) * 4000 && f.channels == 1 + f.media_id % 2))
    def pngBytesLen(w: Long, h: Long): Long = {
      val raw = h * (3 * w + 1)
      57 + raw + 6 + 5 * ((raw + 65534) / 65535)
    }
    assert(valid.forall(f => f.kind match {
      case "png" => f.n_bytes == pngBytesLen(f.width, f.height)
      case "jpg" if f.media_id % 6 == 4 => f.n_bytes == jpegColorLen(f.media_id, f.width, f.height)
      case "jpg" => f.n_bytes == jpegExpectedLen(f.media_id, f.width, f.height)
      case _ => f.n_bytes == 108L
    }))
    // real pixel decode: every valid png's pixel_sum matches the formula
    assert(valid.filter(_.kind == "png").forall { f =>
      val expect = (for (y <- 0 until f.height; x <- 0 until f.width)
        yield 3L * Multimodal.pixelValue(f.media_id, x, y)).sum
      f.pixel_sum == expect
    })
    // ...and every valid jpeg's (entropy-decoded + fixed-point IDCT, AC
    // ripples included; color rows through the 4:2:0 + RGB path)
    assert(valid.filter(_.kind == "jpg").forall { f =>
      f.pixel_sum == (if (f.media_id % 6 == 4) jpegColorSum(f.media_id, f.width, f.height)
                      else jpegExpectedSum(f.media_id, f.width, f.height))
    })
    assert(valid.filter(_.kind == "wav").forall(_.pixel_sum == 0L))
    // determinism
    val again = Multimodal.extractFeatures(spark, media).collect()
    assert(again.map(_.checksum).toSeq == feats.map(_.checksum).toSeq)
  }

  test("portable simhash: identical equal, near texts closer than far texts, empty → zero") {
    val a = NearDup.simhashMd5Hex("the quick brown fox jumps over the lazy dog")
    val b = NearDup.simhashMd5Hex("the quick brown fox jumps over the lazy cat")
    val c = NearDup.simhashMd5Hex("completely unrelated content about spark engines")
    assert(a == NearDup.simhashMd5Hex("the quick brown fox jumps over the lazy dog"))
    assert(a.length == 16 && a.matches("[0-9a-f]{16}"))
    def ham(x: String, y: String) = java.lang.Long.bitCount(
      java.lang.Long.parseUnsignedLong(x, 16) ^ java.lang.Long.parseUnsignedLong(y, 16))
    assert(ham(a, b) < ham(a, c))
    assert(NearDup.simhashMd5Hex("") == "0000000000000000")
    assert(NearDup.simhashMd5Hex(null) == "0000000000000000")
  }

  test("repetition stats (Gopher rules): bigram ratios, top share, mean word length") {
    import spark.implicits._
    val d = docs(
      1L -> "a b a b c",              // bigrams: a-b, b-a, a-b, b-c
      2L -> "x x x x",                // one repeated bigram
      3L -> "only",                   // no bigrams
      4L -> "alpha beta gamma")
    val out = TextOps.repetitionStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(1L) == ((4L, 0.75, 0.5, 1.0)))
    assert(out(2L) == ((3L, round6(1.0 / 3), 1.0, 1.0)))
    assert(out(3L) == ((0L, 0.0, 0.0, 4.0)))
    assert(out(4L) == ((2L, 1.0, 0.5, round6(14.0 / 3))))
  }

  private def round6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("langid guess and votes") {
    val d = docs(1L -> "the cat and the dog of a tree", 2L -> "der hund und die katze und das haus")
    val out = d.select(col("doc_id"), TextOps.langGuess(col("text")).as("g")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "en" && out(2L) == "de")
  }

  test("langid CJK char-class votes: zh/ja/ko fixtures, mixed-script precedence") {
    val d = docs(
      1L -> "我们在处理大规模数据", // zh: Han only
      2L -> "データを処理します",       // ja: kana (+ Han 処理)
      3L -> "데이터를 처리합니다",      // ko: Hangul
      4L -> "漢字とかなが混ざる",       // Han + kana → ja
      5L -> "the plain ascii text")
    val out = d.select(col("doc_id"), TextOps.langGuess(col("text")).as("g")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "zh" && out(2L) == "ja" && out(3L) == "ko" && out(4L) == "ja" && out(5L) == "en")
    // votes are per-character counts
    val votes = d.where(col("doc_id") === 1L)
      .select(TextOps.charClassVotes(col("text")).map { case (l, c) => c.as(l) }: _*)
      .collect()(0)
    assert(votes.getLong(0) == 10L && votes.getLong(1) == 0L && votes.getLong(2) == 0L)
  }

  test("contaminationCheck: overlap counts, eval-doc counts, short-doc row kept, threshold flag") {
    val train = docs(1L -> "a b c d", 2L -> "x y z w", 3L -> "p q")
    val eval_ = docs(100L -> "a b c q", 101L -> "b c d")
    val out = TextOps.contaminationCheck(train, eval_, n = 3, threshold = 0.5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5)))).toMap
    // doc1 grams {a b c, b c d}: "a b c" hits eval 100, "b c d" hits eval 101
    assert(out(1L) == ((2L, 2L, 2L, 1.0, true)))
    assert(out(2L) == ((2L, 0L, 0L, 0.0, false)))
    assert(out(3L) == ((0L, 0L, 0L, 0.0, false))) // < n tokens, row kept
    // within-doc repeated grams count once (array_distinct before explode)
    val rep = docs(7L -> "a b c a b c")          // grams incl. "a b c" twice
    val o2 = TextOps.contaminationCheck(rep, eval_, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(o2(7L) == 1L)
  }

  test("stratifiedSample: md5 draw matches driver replay, rate table applied, zero default drops") {
    import spark.implicits._
    val d = (1L to 200L).map(i => (i, if (i % 2 == 0) "keepall" else "other", s"t$i"))
      .toDF("doc_id", "source", "text")
    def u(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"graft:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 8), 16).toDouble / 4294967296.0
    }
    val got = TextOps.stratifiedSample(d, Map("keepall" -> 1.0, "other" -> 0.3)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val expIds = (1L to 200L).filter(i => if (i % 2 == 0) u(i) < 1.0 else u(i) < 0.3)
    assert(got.map(_._1).sorted.toSeq == expIds)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (id, st, rate, u6) =>
      assert(rate == (if (st == "keepall") 1.0 else 0.3))
      assert(u6 == r6(u(id)))
    }
    // defaultRate = 0.0: unlisted strata drop entirely
    val none = TextOps.stratifiedSample(d, Map("keepall" -> 1.0)).collect()
    assert(none.forall(_.getString(1) == "keepall") && none.length == 100)
  }

  test("piiScrub: emails/ips/phones counted and replaced in order, clean docs flagged pii_free") {
    val d = docs(
      1L -> "reach me at jo.doe+x@mail.example.org or 192.168.0.1 or 555-123-4567",
      2L -> "two mails a@b.co c@d.io one ip 10.0.0.255",
      3L -> "totally clean prose",
      4L -> "edge 1.2.3.4.5 phone 12-345-6789") // 5-octet run still has a 4-octet \b match; bad phone no match
    val out = TextOps.piiScrub(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getBoolean(5)))).toMap
    assert(out(1L) == ((1L, 1L, 1L, "reach me at <EMAIL> or <IP> or <PHONE>", false)))
    assert(out(2L)._1 == 2L && out(2L)._2 == 1L &&
      out(2L)._4 == "two mails <EMAIL> <EMAIL> one ip <IP>")
    assert(out(3L) == ((0L, 0L, 0L, "totally clean prose", true)))
    assert(out(4L)._2 == 1L && out(4L)._3 == 0L)
  }

  test("pmiCollocations: hand-computed PMI, minCount floor applied") {
    val d = docs(1L -> "a b a b", 2L -> "a b c")
    // unigrams a:3 b:3 c:1 (N=7); bigrams (a,b):3 (b,a):1 (b,c):1 (B=5)
    val out = TextOps.pmiCollocations(d, minCount = 2).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(("a", "b")))
    val expected = math.log((3.0 / 5.0) / ((3.0 / 7.0) * (3.0 / 7.0)))
    assert(out(("a", "b"))._1 == 3L)
    assert(math.abs(out(("a", "b"))._2 - expected) < 1e-6)
  }

  test("resolveClusters: CC over pairs, keeper = longest bytes then min id, cluster_id = min id") {
    import spark.implicits._
    // cluster {1,2,3} chained 1-2, 2-3 (CC must transitively close);
    // doc 3 longest → keeper; cluster {10,11} equal length → min id 10 keeps;
    // doc 5 in no pair → absent from output.
    val d = docs(1L -> "aa", 2L -> "bbbb", 3L -> "ccccc", 10L -> "xx", 11L -> "yy",
      5L -> "lonely")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val out = NearDup.resolveClusters(spark, d, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L))
    assert(out(1L) == ((1L, 3L, 0L)) && out(2L) == ((1L, 3L, 0L)))
    assert(out(3L) == ((1L, 3L, 1L))) // longest text keeps despite largest id
    assert(out(10L) == ((10L, 2L, 1L)) && out(11L) == ((10L, 2L, 0L))) // tie → min id
  }

  test("tokenWindows: starts at every stride < n, partial tail, md5 payload, empty doc dropped") {
    val toks = (1 to 10).map(i => s"t$i")
    val d = docs(1L -> toks.mkString(" "), 2L -> "a b", 3L -> "")
    val out = TextOps.tokenWindows(d, window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // doc 1: n=10 → starts 0,3,6,9; window 4 clamps the tail
    val exp = Seq(0L -> (0 until 4), 1L -> (3 until 7), 2L -> (6 until 10), 3L -> (9 until 10))
    exp.foreach { case (wi, range) =>
      val chunk = range.map(toks)
      assert(out((1L, wi)) ==
        ((range.start.toLong, chunk.size.toLong, graft.text.PyText.md5Hex(chunk.mkString(" ")))))
    }
    // doc 2: single partial window; doc 3 (zero tokens): no rows
    assert(out((2L, 0L)) == ((0L, 2L, graft.text.PyText.md5Hex("a b"))))
    assert(out.keys.map(_._1).toSet == Set(1L, 2L))
    assert(out.size == 5)
  }

  /** Driver-side brute-force token-bigram Jaccard — the recall oracle for
    * the prefix-filter join.
    */
  private def bruteBigramJaccard(rows: Seq[(Long, String)], num: Int, den: Int) = {
    def grams(t: String): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 2) Set.empty else tk.sliding(2).map(_.mkString(" ")).toSet
    }
    val gs = rows.map { case (id, t) => id -> grams(t) }
    for {
      (i1, s1) <- gs; (i2, s2) <- gs if i1 < i2
      inter = (s1 & s2).size
      if inter * den >= num * (s1.size + s2.size - inter)
    } yield (i1, i2, inter.toLong, s1.size.toLong, s2.size.toLong)
  }

  test("prefixJaccardPairs: zero recall loss vs brute force, incl. knife-edge J = threshold") {
    // knife-edge: docs 1/2 share bigrams {ab,bc,cd} of sizes 5 and 4 →
    // J = 3/(5+4-3) = 1/2 EXACTLY at t = 1/2 (a float ceil(0.5·n) would
    // shorten the prefix and could drop it); 3/4 exact dups; 5 disjoint;
    // 6/7 just under threshold; 8 too short for bigrams.
    val rows = Seq(
      1L -> "a b c d e f",         // bigrams: ab bc cd de ef (5)
      2L -> "a b c d x",           // ab bc cd dx (4) — inter 3, union 6 → J = 1/2
      3L -> "p q r s", 4L -> "p q r s",
      5L -> "zz ww vv",
      6L -> "m n o", 7L -> "m n q",
      8L -> "solo")
    val d = docs(rows: _*)
    val exp = bruteBigramJaccard(rows, 1, 2).map(t => (t._1, t._2, t._3, t._4, t._5)).toSet
    val got = NearDup.prefixJaccardPairs(d, 1, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == exp, s"got $got expected $exp")
    assert(exp.contains((1L, 2L, 3L, 5L, 4L)))  // the knife-edge J = 1/2 pair survives
    assert(exp.contains((3L, 4L, 3L, 3L, 3L)))  // the exact-dup pair is in both
  }

  test("prefixJaccardPairs: randomized corpus equals brute force at t = 3/5") {
    // deterministic pseudo-random corpus: every even doc is a 1-token
    // mutation of its predecessor (guaranteed high-Jaccard pairs at varied
    // sizes), odd docs are independent (boundary/pruning traffic)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val rng = new scala.util.Random(42)
    val rows = (1L to 20L).flatMap { i =>
      val base = Vector.fill(6 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size)))
      val mutated = base.updated(rng.nextInt(base.size), vocab(rng.nextInt(vocab.size)))
      Seq(2 * i - 1 -> base.mkString(" "), 2 * i -> mutated.mkString(" "))
    }
    val exp = bruteBigramJaccard(rows, 3, 5).map(t => (t._1, t._2)).toSet
    val got = NearDup.prefixJaccardPairs(docs(rows: _*), 3, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
    assert(exp.nonEmpty)  // the corpus genuinely exercises the join
  }

  test("incrementalNearDup: cross-side pairs only, both directions of asymmetry honored") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val newDocs = docs(
      101L -> base,                                   // exact dup of corpus docs 1 and 3
      102L -> (base + " tail"),                       // near-dup (may or may not share a band)
      103L -> "completely unrelated text about nothing in particular at all")
    val corpus = docs(
      1L -> base,
      2L -> "another unrelated corpus document with its own words entirely",
      3L -> base)                                     // within-corpus dup of doc 1
    val out = NearDup.incrementalNearDup(newDocs, corpus, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair is new×old — the within-corpus dup (1,3) and any
    // new-side pair (101,102) must NOT appear
    assert(out.forall { case (n, o) => n >= 100L && o < 100L })
    // identical text → identical signatures → band join cannot miss
    assert(out.contains((101L, 1L)) && out.contains((101L, 3L)))
    assert(!out.exists { case (n, o) => n == 103L || o == 2L })
  }

  test("bm25TopK: ranks the term-dense doc first, k and tie-break respected") {
    import spark.implicits._
    val d = docs(
      1L -> "spark spark spark engine",       // high tf for 'spark', short
      2L -> "spark engine engine engine engine engine engine engine", // low tf, long
      3L -> "spark engine",                    // tf 1 but shortest doc
      4L -> "nothing relevant here at all")
    val qs = Seq(("q", "spark")).toDF("query_id", "qtext")
    val out = TextOps.bm25TopK(d, qs, k = 3).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).sortBy(_._3)
    assert(out.length == 3)                       // doc 4 never matches
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(out.head._1 == 1L, s"tf-dense doc must rank first: $out")
    // scores strictly non-increasing in rank order
    assert(out.sliding(2).forall(p => p.head._2 >= p.last._2))
    // doc 2 (one hit in a long doc) must rank below doc 3 (one hit, short)
    val rankOf = out.map(t => t._1 -> t._3).toMap
    assert(rankOf(3L) < rankOf(2L), s"length normalization violated: $out")
  }

  test("paretoFrontier: dominated rows drop, ties and duplicate points survive") {
    import spark.implicits._
    val rows = Seq(
      ("g", 1L, 5.0, 10L),   // dominated by (5.0,30) on y? x=5.0... see below
      ("g", 2L, 5.0, 30L),   // frontier: highest y at x=5.0
      ("g", 3L, 7.0, 20L),   // frontier: larger x, y=20
      ("g", 4L, 7.0, 20L),   // duplicate of 3 → also kept
      ("g", 5L, 6.0, 15L),   // dominated by (7.0, 20)
      ("g", 6L, 9.0, 5L),    // frontier: largest x
      ("h", 7L, 1.0, 1L))    // other group untouched
      .toDF("grp", "id", "x", "y")
    val got = Skyline.paretoFrontier(rows, "grp", "x", "y").collect()
      .map(_.getAs[Long]("id")).toSet
    assert(got == Set(2L, 3L, 4L, 6L, 7L))
  }

  test("tokenEntropy: uniform → log2(k) bits, constant → 0, counts right") {
    import spark.implicits._
    val d = Seq(("u", "a b c d"), ("u", "a b c d"),  // uniform over 4 tokens
      ("k", "z z z z z")).toDF("source", "text")
    val out = TextOps.tokenEntropy(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("u")._1 == 8L && out("u")._2 == 4L)
    assert(math.abs(out("u")._3 - 2.0) < 1e-6)     // log2(4), rounding at 9dp
    assert(out("k") == ((5L, 1L, -0.0)) || out("k") == ((5L, 1L, 0.0)))
  }

  test("noveltyRate: first-seen ownership by min doc_id; gramless doc keeps a null row") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),        // grams: abc bcd → both novel (first doc)
      (2L, "a b c x"),        // abc (seen in 1), bcx (novel) → 1/2
      (3L, "a b c d"),        // all seen → 0
      (4L, "zz"))             // no 3-grams → null row
      .toDF("doc_id", "text")
    val out = TextOps.noveltyRate(d).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(1L) == ((Some(2L), Some(2L), Some(1.0))))
    assert(out(2L) == ((Some(2L), Some(1L), Some(0.5))))
    assert(out(3L) == ((Some(2L), Some(0L), Some(0.0))))
    assert(out(4L) == ((None, None, None)))
  }

  test("hammingJoin: matches brute force — distance 0 and 1 in, 2 out, unequal lengths out") {
    import spark.implicits._
    val rows = Seq(
      (1L, "abcdef"), (2L, "abcdex"),   // distance 1
      (3L, "abcdef"),                   // exact dup of 1 → distance 0
      (4L, "abxxef"),                   // distance 2 from 1 → out
      (5L, "abcde"),                    // shorter → never compared to the others
      (6L, "abcdz"))                    // distance 1 from 5
      .toDF("c_custkey", "c_name")
    val got = NearDup.hammingJoin(rows, "c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L), (5L, 6L, 1L)))
  }

  test("hammingJoin: duplicate ids never pair with themselves (d1 < d2 on every row)") {
    import spark.implicits._
    val rows = Seq(
      (1L, "abcdef"), (1L, "abcdef"),   // same id, same name → distance 0
      (1L, "abcdex"),                   // same id, distance 1
      (2L, "abcdeg"))                   // distance 1 from both id-1 names
      .toDF("c_custkey", "c_name")
    val got = NearDup.hammingJoin(rows, "c_custkey", "c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 1L)), s"got $got")
  }

  test("hammingJoin equals the brute-force contract on generated frames (ScalaCheck, 200 cases)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // a 3-letter alphabet makes distance 0/1 partners common; names of
    // 63-64 chars sit at the length cap, 65-66 chars lie beyond it
    val short = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))).map(_.mkString)
    val long = Gen.zip(Gen.choose(63, 66), Gen.oneOf("a", "b")).map { case (n, end) => "a" * (n - 1) + end }
    val name: Gen[String] = Gen.frequency(10 -> short, 2 -> long, 1 -> Gen.const(null))
    val row = Gen.zip(Gen.choose(0L, 6L), name)
    val frame = Gen.frequency(1 -> Gen.const(Seq.empty[(Long, String)]), 1 -> row.map(Seq(_)),
      8 -> Gen.choose(2, 14).flatMap(Gen.listOfN(_, row)))
    // the documented contract over the distinct (id, name) rows: d1 < d2,
    // equal lengths of at most 64 chars, at most one differing character;
    // one output row per distinct (d1, d2, name1, name2)
    def brute(rows: Seq[(Long, String)]): Seq[(Long, Long, Long)] = {
      val kept = rows.filter(r => r._2 != null && r._2.length <= 64).distinct
      (for {
        (d1, n1) <- kept; (d2, n2) <- kept
        if d1 < d2 && n1.length == n2.length
        h = n1.zip(n2).count(p => p._1 != p._2).toLong if h <= 1
      } yield (d1, d2, n1, n2, h)).distinct.map(p => (p._1, p._2, p._5)).sorted
    }
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(frame, Gen.oneOf(1, 4)) { (rows, parts) =>
      val df = spark.createDataset(spark.sparkContext.parallelize(rows, parts))
        .toDF("c_custkey", "c_name")
      val got = NearDup.hammingJoin(df, "c_custkey", "c_name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      val want = brute(rows)
      Seq("empty" -> rows.isEmpty, "one row" -> (rows.size == 1),
        "duplicate id" -> (rows.map(_._1).distinct.size < rows.size),
        "NULL name" -> rows.exists(_._2 == null),
        "name over 64" -> rows.exists(r => r._2 != null && r._2.length > 64),
        "pair at distance 1" -> want.exists(_._3 == 1L), s"$parts partitions" -> true)
        .foreach { case (k, hit) => if (hit) seen(k) += 1 }
      Prop(got == want) :| s"got $got, want $want for $rows in $parts partitions"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(20261021L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 200)
    for (k <- Seq("empty", "one row", "duplicate id", "NULL name", "name over 64",
      "pair at distance 1", "1 partitions", "4 partitions"))
      assert(seen(k) > 0, s"no generated frame had a case '$k': $seen")
  }

  test("mergeIntervals: overlap and touch merge, gaps split, counts right") {
    import spark.implicits._
    val rows = Seq(
      ("u", 0L, 10L), ("u", 5L, 12L),   // overlap → one island
      ("u", 12L, 20L),                  // TOUCHES (start == prev end) → merges
      ("u", 25L, 30L),                  // gap → new island
      ("v", 100L, 110L))
      .toDF("k", "s", "e")
    val got = TimeJoin.mergeIntervals(rows, "k", "s", "e").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("u", 0L, 20L, 3L), ("u", 25L, 30L, 1L), ("v", 100L, 110L, 1L)))
  }

  test("tableDiff: added/removed/changed classified; null payload distinct from empty") {
    import spark.implicits._
    val old_ = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("id", "payload")
    val new_ = Seq((1L, "a"), (2L, "B"), (4L, ""), (5L, "e")).toDF("id", "payload")
    val got = Reconcile.tableDiff(old_, new_, "id", Seq("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added")) // id 1 unchanged → absent; null ≠ ''
  }

  test("exactQuantiles: hand-computed type-1 picks with duplicates") {
    import spark.implicits._
    // sorted: [1,2,2,3,10,10,10,20,30,100]; n=10 → p50=rank5=10,
    // p90=rank9=30, p99=rank10=100
    val vals = Seq(2.0, 10.0, 1.0, 3.0, 10.0, 2.0, 20.0, 10.0, 100.0, 30.0)
    val rows = vals.map(("g", _)).toDF("grp", "v")
    val r = Sketch.exactQuantiles(rows, "v", "grp").collect()(0)
    assert(r.getLong(1) == 10L)
    assert((r.getDouble(2), r.getDouble(3), r.getDouble(4)) == ((10.0, 30.0, 100.0)))
  }

  test("mortonKey: hand-checked interleave, bijective on the bucket grid") {
    import spark.implicits._
    // a=5 (101b) -> bits at even positions 0,4 = 17; b=3 (011b) -> odd
    // positions 1,3 = 10; zkey = 27
    val one = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.mortonKey(col("a"), col("b")).as("z")).head().getLong(0)
    assert(one == 27L)
    val grid = (for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)).toDF("a", "b")
    val keys = grid.select(Layout.mortonKey(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.distinct.length == 32 * 32)          // bijective
    assert(keys.min == 0L && keys.max == 1023L)      // dense on 2*5 bits
  }

  test("robotsFilter: prefix rules per domain, multiple rules collapse to one verdict row") {
    import spark.implicits._
    val urls = Seq(
      (1L, "https://a.example.com/Articles/9"),     // blocked (/Articles)
      (2L, "https://a.example.com/other"),           // allowed
      (3L, "https://b.example.com/never/x"),         // blocked (2nd rule, same domain)
      (4L, "https://c.unruled.org/Articles/9"),      // no rules for domain -> allowed
      (5L, "https://a.example.com/Articles"))        // prefix == path
      .toDF("doc_id", "url")
    val rules = Seq(("example.com", "/Articles"), ("example.com", "/never"))
      .toDF("domain", "prefix")
    val out = UrlOps.robotsFilter(urls, rules).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false, 5L -> true))
    assert(out.size == 5) // one row per URL despite two candidate rules
  }

  test("cmsMergedHeavyHitters: merged estimates identical to the single-pass sketch") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (1 to 2000).map(i => (s"s${i % 5}", s"item${rng.nextInt(40)}"))
      .toDF("shard", "item")
    val merged = Sketch.cmsMergedHeavyHitters(rows, "shard", "item", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val direct = Sketch.cmsHeavyHitters(rows, "item", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged.map(t => (t._1, t._2, t._3)).toSet == direct)
    assert(merged.forall(_._4 == 5L))                 // n_shards
    assert(merged.forall(t => t._3 >= t._2))          // one-sided error holds post-merge
  }

  test("weeklyRetention: cohort assignment and offsets on a hand fixture") {
    import spark.implicits._
    val day = 86400L
    // weeks start Monday 1970-01-05 (epoch day 4). u1 active wk0+wk2,
    // u2 active wk0 only, u3 first appears wk1 and returns wk2
    val e = Seq(
      (1L, 4 * day), (1L, 4 * day + 100), (1L, 18 * day),
      (2L, 5 * day),
      (3L, 11 * day), (3L, 18 * day))
      .toDF("user_id", "_s")
      .select(col("user_id"), timestamp_seconds(col("_s")).as("ts"))
    val out = Cohorts.weeklyRetention(e, "user_id", "ts").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000 / day / 7, r.getLong(1)) -> r.getLong(2)).toMap
    // cohort week indexed by epoch-week of its Monday
    assert(out.values.sum == 5)                // 5 (user, week) activity cells
    assert(out((0L, 0L)) == 2L)               // u1+u2 in cohort wk0 at offset 0
    assert(out((0L, 2L)) == 1L)               // u1 retained at +2 weeks
    assert(out((1L, 0L)) == 1L && out((1L, 1L)) == 1L) // u3 cohort wk1
  }

  test("phraseSearch: overlapping occurrences, mixed phrase lengths, absent phrase absent") {
    val d = docs(
      1L -> "table table table key",          // "table table" occurs at pos 1 AND 2
      2L -> "a table hash b table hash",
      3L -> "slow hash batch only once here")
    val out = TextOps.phraseSearch(d, Seq(
      ("bi", "table table"), ("bi2", "table hash"),
      ("tri", "slow hash batch"), ("none", "never occurs")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("bi", 1L) -> 2L,      // overlap counted twice
      ("bi2", 2L) -> 2L,
      ("tri", 3L) -> 1L))    // no rows for "none", no zero rows
  }

  test("countZscores: exact-integer window stats, null z for cold/flat windows, flag fires") {
    import spark.implicits._
    // one group, hourly buckets: 6 flat hours then a spike
    val rows = ((0 until 6).flatMap(h => Seq.fill(10)(h.toLong)) ++ Seq.fill(40)(6L))
      .map(h => ("e", h * 3600L))
      .toDF("event_type", "_s")
      .select(col("event_type"), timestamp_seconds(col("_s")).as("ts"))
    val out = Anomaly.countZscores(rows, "event_type", "ts")
      .collect().map(r => (r.getTimestamp(0).getTime / 3600000, r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5))).sortBy(_._1).toSeq
    // hour 0: empty window → z null, not anomalous
    assert(out(0) == ((0L, 10L, 0L, None, false)))
    // hour 1: single-point window → z null
    assert(out(1) == ((1L, 10L, 1L, None, false)))
    // hours 2-5: flat history → zero variance → z null
    (2 to 5).foreach(i => assert(out(i)._4.isEmpty && !out(i)._5))
    // hour 6 (the spike): baseline is perfectly flat → variance 0 → z is
    // null BY DESIGN (no scale to measure deviation against); the varied-
    // baseline test below covers the firing path
    assert(out(6)._2 == 40L && out(6)._3 == 6L && out(6)._4.isEmpty)
  }

  test("countZscores: spike against a varied baseline is flagged with the hand-computed z") {
    import spark.implicits._
    val perHour = Seq(8L, 12L, 9L, 11L, 10L, 10L, 40L) // varied baseline, then spike
    val rows = perHour.zipWithIndex.flatMap { case (n, h) => Seq.fill(n.toInt)(("e", h * 3600L)) }
      .toDF("event_type", "_s")
      .select(col("event_type"), timestamp_seconds(col("_s")).as("ts"))
    val out = Anomaly.countZscores(rows, "event_type", "ts")
      .collect().map(r => (r.getTimestamp(0).getTime / 3600000,
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getBoolean(5))).sortBy(_._1)
    val base = perHour.take(6).map(_.toDouble)
    val mean = base.sum / 6
    val variance = base.map(x => (x - mean) * (x - mean)).sum / 5
    val expZ = BigDecimal((40.0 - mean) / math.sqrt(variance))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.last._2.contains(expZ) && out.last._3, s"got ${out.last}, want z=$expZ")
  }

  test("stratumTopK: exact k per stratum, small strata kept whole, deterministic across runs") {
    import spark.implicits._
    val d = ((1L to 20L).map(i => (i, "big")) ++ Seq((100L, "small"), (101L, "small")))
      .toDF("doc_id", "source")
    val out = TextOps.stratumTopK(d, k = 5).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    assert(out.count(_._1 == "big") == 5)
    assert(out.count(_._1 == "small") == 2)          // min(k, |stratum|)
    assert(out.filter(_._1 == "big").map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val again = TextOps.stratumTopK(d, k = 5).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
    assert(out.sortBy(t => (t._1, t._2)).toSeq == again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("weightedStratumSample: weight-proportional inclusion, exact k, deterministic") {
    import spark.implicits._
    // one stratum: 50 heavy docs (w=1000) vs 50 light (w=10); heavy docs
    // should dominate the k=10 sample under A-Res
    val d = ((1L to 50L).map(i => (i, "s", 1000L)) ++ (51L to 100L).map(i => (i, "s", 10L)))
      .toDF("doc_id", "source", "n_chars")
    val out = TextOps.weightedStratumSample(d, k = 10, weightCol = "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(out.length == 10)
    assert(out.count(_._2 == 1000L) >= 8, s"heavy docs must dominate: $out")
    val again = TextOps.weightedStratumSample(d, k = 10, weightCol = "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("bloomSemiJoin: exactly the plain semi-join even when the tiny bloom forces false positives") {
    import spark.implicits._
    val probe = (1L to 400L).map(i => (i, s"row$i")).toDF("k", "payload")
    val build = (1L to 400L by 40).map(i => Tuple1(i)).toDF("k") // 10 keys
    // m=16 bits, 10 keys * 3 positions -> most bits set -> many bloom FPs;
    // the exact-clear stage must remove every one of them
    val got = Sketch.bloomSemiJoin(probe, "k", build, "k", m = 16)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (1L to 400L by 40).toSeq)
  }

  test("saltedStats: identical to the plain groupBy for every statistic") {
    import spark.implicits._
    val rows = (1L to 500L).map(i =>
      (i, if (i % 10 == 0) "cold" else "hot", i * 0.31 - 17.0)) // 'hot' carries 90% of rows
      .toDF("event_id", "event_type", "value")
    val salted = Skew.saltedStats(rows, "event_type", "value", col("event_id"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val plain = rows.select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("v")).cast("double").as("s"),
        min(col("v")).cast("double").as("mn"), max(col("v")).cast("double").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(salted == plain)
    assert(salted("hot")._1 == 450L)
  }

  test("bm25TopK: duplicate query terms count once; multi-term scores sum per-term decimals") {
    import spark.implicits._
    val d = docs(1L -> "x y", 2L -> "x z")
    val once = TextOps.bm25TopK(d, Seq(("q", "x y")).toDF("query_id", "qtext"), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val dup = TextOps.bm25TopK(d, Seq(("q", "x y x y")).toDF("query_id", "qtext"), k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(once == dup)                            // array_distinct on query terms
    assert(once(1L) > once(2L))                    // doc 1 matches both terms
  }
}

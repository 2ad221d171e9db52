package graft.streaming

import graft.SparkSpec
import graft.corpus.Corpus

class StreamingSpec extends SparkSpec {

  test("AvailableNow stream writes what one batch Pipeline.run writes, exactly once across restarts and replays") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$dir/pages"
    val out = s"$dir/kg"
    val ckpt = s"$dir/ckpt"
    val tio = new graft.io.ParquetTableIO(out)
    def drain(): Unit = {
      val q = StreamingPipeline.pipelineStream(spark, pagesDir, out, ckpt)
      assert(q.awaitTermination(120000), "stream did not drain")
    }
    def lastBatch(): Long = new java.io.File(s"$ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    // replay batch n on the next restart: Spark re-runs an offset entry
    // whose commit entry is missing (the .crc goes too, or the restart is
    // refused as a concurrent modification)
    def uncommitBatch(n: Long): Unit =
      Seq(s"commits/$n", s"commits/.$n.crc").foreach(f => new java.io.File(s"$ckpt/$f").delete())
    def runsOf(n: Long): Set[String] = tio.committedRuns().filter(_.startsWith(s"s${n}_"))

    // the reference product: one batch run over the same 60 pages
    val batchIo = new graft.io.ParquetTableIO(s"$dir/batch")
    graft.kg.Pipeline.run(spark, Corpus.pages(spark, 60, partitions = 3), "batch", s"$dir/batch")
    def rows(io: graft.io.TableIO, table: String): Seq[String] =
      io.readCommitted(spark, table).drop("run_id").collect().map(_.toString).sorted.toSeq
    def lineage(io: graft.io.TableIO): Seq[(String, String)] =
      io.readCommitted(spark, "lineage").select("url", "status").as[(String, String)].collect().sorted.toSeq
    val expected = Seq("nodes", "edges", "triples").map(t => t -> rows(batchIo, t)).toMap
    val expectedLineage = lineage(batchIo)
    assert(expected.values.forall(_.nonEmpty) && expectedLineage.map(_._1).distinct.size == 60 &&
      expectedLineage.size == 60)
    def assertSameAsBatch(step: String): Unit = {
      for (t <- expected.keys) {
        val got = rows(tio, t)
        val same = got == expected(t)
        assert(same, s"$step: $t differ from the batch run (${got.size} vs ${expected(t).size} rows)")
      }
      val got = lineage(tio)
      val same = got == expectedLineage
      assert(same, s"$step: lineage differs from the batch run (${got.size} vs ${expectedLineage.size} rows)")
    }

    // the pages land in two halves; the stream stops after each and
    // restarts on the same checkpoint
    val all = Corpus.pages(spark, 60, partitions = 3).collect().sortBy(_.url)
    all.take(30).toSeq.toDS().write.parquet(pagesDir)
    drain()
    all.drop(30).toSeq.toDS().write.mode("append").parquet(pagesDir)
    drain()
    assertSameAsBatch("two halves")
    val n = lastBatch()
    val dataRun = runsOf(n).toSeq match {
      case Seq(r) => r
      case rs => fail(s"batch $n committed as $rs")
    }

    // replay of a committed batch: its pages are all in committed lineage,
    // so the replay's fresh run has nothing to do, and writes and commits nothing
    val warehouse = java.nio.file.Paths.get(out)
    def listing(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(warehouse).iterator().asScala.map(warehouse.relativize(_).toString).toSeq.sorted
    }
    val files = listing()
    uncommitBatch(n)
    drain()
    assert(new java.io.File(s"$ckpt/commits/$n").exists(), "batch was not replayed")
    assert(listing() == files, "a replay with nothing to do changed the warehouse")
    assertSameAsBatch("committed batch replayed")

    // replay of a batch whose pipeline commit marker is missing too (the
    // crash window before tio.commit): its rows are orphans, so its pages
    // are reprocessed under a fresh run id and the orphans stay filtered out
    uncommitBatch(n)
    new java.io.File(s"$out/_commits/$dataRun").delete()
    drain()
    assert(runsOf(n).size == 1 && !runsOf(n).contains(dataRun), "batch was not replayed")
    assertSameAsBatch("uncommitted batch replayed")
    assert(tio.read(spark, "lineage").count() > 60, "the crashed attempt left no orphan rows")
  }

  test("flatMapGroupsWithState first-seen dedup: state persists across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val q = StreamingPipeline.firstSeenDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    // batch 1: fingerprint A twice (ids 3,1 → min wins), B once
    input.addData(("A", 3L), ("A", 1L), ("B", 2L))
    q.processAllAvailable()
    // batch 2: A again (must be suppressed by state), new C
    input.addData(("A", 4L), ("C", 5L))
    q.processAllAvailable()
    val out = spark.sql("select * from dedup").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    assert(out == Set(("A", 1L), ("B", 2L), ("C", 5L)))
  }

  // tagged slow: depends on real wall-clock (20 s lease + 25 s sleep) —
  // see the NOTE below on why a virtual clock can't drive ProcessingTimeTimeout
  test("horizon-bounded dedup: suppresses within the lease, re-emits after expiry", graft.SlowTest) {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // NOTE: once ProcessingTimeTimeout state is pending, the engine keeps
    // scheduling timeout-evaluation micro-batches, so processAllAvailable()
    // can block forever (observed) — poll the sink with a deadline instead.
    // 20 s lease: the suppression assertions depend on batches landing
    // inside the horizon, and this host's steal storms can stall a batch
    // for seconds — size the lease well past any observed stall
    val q = StreamingPipeline.firstSeenDedupWithHorizon(input.toDS(), horizonMs = 20000L)
      .writeStream.format("memory").queryName("dedup_h").outputMode("append").start()
    def sink(): Set[(String, Long)] = spark.sql("select * from dedup_h").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def waitFor(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(200)
      assert(cond, s"timed out; sink=${sink()}")
    }
    input.addData(("A", 1L), ("B", 2L))
    waitFor(sink() == Set(("A", 1L), ("B", 2L)))
    // within the horizon: duplicate suppressed; prove the batch ran by
    // pairing it with a new key and asserting only the new key lands
    input.addData(("A", 9L), ("C", 3L))
    waitFor(sink() == Set(("A", 1L), ("B", 2L), ("C", 3L)))
    // let every lease expire, then fire a SEPARATING batch (new key D): the
    // same batch evaluates the expired timeouts and removes A/B/C state —
    // sending A in that first batch instead would renew its not-yet-fired
    // lease rather than re-emit
    Thread.sleep(25000)
    input.addData(("D", 4L))
    waitFor(sink().contains(("D", 4L)))
    // A re-appears after expiry → re-emitted (the documented tradeoff)
    input.addData(("A", 7L))
    waitFor(sink() == Set(("A", 1L), ("B", 2L), ("C", 3L), ("D", 4L), ("A", 7L)))
    q.stop()
  }

  test("streaming simhash near-dup: band keys match batch, cross-batch near-dups flagged") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    // docs 1 and 3 are one token apart with simhash hamming 1 (checked
    // below) — pigeonhole over 4×16-bit bands guarantees a shared band
    val nearA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    val nearB = "alpha beta gamma delt epsilon zeta eta theta iota kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    val b1 = Seq(
      (1L, nearA),
      (2L, "completely different content about spark engines and shuffle files"))
    val b2 = Seq(
      (3L, nearB), // near-dup of 1, arriving a micro-batch later
      (4L, "one more unrelated document mentioning tables and columns"))
    assert(java.lang.Long.bitCount(
      graft.ops.NearDup.simhashMd5Long(nearA) ^ graft.ops.NearDup.simhashMd5Long(nearB)) <= 3)
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.nearDupBandStream(input.toDS())
      .writeStream.format("memory").queryName("neardup_s").outputMode("append").start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val emitted = spark.sql("select * from neardup_s").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    // stream ≡ batch: emitted keys = batch first-seen (min doc_id per band
    // key — ids here increase with batch order, so first-seen = min)
    val batch = StreamingPipeline.simhashBandKeys((b1 ++ b2).toDS())
      .groupByKey(_._1).mapGroups((k, it) => (k, it.map(_._2).min)).collect().toSet
    assert(emitted == batch && emitted.nonEmpty)
    // cross-batch near-dup: doc 3 shares >=1 band with doc 1 → at least one
    // of its keys was suppressed (attributed to doc 1), so doc 3 is flagged
    val emittedPerDoc = emitted.groupBy(_._2).view.mapValues(_.size).toMap
    assert(emittedPerDoc.getOrElse(3L, 0) < 4, s"doc 3 should have a suppressed band: $emittedPerDoc")
    assert(emittedPerDoc(1L) == 4 && emittedPerDoc(2L) == 4 && emittedPerDoc(4L) == 4)
    // batch q36 agrees: (1,3) is a verified near-dup pair
    val pairs = graft.ops.NearDup.simhashNearDupPairs((b1 ++ b2).toDF("doc_id", "text"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("verified near-dup stream: hamming checked IN-stream, LSH false positives filtered") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    def sim(t: String) = graft.ops.NearDup.simhashMd5Long(t)
    def bandSet(s: Long): Set[(Int, Long)] =
      (0 until 4).map(b => (b, (s >>> (16 * b)) & 0xffffL)).toSet
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // deterministic search for an LSH FALSE POSITIVE: two unrelated texts
    // that share a 16-bit band (prob 2^-16 per band-pair — ~500 expected
    // collisions in this pool) but sit far apart in hamming. The band-key
    // stream alone would flag them; the verified stream must NOT emit them.
    val pool = (0 until 4000).map(i =>
      s"document number $i talks about topic ${i % 97} and subject ${i % 31} extensively")
    val sims = pool.map(sim)
    val byBand = scala.collection.mutable.Map.empty[(Int, Long), List[Int]]
    var fp: Option[(Int, Int)] = None
    for (i <- pool.indices if fp.isEmpty; b <- bandSet(sims(i))) {
      val prev = byBand.getOrElse(b, Nil)
      prev.find(j => ham(sims(i), sims(j)) > 4).foreach(j => fp = Some((j, i)))
      byBand(b) = i :: prev
    }
    val (fpA, fpB) = fp.getOrElse(fail("no band-colliding distant pair found in the pool"))
    val nearA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    val nearB = "alpha beta gamma delt epsilon zeta eta theta iota kappa lam mu nu xi omicron pi rho sigma tau upsilon"
    assert(ham(sim(nearA), sim(nearB)) <= 4)
    val b1 = Seq((1L, nearA), (10L, pool(fpA)))
    val b2 = Seq((2L, nearB), (11L, pool(fpB))) // true dup AND false positive arrive a batch later
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.verifiedNearDupStream(input.toDS(), maxHamming = 4)
      .writeStream.format("memory").queryName("neardup_v").outputMode("append").start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    val emitted = spark.sql("select * from neardup_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    q.stop()
    // the cross-batch TRUE near-dup is emitted with its exact hamming; the
    // flagged-but-distant pair (10, 11) — which DOES share a band — is not
    assert(emitted.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got $emitted")
    assert(emitted.head._3 == ham(sim(nearA), sim(nearB)))
    // stream ≡ batch q36 on the same corpus: identical verified pair set
    val batchPairs = graft.ops.NearDup.simhashNearDupPairs(
      (b1 ++ b2).toDF("doc_id", "text"), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(emitted.map(p => (p._1, p._2)) == batchPairs)
  }

  test("watermarked windowed event counts run in a micro-batch") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ev").toString
    val rows = (0 until 100).map { i =>
      (i.toLong, new java.sql.Timestamp(1726000000000L + i * 60000L),
        (i % 5).toLong, if (i % 2 == 0) "click" else "view", i * 1.0)
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value").write.parquet(s"$dir/events")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/events").schema)
      .parquet(s"$dir/events")
    val q = StreamingPipeline.eventCountsStream(stream)
      .writeStream.format("memory").queryName("evcounts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // append mode emits only windows below the watermark; with a 100-minute
    // spread and 2h watermark nothing finalizes — verify via complete mode
    val q2 = StreamingPipeline.eventCountsStream(stream)
      .writeStream.format("memory").queryName("evcounts2")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000)
    val out = spark.sql("select * from evcounts2").collect()
    assert(out.length == 6) // events span 3 hourly windows × 2 event types
    assert(out.map(_.getAs[Long]("n")).sum == 100L)
  }
}

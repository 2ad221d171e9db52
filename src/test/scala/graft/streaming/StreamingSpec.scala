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
}

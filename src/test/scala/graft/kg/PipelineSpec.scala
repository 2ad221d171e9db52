package graft.kg

import graft.SparkSpec
import graft.corpus.Corpus

/** A TableIO whose appends to the tables in `failOn` fail right after they
  * return, or, with `failOn` empty, whose commit fails before the marker is
  * written. The failing appends fail together: each waits until all of them
  * have written, so a run that does not append them at once fails with an
  * IllegalStateException instead. Counts what the run did, thread-safely.
  */
final class CrashingTableIO(inner: graft.io.TableIO, failOn: Set[String]) extends graft.io.TableIO {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
  /** Appends that have returned or thrown. */
  val appends = new AtomicInteger
  val inFlight = new AtomicInteger
  val commitReached = new AtomicBoolean
  private val failing = new CountDownLatch(failOn.size)
  override def append(df: org.apache.spark.sql.DataFrame, table: String, partitionBy: Seq[String]): Unit = {
    inFlight.incrementAndGet()
    try {
      inner.append(df, table, partitionBy)
      if (failOn(table)) {
        failing.countDown()
        if (!failing.await(60, TimeUnit.SECONDS))
          throw new IllegalStateException(s"append of $table failed alone: the appends of $failOn ran one after another")
        throw new CrashingTableIO.Crash(s"crashed after append of $table")
      }
    } finally {
      appends.incrementAndGet()
      inFlight.decrementAndGet()
    }
  }
  override def read(spark: org.apache.spark.sql.SparkSession, table: String,
                    schema: Option[org.apache.spark.sql.types.StructType]): org.apache.spark.sql.DataFrame =
    inner.read(spark, table, schema)
  override def exists(table: String): Boolean = inner.exists(table)
  override def commit(runId: String): Unit = {
    commitReached.set(true)
    throw new CrashingTableIO.Crash(s"crashed before commit of $runId")
  }
  override def committedRuns(): Set[String] = inner.committedRuns()
}

object CrashingTableIO {
  final class Crash(msg: String) extends RuntimeException(msg)
}

/** Pipeline-level behaviors: resume idempotence (north rule), lineage and
  * metrics consistency, canonical-id stability.
  */
class PipelineSpec extends SparkSpec {

  /** Runs `Pipeline.run` into a fresh warehouse and returns its reader. */
  private def runInto(pages: org.apache.spark.sql.Dataset[graft.model.Page], runId: String,
                      aliases: Option[org.apache.spark.sql.DataFrame] = None,
                      kb: Option[org.apache.spark.sql.DataFrame] = None): graft.io.ParquetTableIO = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$runId").toString
    Pipeline.run(spark, pages, runId, dir, aliases = aliases, kb = kb)
    new graft.io.ParquetTableIO(dir)
  }

  /** The Spark jobs that `body` starts, counted by a listener on its job
    * group. Every job started between two marker jobs around `body` must
    * carry the group, so jobs that `body` runs on other threads count too.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = "graft-test-counted"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val ungrouped = new java.util.concurrent.atomic.AtomicInteger
    @volatile var started = false
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties).getOrElse(new java.util.Properties)
        Option(p.getProperty("graft.test.marker")) match {
          case Some("start") => started = true
          case Some(_) => drained.countDown()
          case None if p.getProperty("spark.jobGroup.id") == group => jobs.incrementAndGet()
          case None => if (started) ungrouped.incrementAndGet()
        }
      }
    }
    // listener events arrive in order: the start marker's comes after every
    // earlier job's, and once the end marker's is seen, so was every counted job's
    def marker(name: String): Unit = {
      sc.setLocalProperty("graft.test.marker", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.test.marker", null)
    }
    sc.addSparkListener(listener)
    try {
      marker("start")
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      marker("end")
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    assert(ungrouped.get == 0, s"${ungrouped.get} jobs without the caller's job group")
    jobs.get
  }

  test("resume after partial run yields identical final tables, no duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val all = Corpus.pages(spark, 120, partitions = 4)

    // full reference run into dirA
    val dirA = s"$dir/full"
    Pipeline.run(spark, all, "run1", dirA)
    val refTriples = spark.read.parquet(s"$dirA/triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

    // simulated kill-after-partition-k: first run only processes half
    val dirB = s"$dir/resumed"
    val firstHalf = all.filter(_.url.hashCode % 2 == 0)
    Pipeline.run(spark, firstHalf, "run1", dirB)
    // resume with the FULL page set — lineage anti-join must skip done urls
    Pipeline.run(spark, all, "run2", dirB, resume = true)
    val gotTriples = spark.read.parquet(s"$dirB/triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted

    assert(gotTriples.toSeq == refTriples.toSeq)
    // no url processed twice in lineage
    val lineageDupes = spark.read.parquet(s"$dirB/lineage")
      .groupBy("url").count().where($"count" > 1).count()
    assert(lineageDupes == 0)
  }

  test("crash before commit marker: orphan rows invisible, resume reprocesses without duplicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/t"
    val all = Corpus.pages(spark, 100, partitions = 4)

    // clean single run = the expected final state
    val ref = s"$dir-ref"
    Pipeline.run(spark, all, "r", ref)
    val tioRef = new graft.io.ParquetTableIO(ref)
    val want = tioRef.readCommitted(spark, "triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq

    // run1 "crashes" after data+lineage appends but BEFORE the commit marker
    Pipeline.run(spark, all.filter(_.url.hashCode % 2 == 0), "run1", dir)
    val marker = java.nio.file.Paths.get(dir, "_commits", "run1")
    assert(java.nio.file.Files.deleteIfExists(marker)) // simulate the crash window
    val tio = new graft.io.ParquetTableIO(dir)
    assert(tio.committedRuns().isEmpty)

    // resume with the FULL set: run1's urls must be reprocessed (its lineage
    // is uncommitted) and committed reads must contain NO duplicates
    Pipeline.run(spark, all, "run2", dir, resume = true)
    val got = tio.readCommitted(spark, "triples")
      .select("url", "subj", "pred", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).sorted.toSeq
    assert(got == want)
    // raw table DOES contain run1 orphans — proving the filter is what saves us
    assert(tio.read(spark, "triples").count() > got.size)
  }

  test("docGraphs and docGraphsWithPartition build the same graphs") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 40, partitions = 2)
    val base = Pipeline.docGraphs(spark, pages).collect().sortBy(_.url).toSeq
    assert(base.size == 40 && base.exists(_.edges.nonEmpty))
    assert(Pipeline.docGraphsWithPartition(spark, pages).map(_._1.graph).collect().sortBy(_.url).toSeq == base)
  }

  test("run(v1 = true) stamps every node and edge with one run time and commits the v1 triples") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 20, partitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-v1").toString
    Pipeline.run(spark, pages, "v1run", dir, v1 = true)
    val tio = new graft.io.ParquetTableIO(dir)
    // one (temporal_index, temporal_category) across both tables' rows
    val stamps = Seq("nodes", "edges").map { t =>
      val df = tio.readCommitted(spark, t)
      assert(!df.isEmpty, t)
      df.select($"temporal_index", $"temporal_category").distinct().as[(String, String)].collect().toSet
    }.reduce(_ ++ _)
    assert(stamps.size == 1 && stamps.head._1.nonEmpty && stamps.head._2 == "present", stamps)
    java.time.Instant.parse(stamps.head._1)
    val got = tio.readCommitted(spark, "triples")
      .select($"url", $"subj", $"pred", $"obj", $"confidence")
      .as[(String, String, String, String, Double)].collect().sorted.toSeq
    val want = Pipeline.docGraphs(spark, pages, v1 = true).flatMap(GraphBuild.triples(_)).collect()
      .map(t => (t.url, t.subj, t.pred, t.obj, t.confidence)).sorted.toSeq
    assert(got.nonEmpty && got == want)
  }

  test("nodes take alias canonical keys with no join or exchange") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.functions.{concat, lit}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    import scala.jdk.CollectionConverters._
    val pages = Corpus.pages(spark, 80, partitions = 4) // ~1/3 of interview docs carry the hub org
    val aliases = Seq(("Intel", "Intel Corporation"), ("Growth", "Business Growth")).toDF("alias", "canonical")
    // the helper's collect descends into AQE's query stages
    object Aqe extends AdaptiveSparkPlanHelper
    // the executed plan of each parquet write, by output path
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qe.logical match {
        case w: InsertIntoHadoopFsRelationCommand => writes.add(w.outputPath.toString -> qe.executedPlan)
        case _ =>
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    // the executed plan of a run's `nodes` append; query listeners hear of it after the run returns
    def nodesAppend(runId: String, aliases: Option[org.apache.spark.sql.DataFrame]): SparkPlan = {
      val dir = java.nio.file.Files.createTempDirectory("graft-bc").toString
      Pipeline.run(spark, pages, runId, dir, aliases = aliases)
      eventually(timeout(Span(60, Seconds))) {
        val plan = writes.asScala.collectFirst { case (path, p) if path.endsWith(s"$dir/nodes") => p }
        assert(plan.isDefined, s"no nodes append seen for $runId")
        plan.get
      }
    }
    // more alias edges than connectedComponents labels on the driver
    val large = spark.range(100001)
      .select(concat(lit("alias "), $"id").as("alias"), concat(lit("canonical "), $"id").as("canonical"))
      .union(aliases)
    spark.listenerManager.register(listener)
    val (plan, plain, largePlan) =
      try (nodesAppend("bc", Some(aliases)), nodesAppend("bc2", None), nodesAppend("bc3", Some(large)))
      finally spark.listenerManager.unregister(listener)
    // every alias dictionary is a broadcast index the node rows look keys up in
    for ((name, p) <- Seq("aliases" -> plan, "100 001 aliases" -> largePlan))
      assert(Aqe.collect(p) { case n if n.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => n }.nonEmpty,
        s"$name: no key lookup:\n$p")
    for ((name, p) <- Seq("aliases" -> plan, "no aliases" -> plain, "100 001 aliases" -> largePlan)) {
      assert(Aqe.collect(p) { case j: BaseJoinExec => j }.isEmpty, s"$name: a join in the nodes append:\n$p")
      assert(Aqe.collect(p) { case e: Exchange => e }.isEmpty, s"$name: an exchange in the nodes append:\n$p")
    }
  }

  test("10 runs with an alias dictionary leave the persisted RDD set flat") {
    import spark.implicits._
    val pages = Corpus.pages(spark, 20, partitions = 2)
    val aliases = Seq(("Intel", "Intel Corporation")).toDF("alias", "canonical")
    val kb = Seq(("KB1", "Intel Corporation", Seq("Intel"), "chips", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    val dir = java.nio.file.Files.createTempDirectory("graft-leak").toString
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    // writing runs fill the per-doc object cache, which must be gone on return
    for (i <- 1 to 10) Pipeline.run(spark, pages, s"leak$i", dir, aliases = Some(aliases), kb = Some(kb))
    val grown = sc.getPersistentRDDs.keySet.toSet -- before
    assert(grown.isEmpty, s"10 runs left ${grown.size} persisted RDDs")
  }

  test("metrics rows account for every processed doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    Pipeline.run(spark, Corpus.pages(spark, 100, partitions = 4), "mrun", dir)
    val m = spark.read.parquet(s"$dir/metrics")
    val docs = m.agg(org.apache.spark.sql.functions.sum("docs_processed")).collect()(0).getLong(0)
    assert(docs == 100L)
    val nodesFromMetrics = m.agg(org.apache.spark.sql.functions.sum("nodes_emitted")).collect()(0).getLong(0)
    val nodesActual = spark.read.parquet(s"$dir/nodes").count()
    assert(nodesFromMetrics == nodesActual)
  }

  test("alias dictionary merges entity variants across documents (J10 + link)") {
    import spark.implicits._
    import graft.model.Page
    import graft.text.TextExtract
    def page(cid: String, name: String, body: String): Page =
      Page(s"https://x.org/customers/$cid/interview_$name.html",
        new java.sql.Timestamp(0L), TextExtract.wrapHtml(body, name), body, "en")
    val pages = Seq(
      page("10_a_b", "a", "Host One: Intel Corporation is big.\nGuest Two: yes."),
      page("11_c_d", "b", "Host One: Intel ships chips.\nGuest Two: indeed.")).toDS()
    val aliases = Seq(("Intel", "Intel Corporation")).toDF("alias", "canonical")
    val nodes = runInto(pages, "arun", Some(aliases)).readCommitted(spark, "nodes")
    val intelIds = nodes
      .where(org.apache.spark.sql.functions.lower($"content")
        .isin("intel", "intel corporation"))
      .select("canonical_id").distinct().collect()
    assert(intelIds.length == 1, s"expected one canonical id, got ${intelIds.mkString(",")}")
    // distinct surfaces keep distinct node ids but share the canonical id
    val nodeIds = nodes
      .where(org.apache.spark.sql.functions.lower($"content")
        .isin("intel", "intel corporation"))
      .select("node_id").distinct().count()
    assert(nodeIds == 2)
  }

  test("empty and all-self-loop alias dictionaries leave every node its own canonical id") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    val pages = Corpus.pages(spark, 20, partitions = 2)
    def canonIds(aliases: Option[org.apache.spark.sql.DataFrame], runId: String): Set[(String, String)] =
      runInto(pages, runId, aliases).readCommitted(spark, "nodes")
        .select(lower($"content"), $"canonical_id").as[(String, String)].collect().toSet
    val own = canonIds(None, "noal")
    // no alias dictionary: one canonical id per key, never shared
    assert(own.map(_._1).size == own.size && own.map(_._2).size == own.size)
    val empty = Seq.empty[(String, String)].toDF("alias", "canonical")
    val selfLoops = own.take(3).toSeq.map { case (k, _) => (k.toUpperCase, k) }.toDF("alias", "canonical")
    assert(canonIds(Some(empty), "emptyal") == own)
    assert(canonIds(Some(selfLoops), "selfal") == own)
  }

  test("per-partition metrics carry durations; kb stage emits link-score histogram") {
    import spark.implicits._
    val kb = Seq(
      ("KB1", "Intel Corporation", Seq("Intel"), "chips manufacturing technology", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    val tio = runInto(Corpus.pages(spark, 100, partitions = 4), "lrun", kb = Some(kb))
    val m = tio.readCommitted(spark, "metrics").collect()
    assert(m.nonEmpty && m.forall(_.getAs[Long]("duration_ms") >= 0))
    assert(m.map(_.getAs[Long]("triples_emitted")).sum > 0)
    val lm = tio.readCommitted(spark, "link_metrics").collect()
    val buckets = lm.map(_.getAs[String]("score_bucket")).toSet
    assert(buckets.contains("unlinked"))
    assert(buckets.exists(_ != "unlinked"), s"no linked mentions in $buckets") // hub 'Intel' links
    assert(lm.map(_.getAs[Long]("n")).sum > 0)
  }

  test("canonical ids merge same-content entities across documents") {
    import spark.implicits._
    val nodes = runInto(Corpus.pages(spark, 150, partitions = 4), "crun").readCommitted(spark, "nodes")
    // every (lower(content)) maps to exactly one canonical_id
    val bad = nodes.groupBy(org.apache.spark.sql.functions.lower($"content"))
      .agg(org.apache.spark.sql.functions.countDistinct($"canonical_id").as("k"))
      .where($"k" > 1).count()
    assert(bad == 0)
    // and "Growth" (a need present in most docs) appears under one canonical id in many rows
    val growth = nodes.where($"content" === "Growth")
      .select($"canonical_id").distinct().count()
    assert(growth == 1)
  }

  /** Each doc's fold partition as `run` recorded it in the committed lineage. */
  private def lineagePartitions(tio: graft.io.TableIO): Map[String, Int] = {
    import spark.implicits._
    tio.readCommitted(spark, "lineage").select($"url", $"partition_id").as[(String, Int)].collect().toMap
  }

  test("metrics: one row per non-empty partition, the per-partition sums, the same schema as before") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // 6 pages over 8 slices, hashed by url into 8 fold partitions: 4 of them hold no page
    val pages = spark.createDataset(
      spark.sparkContext.parallelize(Corpus.pages(spark, 6, partitions = 1).collect().toSeq, 8))
    val counters = Seq("docs_processed", "nodes_emitted", "edges_emitted", "triples_emitted", "duration_ms")
    val schema = StructType(Seq(StructField("run_id", StringType), StructField("stage", StringType),
      StructField("partition_id", IntegerType)) ++ counters.map(StructField(_, LongType)))
    val tio = runInto(pages, "m1")
    // the per-doc counts, summed by the partition lineage records for each doc
    val partOf = lineagePartitions(tio)
    val want = Pipeline.docGraphsWithPartition(spark, pages)
      .map { case (o, _, _) => (o.graph.url, o.graph.nodes.size.toLong, o.graph.edges.size.toLong) }
      .collect().toSeq.groupBy(d => partOf(d._1)).toSeq
      .map { case (pid, ds) => (pid, ds.size.toLong, ds.map(_._2).sum, ds.map(_._3).sum, ds.map(_._3).sum) }
      .sorted
    assert(want.map(_._1) == Seq(0, 1, 4, 6) && want.map(_._2).sum == 6L, want)
    val readBack = tio.readCommitted(spark, "metrics")
    val sums = readBack
      .select($"partition_id", $"docs_processed", $"nodes_emitted", $"edges_emitted", $"triples_emitted")
      .as[(Int, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(sums == want)
    assert(readBack.where($"duration_ms" < 0 || $"run_id".isNull || $"stage" =!= "graph_build").isEmpty)
    assert(readBack.schema == schema, readBack.schema.treeString)
  }

  test("duration_ms sums a partition's build nanos before it truncates them") {
    val doc = Pipeline.DocOut(graft.model.DocGraph("u", "c", "", Nil, Nil), Nil)
    val folds = Pipeline.partitionFold("r", None)(Iterator.fill(3)((doc, 2, 600000L))).toSeq
    assert(folds.map(f => (f.metric.partition_id, f.metric.docs_processed, f.metric.duration_ms)) == Seq((2, 3L, 1L)))
  }

  test("a resume with every page already done writes no file and commits nothing") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(java.nio.file.Files.createTempDirectory("graft-noop").toString)
    val pages = Corpus.pages(spark, 20, partitions = 2)
    val kb = Seq(("KB1", "Intel Corporation", Seq("Intel"), "chips", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    def listing(): Seq[String] =
      java.nio.file.Files.walk(dir).iterator().asScala.map(dir.relativize(_).toString).toSeq.sorted
    Pipeline.run(spark, pages, "first", dir.toString, kb = Some(kb))
    val before = listing()
    assert(before.exists(_.startsWith("link_metrics/")) && before.contains("_commits/first"))
    Pipeline.run(spark, pages, "again", dir.toString, resume = true, kb = Some(kb))
    assert(listing() == before, "a run with nothing to do changed the warehouse")
  }

  test("a crash after any append or before the commit resumes exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-crash-points").toString
    val pages = Corpus.pages(spark, 30, partitions = 2)
    val aliases = Some(Seq(("Intel", "Intel Corporation")).toDF("alias", "canonical"))
    val kb = Some(Seq(("KB1", "Intel Corporation", Seq("Intel"), "chips manufacturing technology", 0.9))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior"))
    val tables = Seq("nodes", "edges", "triples", "metrics", "lineage", "link_metrics")
    def committed(dir: String): Map[String, Seq[String]] = tables.map { t =>
      val df = new graft.io.ParquetTableIO(dir).readCommitted(spark, t).drop("run_id", "duration_ms")
      t -> df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
    }.toMap
    Pipeline.run(spark, pages, "clean", s"$root/clean", aliases = aliases, kb = kb)
    val want = committed(s"$root/clean")
    assert(tables.forall(want(_).nonEmpty))
    val sc = spark.sparkContext
    val cached = sc.getPersistentRDDs.keySet.toSet
    // each append failing alone, two failing at once, then the commit failing
    // after every append succeeded
    val crashPoints = tables.map(Set(_)) :+ Set("nodes", "lineage") :+ Set.empty[String]
    for ((failOn, k) <- crashPoints.zipWithIndex) {
      val dir = s"$root/crash$k"
      val crashing = new CrashingTableIO(new graft.io.ParquetTableIO(dir), failOn)
      val crash = intercept[CrashingTableIO.Crash](Pipeline.runWith(crashing, spark, pages, "crashed",
        resume = true, aliases, kb, v1 = false))
      // every append has finished, none is left running, and the commit runs only after all succeeded
      assert(crashing.appends.get == tables.size && crashing.inFlight.get == 0, s"crash point $failOn")
      assert(crashing.commitReached.get == failOn.isEmpty, s"crash point $failOn")
      assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "kg-append"),
        s"crash point $failOn: an append thread outlived the run")
      // the first failure in append order, the others suppressed
      tables.find(failOn).foreach(first => assert(crash.getMessage.endsWith(s"append of $first"), crash))
      assert(crash.getSuppressed.length == math.max(failOn.size - 1, 0), crash.getSuppressed.toSeq)
      Pipeline.run(spark, pages, "resumed", dir, resume = true, aliases = aliases, kb = kb)
      val got = committed(dir)
      for (t <- tables) assert(got(t) == want(t), s"crash point $failOn: committed $t differs from a clean run")
    }
    assert(sc.getPersistentRDDs.keySet.toSet == cached, "a crashed run left its object cache persisted")
  }

  /** A knowledge base over the corpus vocabulary: every organisation and
    * every person name, with topic profiles.
    */
  private def corpusKb(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val orgs = Corpus.orgs.zipWithIndex.map { case (o, i) =>
      (s"KB_O$i", o, Seq(o.split(' ').head, o.toLowerCase), Corpus.topics(i % Corpus.topics.size), 0.5 + i % 5 / 10.0)
    }
    val people = for ((f, i) <- Corpus.firstNames.zipWithIndex; l <- Corpus.lastNames)
      yield (s"KB_P_${f}_$l", s"$f $l", Seq(s"${f.head}. $l"), Corpus.topics(i % Corpus.topics.size), 0.4)
    (orgs ++ people).toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
  }

  test("link_metrics: the Column linker's histogram per partition, in the old schema, as written") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // 6 pages over 8 slices, hashed by url into 8 fold partitions: 4 of them hold no page
    val pages = spark.createDataset(
      spark.sparkContext.parallelize(Corpus.pages(spark, 6, partitions = 1).collect().toSeq, 8))
    val kb = corpusKb()
    val schema = StructType(Seq(StructField("partition_id", IntegerType), StructField("score_bucket", StringType),
      StructField("n", LongType), StructField("run_id", StringType)))
    val tio = runInto(pages, "lm1", kb = Some(kb))
    // what link_metrics was before: the mentions linked by the Column-expression
    // linker, counted by a (partition, bucket) shuffle, each mention in the
    // partition lineage records for its doc
    val partOf = lineagePartitions(tio).toSeq.toDF("url", "partition_id")
    val mentions = Pipeline.docGraphsWithPartition(spark, pages).flatMap { case (o, _, _) =>
      o.mentions.map(m => (s"${m.url}#${m.idx}", m.url, m.surface, m.entity_type, m.context))
    }.toDF("mention_id", "url", "surface", "entity_type", "context").join(partOf, "url")
    val want = graft.link.LinkOracle.link(mentions, kb)
      .groupBy($"partition_id", graft.link.LinkOracle.scoreBucket($"link_score").as("score_bucket")).count()
      .as[(Int, String, Long)].collect().sorted.toSeq
    assert(want.map(_._1).distinct == Seq(0, 1, 4, 6), want)
    assert(want.exists(_._2 == "unlinked") && want.exists(_._2 != "unlinked"), want)
    val readBack = tio.readCommitted(spark, "link_metrics")
    assert(readBack.select($"partition_id", $"score_bucket", $"n").as[(Int, String, Long)]
      .collect().sorted.toSeq == want)
    assert(readBack.schema == schema, readBack.schema.treeString)
  }

  test("a run without a kb writes no link_metrics") {
    val dir = java.nio.file.Files.createTempDirectory("graft-no-kb").toString
    Pipeline.run(spark, Corpus.pages(spark, 20, partitions = 2), "nokb", dir)
    assert(new java.io.File(s"$dir/lineage").exists() && !new java.io.File(s"$dir/link_metrics").exists())
  }

  test("a kg_build-shaped run takes at most 10 Spark jobs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // a committed run over the first pages, then a resume over all of them
    // read from parquet, with an alias dictionary and a KB
    val dir = java.nio.file.Files.createTempDirectory("graft-job-count").toString
    spark.range(0, 40, 1L, 4).map(Corpus.genPage(_)).write.parquet(s"$dir/base")
    spark.range(40, 160, 1L, 4).map(Corpus.genPage(_)).write.parquet(s"$dir/delta")
    val aliases = Seq(("Intel", "Intel Corporation"), ("intel_corporation", "Intel"),
      ("T. Wolff", "Tim Wolff")).toDF("alias", "canonical")
    val kb = corpusKb()
    Pipeline.run(spark, spark.read.parquet(s"$dir/base").as[graft.model.Page], "base", s"$dir/wh",
      aliases = Some(aliases), kb = Some(kb))
    val wh = java.nio.file.Paths.get(s"$dir/wh")
    def parquetFiles(): Set[java.nio.file.Path] = java.nio.file.Files.walk(wh).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSet
    val before = parquetFiles()
    val all = spark.read.parquet(s"$dir/base", s"$dir/delta").as[graft.model.Page]
    val jobs = jobsOf(Pipeline.run(spark, all, "counted", s"$dir/wh", resume = true,
      aliases = Some(aliases), kb = Some(kb)))
    assert(jobs >= 1 && jobs <= 10, s"$jobs Spark jobs")
    // the 120 new pages are hashed by url over the 4 cores, not left in the
    // 2 input partitions that hold the new files
    val docs = new graft.io.ParquetTableIO(s"$dir/wh").readCommitted(spark, "metrics")
      .where($"run_id" === "counted").select($"docs_processed").as[Long].collect().toSeq
    assert(docs.size == 4 && docs.sum == 120L, docs)
    assert(docs.max.toDouble / (docs.sum.toDouble / docs.size) <= 1.25, docs)
    // one new file per table directory, and per node_type directory of nodes
    val added = (parquetFiles() -- before).toSeq.groupBy(f => wh.relativize(f.getParent).toString)
    val tables = Set("edges", "triples", "metrics", "lineage", "link_metrics")
    assert(added.forall(_._2.size == 1), added)
    assert(tables.subsetOf(added.keySet) && added.keySet.exists(_.startsWith("nodes/node_type=")), added.keySet)
  }

  test("the committed product does not depend on how the input is split or ordered") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pages = Corpus.pages(spark, 40, partitions = 1).collect().toSeq
    val tables = Seq("nodes", "edges", "triples", "lineage", "metrics")
    // every committed table of a fresh run under one run id, as sorted rows
    def product(input: Seq[graft.model.Page], slices: Int, drop: String*): Map[String, Seq[String]] = {
      val tio = runInto(spark.createDataset(spark.sparkContext.parallelize(input, slices)), "split")
      tables.map { t =>
        val df = tio.readCommitted(spark, t).drop("duration_ms" +: drop: _*)
        t -> df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).sorted.toSeq
      }.toMap
    }
    val want = product(pages, 1)
    assert(want("metrics").size == 4, want("metrics"))
    for ((input, slices) <- Seq((pages, 3), (pages, 4), (pages.reverse, 3), (pages.reverse, 1))) {
      val got = product(input, slices)
      for (t <- tables) assert(got(t) == want(t), s"$t over $slices slices")
    }
    // more slices than cores: the fold takes one partition per slice, so the
    // partition ids of lineage and metrics follow the input, and nothing else
    val (wide, narrow) = (product(pages.reverse, 8, "partition_id"), product(pages, 1, "partition_id"))
    for (t <- tables.filter(_ != "metrics")) assert(wide(t) == narrow(t), s"$t over 8 slices")
  }

  test("an empty outDir is refused before any Spark job, not run with nothing written") {
    val pages = Corpus.pages(spark, 20, partitions = 2)
    var refused: Option[IllegalArgumentException] = None
    val jobs = jobsOf { refused = Some(intercept[IllegalArgumentException](Pipeline.run(spark, pages, "empty", ""))) }
    assert(refused.exists(_.getMessage.contains("outDir")), refused)
    assert(jobs == 0, s"$jobs Spark jobs before the refusal")
  }
}

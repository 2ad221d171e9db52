package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Benchmark entry point. Run from the checkout root:
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * `--trace 0` prepares the workload three times (set-up, median
  * reported), warms up, then runs it closed-loop with one client until
  * `--seconds` of timed runs and at least two runs have passed, checking
  * every run's output outside the timed region. `--trace 1` makes a traced
  * run between two untraced ones and reports the per-layer metrics. The
  * last stdout line is one JSON object: correct, attempted, failed, metrics.
  *
  * `--gen-expected <verifyDump> --oracle-log <checkOracleOutput>` instead
  * writes the query-mix digest file (see `genExpected`).
  */
object Main {

  /** Per-layer metrics: every workload reports all of them, 0 where the
    * workload does not use the layer.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "text.extract_ms" -> "ms", "analyze.self_ms" -> "ms", "needs.profile_ms" -> "ms", "kg.build_ms" -> "ms",
    "text.bytes_in" -> "B", "analyze.entities" -> "count", "kg.nodes" -> "count", "kg.edges" -> "count",
    "kg.triples" -> "count", "kg.map_task_s" -> "s", "kg.map_max_task_s" -> "s", "kg.map_gc_s" -> "s",
    "canon.wall_s" -> "s", "canon.jobs" -> "count", "canon.stages" -> "count", "canon.task_s" -> "s",
    "canon.max_task_s" -> "s", "canon.shuffle_write_mb" -> "MB", "canon.shuffle_records" -> "count",
    "canon.spill_mb" -> "MB", "canon.edges_in" -> "count", "canon.components" -> "count",
    "canon.largest_component" -> "count", "canon.cached_rdds_left" -> "count",
    "link.wall_s" -> "s", "link.mentions" -> "count", "link.candidates" -> "count", "link.linked" -> "count",
    "link.linked_ratio" -> "ratio", "link.cand_per_mention" -> "ratio", "link.shuffle_write_mb" -> "MB",
    "io.append_s" -> "s", "io.commit_ms" -> "ms", "io.rows_written" -> "count", "io.bytes_written" -> "B",
    "io.files_written" -> "count", "io.bytes_per_row" -> "B", "io.read_committed_s" -> "s",
    "io.files_read" -> "count", "kg.docs_skipped" -> "count", "kg.docs_todo" -> "count",
    "mix.jobs" -> "count", "mix.stages" -> "count", "mix.task_s" -> "s", "mix.shuffle_write_mb" -> "MB",
    "mix.spill_mb" -> "MB", "mix.driver_s" -> "s") ++
    QueryMix.watched.map(_.takeWhile(_ != '_')).flatMap(q => Seq(
      s"$q.wall_s" -> "s", s"$q.jobs" -> "count", s"$q.shuffle_write_mb" -> "MB", s"$q.rows_out" -> "count")) ++
    Seq("bench.trace_overhead_frac" -> "ratio", "bench.layer_span_frac" -> "ratio")

  /** Workload sizes: fixed, so only the seed varies between runs. */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "kg_build" => new KgBuild(ctx, base = 100, delta = 400, warmUpRuns = 1)
    case "query_mix" => new QueryMix(ctx, warmUpPasses = 2)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use right after a full collection, as the collector reports
    * it (later allocations by Spark's background threads are not counted).
    * At least three collections, 300 ms apart, then more until it stops
    * falling: the context cleaner frees shuffle and broadcast state on its
    * own thread, only after the collection that finds its references dead.
    */
  private def heapAfterGcMb(): Double = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.{ManagementFactory, MemoryType}
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => b }
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def used(): Double = {
      System.gc()
      val last = beans.flatMap(b => Option(b.getLastGcInfo)).maxBy(_.getEndTime)
      val mb = last.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum /
        (1024.0 * 1024.0)
      Thread.sleep(300)
      mb
    }
    var (prev, cur, n) = (Double.MaxValue, used(), 1)
    while ((prev - cur > 0.1 || n < 3) && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0 = System.nanoTime()
    val root = Paths.get("").toAbsolutePath
    val seed = opts.getOrElse("seed", "1").toLong
    val wlName = opts.getOrElse("workload", "gen")
    val work = root.resolve(s"perfbench/.work/$wlName-$seed-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = session(work)
    val sessionS = seconds(t0)
    val code =
      try {
        opts.get("gen-expected") match {
          case Some(dump) => genExpected(spark, root, Paths.get(dump), Paths.get(opts("oracle-log"))); 0
          case None =>
            val wl = workload(wlName, Ctx(spark, seed, root, work))
            if (opts.getOrElse("trace", "0") == "1") traceRun(wl, spark, root, seed)
            else timedRuns(wl, sessionS, opts.getOrElse("seconds", "10").toDouble)
            0
        }
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    val ts = System.nanoTime()
    spark.stop()
    FileTree.deleteTree(work)
    System.err.println(f"perfbench: total ${seconds(t0)}%.1f s, stop ${seconds(ts)}%.1f s")
    sys.exit(code)
  }

  private def report(name: String, unit: String, xs: Seq[Double]): Unit =
    if (xs.size > 1)
      println(f"# $name%-22s median ${Stats.median(xs)}%.4f  q1 ${Stats.quantile(xs, 0.25)}%.4f  " +
        f"q3 ${Stats.quantile(xs, 0.75)}%.4f  n ${xs.size}%d  $unit")
    else println(f"# $name%-22s ${xs.headOption.getOrElse(Double.NaN)}%.4f  n ${xs.size}%d  $unit")

  /** Unpersists RDDs a run left cached, so runs stay independent. */
  private def freeNew(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }

  def timedRuns(wl: Workload, sessionS: Double, window: Double): Unit = {
    val spark = SparkSession.active
    println(s"# workload ${wl.name}: ${wl.size}")
    val prep = (1 to 3).map { _ => val t = System.nanoTime(); wl.prepare(); seconds(t) }
    val tw = System.nanoTime()
    wl.warmUp()
    val setupS = sessionS + Stats.median(prep) + seconds(tw)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val tr = System.nanoTime()

    val outs = Seq.newBuilder[RunOut]
    var errors = Seq.empty[String]
    var timed = 0.0
    var i = 0
    var heapMb = 0.0
    // at least two runs, so the median never rests on one
    while (timed < window || i < 2) {
      wl.beforeRun(i)
      // every run starts from a collected heap, not from what the checks left
      System.gc()
      val out = try wl.run(i) catch { case e: Throwable =>
        errors :+= s"run $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
        RunOut(Double.NaN, 0)
      }
      if (!out.seconds.isNaN) {
        println(f"# run $i: ${out.seconds}%.3f s")
        timed += out.seconds
        outs += out
        errors ++= wl.check(i, out).map(e => s"run $i: $e")
      } else { timed = window; i = math.max(i, 1) }
      // after a fixed number of runs, so the heap holds the same history
      if (i == 1) heapMb = heapAfterGcMb()
      freeNew(spark, baseline)
      i += 1
    }
    val runs = outs.result()
    val tl = System.nanoTime()
    val selfTest = if (runs.nonEmpty) wl.selfTest() else Seq("no run completed")
    val extra = wl.extraMetrics(runs)
    println(f"# phases: prepare ${prep.sum}%.1f s, warm-up ${(tr - tw) / 1e9}%.1f s, " +
      f"runs+checks ${(tl - tr) / 1e9}%.1f s, self-test+extra ${seconds(tl)}%.1f s")

    val attempted = math.max(i, runs.map(r => math.max(r.ops.size, 1)).sum)
    val failed = math.min(attempted, errors.size)
    val parity = extra.collect { case (n, v, _) if n.startsWith("triple_") => v }
    val correct = failed == 0 && selfTest.isEmpty && parity.forall(_ == 1.0)

    val runS = runs.map(_.seconds)
    report("run_s", "s", runS)
    report(s"${wl.unit}_per_s", s"${wl.unit}/s", runs.map(r => r.units / r.seconds))
    if (runs.exists(_.ops.nonEmpty)) {
      runs.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (q, os) =>
        report(s"op.$q", "s", os.map(_.seconds))
      }
    }
    extra.foreach { case (n, v, u) => report(n, u, Seq(v)) }
    report("failed_frac", "ratio", Seq(failed.toDouble / attempted))
    report("heap_retained_mb", "MB", Seq(heapMb))
    report("setup_s", "s", Seq(setupS))
    report("setup.prepare_s", "s", prep)
    (errors ++ selfTest).foreach(e => println(s"# ERROR $e"))
    println(s"# self-test: ${if (selfTest.isEmpty) "every checker rejected its corrupted input" else "FAILED"}")

    println(json(correct, attempted, failed, Seq(
      ("run_s", Stats.median(runS), "s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("setup_s", setupS, "s"))))
  }

  /** One untraced run, the traced run, another untraced run. Run times
    * still fall from run to run in a new JVM, so the traced run is compared
    * with the mean of the untraced runs on either side of it. The traced
    * run's time covers its layer calls, not the counts and checks after
    * them.
    */
  def traceRun(wl: Workload, spark: SparkSession, root: Path, seed: Long): Unit = {
    println(s"# workload ${wl.name}: ${wl.size} (traced)")
    wl.prepare()
    wl.warmUp()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def untraced(i: Int): (Double, Seq[String]) = {
      wl.beforeRun(i)
      val out = wl.run(i)
      val errors = wl.check(i, out)
      freeNew(spark, baseline)
      (out.seconds, errors)
    }
    val (before, errors0) = untraced(0)

    val tracer = new Tracer(spark.sparkContext, s"${wl.name}-$seed")
    val traced = wl.traced(tracer)
    tracer.close()
    freeNew(spark, baseline)
    val (after, errors1) = untraced(1)
    val untracedS = (before + after) / 2
    val tracedS = traced.seconds
    val failedRuns = Seq(errors0, traced.errors, errors1).count(_.nonEmpty)
    val errors = errors0 ++ traced.errors.map(e => s"traced run: $e") ++ errors1
    val spanSum = tracer.topLevel.map(_.seconds).sum
    tracer.write(root.resolve(s"perfbench/.work/traces/${wl.name}-$seed.jsonl"))

    val all = traced.layers ++ Map(
      "bench.trace_overhead_frac" -> (tracedS / untracedS - 1),
      "bench.layer_span_frac" -> spanSum / untracedS)
    val unknown = all.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    val metrics = perLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
    println(f"# untraced run_s $before%.4f and $after%.4f, traced $tracedS%.4f, layer spans $spanSum%.4f s")
    metrics.foreach { case (n, v, u) => println(f"# $n%-26s $v%.4f $u") }
    errors.foreach(e => println(s"# ERROR $e"))
    println(json(errors.isEmpty, 3, failedRuns, metrics))
  }

  /** Writes the query-mix digest file from a `graft.Verify` dump. Only
    * queries that `test-oracle/check_oracle.py` reported OK on that dump (its
    * output is `oracleLog`) get a digest, and only if the live result
    * digests the same as the dumped one.
    */
  def genExpected(spark: SparkSession, root: Path, dump: Path, oracleLog: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val ok = Files.readAllLines(oracleLog).asScala.collect {
      case l if l.matches("""\S+: OK \(\d+ rows\)""") => l.takeWhile(_ != ':')
    }.toSet
    val sf = QueryMix.tables(root).toString
    val lines = QueryMix.headline.sorted.map { q =>
      if (!ok(q)) s"# $q: no digest, check_oracle.py did not pass it on the dump"
      else {
        val dumped = Checks.digest(spark.read.parquet(dump.resolve(q).toString))
        val live = Checks.digest(graft.SparkEntry.queries(q)(spark, sf))
        require(dumped == live, s"$q: live digest $live != dumped $dumped")
        s"$q ${dumped.rows} ${dumped.sum} ${dumped.xor}"
      }
    }
    val out = root.resolve("perfbench/expected/query_mix_sf0.01.txt")
    Files.createDirectories(out.getParent)
    Files.writeString(out, ("# query rows hash_sum hash_xor: Checks.digest of a graft.Verify dump of perfbench/data/sf0.01" +: lines)
      .mkString("", "\n", "\n"))
    println(s"# wrote ${lines.count(!_.startsWith("#"))} digests to ${root.relativize(out)}")
  }
}

package graft.kg

import graft.analyze.DocAnalyze
import graft.canon.Canonicalize
import graft.exec.Plans
import graft.io.{ParquetTableIO, TableIO}
import graft.link.EntityLink
import graft.model._
import graft.needs.Needs
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end KG-construction pipeline (SURVEY §3.1 Spark equivalent).
  *
  * pages → one exchange: the pages left after the resume anti-join, hashed
  * by url into n partitions (n = max(default parallelism, input
  * partitions)) → [extract → analyze → needs → graph-build]  (ONE fused
  * stage: per-document transforms are pure functions inside a single typed
  * map, mirroring the reference's embarrassingly-parallel per-document
  * Lambda model) → explode nodes/edges → cross-document canonicalization
  * (connected components over the alias graph: a driver-side union-find
  * labels the alias dictionary into a sorted key index, broadcast and
  * looked up in the node explode — see [[graft.canon.Canonicalize]]) →
  * nodes/edges/triples tables + per-partition lineage/metrics.
  *
  * `run`'s only product is its warehouse: it appends every table through
  * [[graft.io.TableIO]] and commits the run, and callers read the committed
  * tables back with `readCommitted`. The exchange sizes the per-doc fold by
  * documents, not by how the reader packed the input files, and makes a
  * doc's partition id — in `lineage` and `metrics` — a function of its url
  * and n. It holds the per-doc outputs as deserialized objects (an RDD
  * persisted for the run's duration, not a columnar Dataset cache), so each
  * table written from them decodes nothing it does not read. The `metrics`
  * rows are summed per partition inside the task that produced them — no
  * further shuffle — and collected before any append: a run with no doc to
  * process writes nothing and commits nothing.
  * With a knowledge base, the same per-partition fold links each mention
  * against the broadcast [[graft.link.EntityLink.KbIndex]] and counts the
  * partition's link-score histogram, so `link_metrics` is collected with
  * `metrics` and costs one small write and no shuffle. The lineage table is
  * read once, with its known schema, for both the runId guard and the
  * resume done-set. The five or six appends run at once, each on its own
  * thread and each with as many tasks as its rows need (one, below Spark's
  * advisory partition size); the commit follows once all of them
  * succeeded, so readers never see their order.
  *
  * At 100 TB: the per-doc stage scales with its n partitions, n at least
  * the input's splits, after one exchange of the page bytes;
  * canonicalization touches only the alias graph — orders of
  * magnitude smaller than the corpus, and held on the driver as the
  * knowledge base is — and the nodes look their canonical keys up in its
  * broadcast index, with no join or exchange; the nodes table is
  * partitioned by node_type, so per-type reads prune.
  */
object Pipeline {

  final case class PartitionMetric(
      run_id: String,
      stage: String,
      partition_id: Int,
      docs_processed: Long,
      nodes_emitted: Long,
      edges_emitted: Long,
      triples_emitted: Long,
      duration_ms: Long)

  final case class LineageRow(run_id: String, partition_id: Int, url: String, status: String)

  /** One mention row per extracted raw entity (feeds optional entity linking). */
  final case class MentionRow(url: String, idx: Int, surface: String, entity_type: String, context: String)

  /** Per-doc output: the graph plus the doc's mentions (for the link stage). */
  final case class DocOut(graph: DocGraph, mentions: Seq[MentionRow])

  /** pages → Dataset[DocGraph]: the fused per-document transform (SURVEY
    * §3.2) in one mapPartitions task, without metrics, lineage or mentions
    * (`Pipeline.run` runs `docGraphsWithPartition`'s body). `v1 = true` adds the
    * J7 co-occurrence edges + J9 confidence smoothing (GraphBuildV1).
    */
  def docGraphs(spark: SparkSession, pages: Dataset[Page], v1: Boolean = false): Dataset[DocGraph] = {
    import spark.implicits._
    pages.mapPartitions(_.map(p => analyzeAndBuild(p, v1, "")._2))
  }

  /** The per-doc transform keeping the NER mentions (context = leading 400 chars). */
  def buildDocOut(p: Page, v1: Boolean = false, temporalIndex: String = ""): DocOut = {
    val (doc, g) = analyzeAndBuild(p, v1, temporalIndex)
    val ctx = doc.text.take(400)
    DocOut(g, doc.entities.zipWithIndex.map { case (e, i) =>
      MentionRow(doc.url, i, e.text, e.entityType, ctx)
    })
  }

  /** extract → analyze → needs → graph-build, shared by `docGraphs` and
    * `buildDocOut`; the analysis is returned for the mentions.
    */
  private def analyzeAndBuild(p: Page, v1: Boolean, temporalIndex: String): (DocAnalysis, DocGraph) = {
    val doc = DocAnalyze.analyze(p)
    val needs = Needs.profile(doc)
    val g = if (v1) GraphBuildV1.buildV1(doc, needs, temporalIndex)
            else GraphBuild.build(doc, needs)
    (doc, g)
  }

  /** The per-doc outputs with each doc's partition id in `pages` and its
    * build nanos. The id is the input partition's, not the one `run`
    * records: `run` hashes its pages by url before this body, so its lineage
    * and metrics carry the id of that partition.
    */
  def docGraphsWithPartition(spark: SparkSession, pages: Dataset[Page]): Dataset[(DocOut, Int, Long)] = {
    import spark.implicits._
    pages.mapPartitions(docOuts(v1 = false, ""))
  }

  /** The per-partition body of `docGraphsWithPartition`, also run by `run`
    * over its url-hashed partitions.
    */
  private def docOuts(v1: Boolean, temporalIndex: String): Iterator[Page] => Iterator[(DocOut, Int, Long)] = { it =>
    val tc = org.apache.spark.TaskContext.get()
    val pid = if (tc == null) 0 else tc.partitionId()
    it.map { p =>
      val t0 = System.nanoTime()
      val out = buildDocOut(p, v1, temporalIndex)
      (out, pid, System.nanoTime() - t0)
    }
  }

  /** What one partition's task folds from its docs: its metric row and,
    * with a knowledge base, the link-score histogram of its mentions.
    */
  private[kg] final case class PartitionFold(metric: PartitionMetric, buckets: Map[String, Long])

  /** One fold per non-empty partition, summed inside its task: every doc of
    * a partition carries the same id, so no row has to move. Each mention is
    * linked where it was made, by `EntityLink`'s per-mention scorer. The
    * docs' build nanos are summed and converted to `duration_ms` once, so
    * sub-millisecond docs still count.
    */
  private[kg] def partitionFold(runId: String, index: Option[Broadcast[EntityLink.KbIndex]])
                               (it: Iterator[(DocOut, Int, Long)]): Iterator[PartitionFold] =
    if (!it.hasNext) Iterator.empty
    else {
      val ix = index.map(_.value)
      val buckets = mutable.HashMap.empty[String, Long]
      var nanos = 0L
      val metric = it.foldLeft(PartitionMetric(runId, "graph_build", 0, 0L, 0L, 0L, 0L, 0L)) {
        case (m, (o, pid, docNanos)) =>
          ix.foreach(x => o.mentions.foreach { mr =>
            val b = EntityLink.scoreBucket(x.best(mr.surface, mr.context, 0.0).map(_.linkScore))
            buckets(b) = buckets.getOrElse(b, 0L) + 1L
          })
          nanos += docNanos
          val edges = o.graph.edges.size.toLong
          m.copy(partition_id = pid, docs_processed = m.docs_processed + 1,
            nodes_emitted = m.nodes_emitted + o.graph.nodes.size, edges_emitted = m.edges_emitted + edges,
            triples_emitted = m.triples_emitted + edges)
      }
      Iterator.single(PartitionFold(metric.copy(duration_ms = nanos / 1000000L), buckets.toMap))
    }

  /** The `metrics` table schema: counters nullable, as in the metrics files
    * already written, where they came from a `sum`.
    */
  private val MetricsSchema: StructType = StructType(Encoders.product[PartitionMetric].schema.map(f =>
    if (f.dataType == LongType) f.copy(nullable = true) else f))

  /** The `link_metrics` table schema: one count per (partition, score
    * bucket), every column non-nullable, as in the files already written.
    */
  private val LinkMetricsSchema: StructType = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("score_bucket", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("run_id", StringType, nullable = false)))

  /** Runs `tasks` at once, one thread each of a pool made for this call, and
    * returns once every task has finished and every thread of the pool has
    * ended. The first failure, in `tasks` order, is rethrown with the later
    * ones suppressed. The calling thread creates the pool's threads as it
    * submits the tasks, so they inherit its Spark local properties (job
    * group, and a stream micro-batch's own when called inside `foreachBatch`).
    */
  private def allAtOnce(tasks: Seq[() => Unit]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(tasks.size, { (r: Runnable) =>
      val t = new Thread(r, "kg-append")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val futures = tasks.map(t => pool.submit(new Callable[Unit] { def call(): Unit = t() }))
      val failures = futures.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first => failures.tail.foreach(first.addSuppressed); throw first }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Full run into the warehouse at `outDir` (required): writes every table
    * (parquet, partitioned) and commits the run, so its output is read with
    * `ParquetTableIO(outDir).readCommitted`. Supports resume: pages already
    * present in `<outDir>/lineage` with status=done under a committed run are
    * anti-joined away before processing (SURVEY §2.8).
    */
  def run(spark: SparkSession, pages: Dataset[Page], runId: String,
          outDir: String, resume: Boolean = false,
          aliases: Option[DataFrame] = None,
          kb: Option[DataFrame] = None,
          v1: Boolean = false): Unit = {
    require(outDir.nonEmpty, "outDir is empty — Pipeline.run writes its tables to a warehouse directory")
    runWith(new ParquetTableIO(outDir), spark, pages, runId, resume, aliases, kb, v1)
  }

  /** The `lineage` table schema, unchanged since the table was first written. */
  private val LineageSchema: StructType = Encoders.product[LineageRow].schema

  /** `run` over any table store. */
  private[kg] def runWith(tio: TableIO, spark: SparkSession, pages: Dataset[Page],
                          runId: String, resume: Boolean, aliases: Option[DataFrame],
                          kb: Option[DataFrame], v1: Boolean): Unit = {
    import spark.implicits._

    // Fresh-runId-per-attempt guard: committing a reused runId would make a
    // crashed attempt's orphan rows visible alongside this attempt's rows
    // (both share run_id) — silently breaking the no-duplication guarantee.
    // Resume safety comes from the lineage anti-join below, NOT from reusing
    // the id, so reuse is always a caller bug; fail fast with the reason.
    require(!tio.committedRuns().contains(runId),
      s"runId '$runId' is already committed — use a fresh runId per attempt (resume=true dedups)")
    // the lineage table, read once for the guard and the done-set, with its
    // one schema: no footer-merge job
    val lineageNow = Option.when(tio.exists("lineage"))(tio.read(spark, "lineage", Some(LineageSchema)))
    lineageNow.foreach { lin =>
      if (!lin.where($"run_id" === runId).isEmpty)
        throw new IllegalStateException(
          s"runId '$runId' has uncommitted rows from a crashed attempt — use a fresh runId; " +
            "resume=true reprocesses those pages and readers keep filtering the orphans out")
    }
    val todo: Dataset[Page] = lineageNow match {
      case Some(lin) if resume =>
        // only COMMITTED runs count as done — a run that crashed between its
        // data appends and its commit marker is invisible here, so its urls
        // are reprocessed and the orphan rows stay filtered out of reads.
        // An anti-join needs no distinct build side.
        val done = tio.committed(lin).where($"status" === "done").select($"url")
        pages.join(done, Seq("url"), "left_anti").as[Page]
      case _ => pages
    }

    // the pages to process, hashed by url into n partitions: at least one per
    // core and no fewer than the input had, so the fold's tasks follow
    // documents, not how the reader packed the files, and a doc's partition
    // is a function of its url and n. A count that AQE does not coalesce:
    // the fold's cost is CPU per document, not bytes. `.rdd` runs the
    // exchange's map stage, before any broadcast below exists.
    val n = math.max(spark.sparkContext.defaultParallelism, Plans.inputPartitions(pages))
    val byUrl = todo.repartition(n, $"url").rdd
    // v1 temporal stamps use ONE write-time string for the whole run
    // (reference stamps each object's creation time; F18 makes timestamps
    // write-time-only and parity-excluded, so run start is the stamp)
    val temporalIndex = if (v1) java.time.Instant.now().toString else ""
    // alias canonicalization: the dictionary becomes a key index that the
    // node explode looks keys up in, broadcast. Collected before any
    // broadcast exists, so a failing collect leaves none behind.
    val aliasIndex = aliases.map(Canonicalize.keyIndex)
    // optional entity linking: the kb collected once into an alias index and
    // broadcast to the per-partition fold
    val index = kb.map(EntityLink.broadcastIndex)
    val canonIndex = aliasIndex.map(spark.sparkContext.broadcast(_))
    // per-doc outputs cached as deserialized objects: each frame below reads
    // back only the fields it needs, with no columnar encode/decode of the
    // nested graphs and 400-char mention contexts
    val outs = byUrl.mapPartitions(docOuts(v1, temporalIndex))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- flat node/edge/triple tables (narrow explodes)
      val nodeRows = outs.flatMap { case (o, _, _) =>
        val g = o.graph
        g.nodes.map(n => (g.customerId, g.url, n.id, n.content, n.nodeType, n.confidence, n.source,
          n.temporalIndex, n.temporalCategory))
      }.toDF("customer_id", "url", "node_id", "content", "node_type", "confidence", "source_file",
        "temporal_index", "temporal_category")
        .withColumn("run_id", lit(runId))

      val edgeRows = outs.flatMap { case (o, _, _) =>
        val g = o.graph
        g.edges.map(e => (g.customerId, g.url, e.id, e.srcId, e.dstId, e.edgeType, e.confidence,
          e.evidence, e.reasoning, e.temporalIndex, e.temporalCategory))
      }.toDF("customer_id", "url", "edge_id", "source_node_id", "target_node_id",
        "relationship_type", "weight", "evidence", "reasoning",
        "temporal_index", "temporal_category")
        .withColumn("run_id", lit(runId))

      val tripleRows = outs.flatMap { case (o, _, _) => GraphBuild.triples(o.graph) }.toDF()
        .withColumn("run_id", lit(runId))

      // ---- canonicalization (J10): merge same-key entities across documents;
      // alias dictionary optional. Canonical id = persisted sha256 id of the
      // canonical key; without aliases every key is its own canonical key.
      val keyed = nodeRows.withColumn("key", lower($"content"))
      val canonNodes = keyed
        .withColumn("canonical_key", canonIndex.fold(col("key"))(Canonicalize.canonicalKey(_, col("key"))))
        .withColumn("canonical_id", Canonicalize.canonicalId($"canonical_key"))
        .drop("key", "canonical_key")

      val lineage = outs.map { case (o, pid, _) => LineageRow(runId, pid, o.graph.url, "done") }.toDF()

      // ---- per-partition metrics and link-score histogram (north rule: docs
      // processed, triples emitted, durations, link-score distribution per
      // partition): ≤ one fold per partition, collected first — this job also
      // fills the object cache, and no fold means no doc to process
      val folds = outs.mapPartitions(partitionFold(runId, index)).collect().toSeq
      val metrics = spark.createDataFrame(folds.map(f => Row.fromTuple(f.metric)).asJava, MetricsSchema)
      val linkMetrics = index.map(_ => spark.createDataFrame(folds.flatMap { f =>
        f.buckets.map { case (bucket, n) => Row(f.metric.partition_id, bucket, n, runId) }
      }.asJava, LinkMetricsSchema))

      // all writes go through the TableIO seam (Iceberg-ready, SURVEY §7.0);
      // the terminal commit marker makes the whole run visible atomically, so
      // the appends run at once and readers cannot see their order. A run
      // with nothing to do writes no file and commits no marker.
      if (folds.nonEmpty) {
        val m = folds.map(_.metric)
        // each table written by as many tasks as its rows need at Spark's
        // advisory partition size, counted by the fold: a write task and a
        // file cost more than a small table's rows. `coalesce` is narrow, so
        // it adds no exchange and no job.
        val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
        def sized(df: DataFrame, rows: Long): DataFrame =
          df.coalesce(math.min(n.toLong, math.max(1L,
            math.ceil(rows.toDouble * df.schema.defaultSize / advisory).toLong)).toInt)
        allAtOnce(Seq[() => Unit](
          () => tio.append(sized(canonNodes, m.map(_.nodes_emitted).sum), "nodes", Seq("node_type")),
          () => tio.append(sized(edgeRows, m.map(_.edges_emitted).sum), "edges"),
          () => tio.append(sized(tripleRows, m.map(_.triples_emitted).sum), "triples"),
          () => tio.append(sized(metrics, m.size), "metrics"),
          () => tio.append(sized(lineage, m.map(_.docs_processed).sum), "lineage")) ++
          linkMetrics.map(lm => () => tio.append(sized(lm, folds.map(_.buckets.size).sum), "link_metrics")))
        tio.commit(runId)
      }
    } finally {
      outs.unpersist()
      index.foreach(_.destroy())
      canonIndex.foreach(_.destroy())
    }
  }
}

package graft.kg

import graft.analyze.DocAnalyze
import graft.canon.Canonicalize
import graft.model._
import graft.needs.Needs
import graft.text.PyText
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end KG-construction pipeline (SURVEY §3.1 Spark equivalent).
  *
  * pages → [extract → analyze → needs → graph-build]  (ONE fused narrow
  * stage: per-document transforms are pure functions inside a single typed
  * map — zero shuffles until canonicalization/write, mirroring the
  * reference's embarrassingly-parallel per-document Lambda model)
  * → explode nodes/edges → cross-document canonicalization (the only
  * iterative wide op) → nodes/edges/triples tables + per-partition
  * lineage/metrics.
  *
  * At 100 TB: the narrow stage scales linearly with input splits (no data
  * exchanged); canonicalization shuffles only the distinct (content-key)
  * set — orders of magnitude smaller than the corpus; writes are partitioned
  * by customer-id bucket so downstream per-customer queries prune.
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

  /** The fused per-document transform — SURVEY §3.2's pure function.
    * `v1 = true` opts into the v1-builder extensions (J7 co-occurrence
    * edges + J9 confidence smoothing, see GraphBuildV1); `enricher` is the
    * §2.9 pluggable enrichment seam (no-op default).
    */
  def buildDoc(p: Page, v1: Boolean = false, enricher: Enricher = NoopEnricher,
               temporalIndex: String = ""): DocGraph =
    analyzeAndBuild(p, v1, enricher, temporalIndex)._2

  /** pages → Dataset[DocGraph]: `buildDoc` per page inside one
    * mapPartitions task (no metrics, lineage or mentions; `Pipeline.run`
    * uses `docGraphsWithPartition`).
    */
  def docGraphs(spark: SparkSession, pages: Dataset[Page], v1: Boolean = false,
                temporalIndex: String = ""): Dataset[DocGraph] = {
    import spark.implicits._
    pages.mapPartitions(_.map(p => buildDoc(p, v1, NoopEnricher, temporalIndex)))
  }

  /** Variant keeping the NER mentions (context = leading 400 chars). */
  def buildDocOut(p: Page, v1: Boolean = false, enricher: Enricher = NoopEnricher,
                  temporalIndex: String = ""): DocOut = {
    val (doc, g) = analyzeAndBuild(p, v1, enricher, temporalIndex)
    val ctx = doc.text.take(400)
    DocOut(g, doc.entities.zipWithIndex.map { case (e, i) =>
      MentionRow(doc.url, i, e.text, e.entityType, ctx)
    })
  }

  /** extract → analyze → needs → graph-build, shared by `buildDoc` and
    * `buildDocOut`; the analysis is returned for the mentions.
    */
  private def analyzeAndBuild(p: Page, v1: Boolean, enricher: Enricher,
                              temporalIndex: String): (DocAnalysis, DocGraph) = {
    val doc = DocAnalyze.analyze(p)
    val needs = Needs.profile(doc)
    val g = if (v1) GraphBuildV1.buildV1(doc, needs, temporalIndex)
            else GraphBuild.build(doc, needs, enricher)
    (doc, g)
  }

  /** Same, plus partition id and per-doc build nanos so lineage and metrics
    * (incl. durations, north rule) derive without a second input pass.
    * The enricher's open()/close() bracket each partition (warm-container
    * analog: one model/client init per task, not per document).
    */
  def docGraphsWithPartition(spark: SparkSession, pages: Dataset[Page],
                             v1: Boolean = false,
                             enricher: Enricher = NoopEnricher,
                             temporalIndex: String = ""): Dataset[(DocOut, Int, Long)] = {
    import spark.implicits._
    pages.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = if (tc == null) 0 else tc.partitionId()
      enricher.open()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => enricher.close())
      it.map { p =>
        val t0 = System.nanoTime()
        val out = buildDocOut(p, v1, enricher, temporalIndex)
        (out, pid, System.nanoTime() - t0)
      }
    }
  }

  final case class RunResult(
      nodes: DataFrame, edges: DataFrame, triples: DataFrame,
      metrics: DataFrame, lineage: DataFrame, linkMetrics: Option[DataFrame] = None)

  /** Full run. If outDir is non-empty, writes all tables (parquet, partitioned)
    * and supports resume: pages already present in `<outDir>/lineage` with
    * status=done are anti-joined away before processing (SURVEY §2.8).
    */
  def run(spark: SparkSession, pages: Dataset[Page], runId: String,
          outDir: String = "", resume: Boolean = false,
          aliases: Option[DataFrame] = None,
          kb: Option[DataFrame] = None,
          v1: Boolean = false,
          enricher: Enricher = NoopEnricher): RunResult = {
    import spark.implicits._

    val tio: graft.io.TableIO = new graft.io.ParquetTableIO(outDir)
    // Fresh-runId-per-attempt guard: committing a reused runId would make a
    // crashed attempt's orphan rows visible alongside this attempt's rows
    // (both share run_id) — silently breaking the no-duplication guarantee.
    // Resume safety comes from the lineage anti-join below, NOT from reusing
    // the id, so reuse is always a caller bug; fail fast with the reason.
    if (outDir.nonEmpty) {
      require(!tio.committedRuns().contains(runId),
        s"runId '$runId' is already committed — use a fresh runId per attempt (resume=true dedups)")
      if (tio.exists("lineage") &&
          !tio.read(spark, "lineage").where($"run_id" === runId).isEmpty)
        throw new IllegalStateException(
          s"runId '$runId' has uncommitted rows from a crashed attempt — use a fresh runId; " +
            "resume=true reprocesses those pages and readers keep filtering the orphans out")
    }
    val todo: Dataset[Page] =
      if (resume && outDir.nonEmpty && tio.exists("lineage")) {
        // only COMMITTED runs count as done — a run that crashed between its
        // data appends and its commit marker is invisible here, so its urls
        // are reprocessed and the orphan rows stay filtered out of reads
        val done = tio.readCommitted(spark, "lineage")
          .where($"status" === "done").select($"url").distinct()
        pages.join(done, Seq("url"), "left_anti").as[Page]
      } else pages

    // v1 temporal stamps use ONE write-time string for the whole run
    // (reference stamps each object's creation time; F18 makes timestamps
    // write-time-only and parity-excluded, so run start is the stamp)
    val temporalIndex = if (v1) java.time.Instant.now().toString else ""
    val graphs = docGraphsWithPartition(spark, todo, v1, enricher, temporalIndex)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- flat node/edge/triple tables (narrow explodes)
    val nodeRows = graphs.flatMap { case (o, _, _) =>
      val g = o.graph
      g.nodes.map(n => (g.customerId, g.url, n.id, n.content, n.nodeType, n.confidence, n.source,
        n.temporalIndex, n.temporalCategory))
    }.toDF("customer_id", "url", "node_id", "content", "node_type", "confidence", "source_file",
      "temporal_index", "temporal_category")
      .withColumn("run_id", lit(runId))

    val edgeRows = graphs.flatMap { case (o, _, _) =>
      val g = o.graph
      g.edges.map(e => (g.customerId, g.url, e.id, e.srcId, e.dstId, e.edgeType, e.confidence,
        e.evidence, e.reasoning, e.temporalIndex, e.temporalCategory))
    }.toDF("customer_id", "url", "edge_id", "source_node_id", "target_node_id",
      "relationship_type", "weight", "evidence", "reasoning",
      "temporal_index", "temporal_category")
      .withColumn("run_id", lit(runId))

    val tripleRows = graphs.flatMap { case (o, _, _) => GraphBuild.triples(o.graph) }.toDF()
      .withColumn("run_id", lit(runId))

    // ---- canonicalization (J10): merge same-key entities across documents;
    // alias dictionary optional. Canonical id = persisted sha256 id of the
    // canonical key (graph_extraction_agent.py:510-519 pattern).
    val keyed = nodeRows.withColumn("key", lower($"content"))
    // localCheckpoint: the canonical map feeds BOTH the broadcast-size count
    // and the join build side — materialize the distinct pass once instead
    // of re-running it per consumer
    val canon = (aliases match {
      case Some(al) if !al.isEmpty =>
        Canonicalize.canonicalKeys(spark, keyed.select($"key"), al)
      case _ => keyed.select($"key").distinct().select($"key", $"key".as("canonical_key"))
    }).localCheckpoint()
    // Hub-key skew (e.g. one org in a third of all docs): the canonical map
    // is keyed on DISTINCT entity keys — vocabulary-sized, orders of
    // magnitude below the corpus — so broadcast it whenever it fits; the
    // node side then never shuffles and per-key skew is moot. Past the
    // limit (override: spark conf graft.canon.broadcastMaxKeys) fall back
    // to the shuffle join, where AQE's skew-join splitting (enabled in all
    // entry points) handles the hub keys.
    val broadcastMaxKeys =
      spark.conf.getOption("graft.canon.broadcastMaxKeys").map(_.toLong).getOrElse(2000000L)
    val canonSide = if (canon.count() <= broadcastMaxKeys) broadcast(canon) else canon
    val canonNodes = keyed.join(canonSide, Seq("key"))
      .withColumn("canonical_id",
        concat(lit("canon_"), substring(sha2($"canonical_key", 256), 1, 16)))
      .drop("key", "canonical_key")

    // ---- per-partition metrics + lineage (north rule: docs processed,
    // triples emitted, durations — and link-score distribution below)
    val metrics = graphs.map { case (o, pid, nanos) =>
      val g = o.graph
      PartitionMetric(runId, "graph_build", pid, 1L, g.nodes.size.toLong,
        g.edges.size.toLong, g.edges.size.toLong, nanos / 1000000L)
    }.groupBy($"run_id", $"stage", $"partition_id")
      .agg(sum($"docs_processed").as("docs_processed"),
        sum($"nodes_emitted").as("nodes_emitted"),
        sum($"edges_emitted").as("edges_emitted"),
        sum($"triples_emitted").as("triples_emitted"),
        sum($"duration_ms").as("duration_ms"))

    val lineage = graphs.map { case (o, pid, _) => LineageRow(runId, pid, o.graph.url, "done") }.toDF()

    // ---- optional entity-linking stage: alias-KB broadcast join + context
    // scoring; per-partition link-score histogram (north-rule metric)
    val linkMetrics = kb.map { kbDf =>
      val mentionRows = graphs.flatMap { case (o, pid, _) =>
        o.mentions.map(m => (s"${m.url}#${m.idx}", m.url, m.surface, m.entity_type, m.context, pid))
      }.toDF("mention_id", "url", "surface", "entity_type", "context", "partition_id")
      val linked = graft.link.EntityLink.link(mentionRows, kbDf)
      linked.groupBy($"partition_id",
        when($"link_score".isNull, lit("unlinked"))
          .otherwise(format_string("%.1f", floor($"link_score" * 10) / 10)).as("score_bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("run_id", lit(runId))
    }

    if (outDir.nonEmpty) {
      // all writes go through the TableIO seam (Iceberg-ready, SURVEY §7.0);
      // the terminal commit marker makes the whole run visible atomically
      tio.append(canonNodes, "nodes", Seq("node_type"))
      tio.append(edgeRows, "edges")
      tio.append(tripleRows, "triples")
      tio.append(metrics, "metrics")
      tio.append(lineage, "lineage")
      linkMetrics.foreach(tio.append(_, "link_metrics"))
      tio.commit(runId)
    }
    graphs.unpersist()
    RunResult(canonNodes, edgeRows, tripleRows, metrics, lineage, linkMetrics)
  }

  /** Persisted-id helpers (F8 — graph_extraction_agent.py:510-531). */
  def persistedNodeId(customerId: String, nodeType: String, content: String): String =
    "node_" + PyText.sha256Hex(s"$customerId:$nodeType:$content").substring(0, 16)

  def persistedEdgeId(customerId: String, srcId: String, dstId: String, edgeType: String): String =
    "edge_" + PyText.sha256Hex(s"$customerId:$srcId:$dstId:$edgeType").substring(0, 16)
}

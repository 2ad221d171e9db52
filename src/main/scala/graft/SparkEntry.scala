package graft

import graft.corpus.Corpus
import graft.kg.Pipeline
import graft.ops.{Multimodal, NearDup, Similarity, Sketch, TextOps, TimeJoin, UrlOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — SURVEY.md §2 operator coverage as (query, DuckDB-oracle)
  * pairs over the driver testdata, plus the KG pipeline itself (q25/entry).
  * Every query has an oracle: the previously rows-only ops are expressed in
  * portable SQL too (recursive-CTE connected components for q28, md5-bit
  * SimHash reconstruction for q26, deterministic-hyperplane LSH for q24,
  * header-decode-vs-generation-params for q27). Deeper correctness is
  * covered by ScalaTest incl. the reference-parity suite in test-oracle/.
  */
object SparkEntry {

  // Plain single read per table. A blanket fan-out repartition here was
  // measured and REJECTED: it won big on CPU-heavy text chains but taxed
  // every light query with an extra exchange + 32-task scheduling
  // (q11 0.13→0.64, q83 0.15→0.49 …) — the fan-out lives inside the
  // CPU-heavy operators instead (TextOps.fanOut; see its scaladoc).
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Flagship: full KG pipeline (extract→analyze→needs→build→triples) over
    * pages wrapped from the documents table; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    kgPipelineTriples(spark, "/root/testdata/sf0.001")

  private def kgPipelineTriples(s: SparkSession, dir: String, v1: Boolean = false): DataFrame = {
    import s.implicits._
    val pages = Corpus.pagesFromDocuments(s, dir)
    Pipeline.docGraphs(s, pages, v1 = v1)
      .flatMap(g => graft.kg.GraphBuild.triples(g))
      .select($"customer_id", $"url", $"subj", $"pred", $"obj", $"confidence")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational engine coverage (scan/filter/join/agg/window/setops)
    "q01_pricing_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // exact decimal sum, then ONE conversion to double — identical IEEE
          // result in Spark and DuckDB. Round-1 driver hash was red on the
          // decimal column (width 28 vs 38 across engines); double is the
          // representation-unique type every other green query uses.
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          count(lit(1)).as("count_order"))
    }),

    "q02_region_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("revenue"))
    }),

    "q03_top_orders_per_segment" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
    }),

    "q04_customers_with_open_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q05_customers_without_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    "q06_rollup_geo" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"))
    }),

    // Full CUBE with grouping_id — the grouping-sets surface q06's rollup
    // leaves uncovered; gid disambiguates which axes each row aggregates.
    "q82_cube_segments" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_acctbal"),
          grouping_id().as("gid"))
    }),

    "q07_priority_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.where(col("o_orderstatus") === "F").select(col("o_orderpriority")).distinct()
      val open = o.where(col("o_orderstatus") === "O").select(col("o_orderpriority")).distinct()
      val p = o.where(col("o_orderstatus") === "P").select(col("o_orderpriority")).distinct()
      f.intersect(open).except(p)
    }),

    "q08_events_hourly" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    }),

    "q09_latest_event_per_user" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") === 1)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    }),

    "q10_user_event_share" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .withColumn("pct", round(col("n_events") * lit(100.0) / sum(col("n_events")).over(Window.partitionBy()), 6))
    }),

    // ---------------- documents: text statistics / dedup / near-dup
    "q11_doc_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.distinctTokenCount(col("text")).as("n_distinct"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).cast("long").as("len_chars"),
        TextOps.fingerprint(col("text")).as("fingerprint"))
    }),

    "q12_exact_dedup" -> ((s, dir) => TextOps.exactDedup(t(s, dir, "documents"))),

    // Winnowing fingerprints (rolling-hash document fingerprinting): k=5
    // grams, w=4 windows, rightmost-min selection — the MOSS substring-
    // matching scheme, fully replayed by the oracle.
    "q47_winnowing_fingerprints" -> ((s, dir) =>
      TextOps.winnowingFingerprints(t(s, dir, "documents"))),

    // C4-style exact span dedup: 10-token non-overlapping spans, first
    // occurrence in (doc_id, chunk_idx) order wins.
    "q50_span_dedup" -> ((s, dir) => TextOps.spanDedup(t(s, dir, "documents"))),

    // Gopher doc-level quality filters. Stopword list = the en lang-ID
    // list ('the a and of to'): Gopher's own eight English words are
    // corpus-specific by design, and with this list the distinct-stopword
    // rule actually varies on the driver corpus ('the'/'a' present).
    "q51_gopher_quality" -> ((s, dir) =>
      TextOps.gopherQualityFilters(t(s, dir, "documents"),
        stopwords = TextOps.langStopwords.toMap.apply("en"))),

    // Per-source boilerplate spans (CCNet/RefinedWeb site-repeat rule over
    // token bigrams): span in >= 2 docs AND >= 20% of the source's docs.
    "q52_boilerplate_spans" -> ((s, dir) => TextOps.boilerplateSpans(t(s, dir, "documents"))),

    // Corpus-unigram LM quality score (KenLM-perplexity stand-in).
    "q53_unigram_logprob" -> ((s, dir) => TextOps.unigramLogProb(t(s, dir, "documents"))),

    // PageRank over the KG edges (10 damped power iterations) — centrality
    // beyond q20/q21 degree counting.
    "q54_pagerank" -> ((s, dir) =>
      graft.graph.PageRank.pageRank(s, queries("q19_kg_edges")(s, dir))),

    // Per-doc top-3 terms by smoothed TF-IDF.
    "q55_tfidf_topk" -> ((s, dir) => TextOps.tfidfTopK(t(s, dir, "documents"))),

    // Graph quality metrics over the ENTITY CO-MENTION graph (q37's NER
    // mentions → same-doc pairs): per-node triangle count + local
    // clustering coefficient. The engine counts via degree-oriented wedge
    // joins (power-law skew guard); the oracle replays the naive a<b
    // formulation — identical counts by the acyclic-orientation argument,
    // so the equivalence is itself driver-checked.
    "q63_triangle_stats" -> ((s, dir) =>
      graft.graph.Triangles.triangleStats(
        graft.graph.Triangles.comentionEdges(queries("q37_ner_mentions")(s, dir)))),

    // k-hop neighborhood expansion: everything within 4 undirected hops of
    // the ASIA region node in the KG edge graph (frontier BFS; the oracle
    // is a bounded recursive CTE taking min(d)).
    "q64_khop" -> ((s, dir) =>
      graft.graph.Bfs.khop(s, queries("q19_kg_edges")(s, dir),
        concat(lit("node_"), substring(sha2(lit("tpch:region:ASIA"), 256), 1, 16)),
        k = 4)),

    // Bounded WEIGHTED single-source shortest path (4 Bellman-Ford rounds,
    // delta relaxation) — q64's k-hop with integer edge weights derived
    // deterministically from the edge-id hash (first hex char → 1..16).
    // Exact integer distance arithmetic; oracle = bounded recursive CTE.
    "q77_weighted_sssp" -> ((s, dir) => {
      val e = queries("q19_kg_edges")(s, dir)
        .select(col("src_id").as("src"), col("dst_id").as("dst"),
          expr("instr('0123456789abcdef', substring(edge_id, 6, 1))").cast("long").as("w"))
      graft.graph.ShortestPath.ssspBounded(s, e,
        concat(lit("node_"), substring(sha2(lit("tpch:region:ASIA"), 256), 1, 16)),
        rounds = 4)
    }),

    // Corpus-level collocation detection: PMI of adjacent token bigrams
    // (count >= 5) against the unigram independence baseline.
    "q65_pmi_collocations" -> ((s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"))),

    // Positional phrase search: exact words-in-a-row retrieval. Engine
    // matches phrases as single n-gram postings (no posting-list
    // self-joins); the oracle replays the CLASSIC positional-join
    // formulation — two independent algorithms must agree.
    "q85_phrase_search" -> ((s, dir) =>
      TextOps.phraseSearch(t(s, dir, "documents"),
        Seq(("p0", "table hash"), ("p1", "customer join"), ("p2", "slow hash batch")))),

    // Referential-integrity audit (the pre-promotion gate a KG batch write
    // runs): six constraint checks over nodes/edges. The corpus graph is
    // clean by construction, so the query plants deterministic corruption
    // first — drops nodes whose hash starts 'a' (dangling endpoints),
    // duplicates edges starting 'b', adds self-loops for 'c', empty-content
    // clones for 'd', duplicate node rows for 'e' — all six checks fire
    // nonzero — and the oracle replays plant + audit.
    "q76_integrity_audit" -> ((s, dir) => {
      // materialize the BASE node/edge tables (joins + sha2) once; the
      // corruption-planting unions below are narrow transforms over the
      // snapshots, so the former per-branch re-evaluation of the q18/q19
      // pipelines (3×/2× inside one plan) disappears, and the audit's
      // multiple scans re-read cheap narrow plans (r06 optimization)
      val nodes0 = queries("q18_kg_nodes")(s, dir).localCheckpoint()
      val edges0 = queries("q19_kg_edges")(s, dir).localCheckpoint()
      val nodes = nodes0.where(substring(col("node_id"), 6, 1) =!= "a")
        .union(nodes0.where(substring(col("node_id"), 6, 1) === "d")
          .select(concat(col("node_id"), lit("_e")).as("node_id"),
            col("node_type"), lit("").as("content")))
        .union(nodes0.where(substring(col("node_id"), 6, 1) === "e"))
      val edges = edges0
        .union(edges0.where(substring(col("edge_id"), 6, 1) === "b"))
        .union(edges0.where(substring(col("edge_id"), 6, 1) === "c")
          .select(concat(col("edge_id"), lit("_sl")).as("edge_id"),
            col("src_id"), col("src_id").as("dst_id"), col("rel")))
      graft.kg.GraphQueries.integrityAudit(nodes, edges)
    }),

    // EXACT set-similarity join (AllPairs/PPJoin prefix filtering): every
    // pair with token-bigram-set Jaccard >= 9/10, recall-lossless — the
    // hard-contract alternative to LSH. All threshold math is integer-
    // rational; the oracle brute-forces all-pairs, so the prefix filter's
    // zero recall loss is itself driver-hash-checked. (The synthetic corpus
    // has a ~30-word vocabulary, so EVERY bigram is corpus-common — the
    // adversarial case for prefix filtering; the high threshold keeps
    // prefixes short. Real Zipfian corpora prune far better at lower t.)
    "q73_prefix_jaccard" -> ((s, dir) =>
      NearDup.prefixJaccardPairs(t(s, dir, "documents"), num = 9, den = 10)),

    // BM25 top-3 retrieval over the corpus for a fixed query set (Lucene-
    // default k1=1.2, b=0.75). Per-term contributions rounded to 6 dp and
    // summed as DECIMAL so the score is aggregation-order-independent.
    "q74_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qs = Seq(("qry0", "spark table join"), ("qry1", "window agg group"),
        ("qry2", "stream batch vector")).toDF("query_id", "qtext")
      TextOps.bm25TopK(t(s, dir, "documents"), qs)
    }),

    // Train/eval contamination scan: sources src0/src1 play the benchmark
    // suite, everything else is the training corpus; 8-gram overlap.
    "q57_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextOps.contaminationCheck(
        d.where(!col("source").isin("src0", "src1")),
        d.where(col("source").isin("src0", "src1")),
        n = 8, threshold = 0.05)
    }),

    // Deterministic stratified mixture sampling: per-source keep rates via
    // a portable md5 uniform draw (zero-shuffle narrow filter).
    "q58_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(t(s, dir, "documents"),
        rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25),
        defaultRate = 0.1)),

    // Exact-k per-stratum sample (fixed eval-set budget per source):
    // smallest k md5 draws per stratum, re-runnable on any engine.
    "q80_stratum_topk" -> ((s, dir) =>
      TextOps.stratumTopK(t(s, dir, "documents"), k = 5)),

    // Skew-immune two-stage SALTED aggregation over events: per-type
    // count/sum/min/max with a 16-way salt on event_id. The oracle is the
    // PLAIN group-by — hash equality proves the salted plan's exactness
    // (sums ride DECIMAL so regrouping cannot move a double).
    "q81_salted_agg" -> ((s, dir) =>
      graft.ops.Skew.saltedStats(t(s, dir, "events"), "event_type", "value",
        col("event_id"))
        .withColumnRenamed("key", "event_type")),

    // PII scrub: the corpus carries no PII, so the query deterministically
    // plants emails/IPs/phones on a doc_id lattice first — the oracle
    // replays the augmentation AND the scrub, exercising nonzero paths.
    "q59_pii_scrub" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val aug = d.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".1")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-123-4567"))
          .otherwise(lit(""))).as("text"))
      TextOps.piiScrub(aug)
    }),

    // Bounded top-k per key via a typed Aggregator (k-bounded sorted
    // buffer, map-side partial merge — state never exceeds k, unlike the
    // window sort or collect_list truncation). Oracle = the window
    // formulation; equality proves the custom aggregate exact.
    "q87_topk_aggregator" -> ((s, dir) => {
      val topk = udaf(graft.expr.TopKAggregator.TopK(3))
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(topk(col("value"), col("event_id")).as("tk"))
        .select(col("user_id"), posexplode(col("tk.items")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.v").as("value"), col("col.id").as("event_id"))
    }),

    // Weighted per-stratum sampling (Efraimidis-Spirakis A-Res): inclusion
    // probability proportional to n_chars, fixed budget k=5 per source.
    "q88_weighted_sample" -> ((s, dir) =>
      TextOps.weightedStratumSample(t(s, dir, "documents"), k = 5, weightCol = "n_chars")),

    // 2-D Pareto frontier (skyline) per event type: events not dominated
    // on (value, recency) — multi-criteria top-k with exact comparisons
    // only.
    "q98_pareto_skyline" -> ((s, dir) =>
      graft.ops.Skyline.paretoFrontier(
        t(s, dir, "events").select(col("event_id"), col("event_type"), col("value"), col("ts")),
        "event_type", "value", "ts")),

    // Per-source token-distribution Shannon entropy (corpus-diversity
    // signal): per-term −p·log2 p rounded + DECIMAL-summed, so the value
    // is aggregation-order-independent.
    "q99_token_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(t(s, dir, "documents"))),

    // Content-novelty rate: fraction of each doc's distinct 3-gram
    // shingles first seen (min doc_id) in that doc — the marginal-value
    // ranking dedup pipelines use for crawl ordering.
    "q100_novelty_rate" -> ((s, dir) =>
      TextOps.noveltyRate(t(s, dir, "documents"))),

    // Edit-distance dedup family: hamming<=1 self-join over customer names
    // via deletion-neighborhood blocking (mask each position; strings at
    // distance 1 share the key masking their differing position — zero
    // recall loss, driver-checked against the brute-force oracle).
    "q94_hamming_join" -> ((s, dir) =>
      NearDup.hammingJoin(t(s, dir, "customer"), "c_custkey", "c_name")),

    // EXACT per-group quantiles (type-1 inverse CDF) — the exact
    // counterpart of q69's histogram sketch; no float accumulation at all.
    "q95_exact_quantiles" -> ((s, dir) =>
      Sketch.exactQuantiles(t(s, dir, "events"), "value", "event_type")),

    // Snapshot reconciliation: events vs a lattice-mutated copy (drops,
    // value changes, synthetic additions) — one full-outer join on the
    // key, digests computed pre-join, unchanged rows dropped.
    "q96_table_diff" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val mutated = e.where(col("event_id") % 97 =!= 0)
        .select(col("event_id"), col("event_type"),
          when(col("event_id") % 89 === 0, col("value") + 1.0).otherwise(col("value")).as("value"))
        .union(e.where(col("event_id") % 101 === 0)
          .select((col("event_id") + 1000000000L).as("event_id"), col("event_type"), col("value")))
      graft.ops.Reconcile.tableDiff(
        e.select(col("event_id"), col("event_type"), col("value")), mutated,
        "event_id", Seq("event_type", "value"))
    }),

    // Interval coalescing (gaps-and-islands): each view event opens a
    // 10-minute half-open window; overlapping/touching windows merge per
    // user. Exact integer-microsecond arithmetic.
    "q97_interval_merge" -> ((s, dir) => {
      val v = t(s, dir, "events").where(col("event_type") === "view")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("s"),
          (unix_micros(col("ts").cast("timestamp")) + lit(600000000L)).as("e"))
      TimeJoin.mergeIntervals(v, "user_id", "s", "e")
    }),

    // Z-order (Morton) layout key over the two most-filtered event
    // dimensions — the write-side clustering key that makes row-group
    // min/max stats selective on BOTH dims (Delta/Iceberg Z-ORDER). Pure
    // integer bit arithmetic, oracle-replayed term by term.
    "q90_zorder_key" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val ub = pmod(col("user_id"), lit(65536L))
      val hb = pmod(floor(unix_micros(col("ts").cast("timestamp")) / lit(3600000000L)).cast("long"), lit(65536L))
      e.select(col("event_id"), ub.as("ub"), hb.as("hb"))
        .withColumn("zkey", graft.ops.Layout.mortonKey(col("ub"), col("hb")))
    }),

    // Robots-style disallow filter over the synthetic URL lattice: path-
    // prefix rules per registered domain, broadcast; one row per URL with
    // the blocked verdict.
    "q91_robots_filter" -> ((s, dir) => {
      import s.implicits._
      val urls = t(s, dir, "documents").select(col("doc_id"),
        UrlOps.syntheticUrl(col("doc_id"), col("source")).as("url"))
      val rules = Seq(
        ("example.com", "/Articles"), ("example.co.uk", "/a/b"),
        ("example.org", "/x"), ("example.com", "/never")).toDF("domain", "prefix")
      UrlOps.robotsFilter(urls, rules)
    }),

    // Count-Min sketch MERGEABILITY, driver-checked (q79's frequency
    // sibling): per-source counters merged by cellwise sum → the same
    // estimates as the single-pass global sketch the oracle builds.
    "q92_cms_merged" -> ((s, dir) => {
      val spans = t(s, dir, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("toks"))
        .select(col("source"), explode(NearDup.shingleArr(col("toks"), 2)).as("s"))
      Sketch.cmsMergedHeavyHitters(spans, "source", "s")
    }),

    // Weekly cohort retention matrix: users grouped by first-activity
    // week, distinct-active counts at each week offset.
    "q93_retention_cohorts" -> ((s, dir) =>
      graft.ops.Cohorts.weeklyRetention(t(s, dir, "events"), "user_id", "ts")),

    // Bloom-prefiltered semi-join (the explicit runtime-filter pattern):
    // events of purchasing users. The oracle is the PLAIN semi-join —
    // equality proves the bloom prefilter + exact-clear composition lossless.
    "q89_bloom_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val buyers = e.where(col("event_type") === "purchase").select(col("user_id"))
      Sketch.bloomSemiJoin(e, "user_id", buyers, "user_id")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    }),

    // Ordered funnel (view → click → purchase): first time each step fired
    // STRICTLY AFTER the previous step, per user; stage = completed steps.
    "q83_funnel" -> ((s, dir) =>
      TimeJoin.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),

    // SCD2 validity intervals from the event log: each 'view' event valid
    // until the user's next view (null = current) — the CDC snapshot
    // builder every warehouse runs.
    "q84_scd2_intervals" -> ((s, dir) =>
      TimeJoin.scd2Intervals(t(s, dir, "events").where(col("event_type") === "view"),
        "user_id", "ts", "event_id", Seq("value"))),

    // Anomaly flags over hourly event-rate series: trailing-6-bucket
    // z-score from EXACT integer window sums (Σn, Σn²), |z| > 2 flagged.
    "q86_rate_anomalies" -> ((s, dir) =>
      graft.ops.Anomaly.countZscores(t(s, dir, "events"), "event_type", "ts")),

    // As-of (point-in-time) join: each purchase matched to the user's
    // latest STRICTLY-earlier click — the union-tag + running-last window
    // plan (one shuffle, no range cross-product). Oracle: DuckDB's native
    // ASOF LEFT JOIN, an independent implementation of the same semantics.
    "q60_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      TimeJoin.asofJoin(p, c, "user_id", "ts", "ts", Seq("value"))
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          col("asof_ts").as("last_click_ts"),
          col("asof_value").as("last_click_value"),
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("asof_ts").cast("timestamp"))).as("gap_us"))
    }),

    // Bounded-range join: views within 10 minutes AFTER each error event of
    // the same user — ONE equi-join on (user, 600 s time bucket) instead of
    // the nested-loop theta-join; zero-partner errors kept via join-back.
    "q61_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val errs = e.where(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("value"))
      val pairs = TimeJoin.rangeJoin(errs, views, "user_id", "ts", "ts", Seq("value"), 600L)
      val agg = pairs.groupBy(col("event_id")).agg(
        count(lit(1)).as("n_views"),
        round(sum(col("r_value")), 6).as("sum_view_value"))
      errs.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(col("n_views"), lit(0L)).as("n_views"), col("sum_view_value"))
    }),

    // Deterministic portable HyperLogLog: distinct bigram spans per source,
    // exact count alongside — the full estimator is oracle-replayed.
    "q56_hll_distinct" -> ((s, dir) => {
      val spans = t(s, dir, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("toks"))
        .select(col("source"), explode(NearDup.shingleArr(col("toks"), 2)).as("s"))
      Sketch.hllDistinct(spans, "source", "s")
    }),

    // Sketch MERGEABILITY, driver-checked: per-source HLL registers merged
    // by bucketwise max → global estimate. The oracle computes the
    // single-pass global sketch directly; hash equality of the two paths
    // IS the merge proof (max associativity made observable).
    "q79_hll_merged" -> ((s, dir) => {
      val spans = t(s, dir, "documents")
        .select(col("source"), TextOps.tokens(col("text")).as("toks"))
        .select(col("source"), explode(NearDup.shingleArr(col("toks"), 2)).as("s"))
      Sketch.hllMergedDistinct(spans, "source", "s")
    }),

    // Semi-structured metadata extraction: events.props is a JSON payload
    // (the WARC/crawl-metadata shape); parse it with a TYPED from_json
    // schema (codegen'd Catalyst JsonToStructs — not regex, not a UDF) and
    // aggregate per event type. Malformed JSON → null k, which the CASE'd
    // regexp oracle mirrors. avg uses the cast-exact double tree.
    "q67_json_props" -> ((s, dir) => {
      val parsed = t(s, dir, "events").select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k").as("k"))
      parsed.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(sum(col("k")).cast("double") / count(col("k")).cast("double"), 6).as("avg_k"))
    }),

    // Count-min heavy hitters over bigram spans: the d·w-bounded frequency
    // sketch probed for the top-20 exact-count items; estimate ≥ exact
    // always (one-sided error), and the oracle replays the md5 bucket
    // arithmetic + min-of-counters end to end.
    "q66_cms_heavy_hitters" -> ((s, dir) => {
      val spans = t(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("toks"))
        .select(explode(NearDup.shingleArr(col("toks"), 2)).as("s"))
      Sketch.cmsHeavyHitters(spans, "s")
    }),

    // URL canonicalization (RFC 3986 §6 subset) over a deterministic
    // synthetic URL lattice (documents has no url column — q59 pattern):
    // scheme/host lowering, fragment drop, default-port strip, trailing
    // slash, query-param sort, two-level-suffix registered domain. Parts
    // materialized in one projection, derived columns from the NAMED
    // columns (q13 codegen lesson).
    "q68_url_canon" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
          UrlOps.syntheticUrl(col("doc_id"), col("source")).as("url"))
        .withColumn("canon_url", UrlOps.canonicalize(col("url")))
        .withColumn("host", UrlOps.host(col("url")))
        .withColumn("registered_domain", UrlOps.registeredDomain(col("host")))
    }),

    // Domain link graph (the crawl host-graph stage): outlinks planted on a
    // doc_id lattice (1 per doc + a 2nd for doc_id%3=0, targets/SOURCES
    // derived arithmetically), extracted back out of the TEXT by regex,
    // canonicalized to registered domains, aggregated to a weighted edge
    // list. The oracle derives the expected domains STRAIGHT from the
    // lattice arithmetic — two independent paths (regex+parse vs closed
    // form) must agree row-for-row.
    "q78_link_graph" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val tgt1 = pmod(col("doc_id") * 7 + 1, lit(1000))
      val s1 = concat(lit("src"), pmod(col("doc_id") * 3 + 1, lit(20)).cast("string"))
      val tgt2 = pmod(col("doc_id") * 13 + 5, lit(1000))
      val s2 = concat(lit("src"), pmod(col("doc_id") * 5 + 2, lit(20)).cast("string"))
      val aug = d.select(col("doc_id"), col("source"), concat(
        col("text"), lit(" see "), UrlOps.syntheticUrl(tgt1, s1),
        when(col("doc_id") % 3 === 0,
          concat(lit(" and "), UrlOps.syntheticUrl(tgt2, s2))).otherwise(lit("")))
        .as("text"))
      UrlOps.domainLinkGraph(aug,
        UrlOps.registeredDomain(UrlOps.host(UrlOps.syntheticUrl(col("doc_id"), col("source")))))
    }),

    // Histogram-quantile sketch: per-event-type p50/p90/p99 of value from
    // a G·B-bounded mergeable counter table (global bounds broadcast).
    "q69_quantile_sketch" -> ((s, dir) =>
      Sketch.histogramQuantiles(t(s, dir, "events"), "value", "event_type")),

    // Context-window chunking: 64-token windows, stride 48 — the LM
    // training packing step; zero-shuffle posexplode, chunk payload as md5.
    "q70_token_windows" -> ((s, dir) =>
      TextOps.tokenWindows(t(s, dir, "documents"))),

    // Bloom-filter membership over bigram spans: blocklist = bigrams of
    // doc_id % 101 == 0 docs; probe = every distinct corpus bigram. One
    // broadcast bit-position array, narrow probe; in_set driver-checks the
    // no-false-negatives contract row by row.
    "q71_bloom_membership" -> ((s, dir) => {
      // spans materialized once: probe distinct, bloom bits, and the exact
      // block set all read the snapshot instead of re-running the
      // tokenize/shingle explode three times (r06 optimization)
      val spans = t(s, dir, "documents")
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(NearDup.shingleArr(col("toks"), 2)).as("s"))
        .localCheckpoint()
      val block = spans.where(col("doc_id") % 101 === 0).select(col("s"))
      Sketch.bloomMembership(spans, "s", block, "s")
    }),

    // Unicode NFC normalization (custom codegen'd Catalyst expression —
    // Spark has no builtin): deterministic non-NFC augmentation lattice
    // (combining acute/ring/diaeresis compose; the fi ligature must NOT —
    // that's NFKC), normalized TEXT itself hash-compared, DuckDB
    // nfc_normalize as the independent UAX #15 implementation.
    "q72_nfc_normalize" -> ((s, dir) => {
      val aug = t(s, dir, "documents").select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(" cafe\u0301"))
          .when(col("doc_id") % 4 === 1, lit(" A\u030Angstro\u0308m"))
          .when(col("doc_id") % 4 === 2, lit(" \uFB01nal"))
          .otherwise(lit(""))).as("text"))
      aug.withColumn("nfc", graft.expr.GraftExpressions.nfc_normalize(col("text")))
        .select(col("doc_id"), col("nfc"),
          length(col("text")).cast("long").as("n_before"),
          length(col("nfc")).cast("long").as("n_after"),
          (col("text") =!= col("nfc")).as("changed"))
    }),

    "q13_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val votes = TextOps.langVotes(col("text"))
      // votes in one projection, guess from the NAMED columns — inlining
      // langGuess(text) here doubles every regexp tree and overflows the
      // 64 KB codegen method limit (whole stage falls back to interpreted)
      d.select(Seq(col("doc_id")) ++
          votes.map { case (l, c) => c.as(s"${l}_votes") }: _*)
        .withColumn("lang_guess",
          TextOps.langGuessFromVotes(l => col(s"${l}_votes")))
    }),

    "q14_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    }),

    "q15_minhash" -> ((s, dir) => NearDup.minhashSignatures(t(s, dir, "documents"), k = 8)),

    "q16_neardup_pairs" -> ((s, dir) => NearDup.jaccardPairs(t(s, dir, "documents"), 0.8)),

    "q17_lsh_candidates" -> ((s, dir) =>
      // wide-minhash path: band signatures projected from the one-shuffle
      // signature row, not regrouped from q15's (doc_id, seed) rows — one
      // shuffle to signatures instead of two groupBys (r06 optimization)
      NearDup.lshCandidatePairs(t(s, dir, "documents"))),

    // ---------------- KG materialize/query over relational FKs
    "q18_kg_nodes" -> ((s, dir) => {
      val r = t(s, dir, "region").select(lit("region").as("node_type"), col("r_name").as("content"))
      val n = t(s, dir, "nation").select(lit("nation").as("node_type"), col("n_name").as("content"))
      val c = t(s, dir, "customer").select(lit("customer").as("node_type"), col("c_name").as("content"))
      r.unionByName(n).unionByName(c)
        .select(concat(lit("node_"),
          substring(sha2(concat(lit("tpch:"), col("node_type"), lit(":"), col("content")), 256), 1, 16)).as("node_id"),
          col("node_type"), col("content"))
    }),

    "q19_kg_edges" -> ((s, dir) => {
      def nid(tpe: String, content: Column): Column =
        concat(lit("node_"), substring(sha2(concat(lit(s"tpch:$tpe:"), content), 256), 1, 16))
      val n = t(s, dir, "nation"); val r = t(s, dir, "region"); val c = t(s, dir, "customer")
      val e1 = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(nid("nation", col("n_name")).as("src_id"), nid("region", col("r_name")).as("dst_id"),
          lit("part_of").as("rel"))
      val e2 = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(nid("customer", col("c_name")).as("src_id"), nid("nation", col("n_name")).as("dst_id"),
          lit("located_in").as("rel"))
      e1.unionByName(e2)
        .select(concat(lit("edge_"),
          substring(sha2(concat(lit("tpch:"), col("src_id"), lit(":"), col("dst_id"), lit(":"), col("rel")), 256), 1, 16)).as("edge_id"),
          col("src_id"), col("dst_id"), col("rel"))
    }),

    "q20_kg_degree" -> ((s, dir) => {
      queries("q19_kg_edges")(s, dir)
        .select(explode(array(col("src_id"), col("dst_id"))).as("node_id"))
        .groupBy(col("node_id")).agg(count(lit(1)).as("degree"))
    }),

    "q21_kg_central" -> ((s, dir) => {
      queries("q20_kg_degree")(s, dir)
        .join(queries("q18_kg_nodes")(s, dir), Seq("node_id"))
        .orderBy(col("degree").desc, col("node_id").asc)
        .limit(3)
        .select(col("node_id"), col("content"), col("node_type"), col("degree"))
    }),

    "q22_term_histogram" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc)
        .limit(20)
    }),

    // ---------------- embedding similarity search
    "q23_ann_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryIds = 0L until 8L, k = 5)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")),

    // ---------------- KG pipeline end-to-end (flagship)
    "q25_kg_pipeline_triples" -> ((s, dir) => kgPipelineTriples(s, dir)),

    // ---------------- additional operator coverage (SURVEY §2)
    "q29_needs_keyword_scores" -> ((s, dir) => {
      // A8 — the needs keyword scorer as pure Column arithmetic over documents
      val d = t(s, dir, "documents")
      val text = lower(col("text"))
      val wc = TextOps.tokenCount(col("text")).cast("double")
      val cols = graft.needs.Needs.needOrder.map { need =>
        val (kws, phrases, clues) = graft.needs.Needs.indicators(need)
        val kwMatches = kws.map(k => TextOps.substrOccurrences(text, k)).reduce(_ + _).cast("double")
        val kwScore = least(kwMatches / greatest(wc / 100.0, lit(1.0)), lit(1.0)) * 0.4
        val phMatches = phrases.map(p => when(text.contains(p), 1).otherwise(0)).reduce(_ + _).cast("double")
        val phScore = least(phMatches / phrases.size, lit(1.0)) * 0.3
        val clMatches = clues.map(c => when(text.contains(c), 1).otherwise(0)).reduce(_ + _).cast("double")
        val clScore = least(clMatches / clues.size, lit(1.0)) * 0.3
        round(least(kwScore + phScore + clScore, lit(1.0)), 6).as(s"${need}_score")
      }
      d.select(col("doc_id") +: cols: _*)
    }),

    "q30_argmax_dedup" -> ((s, dir) => {
      // A11/A12 pattern — keep-max row per group with deterministic tie-break
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events").withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }),

    "q31_cooccurrence" -> ((s, dir) => {
      // J7 — token-distance co-occurrence strength (v1 proximity join)
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      val a = toks.where(col("tok") === "spark").select(col("doc_id"), col("pos").as("pa"))
      val b = toks.where(col("tok") === "data").select(col("doc_id"), col("pos").as("pb"))
      a.join(b, Seq("doc_id"))
        .groupBy(col("doc_id")).agg(min(abs(col("pa") - col("pb"))).cast("long").as("min_dist"))
        .withColumn("strength",
          when(col("min_dist") <= 5, 0.9).when(col("min_dist") <= 20, 0.7)
            .when(col("min_dist") <= 50, 0.5).otherwise(0.3))
        .where(col("strength") > 0.4)
    }),

    "q32_ordered_caps" -> ((s, dir) => {
      // W4 — order-preserving per-list caps (first 5 tokens, source order)
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos0", "tok")))
        .where(col("pos0") < 5)
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
    }),

    "q33_graph_metrics" -> ((s, dir) => {
      // A2/A6/W7 — per-customer triple metrics incl. the lexicographic-max quirk
      kgPipelineTriples(s, dir).groupBy(col("customer_id")).agg(
        count(lit(1)).as("total_triples"),
        round(avg(col("confidence")), 6).as("avg_confidence"),
        countDistinct(col("pred")).as("n_preds"),
        max(col("pred")).as("most_common_relationship"))
    }),

    // ---------------- approximate / engine-native ops (oracled via portable
    // SQL reconstructions — see oracleSql)
    "q24_ann_lsh_topk" -> ((s, dir) =>
      // dim passed explicitly (testdata embeddings are 64-dim) so operator
      // construction launches no job
      Similarity.lshTopK(t(s, dir, "embeddings"), queryIds = 0L until 8L, k = 5, dim = 64)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")),

    "q35_ann_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"), queryIds = 0L until 8L)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")),

    "q26_simhash" -> ((s, dir) => NearDup.simhashDF(t(s, dir, "documents"))),

    "q34_neardup_lsh_verified" -> ((s, dir) =>
      NearDup.lshVerifiedPairs(t(s, dir, "documents"), 0.8)),

    // The 100 TB scale entrypoint with the quadratic-bucket guardrail
    // BINDING (maxBucket=2 drops this corpus's two size-3 buckets) — the
    // oracle replays the count-filter, so the drop semantics themselves are
    // driver-hash-checked, not just unit-tested.
    "q42_neardup_guardrail" -> ((s, dir) =>
      NearDup.lshVerifiedPairsScaled(t(s, dir, "documents"), 0.8, maxBucket = 2).pairs),

    // ...and the no-silent-caps accounting: exactly the buckets q42 pruned.
    "q43_neardup_dropped" -> ((s, dir) =>
      NearDup.lshVerifiedPairsScaled(t(s, dir, "documents"), 0.8, maxBucket = 2)
        .droppedBuckets),

    "q36_simhash_neardup" -> ((s, dir) =>
      NearDup.simhashNearDupPairs(t(s, dir, "documents"), maxHamming = 4)),

    // Incremental (new-shard × existing-corpus) near-dup — odd doc_ids play
    // today's crawl batch, even doc_ids the accumulated corpus. The oracle
    // replays the per-side banding and the asymmetric candidate join.
    "q75_incremental_neardup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      NearDup.incrementalNearDup(
        d.where(col("doc_id") % 2 === 1), d.where(col("doc_id") % 2 === 0), 0.8)
    }),

    // The 5th dedup family: feature-hashed doc embeddings (identical docs →
    // identical vectors) → hyperplane-LSH candidates (12 planes × 4 tables;
    // TF vectors are angularly clustered, so the mega-bucket guardrail runs
    // ON at 512 — the dense near-identical cluster is exactly what exact
    // dedup must thin first) → exact cosine >= 0.95. The oracle
    // reconstructs the hashed vectors, the bucket pruning INCLUDING the
    // cap, and the cosine arithmetic.
    "q44_embedding_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairsScaled(
        Similarity.hashedEmbeddings(t(s, dir, "documents")), 0.95,
        planes = 12, maxBucket = 512).pairs),

    // ...and the embedding family's no-silent-caps accounting (the q43
    // analog): exactly the (table, bucket) groups a binding cap prunes,
    // with their sizes. Cap 16 is BINDING on this corpus (the hashed-TF
    // vectors cluster angularly, so several buckets exceed it) — the drop
    // semantics themselves are driver-hash-checked.
    "q49_embedding_dropped" -> ((s, dir) =>
      Similarity.cosineNearDupPairsScaled(
        Similarity.hashedEmbeddings(t(s, dir, "documents")), 0.95,
        planes = 12, maxBucket = 16).droppedBuckets),

    // End-to-end dedup RESOLUTION (what a 100 TB pipeline actually runs):
    // q34's verified pairs → alternating-star connected components → one
    // keeper per cluster (longest text in bytes, ties to smallest id).
    // The oracle replays the full chain — shingle/minhash/band/verify,
    // recursive-CTE CC, and the keeper rule.
    "q62_neardup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      NearDup.resolveClusters(s, docs, NearDup.lshVerifiedPairs(docs, 0.8))
    }),

    "q27_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      Multimodal.featureSummary(
        Multimodal.extractFeatures(s, Multimodal.syntheticMedia(s, 1000)).toDF())
    }),

    // Thumbnail stage: nearest-neighbor 2× downsample of every valid PNG,
    // REAL resize over really-decoded pixels; oracle reconstructs resized
    // dims + pixel sums from the generation formula (source pixel (2x, 2y)).
    "q45_multimodal_resize" -> ((s, dir) => {
      import s.implicits._
      Multimodal.resizeFeatures(s, Multimodal.syntheticMedia(s, 1000), factor = 2).toDF()
    }),

    // Frame-sampling stage: every 2nd frame of each GVID container decoded
    // (frames 0, 2, 4, …); one row per sampled frame.
    "q46_multimodal_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.frameSampleFeatures(s, Multimodal.syntheticVideos(s, 200), every = 2).toDF()
    }),

    // Audio content decode: 16-bit PCM samples of every valid WAV parsed
    // from the RIFF data chunk; |sum| and peak are the quality-filter stats.
    "q48_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      Multimodal.syntheticMedia(s, 1000)
        .flatMap(m => Multimodal.decodeWavPcm(m.payload).map { case (n, sum, peak) =>
          (m.media_id, n.toLong, sum, peak.toLong)
        })
        .toDF("media_id", "n_samples", "sum_abs", "peak")
    }),

    "q28_canon_components" -> ((s, dir) => {
      val pairs = NearDup.jaccardPairs(t(s, dir, "documents"), 0.8)
        .select(col("d1").cast("string").as("src"), col("d2").cast("string").as("dst"))
      graft.canon.Canonicalize.connectedComponents(s, pairs)
        .select(col("id").cast("long").as("doc_id"), col("component").cast("long").as("component"))
    }),

    "q37_ner_mentions" -> ((s, dir) => {
      // F2/F3 NER exposed as a driver-checked table: the REAL extractor
      // (10-raw-match cap, first-occurrence distinct, org keyword scan) runs
      // over the same derived body the KG pipeline sees; the oracle replays
      // it with regexp_extract_all + list_slice over the reconstructed body.
      import s.implicits._
      t(s, dir, "documents").select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          graft.analyze.DocAnalyze.extractEntities(Corpus.derivedBody(text)).zipWithIndex
            .map { case (e, i) => (id, i.toLong + 1L, e.text, e.entityType, e.confidence) }
        }.toDF("doc_id", "ord", "surface", "entity_type", "confidence")
    }),

    "q41_sessionization" -> ((s, dir) => {
      // gap-based sessionization (12 h): the classic stateful-window op —
      // lag diff flags session starts, a running sum numbers sessions, one
      // aggregation yields per-session stats. Both windows and the agg key
      // on user_id (unique ordering by (ts, event_id)), so no skew and the
      // shuffles stay uniform at scale.
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("gap_s",
          unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(byUser)))
        .withColumn("new_session", when(col("gap_s") > 43200, 1).otherwise(0))
        .withColumn("session_idx", sum(col("new_session")).over(byUser).cast("long"))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
            .cast("long").as("duration_sec"))
    }),

    "q40_repetition_stats" -> ((s, dir) =>
      // Gopher-rule repetition filters (duplicate-bigram mass, top-bigram
      // share, mean word length) — the standard webtext quality signals
      TextOps.repetitionStats(t(s, dir, "documents"))),

    "q39_v1_smoothed_triples" -> ((s, dir) =>
      // the v1 pipeline mode end-to-end on driver data: v2 build → J7
      // co-occurrence (none fire on this corpus — no eligible type pairs) →
      // J9 confidence smoothing (node pass with ORIGINAL edge confidences,
      // then edge pass with UPDATED endpoint confidences); the oracle
      // hand-replicates the smoothing arithmetic per route/parity/NER-gate
      // combination, fold order and all, so the driver hash covers J9 and
      // the v1 composition — previously engine-side (ParitySpec) evidence
      // only
      kgPipelineTriples(s, dir, v1 = true)),

    "q38_entity_linking" -> ((s, dir) =>
      // North-rule entity linking driver-checked end-to-end: NER mentions
      // (context = the derived body) against a KB dimension derived from the
      // corpus vocabulary (one entity per distinct token; deterministic
      // prior). Single-token surfaces broadcast-join their alias; two-token
      // person names find no candidate and exercise the unlinked (null)
      // left-join path. ctx_sim/link_score are the operator's real formulas.
      entityLinkingOverDocs(s, t(s, dir, "documents")))
  )

  /** The q38 construction over a (doc_id, text) frame. */
  private def entityLinkingOverDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val mentions = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val body = Corpus.derivedBody(text)
        graft.analyze.DocAnalyze.extractEntities(body).zipWithIndex.map {
          case (e, i) => (s"$id#${i + 1}", id, e.text, body)
        }
      }.toDF("mention_id", "doc_id", "surface", "context")
    val kb = docs.select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
      .select(col("tok").as("entity_id"),
        concat(upper(substring(col("tok"), 1, 1)), substring(col("tok"), 2, 1000)).as("canonical_name"),
        array(col("tok")).as("aliases"),
        col("tok").as("profile"),
        round(lit(0.3) + (length(col("tok")) % 5) * lit(0.1), 1).as("prior"))
    graft.link.EntityLink.link(mentions, kb)
      .select(col("mention_id"), col("doc_id"), col("surface"),
        col("entity_id"), col("canonical_name"), col("ctx_sim"), col("link_score"))
  }

  /** The expected KG-pipeline triples, reconstructed from documents columns
    * ONLY (shared by the q25 and q33 oracles):
    *  - body/persona: the derivedBody/derivedPersona text transforms
    *    (title-case tokens 0, 1 and every 7th; persona = first two);
    *  - has_person: does the F2 NER regex match the derived body at all —
    *    gates the theme→topic→discusses chain on en-even docs;
    *  - route from lang; en docs split by parity into interview-format
    *    (interview_*.html → interview relationship rules: discusses, no
    *    influences) and standard (doc_*.html → influences, no discusses);
    *  - generic-routed docs emit NO triples (all needs scores at base 0.4).
    */
  /** Shared document-reconstruction CTEs for the KG-pipeline oracles
    * (q25/q33/q39): derived body + persona, route, filename parity, and the
    * F2-NER person gate — all from documents columns.
    */
  private def kgDocsCtes: String =
    """tk AS (SELECT doc_id, source, lang,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
       tt AS (SELECT doc_id, source, lang,
           array_to_string(list_transform(l, (x, i) ->
             CASE WHEN i <= 2 OR (i - 1) % 7 = 0 THEN upper(substr(x, 1, 1)) || substr(x, 2) ELSE x END), ' ') AS body,
           upper(substr(l[1], 1, 1)) || substr(l[1], 2) || ' ' ||
             upper(substr(l[2], 1, 1)) || substr(l[2], 2) AS persona
         FROM tk),
       docs AS (SELECT doc_id, source, persona,
           CASE WHEN lang = 'de' THEN 'financial'
                WHEN lang = 'en' THEN 'interview' ELSE 'generic' END AS route,
           (lang = 'en' AND doc_id % 2 = 0) AS ifile,
           len(regexp_extract_all(body, '\b[A-Z][a-z]+( [A-Z][a-z]+)*\b')) > 0 AS has_person
         FROM tt)"""

  private def kgTriplesOracleSql: String =
    s"""WITH $kgDocsCtes,
       pat AS (SELECT * FROM (VALUES""" +
    """
           ('financial', false, 'person', 'demonstrates', 'Certainty', 0.8, false),
           ('financial', false, 'person', 'demonstrates', 'Growth', 0.6, false),
           ('financial', false, 'Certainty', 'influences', 'Strategic planner', 0.8, false),
           ('financial', false, 'Certainty', 'influences', 'Risk manager', 0.8, false),
           ('interview', false, 'person', 'demonstrates', 'Significance', 0.8, false),
           ('interview', false, 'person', 'demonstrates', 'Connection', 0.6, false),
           ('interview', false, 'person', 'demonstrates', 'Growth', 0.7, false),
           ('interview', false, 'Significance', 'influences', 'Leadership-oriented', 0.8, false),
           ('interview', false, 'Connection', 'influences', 'Collaborative', 0.8, false),
           ('interview', true, 'person', 'demonstrates', 'Significance', 0.8, false),
           ('interview', true, 'person', 'demonstrates', 'Connection', 0.6, false),
           ('interview', true, 'person', 'demonstrates', 'Growth', 0.7, false),
           ('interview', true, 'person', 'discusses', 'Relationships', 0.8, true)
         ) t(route, ifile, subj_kind, pred, obj, confidence, needs_person))
       SELECT d.source AS customer_id,
              'https://corpus.local/customers/' || d.source || '/' ||
                (CASE WHEN d.ifile THEN 'interview_' ELSE 'doc_' END) ||
                CAST(d.doc_id AS VARCHAR) || '.html' AS url,
              CASE WHEN p.subj_kind = 'person' THEN d.persona ELSE p.subj_kind END AS subj,
              p.pred AS pred, p.obj AS obj, CAST(p.confidence AS DOUBLE) AS confidence
       FROM docs d JOIN pat p ON d.route = p.route AND d.ifile = p.ifile
         AND (NOT p.needs_person OR d.has_person)"""

  /** q39 oracle: the v1 pipeline's J9-smoothed triple confidences,
    * hand-replicated as SQL arithmetic (independent of the engine).
    *
    * Smoothing (hypergraph_builder_agent.py:465-486): node' =
    * (conf + mean(original supporting-edge confs)) / 2, then edge' =
    * (conf + mean(UPDATED endpoint confs)) / 2. The expressions below
    * mirror the engine's exact fold order (Seq.sum is a left fold from
    * 0.0; 0.0 + x is IEEE-exact), so results are bit-identical doubles —
    * no rounding is applied, exactly like the engine.
    * person_gate: NULL = combo independent of the NER person gate; else
    * the row applies only when has_person matches (en-even docs change
    * BOTH the edge set and the persona mean when a person is found).
    */
  private def kgV1TriplesOracleSql: String = {
    // financial (standard path; NER gate irrelevant — mentioned persons
    // are dropped by the strict > 0.7 filter and themes have no edges)
    val fPersona = "(0.95e0 + (0.8e0 + 0.6e0)/2e0)/2e0"
    val fCert = "(0.8e0 + ((0.8e0 + 0.8e0) + 0.8e0)/3e0)/2e0" // demo + both influences
    val fGrow = "(0.6e0 + 0.6e0)/2e0"
    val fSP = "(0.8e0 + 0.8e0)/2e0" // Strategic planner / Risk manager identical
    val fDemoCert = s"(0.8e0 + (($fPersona) + ($fCert))/2e0)/2e0"
    val fDemoGrow = s"(0.6e0 + (($fPersona) + ($fGrow))/2e0)/2e0"
    val fInfl = s"(0.8e0 + (($fCert) + ($fSP))/2e0)/2e0"
    // interview, doc_*.html (standard relationship rules)
    val oPersona = "(0.95e0 + ((0.8e0 + 0.6e0) + 0.7e0)/3e0)/2e0"
    val oSig = "(0.8e0 + (0.8e0 + 0.8e0)/2e0)/2e0" // demonstrates + influences support
    val oCon = "(0.6e0 + (0.6e0 + 0.8e0)/2e0)/2e0"
    val oGro = "(0.7e0 + 0.7e0)/2e0"
    val oBeh = "(0.8e0 + 0.8e0)/2e0" // Leadership-oriented / Collaborative
    val oDemoSig = s"(0.8e0 + (($oPersona) + ($oSig))/2e0)/2e0"
    val oDemoCon = s"(0.6e0 + (($oPersona) + ($oCon))/2e0)/2e0"
    val oDemoGro = s"(0.7e0 + (($oPersona) + ($oGro))/2e0)/2e0"
    val oInflSig = s"(0.8e0 + (($oSig) + ($oBeh))/2e0)/2e0"
    val oInflCon = s"(0.8e0 + (($oCon) + ($oBeh))/2e0)/2e0"
    // interview, interview_*.html (interview relationship rules: discusses,
    // no influences); persona mean includes the discusses edge FIRST
    // (personTopicRels precedes personNeedRels in the rule order) when the
    // NER gate fires
    val ePersonaP = "(0.95e0 + (((0.8e0 + 0.8e0) + 0.6e0) + 0.7e0)/4e0)/2e0"
    val eRel = "(0.8e0 + 0.8e0)/2e0"
    val eSig = "(0.8e0 + 0.8e0)/2e0"
    val eCon = "(0.6e0 + 0.6e0)/2e0"
    val eGro = "(0.7e0 + 0.7e0)/2e0"
    val eDisc = s"(0.8e0 + (($ePersonaP) + ($eRel))/2e0)/2e0"
    val eDemoSigP = s"(0.8e0 + (($ePersonaP) + ($eSig))/2e0)/2e0"
    val eDemoConP = s"(0.6e0 + (($ePersonaP) + ($eCon))/2e0)/2e0"
    val eDemoGroP = s"(0.7e0 + (($ePersonaP) + ($eGro))/2e0)/2e0"
    // ... and without a person: no discusses edge, persona mean over 3
    val eDemoSigN = s"(0.8e0 + (($oPersona) + ($eSig))/2e0)/2e0"
    val eDemoConN = s"(0.6e0 + (($oPersona) + ($eCon))/2e0)/2e0"
    val eDemoGroN = s"(0.7e0 + (($oPersona) + ($eGro))/2e0)/2e0"
    s"""WITH $kgDocsCtes,
       pat AS (SELECT * FROM (VALUES
           ('financial', false, CAST(NULL AS BOOLEAN), 'person', 'demonstrates', 'Certainty', $fDemoCert),
           ('financial', false, NULL, 'person', 'demonstrates', 'Growth', $fDemoGrow),
           ('financial', false, NULL, 'Certainty', 'influences', 'Strategic planner', $fInfl),
           ('financial', false, NULL, 'Certainty', 'influences', 'Risk manager', $fInfl),
           ('interview', false, NULL, 'person', 'demonstrates', 'Significance', $oDemoSig),
           ('interview', false, NULL, 'person', 'demonstrates', 'Connection', $oDemoCon),
           ('interview', false, NULL, 'person', 'demonstrates', 'Growth', $oDemoGro),
           ('interview', false, NULL, 'Significance', 'influences', 'Leadership-oriented', $oInflSig),
           ('interview', false, NULL, 'Connection', 'influences', 'Collaborative', $oInflCon),
           ('interview', true, true, 'person', 'demonstrates', 'Significance', $eDemoSigP),
           ('interview', true, true, 'person', 'demonstrates', 'Connection', $eDemoConP),
           ('interview', true, true, 'person', 'demonstrates', 'Growth', $eDemoGroP),
           ('interview', true, true, 'person', 'discusses', 'Relationships', $eDisc),
           ('interview', true, false, 'person', 'demonstrates', 'Significance', $eDemoSigN),
           ('interview', true, false, 'person', 'demonstrates', 'Connection', $eDemoConN),
           ('interview', true, false, 'person', 'demonstrates', 'Growth', $eDemoGroN)
         ) t(route, ifile, person_gate, subj_kind, pred, obj, confidence))
       SELECT d.source AS customer_id,
              'https://corpus.local/customers/' || d.source || '/' ||
                (CASE WHEN d.ifile THEN 'interview_' ELSE 'doc_' END) ||
                CAST(d.doc_id AS VARCHAR) || '.html' AS url,
              CASE WHEN p.subj_kind = 'person' THEN d.persona ELSE p.subj_kind END AS subj,
              p.pred AS pred, p.obj AS obj, CAST(p.confidence AS DOUBLE) AS confidence
       FROM docs d JOIN pat p ON d.route = p.route AND d.ifile = p.ifile
         AND (p.person_gate IS NULL OR p.person_gate = d.has_person)"""
  }

  /** Shared SimHash CTE chain for the q26/q36 oracles: per-token md5 votes →
    * 16-char hex reassembly, ending in `sh(doc_id, simhash)`.
    */
  /** Literal hyperplane rows for the LSH oracles — generated from
    * Similarity.hyperplane itself (one source of truth; no cross-engine
    * arithmetic to keep in sync). Rows: (t, j, vec DOUBLE[dim]).
    */
  private def planeValuesSql(dim: Int, planes: Int, tables: Int): String =
    (for { t <- 0 until tables; j <- 0 until planes } yield
      s"($t, $j, [" + graft.ops.Similarity.hyperplane(dim, t * planes + j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString(",") + "])").mkString(", ")

  /** Fixed-point IDCT constants for the q27 JPEG replay — generated from
    * Multimodal.idctK itself (one source of truth, like planeValuesSql).
    * idctK0 = K(0,·) (constant 2896); idctK1Sql = the K(1,x) list literal.
    */
  private def idctK0: Long = graft.ops.Multimodal.idctK(0, 0)
  private def idctK1Sql: String =
    (0 until 8).map(x => graft.ops.Multimodal.idctK(1, x)).mkString("[", ",", "]")
  // fixed-point YCbCr→RGB constants for the color-JPEG replay — same single
  // source of truth (Multimodal.yccToRgb)
  private def ycc: (Long, Long, Long, Long) = graft.ops.Multimodal.yccToRgb

  private def simhashOracleCtes: String = {
    val split = """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""
    def bit(j: Int) =
      s"(((strpos('0123456789abcdef', substr(m, ${16 - j / 4}, 1)) - 1) >> ${j % 4}) & 1)"
    val votes = (0 until 64)
      .map(j => s"sum(CASE WHEN ${bit(j)} = 1 THEN 1 ELSE -1 END) AS b$j").mkString(", ")
    def nib(n: Int) = {
      val v = (3 to 0 by -1)
        .map(k => s"(CASE WHEN coalesce(v.b${4 * n + k}, 0) > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($v) + 1, 1)"
    }
    val hexExpr = (15 to 0 by -1).map(nib).mkString(" || ")
    s"toks AS (SELECT doc_id, unnest($split) AS tok FROM documents), " +
      s"h AS (SELECT doc_id, md5(tok) AS m FROM toks), " +
      s"v AS (SELECT doc_id, $votes FROM h GROUP BY 1), " +
      s"sh AS (SELECT d.doc_id, $hexExpr AS simhash FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id)"
  }

  /** DuckDB-runnable oracle SQL per query (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         count(*) AS count_order
         FROM lineitem GROUP BY 1, 2""",

    "q02_region_revenue" ->
      """SELECT r_name, count(*) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1""",

    "q03_top_orders_per_segment" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
           SELECT c_mktsegment, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
           FROM orders JOIN customer ON o_custkey = c_custkey) q
         WHERE rnk <= 3""",

    "q04_customers_with_open_orders" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""",

    "q05_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",

    "q06_rollup_geo" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)""",

    // CUBE replay; GROUPING() bit order (first arg = MSB) matches Spark's
    // grouping_id() convention.
    "q82_cube_segments" ->
      """SELECT r_name, c_mktsegment, count(*) AS n_customers,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
         CAST(GROUPING(r_name, c_mktsegment) AS BIGINT) AS gid
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY CUBE(r_name, c_mktsegment)""",

    "q07_priority_setops" ->
      """SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
         EXCEPT
         SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderstatus = 'P'""",

    "q08_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
         count(*) AS n, min(value) AS min_value, max(value) AS max_value
         FROM events GROUP BY 1, 2""",

    "q09_latest_event_per_user" ->
      """SELECT user_id, event_id, ts, event_type FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM events) q
         WHERE rn = 1""",

    "q10_user_event_share" ->
      """SELECT user_id, count(*) AS n_events,
         round(count(*) * 100.0 / sum(count(*)) OVER (), 6) AS pct
         FROM events GROUP BY 1""",

    "q11_doc_stats" ->
      """SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS n_distinct,
         CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe_tokens,
         CAST(length(text) AS BIGINT) AS len_chars,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents""",

    "q12_exact_dedup" ->
      """SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate,
         count(*) OVER (PARTITION BY md5(text)) AS group_size
         FROM documents""",

    // Winnowing replay: 6-hex-char md5 gram hashes, window-of-4 rightmost
    // minima — identical integer arithmetic, so positions and values hash-
    // match exactly.
    "q47_winnowing_fingerprints" ->
      """WITH hs AS (SELECT doc_id,
           list_transform(generate_series(1, length(text) - 4), i ->
             (strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 1, 1))-1)*1048576+(strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 2, 1))-1)*65536+(strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 3, 1))-1)*4096+(strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 4, 1))-1)*256+(strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 5, 1))-1)*16+(strpos('0123456789abcdef', substr(md5(substr(text, i, 5)), 6, 1))-1)*1) AS h
           FROM documents),
         sel AS (SELECT doc_id,
           unnest(list_transform(generate_series(1, len(h) - 3), s ->
             {'pos': s + 4 - list_position(list_reverse(list_slice(h, s, s + 3)), list_min(list_slice(h, s, s + 3))),
              'fp': list_min(list_slice(h, s, s + 3))})) AS u
           FROM hs)
         SELECT DISTINCT doc_id, CAST(u.pos AS INTEGER) AS pos, CAST(u.fp AS BIGINT) AS fp FROM sel""",

    // Span dedup replay: same 10-token chunks, same md5, first occurrence =
    // lexicographic min of (doc_id, chunk_idx) as a struct in both engines.
    "q50_span_dedup" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         ch AS (SELECT doc_id, i AS chunk_idx,
                  array_to_string(l[(i-1)*10+1 : least(i*10, len(l))], ' ') AS chunk,
                  least(i*10, len(l)) - (i-1)*10 AS n_toks
                FROM tk, LATERAL (SELECT unnest(generate_series(1, CAST(ceil(len(l)/10.0) AS INT))) AS i)),
         fst AS (SELECT md5(chunk) AS h, min(struct_pack(d := doc_id, i := chunk_idx)) AS f FROM ch GROUP BY 1),
         agg AS (SELECT c.doc_id, count(*) AS n_chunks,
                   CAST(sum(CASE WHEN c.doc_id = struct_extract(f.f, 'd') AND c.chunk_idx = struct_extract(f.f, 'i') THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
                   CAST(sum(CASE WHEN c.doc_id = struct_extract(f.f, 'd') AND c.chunk_idx = struct_extract(f.f, 'i') THEN 0 ELSE c.n_toks END) AS BIGINT) AS n_tokens_removed
                 FROM ch c JOIN fst f ON md5(c.chunk) = f.h GROUP BY 1)
         SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
                coalesce(n_dup_chunks, 0) AS n_dup_chunks,
                coalesce(n_tokens_removed, 0) AS n_tokens_removed
         FROM documents d LEFT JOIN agg USING (doc_id)""",

    "q51_gopher_quality" -> {
      val sw = TextOps.langStopwords.toMap.apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '') AS l FROM documents),
         st AS (SELECT doc_id,
                  CAST(len(l) AS BIGINT) AS n_tokens,
                  CAST(length(array_to_string(l, '')) AS BIGINT) AS tok_chars,
                  CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
                  CAST(len(list_intersect(list_distinct(l), $sw)) AS BIGINT) AS n_stopwords
                FROM tk),
         r AS (SELECT doc_id, n_tokens,
                 round(CASE WHEN n_tokens > 0 THEN tok_chars * 1.0 / n_tokens ELSE 0.0 END, 6) AS mean_word_len,
                 round(CASE WHEN n_tokens > 0 THEN n_alpha * 1.0 / n_tokens ELSE 0.0 END, 6) AS alpha_frac,
                 n_stopwords FROM st)
         SELECT doc_id, n_tokens, mean_word_len, alpha_frac, n_stopwords,
           n_tokens >= 50 AND n_tokens <= 100000 AS tokens_ok,
           mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS mwl_ok,
           alpha_frac >= 0.8 AS alpha_ok,
           n_stopwords >= 2 AS stop_ok,
           (n_tokens >= 50 AND n_tokens <= 100000) AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND alpha_frac >= 0.8 AND n_stopwords >= 2 AS keep
         FROM r"""
    },

    "q52_boilerplate_spans" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT DISTINCT doc_id, source, array_to_string(l[i : i+1], ' ') AS s
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) WHERE len(l) >= 2),
         gs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
         fr AS (SELECT source, s, count(*) AS c FROM sp GROUP BY 1, 2),
         bo AS (SELECT f.source, f.s FROM fr f JOIN gs USING (source)
                WHERE c >= 2 AND c * 1.0 / n_docs >= 0.2),
         agg AS (SELECT sp.doc_id, count(*) AS n_spans,
                   CAST(sum(CASE WHEN bo.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
                 FROM sp LEFT JOIN bo ON sp.source = bo.source AND sp.s = bo.s GROUP BY 1)
         SELECT d.doc_id, coalesce(n_spans, 0) AS n_spans,
                coalesce(n_boiler, 0) AS n_boiler_spans,
                round(coalesce(n_boiler * 1.0 / n_spans, 0.0), 6) AS boiler_frac
         FROM documents d LEFT JOIN agg USING (doc_id)""",

    "q53_unigram_logprob" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok FROM tk),
         v AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM v),
         agg AS (SELECT doc_id, count(*) AS n_tokens,
                   round(avg(log10(c * 1.0 / t)), 6) AS avg_logprob
                 FROM toks CROSS JOIN tot JOIN v USING (tok) GROUP BY 1)
         SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens, avg_logprob
         FROM documents d LEFT JOIN agg USING (doc_id)""",

    // PageRank replay: the 10 power iterations unrolled as generated CTEs —
    // identical init, teleport (written as (1.0 - 0.85), matching the
    // engine's (1.0 - d) double arithmetic), dangling redistribution, and
    // final 6dp rounding. Every CTE is MATERIALIZED: each iteration
    // references its predecessor twice (inflow + dangling mass), so inlined
    // CTEs would expand 2^10 copies of the base scans and blow the fd limit.
    "q54_pagerank" -> {
      val edgeSql =
        """SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16)
           FROM customer JOIN nation ON c_nationkey = n_nationkey"""
      val iterCtes = (1 to 10).map { i =>
        s"""pr$i AS MATERIALIZED (
           SELECT nodes.id,
                  ((1.0 - 0.85) / nn.n) + 0.85 * (coalesce(inf.inflow, 0.0) + dg.dm / nn.n) AS r
           FROM nodes CROSS JOIN nn
           LEFT JOIN (SELECT e.dst AS id, sum(p.r / od.odeg) AS inflow
                      FROM e JOIN pr${i - 1} p ON e.src = p.id
                             JOIN od ON e.src = od.src GROUP BY 1) inf ON nodes.id = inf.id
           CROSS JOIN (SELECT coalesce(sum(p.r), 0.0) AS dm
                       FROM pr${i - 1} p LEFT JOIN od ON p.id = od.src
                       WHERE od.src IS NULL) dg)"""
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED ($edgeSql),
         nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         od AS MATERIALIZED (SELECT src, count(*) AS odeg FROM e GROUP BY 1),
         pr0 AS MATERIALIZED (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         $iterCtes
         SELECT id AS node_id, round(r, 6) AS rank FROM pr10"""
    },

    // Triangle/clustering replay over the co-mention graph: q37's mention
    // CTEs → same-doc surface pairs (a<b distinct) → naive 3-way wedge
    // join (the engine's degree-oriented join is count-equivalent).
    "q63_triangle_stats" ->
      """WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         tt AS (SELECT doc_id,
           array_to_string(list_transform(l, (x, i) ->
             CASE WHEN i <= 2 OR (i - 1) % 7 = 0 THEN upper(substr(x, 1, 1)) || substr(x, 2) ELSE x END), ' ') AS body
           FROM tk),
         caps AS (SELECT doc_id,
           list_slice(regexp_extract_all(body, '\b[A-Z][a-z]+( [A-Z][a-z]+)*\b'), 1, 10) AS m FROM tt),
         m0 AS (SELECT doc_id, unnest(m) AS surface FROM caps),
         men AS (SELECT DISTINCT doc_id, surface FROM m0),
         e AS (SELECT DISTINCT a.surface AS a, b.surface AS b
               FROM men a JOIN men b ON a.doc_id = b.doc_id AND a.surface < b.surface),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
                 FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM e e1 JOIN e e2 ON e1.b = e2.a
                           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         pn AS (SELECT n, CAST(count(*) AS BIGINT) AS triangles
                FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
                GROUP BY 1)
         SELECT deg.n AS node, deg.degree,
                coalesce(pn.triangles, 0) AS triangles,
                round(CASE WHEN deg.degree >= 2
                      THEN (2.0 * coalesce(pn.triangles, 0)) / (deg.degree * (deg.degree - 1))
                      ELSE 0.0 END, 6) AS clustering
         FROM deg LEFT JOIN pn ON deg.n = pn.n""",

    // k-hop replay: q19's edge CTE symmetrized, bounded recursive closure
    // from the ASIA region node, dist = min depth.
    "q64_khop" ->
      """WITH RECURSIVE e AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16)
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         ed AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         reach(id, d) AS (SELECT 'node_' || substr(sha256('tpch:region:ASIA'), 1, 16), 0
                          UNION SELECT ed.dst, r.d + 1 FROM ed JOIN reach r ON ed.src = r.id
                          WHERE r.d < 4)
         SELECT id AS node_id, CAST(min(d) AS BIGINT) AS dist FROM reach GROUP BY 1""",

    // Weighted-SSSP replay: q19's edge CTE with the same hash-derived
    // weights, symmetrized, bounded weighted recursive closure (h counts
    // edges; d accumulates exact BIGINT weight), dist = min d.
    "q77_weighted_sssp" ->
      """WITH RECURSIVE e0 AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst,
                  'part_of' AS rel
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16),
                  'located_in'
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         ew AS (SELECT src, dst,
                  CAST(strpos('0123456789abcdef',
                    substr(sha256('tpch:' || src || ':' || dst || ':' || rel), 1, 1)) AS BIGINT) AS w
                FROM e0),
         ed AS (SELECT DISTINCT * FROM (SELECT src, dst, w FROM ew UNION ALL SELECT dst, src, w FROM ew)),
         reach(id, d, h) AS (
           SELECT 'node_' || substr(sha256('tpch:region:ASIA'), 1, 16), CAST(0 AS BIGINT), 0
           UNION
           SELECT ed.dst, r.d + ed.w, r.h + 1 FROM ed JOIN reach r ON ed.src = r.id WHERE r.h < 4)
         SELECT id AS node_id, CAST(min(d) AS BIGINT) AS dist FROM reach GROUP BY 1""",

    // PMI replay: identical double cast/div/mul tree so the rounded value
    // is bit-identical (DuckDB sum() yields HUGEINT and bare 1.0 is
    // DECIMAL — both must be cast to DOUBLE explicitly).
    "q65_pmi_collocations" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok FROM tk),
         uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
         bi0 AS (SELECT l[i] AS x, l[i+1] AS y
                 FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i)
                 WHERE len(l) >= 2),
         bi AS (SELECT x, y, count(*) AS c_xy FROM bi0 GROUP BY 1, 2),
         tb AS (SELECT sum(c_xy) AS bb FROM bi),
         tn AS (SELECT sum(c) AS nn FROM uni)
         SELECT b.x, b.y, b.c_xy,
                round(ln((CAST(b.c_xy AS DOUBLE) / CAST(bb AS DOUBLE)) /
                  ((CAST(cx.c AS DOUBLE) / CAST(nn AS DOUBLE)) *
                   (CAST(cy.c AS DOUBLE) / CAST(nn AS DOUBLE)))), 6) AS pmi
         FROM bi b JOIN uni cx ON b.x = cx.tok JOIN uni cy ON b.y = cy.tok
         CROSS JOIN tb CROSS JOIN tn
         WHERE b.c_xy >= 5""",

    // Integrity-audit replay: identical corruption plant over the q18/q19
    // CTEs, then the six checks as scalar aggregates.
    "q76_integrity_audit" ->
      """WITH nodes0 AS (
           SELECT 'node_' || substr(sha256('tpch:' || node_type || ':' || content), 1, 16) AS node_id,
                  node_type, content
           FROM (SELECT 'region' AS node_type, r_name AS content FROM region
                 UNION ALL SELECT 'nation', n_name FROM nation
                 UNION ALL SELECT 'customer', c_name FROM customer)),
         e0 AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src_id,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst_id,
                  'part_of' AS rel
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16),
                  'located_in'
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         edges0 AS (
           SELECT 'edge_' || substr(sha256('tpch:' || src_id || ':' || dst_id || ':' || rel), 1, 16) AS edge_id,
                  src_id, dst_id, rel FROM e0),
         nodes AS (SELECT * FROM nodes0 WHERE substr(node_id, 6, 1) <> 'a'
                   UNION ALL
                   SELECT node_id || '_e', node_type, '' FROM nodes0 WHERE substr(node_id, 6, 1) = 'd'
                   UNION ALL
                   SELECT * FROM nodes0 WHERE substr(node_id, 6, 1) = 'e'),
         edges AS (SELECT * FROM edges0
                   UNION ALL
                   SELECT * FROM edges0 WHERE substr(edge_id, 6, 1) = 'b'
                   UNION ALL
                   SELECT edge_id || '_sl', src_id, src_id, rel FROM edges0 WHERE substr(edge_id, 6, 1) = 'c'),
         ids AS (SELECT DISTINCT node_id FROM nodes)
         SELECT 'dangling_src' AS check_name, count(*) AS n FROM edges WHERE src_id NOT IN (SELECT node_id FROM ids)
         UNION ALL SELECT 'dangling_dst', count(*) FROM edges WHERE dst_id NOT IN (SELECT node_id FROM ids)
         UNION ALL SELECT 'duplicate_edge_id', count(*) - count(DISTINCT edge_id) FROM edges
         UNION ALL SELECT 'duplicate_node_id', count(*) - count(DISTINCT node_id) FROM nodes
         UNION ALL SELECT 'self_loop', count(*) FROM edges WHERE src_id = dst_id
         UNION ALL SELECT 'empty_content', count(*) FROM nodes WHERE content IS NULL OR content = ''""",

    // Brute-force all-pairs token-bigram Jaccard — proves the engine's
    // prefix filter loses NO pair (exact rational threshold test on both
    // sides; jaccard column is display-only, same long/long->double round).
    "q73_prefix_jaccard" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         bg AS (SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] AS gram
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i)
                WHERE len(l) >= 2),
         sizes AS (SELECT doc_id, count(*) AS n FROM bg GROUP BY 1),
         pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                   FROM bg x JOIN bg y ON x.gram = y.gram AND x.doc_id < y.doc_id
                   GROUP BY 1, 2)
         SELECT d1, d2, inter, s1.n AS n1, s2.n AS n2,
                round(inter / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE inter * 10 >= (s1.n + s2.n - inter) * 9""",

    // BM25 replay: contributions as one left-assoc double tree (all float
    // literals forced DOUBLE with e0 — bare 1.0 is DECIMAL in DuckDB),
    // rounded + DECIMAL(18,6)-cast BEFORE the sum so aggregation order
    // cannot move the final double.
    "q74_bm25_topk" ->
      """WITH qs(query_id, qtext) AS (VALUES
           ('qry0', 'spark table join'), ('qry1', 'window agg group'),
           ('qry2', 'stream batch vector')),
         tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok FROM tk),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
         qt AS (SELECT query_id, unnest(list_distinct(list_filter(regexp_split_to_array(qtext,'\s+'), x -> x <> ''))) AS tok FROM qs),
         sc AS (SELECT query_id, doc_id,
                  CAST(round(ln(1e0 + (CAST(n_docs AS DOUBLE) - df + 0.5e0) / (df + 0.5e0)) *
                    ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl * n_docs / CAST(sum_dl AS DOUBLE)))), 6)
                    AS DECIMAL(18,6)) AS contrib
                FROM tf JOIN dl USING (doc_id) JOIN df USING (tok) JOIN qt USING (tok) CROSS JOIN st),
         ag AS (SELECT query_id, doc_id, CAST(sum(contrib) AS DOUBLE) AS score FROM sc GROUP BY 1, 2),
         rk AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rnk FROM ag)
         SELECT query_id, doc_id, score, rnk FROM rk WHERE rnk <= 3""",

    "q55_tfidf_topk" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok FROM tk),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, tok, tf, df,
                  round(tf * (ln((n_docs + 1) * 1.0 / (df + 1)) + 1.0), 6) AS tfidf
                FROM tf JOIN df USING (tok) CROSS JOIN nd),
         rk AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS BIGINT) AS rnk FROM sc)
         SELECT doc_id, tok, tf, df, tfidf, rnk FROM rk WHERE rnk <= 3""",

    // HLL replay: same md5-derived buckets/ranks (string/CASE arithmetic,
    // no floats until the estimator), same alpha*m*m written left-assoc so
    // the double ops match the engine's folded literal bit for bit.
    "q56_hll_distinct" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT source, l[i] || ' ' || l[i+1] AS s
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) WHERE len(l) >= 2),
         h AS (SELECT source, md5(s) AS h, s FROM sp),
         r AS (SELECT source, s,
                 (strpos('0123456789abcdef', substr(h,1,1))-1)*16 + (strpos('0123456789abcdef', substr(h,2,1))-1) AS bucket,
                 CASE WHEN ltrim(substr(h,3,12), '0') = '' THEN 49
                      ELSE (12 - length(ltrim(substr(h,3,12), '0'))) * 4 +
                           CASE WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('8','9','a','b','c','d','e','f') THEN 0
                                WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('4','5','6','7') THEN 1
                                WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('2','3') THEN 2
                                ELSE 3 END + 1 END AS rho
               FROM h),
         regs AS (SELECT source, bucket, max(rho) AS mx FROM r GROUP BY 1, 2),
         est AS (SELECT source, count(*) AS n_registers, sum(power(2.0, -mx)) AS sum_present FROM regs GROUP BY 1),
         fin AS (SELECT source, n_registers,
                   (0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0) / (sum_present + CAST(256 - n_registers AS DOUBLE)) AS raw,
                   CAST(256 - n_registers AS DOUBLE) AS zeros
                 FROM est),
         ex AS (SELECT source, count(DISTINCT s) AS n_exact FROM r GROUP BY 1)
         SELECT ex.source, ex.n_exact, coalesce(n_registers, 0) AS n_registers,
           round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                 THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 6) AS hll_estimate
         FROM ex LEFT JOIN fin USING (source)""",

    // Merged-HLL oracle: the SINGLE-PASS global sketch (no per-source
    // level at all) — equality with the engine's shard-registers-then-
    // bucketwise-max path is the mergeability proof.
    "q79_hll_merged" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT source, l[i] || ' ' || l[i+1] AS s
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i) WHERE len(l) >= 2),
         h AS (SELECT source, md5(s) AS h, s FROM sp),
         r AS (SELECT source, s,
                 (strpos('0123456789abcdef', substr(h,1,1))-1)*16 + (strpos('0123456789abcdef', substr(h,2,1))-1) AS bucket,
                 CASE WHEN ltrim(substr(h,3,12), '0') = '' THEN 49
                      ELSE (12 - length(ltrim(substr(h,3,12), '0'))) * 4 +
                           CASE WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('8','9','a','b','c','d','e','f') THEN 0
                                WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('4','5','6','7') THEN 1
                                WHEN substr(ltrim(substr(h,3,12), '0'),1,1) IN ('2','3') THEN 2
                                ELSE 3 END + 1 END AS rho
               FROM h),
         regs AS (SELECT bucket, max(rho) AS mx FROM r GROUP BY 1),
         est AS (SELECT count(*) AS n_registers, sum(power(2.0, -mx)) AS sum_present FROM regs),
         fin AS (SELECT n_registers,
                   (0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0) / (sum_present + CAST(256 - n_registers AS DOUBLE)) AS raw,
                   CAST(256 - n_registers AS DOUBLE) AS zeros
                 FROM est),
         ns AS (SELECT count(DISTINCT source) AS n_shards FROM r),
         ex AS (SELECT count(DISTINCT s) AS n_exact FROM r)
         SELECT n_shards, n_exact, n_registers,
           round(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                 THEN 256.0 * ln(256.0 / zeros) ELSE raw END, 6) AS hll_estimate
         FROM ns, ex, fin""",

    // JSON-props replay via native regexp (no DuckDB json-extension
    // dependency): '' (no match) → NULL k, like from_json on malformed
    // input; count(k) in the avg denominator skips nulls in both engines.
    "q67_json_props" ->
      """WITH p AS (SELECT event_type,
           CASE WHEN regexp_extract(props, '"k": ([0-9]+)', 1) <> ''
                THEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) END AS k
           FROM events)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
                round(CAST(sum(k) AS DOUBLE) / CAST(count(k) AS DOUBLE), 6) AS avg_k
         FROM p GROUP BY 1""",

    // Count-min replay: same md5 nibble arithmetic as q56's bucket, 4 rows
    // × 64 buckets, counters from ALL bigram occurrences, probe = top-20
    // by exact (ties item asc), estimate = min over rows.
    "q66_cms_heavy_hitters" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT l[i] || ' ' || l[i+1] AS item
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i)
                WHERE len(l) >= 2),
         rs AS (SELECT unnest([0,1,2,3]) AS r),
         bk AS (SELECT item, r,
                 ((strpos('0123456789abcdef', substr(md5(item || ':' || CAST(r AS VARCHAR)),1,1))-1)*16 +
                  (strpos('0123456789abcdef', substr(md5(item || ':' || CAST(r AS VARCHAR)),2,1))-1)) % 64 AS bucket
                FROM sp CROSS JOIN rs),
         counters AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2),
         ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact FROM sp GROUP BY 1),
         top AS (SELECT item, exact FROM ex ORDER BY exact DESC, item ASC LIMIT 20),
         pr AS (SELECT t.item, t.exact, rs.r,
                 ((strpos('0123456789abcdef', substr(md5(t.item || ':' || CAST(rs.r AS VARCHAR)),1,1))-1)*16 +
                  (strpos('0123456789abcdef', substr(md5(t.item || ':' || CAST(rs.r AS VARCHAR)),2,1))-1)) % 64 AS bucket
                FROM top t CROSS JOIN rs)
         SELECT pr.item, pr.exact, min(c.c) AS cms_estimate
         FROM pr JOIN counters c ON pr.r = c.r AND pr.bucket = c.bucket
         GROUP BY 1, 2""",

    // Skyline oracle: the same distinct-x reduction (exact comparisons
    // only, so the formulations are trivially identical).
    "q98_pareto_skyline" ->
      """WITH m AS (SELECT event_type, value, max(ts) AS ymax FROM events GROUP BY 1, 2),
         s AS (SELECT event_type, value, ymax,
                 max(ymax) OVER (PARTITION BY event_type ORDER BY value DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
               FROM m),
         sky AS (SELECT event_type, value, ymax FROM s WHERE prev IS NULL OR ymax > prev)
         SELECT e.event_id, e.event_type, e.value, e.ts
         FROM events e JOIN sky ON e.event_type = sky.event_type
           AND e.value = sky.value AND e.ts = sky.ymax""",

    // Entropy oracle: identical ln-ratio log2 tree, identical round +
    // DECIMAL(18,9) per-term cast before the sum.
    "q99_token_entropy" ->
      """WITH tk AS (SELECT source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT source AS grp, unnest(l) AS tok FROM tk),
         tf AS (SELECT grp, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         tot AS (SELECT grp, CAST(sum(c) AS BIGINT) AS t, count(*) AS n_distinct FROM tf GROUP BY 1),
         term AS (SELECT tf.grp, tot.t, tot.n_distinct,
                    CAST(round(-(tf.c / tot.t) * (ln(tf.c / tot.t) / ln(2.0e0)), 9) AS DECIMAL(18,9)) AS h
                  FROM tf JOIN tot ON tf.grp = tot.grp)
         SELECT grp AS source, t AS n_tokens, n_distinct,
                CAST(sum(h) AS DOUBLE) AS entropy_bits
         FROM term GROUP BY 1, 2, 3""",

    // Novelty oracle: same first-seen-owner min aggregation.
    "q100_novelty_rate" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         g AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS g
               FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                           JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         fs AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY 1),
         sc AS (SELECT g.doc_id, count(*) AS n_grams,
                  CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                FROM g JOIN fs ON g.g = fs.g GROUP BY 1)
         SELECT d.doc_id, sc.n_grams, sc.n_novel,
                round(sc.n_novel / sc.n_grams, 6) AS novelty
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",

    // Hamming-join oracle: BRUTE-FORCE all equal-length pairs — proves the
    // deletion-neighborhood blocking loses nothing.
    "q94_hamming_join" ->
      """WITH n AS (SELECT c_custkey AS id, c_name AS name FROM customer),
         p AS (SELECT a.id AS d1, b.id AS d2, a.name AS n1, b.name AS n2
               FROM n a JOIN n b ON a.id < b.id AND len(a.name) = len(b.name)),
         h AS (SELECT d1, d2,
                 CAST(len(list_filter(range(1, len(n1) + 1),
                   i -> substr(n1, i, 1) <> substr(n2, i, 1))) AS BIGINT) AS hamming
               FROM p)
         SELECT d1, d2, hamming FROM h WHERE hamming <= 1""",

    // Exact-quantile replay: same rank windows, same ceil(q·n) pick.
    "q95_exact_quantiles" ->
      """WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v FROM events),
         r AS (SELECT grp, v,
                 CAST(row_number() OVER (PARTITION BY grp ORDER BY v ASC) AS BIGINT) AS rn,
                 count(*) OVER (PARTITION BY grp) AS n
               FROM v)
         SELECT grp AS event_type, n,
           min(CASE WHEN rn = CAST(ceil(0.5e0 * n) AS BIGINT) THEN v END) AS p50,
           min(CASE WHEN rn = CAST(ceil(0.9e0 * n) AS BIGINT) THEN v END) AS p90,
           min(CASE WHEN rn = CAST(ceil(0.99e0 * n) AS BIGINT) THEN v END) AS p99
         FROM r GROUP BY 1, 2""",

    // Diff oracle: same mutation lattice, same full-outer semantics; only
    // the EQUALITY VERDICTS must agree (each engine hashes its own
    // rendering, so digests never cross the engine boundary).
    "q96_table_diff" ->
      """WITH o AS (SELECT event_id, event_type, value FROM events),
         nn AS (SELECT event_id, event_type,
                  CASE WHEN event_id % 89 = 0 THEN value + 1.0 ELSE value END AS value
                FROM events WHERE event_id % 97 <> 0
                UNION ALL
                SELECT event_id + 1000000000, event_type, value FROM events WHERE event_id % 101 = 0),
         d AS (SELECT coalesce(nn.event_id, o.event_id) AS event_id,
                 CASE WHEN o.event_id IS NULL THEN 'added'
                      WHEN nn.event_id IS NULL THEN 'removed'
                      WHEN o.event_type <> nn.event_type OR o.value <> nn.value THEN 'changed'
                      ELSE 'unchanged' END AS status
               FROM o FULL OUTER JOIN nn ON o.event_id = nn.event_id)
         SELECT event_id, status FROM d WHERE status <> 'unchanged'""",

    // Interval-merge replay: identical running-max island windows on exact
    // integer microseconds.
    "q97_interval_merge" ->
      """WITH v AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e
                    FROM events WHERE event_type = 'view'),
         f AS (SELECT user_id, s, e,
                 CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w THEN 1 ELSE 0 END AS nw
               FROM v
               WINDOW w AS (PARTITION BY user_id ORDER BY s ASC, e ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         g AS (SELECT user_id, s, e,
                 sum(nw) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
               FROM f)
         SELECT user_id, min(s) AS island_start, max(e) AS island_end,
                count(*) AS n_intervals
         FROM g GROUP BY user_id, island""",

    // Z-order replay: the interleave unrolled term by term (exact BIGINT
    // bit arithmetic in both engines).
    "q90_zorder_key" -> {
      val terms = (0 until 16).map(j =>
        s"(((ub >> $j) & 1) << ${2 * j}) + (((hb >> $j) & 1) << ${2 * j + 1})").mkString(" + ")
      s"""WITH b AS (SELECT event_id,
             user_id % 65536 AS ub,
             CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) % 65536 AS hb
           FROM events)
         SELECT event_id, ub, hb, ($terms) AS zkey FROM b"""
    },

    // Robots replay: q68's host/path/domain regex snippets + the same rules
    // as a VALUES join, max-of-hits per URL.
    "q91_robots_filter" -> {
      val (auth, pth, hst) = (UrlOps.authorityRe, UrlOps.pathRe, UrlOps.hostRe)
      val suffixes = UrlOps.twoLevelSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Articles/' || CAST(doc_id AS VARCHAR) || '/?utm=x&a=1#top'
             WHEN 1 THEN 'https://cdn.' || source || '.example.co.uk:443/a/b/c?z=9&b=2&a=1'
             WHEN 2 THEN 'http://' || source || '.example.com/path/' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN 'HTTPS://Blog.' || source || '.Example.ORG:8443/x/'
             WHEN 4 THEN 'http://' || source || '.example.com:8080/?q=' || CAST(doc_id AS VARCHAR) || '#frag'
             ELSE 'https://' || source || '.example.com' END AS url
           FROM documents),
         p AS (SELECT doc_id, url,
                 regexp_extract(lower(regexp_extract(url, '$auth', 1)), '$hst', 1) AS host,
                 CASE WHEN regexp_replace(regexp_extract(url, '$pth', 1), '/+$$', '') = '' THEN '/'
                      ELSE regexp_replace(regexp_extract(url, '$pth', 1), '/+$$', '') END AS path
               FROM u),
         d AS (SELECT doc_id, url, path,
                 CASE WHEN len(string_split(host, '.')) < 2 THEN host
                      WHEN len(string_split(host, '.')) >= 3 AND
                           (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]) IN ($suffixes)
                      THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                      ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] END AS domain
               FROM p),
         rules(domain, prefix) AS (VALUES
           ('example.com', '/Articles'), ('example.co.uk', '/a/b'),
           ('example.org', '/x'), ('example.com', '/never')),
         j AS (SELECT d.doc_id, d.url, d.domain, d.path,
                 CASE WHEN r.prefix IS NOT NULL AND starts_with(d.path, r.prefix) THEN 1 ELSE 0 END AS hit
               FROM d LEFT JOIN rules r ON d.domain = r.domain)
         SELECT doc_id, url, domain, path, max(hit) = 1 AS blocked
         FROM j GROUP BY 1, 2, 3, 4"""
    },

    // Merged-CMS oracle: the SINGLE-PASS global counter table (no shard
    // level) — equality with the engine's shard-then-cellwise-sum path is
    // the mergeability proof; plus the shard count.
    "q92_cms_merged" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT source, l[i] || ' ' || l[i+1] AS item
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS i)
                WHERE len(l) >= 2),
         rs AS (SELECT unnest([0,1,2,3]) AS r),
         bk AS (SELECT item, r,
                 ((strpos('0123456789abcdef', substr(md5(item || ':' || CAST(r AS VARCHAR)),1,1))-1)*16 +
                  (strpos('0123456789abcdef', substr(md5(item || ':' || CAST(r AS VARCHAR)),2,1))-1)) % 64 AS bucket
                FROM sp CROSS JOIN rs),
         counters AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c FROM bk GROUP BY 1, 2),
         ns AS (SELECT count(DISTINCT source) AS n_shards FROM sp),
         ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact FROM sp GROUP BY 1),
         top AS (SELECT item, exact FROM ex ORDER BY exact DESC, item ASC LIMIT 20),
         pr AS (SELECT t.item, t.exact, rs.r,
                 ((strpos('0123456789abcdef', substr(md5(t.item || ':' || CAST(rs.r AS VARCHAR)),1,1))-1)*16 +
                  (strpos('0123456789abcdef', substr(md5(t.item || ':' || CAST(rs.r AS VARCHAR)),2,1))-1)) % 64 AS bucket
                FROM top t CROSS JOIN rs)
         SELECT pr.item, pr.exact, min(c.c) AS cms_estimate, max(ns.n_shards) AS n_shards
         FROM pr JOIN counters c ON pr.r = c.r AND pr.bucket = c.bucket CROSS JOIN ns
         GROUP BY 1, 2""",

    // Retention replay: integer week arithmetic end to end.
    "q93_retention_cohorts" ->
      """WITH a AS (SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS week FROM events),
         c AS (SELECT u, min(week) AS cohort_week FROM a GROUP BY 1)
         SELECT cohort_week,
                CAST(date_diff('day', cohort_week, week) / 7 AS BIGINT) AS week_offset,
                count(DISTINCT a.u) AS n_users
         FROM a JOIN c ON a.u = c.u
         GROUP BY 1, 2""",

    // URL-canonicalization replay: same lattice CASE, same capture-group
    // regex literals (interpolated from UrlOps — one source of truth),
    // same default-port/trailing-slash/query-sort rules in DuckDB list ops.
    "q68_url_canon" -> {
      val (sch, auth, pth, qry, prt, hst) = (UrlOps.schemeRe, UrlOps.authorityRe,
        UrlOps.pathRe, UrlOps.queryRe, UrlOps.portRe, UrlOps.hostRe)
      val suffixes = UrlOps.twoLevelSuffixes.map(s => s"'$s'").mkString(", ")
      s"""WITH u AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'HTTP://WWW.Example.COM:80/Articles/' || CAST(doc_id AS VARCHAR) || '/?utm=x&a=1#top'
             WHEN 1 THEN 'https://cdn.' || source || '.example.co.uk:443/a/b/c?z=9&b=2&a=1'
             WHEN 2 THEN 'http://' || source || '.example.com/path/' || CAST(doc_id AS VARCHAR)
             WHEN 3 THEN 'HTTPS://Blog.' || source || '.Example.ORG:8443/x/'
             WHEN 4 THEN 'http://' || source || '.example.com:8080/?q=' || CAST(doc_id AS VARCHAR) || '#frag'
             ELSE 'https://' || source || '.example.com' END AS url
           FROM documents),
         p AS (SELECT doc_id, url,
                 lower(regexp_extract(url, '$sch', 1)) AS s,
                 lower(regexp_extract(url, '$auth', 1)) AS auth,
                 regexp_extract(url, '$pth', 1) AS rawpath,
                 -- DuckDB regexp_extract: NULL (not '') on NO match
                 coalesce(regexp_extract(url, '$qry', 1), '') AS rawq
               FROM u),
         c AS (SELECT doc_id, url, s,
                 regexp_extract(auth, '$hst', 1) AS host,
                 coalesce(regexp_extract(auth, '$prt', 1), '') AS port,
                 CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
                      ELSE regexp_replace(rawpath, '/+$$', '') END AS path,
                 -- DuckDB array_to_string: NULL on an EMPTY list
                 coalesce(array_to_string(list_sort(list_filter(string_split(rawq, '&'), x -> x <> '')), '&'), '') AS qq
               FROM p)
         SELECT doc_id, url,
           s || '://' || host ||
           CASE WHEN port = '' OR (s = 'http' AND port = '80') OR (s = 'https' AND port = '443')
                THEN '' ELSE ':' || port END ||
           path || CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS canon_url,
           host,
           CASE WHEN len(string_split(host, '.')) < 2 THEN host
                WHEN len(string_split(host, '.')) >= 3 AND
                     (string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]) IN ($suffixes)
                THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
                ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1] END AS registered_domain
         FROM c"""
    },

    // Link-graph oracle: domains derived in CLOSED FORM from the plant
    // lattice (m%6 → known host → known registered domain) — fully
    // independent of the engine's regex-extract + parse path.
    "q78_link_graph" ->
      """WITH l1 AS (SELECT doc_id, (doc_id * 7 + 1) % 1000 AS tgt FROM documents),
         l2 AS (SELECT doc_id, (doc_id * 13 + 5) % 1000 AS tgt FROM documents WHERE doc_id % 3 = 0),
         links AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2),
         dom AS (SELECT doc_id,
                   CASE doc_id % 6 WHEN 1 THEN 'example.co.uk' WHEN 3 THEN 'example.org'
                        ELSE 'example.com' END AS src_domain,
                   CASE tgt % 6 WHEN 1 THEN 'example.co.uk' WHEN 3 THEN 'example.org'
                        ELSE 'example.com' END AS dst_domain
                 FROM links)
         SELECT src_domain, dst_domain, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
         FROM dom GROUP BY 1, 2""",

    // Salted-agg oracle: the PLAIN group-by — if the two-stage salted plan
    // changed any value, the hash check fails. DECIMAL sums keep the
    // double cast grouping-independent.
    "q81_salted_agg" ->
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
                CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS min_value,
                CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
         FROM events GROUP BY 1""",

    // Exact-k stratum sample replay: same md5 draw, same rank windows.
    "q80_stratum_topk" ->
      """WITH d AS (SELECT doc_id, source AS stratum,
                      md5('graft' || ':k:' || CAST(doc_id AS VARCHAR)) AS draw
                    FROM documents),
         rk AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY stratum ORDER BY draw ASC, doc_id ASC) AS BIGINT) AS rnk FROM d)
         SELECT doc_id, stratum, draw, rnk FROM rk WHERE rnk <= 5""",

    // Histogram-quantile replay: same global-bounds bucket arithmetic
    // ((v-lo)/(hi-lo)*256, floor, clamp 255), same running-sum pick of the
    // first bucket with cum >= q*n, same lower-edge estimate. All
    // comparisons on CAST(... AS DOUBLE) (DuckDB sum is HUGEINT and bare
    // decimals are DECIMAL).
    "q69_quantile_sketch" ->
      """WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v FROM events),
         bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM v),
         b AS (SELECT grp, CASE WHEN hi = lo THEN 0
                 ELSE CAST(least(floor((v - lo) / (hi - lo) * 256), 255.0) AS INT) END AS bucket
               FROM v, bounds),
         counters AS (SELECT grp, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         cum AS (SELECT grp, bucket, c,
                   sum(c) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
                   sum(c) OVER (PARTITION BY grp) AS n
                 FROM counters),
         picked AS (SELECT grp, CAST(n AS BIGINT) AS n,
                      min(CASE WHEN CAST(cum AS DOUBLE) >= CAST(0.5 AS DOUBLE) * CAST(n AS DOUBLE) THEN bucket END) AS b50,
                      min(CASE WHEN CAST(cum AS DOUBLE) >= CAST(0.9 AS DOUBLE) * CAST(n AS DOUBLE) THEN bucket END) AS b90,
                      min(CASE WHEN CAST(cum AS DOUBLE) >= CAST(0.99 AS DOUBLE) * CAST(n AS DOUBLE) THEN bucket END) AS b99
                    FROM cum GROUP BY 1, 2)
         SELECT grp, n,
                round(lo + b50 * (hi - lo) / 256, 6) AS p50,
                round(lo + b90 * (hi - lo) / 256, 6) AS p90,
                round(lo + b99 * (hi - lo) / 256, 6) AS p99
         FROM picked, bounds""",

    // Token-window replay: identical start sequence (0, 48, ... < n),
    // 1-based inclusive list slice clamps at the end like Spark's slice,
    // same space-joined md5 payload hash.
    "q70_token_windows" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         d AS (SELECT doc_id, l, len(l) AS n FROM tk WHERE len(l) > 0),
         w AS (SELECT doc_id, l, i AS start_tok
               FROM d, LATERAL (SELECT unnest(generate_series(0, n - 1, 48)) AS i))
         SELECT doc_id, CAST(start_tok // 48 AS BIGINT) AS win_idx,
                CAST(start_tok AS BIGINT) AS start_tok,
                CAST(len(l[start_tok + 1 : start_tok + 64]) AS BIGINT) AS win_tokens,
                md5(array_to_string(l[start_tok + 1 : start_tok + 64], ' ')) AS chunk_hash
         FROM w""",

    // Bloom replay: same md5 3-hex-nibble positions mod 512, k=3, bits as
    // a sorted distinct list, hit = all three probes present; in_set via
    // IN-subquery (the exact side the filter must never miss).
    "q71_bloom_membership" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         sp AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS s
                FROM tk, LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i)
                WHERE len(l) >= 2),
         block AS (SELECT DISTINCT s FROM sp WHERE doc_id % 101 = 0),
         ks AS (SELECT unnest([0, 1, 2]) AS i),
         bits AS (SELECT list_sort(list(DISTINCT
                    ((strpos('0123456789abcdef', substr(md5(s || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 256 +
                     (strpos('0123456789abcdef', substr(md5(s || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16 +
                     (strpos('0123456789abcdef', substr(md5(s || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1)) % 512)) AS bits
                  FROM block CROSS JOIN ks),
         probe AS (SELECT DISTINCT s AS item FROM sp),
         pr AS (SELECT item, i,
                  ((strpos('0123456789abcdef', substr(md5(item || ':' || CAST(i AS VARCHAR)), 1, 1)) - 1) * 256 +
                   (strpos('0123456789abcdef', substr(md5(item || ':' || CAST(i AS VARCHAR)), 2, 1)) - 1) * 16 +
                   (strpos('0123456789abcdef', substr(md5(item || ':' || CAST(i AS VARCHAR)), 3, 1)) - 1)) % 512 AS pos
                FROM probe CROSS JOIN ks)
         SELECT pr.item, bool_and(list_contains(bits.bits, pr.pos)) AS bloom_hit,
                (pr.item IN (SELECT s FROM block)) AS in_set
         FROM pr, bits GROUP BY pr.item, in_set""",

    // NFC replay: identical decomposed augmentation via chr() codepoints
    // (769=U+0301 acute, 778=U+030A ring, 776=U+0308 diaeresis,
    // 64257=U+FB01 fi-ligature); DuckDB nfc_normalize is an independent
    // UAX #15 implementation, and length() counts codepoints in both.
    "q72_nfc_normalize" ->
      """WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769)
                WHEN doc_id % 4 = 1 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
                WHEN doc_id % 4 = 2 THEN ' ' || chr(64257) || 'nal'
                ELSE '' END AS text
           FROM documents)
         SELECT doc_id, nfc_normalize(text) AS nfc,
                CAST(length(text) AS BIGINT) AS n_before,
                CAST(length(nfc_normalize(text)) AS BIGINT) AS n_after,
                (text <> nfc_normalize(text)) AS changed
         FROM aug""",

    // Contamination replay: identical 8-gram construction (distinct per
    // doc), eval = src0/src1, threshold 0.05.
    "q57_contamination" ->
      """WITH tk AS (SELECT doc_id, source, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         g AS (SELECT doc_id, source,
                 list_distinct(list_transform(generate_series(1, len(l)-7), i -> array_to_string(l[i:i+7], ' '))) AS grams
               FROM tk),
         ep AS (SELECT DISTINCT unnest(grams) AS gram, doc_id AS eval_doc FROM g WHERE source IN ('src0','src1')),
         tg AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g WHERE source NOT IN ('src0','src1')),
         agg AS (SELECT tg.doc_id, max(tg.n_grams) AS n_grams,
                   count(DISTINCT CASE WHEN ep.eval_doc IS NOT NULL THEN tg.gram END) AS n_overlap,
                   count(DISTINCT ep.eval_doc) AS n_eval_docs
                 FROM tg LEFT JOIN ep USING (gram) GROUP BY 1),
         base AS (SELECT doc_id FROM g WHERE source NOT IN ('src0','src1'))
         SELECT b.doc_id,
           CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(a.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(coalesce(a.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
           CASE WHEN coalesce(a.n_grams, 0) > 0
                THEN round(a.n_overlap * 1.0 / a.n_grams, 6) ELSE 0.0 END AS overlap_frac,
           (CASE WHEN coalesce(a.n_grams, 0) > 0
                 THEN round(a.n_overlap * 1.0 / a.n_grams, 6) ELSE 0.0 END) >= 0.05 AS contaminated
         FROM base b LEFT JOIN agg a USING (doc_id)""",

    // Stratified-sample replay: the md5 first-32-bit uniform draw written
    // as strpos nibble arithmetic (no hex-parse builtin needed), rates as
    // the same CASE table, 6dp-rounded u in the output.
    "q58_stratified_sample" -> {
      val hex = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(h, $j, 1))-1)*${1L << (4 * (8 - j))}").mkString(" + ")
      s"""WITH h AS (SELECT doc_id, source, md5('graft:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         u AS (SELECT doc_id, source, ($hex) / 4294967296.0 AS u FROM h)
         SELECT doc_id, source AS stratum,
           CAST(CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END AS DOUBLE) AS rate,
           round(u, 6) AS u6
         FROM u
         WHERE u < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END"""
    },

    // Weighted-sample replay: same md5 uniform, same ln(u)/w log-key
    // (rounded BEFORE ranking so a last-ulp ln difference cannot reorder),
    // same rank windows.
    "q88_weighted_sample" -> {
      val hex = (1 to 8).map(j =>
        s"(strpos('0123456789abcdef', substr(h, $j, 1))-1)*${1L << (4 * (8 - j))}").mkString(" + ")
      s"""WITH h AS (SELECT doc_id, source, n_chars, md5('graft:ws:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
         u AS (SELECT doc_id, source, n_chars, ($hex) / 4294967296.0 AS u FROM h),
         kk AS (SELECT doc_id, source AS stratum, CAST(n_chars AS BIGINT) AS weight,
                  round(ln(u) / n_chars, 6) AS skey FROM u),
         rk AS (SELECT *, CAST(row_number() OVER (
                  PARTITION BY stratum ORDER BY skey DESC, doc_id ASC) AS BIGINT) AS rnk FROM kk)
         SELECT doc_id, stratum, weight, skey, rnk FROM rk WHERE rnk <= 5"""
    },

    // As-of replay: DuckDB's NATIVE ASOF LEFT JOIN — an independent engine
    // implementation of point-in-time semantics, strict via `>`.
    // Top-k-aggregator oracle: the classic window formulation.
    "q87_topk_aggregator" ->
      """WITH rk AS (SELECT user_id, event_id, value, CAST(row_number() OVER (
           PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS BIGINT) AS rnk FROM events)
         SELECT user_id, rnk, value, event_id FROM rk WHERE rnk <= 3""",

    // Bloom-join oracle: the plain semi-join + aggregate.
    "q89_bloom_join" ->
      """SELECT user_id, count(*) AS n_events FROM events
         WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         GROUP BY 1""",

    // Funnel replay: per-step conditional mins chained on the previous
    // step's time, strictly-after semantics.
    "q83_funnel" ->
      """WITH ks AS (SELECT DISTINCT user_id FROM events),
         v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
         SELECT ks.user_id, t_view, t_click, t_purchase,
           CAST(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END +
                CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END +
                CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
         FROM ks LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""",

    // SCD2 replay: one lead window per key, deterministic tie-break.
    "q84_scd2_intervals" ->
      """SELECT user_id, event_id, ts AS valid_from, value,
                lead(ts) OVER w AS valid_to,
                lead(ts) OVER w IS NULL AS is_current
         FROM events WHERE event_type = 'view'
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""",

    // Phrase-search replay: the CLASSIC positional posting-list join —
    // independent of the engine's n-gram-posting formulation.
    "q85_phrase_search" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         hits AS (
           SELECT 'p0' AS phrase_id, a.doc_id
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           WHERE a.tok = 'table' AND b.tok = 'hash'
           UNION ALL
           SELECT 'p1', a.doc_id
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
           WHERE a.tok = 'customer' AND b.tok = 'join'
           UNION ALL
           SELECT 'p2', a.doc_id
           FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                       JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
           WHERE a.tok = 'slow' AND b.tok = 'hash' AND c.tok = 'batch')
         SELECT phrase_id, doc_id, count(*) AS n_occurrences FROM hits GROUP BY 1, 2""",

    // Anomaly replay: identical exact-integer window sums, identical
    // double tree for mean/variance/z.
    "q86_rate_anomalies" ->
      """WITH counts AS (SELECT date_trunc('hour', ts) AS hour, event_type AS grp, count(*) AS n
                         FROM events GROUP BY 1, 2),
         w AS (SELECT hour, grp, n,
                 CAST(count(n) OVER win AS BIGINT) AS m,
                 CAST(sum(n) OVER win AS BIGINT) AS s,
                 CAST(sum(n * n) OVER win AS BIGINT) AS ss
               FROM counts
               WINDOW win AS (PARTITION BY grp ORDER BY hour ASC ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
         v AS (SELECT hour, grp, n, m,
                 CAST(s AS DOUBLE) / m AS mean,
                 CASE WHEN m > 1 THEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / m) / (m - 1) END AS variance
               FROM w),
         z AS (SELECT hour, grp, n, m,
                 CASE WHEN variance > 0 THEN round((n - mean) / sqrt(variance), 6) END AS z
               FROM v)
         SELECT hour, grp AS event_type, n, m AS n_window, z,
                coalesce(abs(z) > 2.0, false) AS is_anomaly
         FROM z""",

    "q60_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
         SELECT p.user_id, p.event_id, p.ts, p.value,
                c.ts AS last_click_ts, c.value AS last_click_value,
                epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts > c.ts""",

    // Range-join replay: the plain theta-join DuckDB runs as an IEJoin —
    // independent of the engine's bucketed plan.
    "q61_range_join" ->
      """WITH err AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
         v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
         p AS (SELECT err.event_id, v.value FROM err JOIN v ON err.user_id = v.user_id
                 AND epoch_us(v.ts) - epoch_us(err.ts) > 0
                 AND epoch_us(v.ts) - epoch_us(err.ts) <= 600000000),
         a AS (SELECT event_id, count(*) AS n_views, round(sum(value), 6) AS sum_view_value
               FROM p GROUP BY 1)
         SELECT err.event_id, err.user_id, err.ts,
                CAST(coalesce(a.n_views, 0) AS BIGINT) AS n_views, a.sum_view_value
         FROM err LEFT JOIN a USING (event_id)""",

    // PII replay: augmentation lattice + the SAME regex literals (generated
    // from the engine constants — one source of truth), counts on the
    // original augmented text, 'g'-flag replacements in the same order.
    "q59_pii_scrub" -> {
      val (em, ip, ph) = (TextOps.emailRe, TextOps.ipv4Re, TextOps.phoneRe)
      s"""WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
           CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END ||
           CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END AS text
         FROM documents),
         c AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$em')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
                 CAST(len(regexp_extract_all(text, '$ph')) AS BIGINT) AS n_phones,
                 regexp_replace(regexp_replace(regexp_replace(text,
                   '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS scrubbed
               FROM aug)
         SELECT doc_id, n_emails, n_ips, n_phones, scrubbed,
                (n_emails + n_ips + n_phones = 0) AS pii_free FROM c"""
    },

    "q13_langid" -> {
      def occ(w: String) =
        s"CAST((length(' '||text||' ') - length(replace(' '||text||' ', ' $w ', ''))) / ${w.length + 2} AS BIGINT)"
      val swVotes = TextOps.langStopwords.map { case (l, ws) =>
        s"(${ws.map(occ).mkString(" + ")}) AS ${l}_votes"
      }
      // CJK char-class votes: same \x{....} class literals RE2 accepts
      val ccVotes = TextOps.langCharClasses.map { case (l, ranges) =>
        val klass = ranges.map { case (lo, hi) => f"\\x{$lo%04x}-\\x{$hi%04x}" }.mkString("[", "", "]")
        s"CAST(length(text) - length(regexp_replace(text, '$klass', '', 'g')) AS BIGINT) AS ${l}_votes"
      }
      val votes = (swVotes ++ ccVotes).mkString(", ")
      val guess = {
        val vexprs = TextOps.langStopwords.map { case (l, _) => s"${l}_votes" }
        val maxv = s"greatest(${vexprs.mkString(", ")})"
        val swCases = TextOps.langStopwords.map { case (l, _) =>
          s"WHEN $maxv > 0 AND ${l}_votes = $maxv THEN '$l'"
        }.mkString(" ")
        "CASE WHEN ko_votes > 0 THEN 'ko' WHEN ja_votes > 0 THEN 'ja' WHEN zh_votes > 0 THEN 'zh' " +
          s"$swCases ELSE 'und' END AS lang_guess"
      }
      val voteNames = (TextOps.langStopwords.map(_._1) ++ TextOps.langCharClasses.map(_._1))
        .map(l => s"${l}_votes").mkString(", ")
      s"SELECT doc_id, $voteNames, $guess FROM (SELECT doc_id, $votes FROM documents) v"
    },

    "q14_quality" ->
      """SELECT doc_id, round(
           0.4 * least(CAST(len(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS DOUBLE) / 100.0, 1.0)
         + 0.3 * (CASE WHEN len(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) > 0
             THEN CAST(len(list_distinct(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> ''))) AS DOUBLE)
                / CAST(len(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS DOUBLE) ELSE 0.0 END)
         + 0.3 * (1.0 - CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END), 6) AS quality
         FROM documents""",

    "q15_minhash" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed)
         SELECT doc_id, CAST(seed AS BIGINT) AS seed,
                min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
         FROM sh CROSS JOIN seeds GROUP BY 1, 2""",

    "q16_neardup_pairs" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         ds AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                   FROM ds x JOIN ds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                   GROUP BY 1, 2),
         sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1)
         SELECT d1, d2, round(inter / (s1.n + s2.n - inter), 6) AS jaccard
         FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8""",

    "q17_lsh_candidates" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band,
                          md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2)
         SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
         WHERE a.doc_id < b.doc_id""",

    "q18_kg_nodes" ->
      """SELECT 'node_' || substr(sha256('tpch:' || node_type || ':' || content), 1, 16) AS node_id,
                node_type, content
         FROM (SELECT 'region' AS node_type, r_name AS content FROM region
               UNION ALL SELECT 'nation', n_name FROM nation
               UNION ALL SELECT 'customer', c_name FROM customer)""",

    "q19_kg_edges" ->
      """WITH e AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src_id,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst_id,
                  'part_of' AS rel
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16),
                  'located_in'
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
         SELECT 'edge_' || substr(sha256('tpch:' || src_id || ':' || dst_id || ':' || rel), 1, 16) AS edge_id,
                src_id, dst_id, rel FROM e""",

    "q20_kg_degree" ->
      """WITH e AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src_id,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst_id
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16)
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         ends AS (SELECT src_id AS node_id FROM e UNION ALL SELECT dst_id FROM e)
         SELECT node_id, count(*) AS degree FROM ends GROUP BY 1""",

    "q21_kg_central" ->
      """WITH nodes AS (
           SELECT 'node_' || substr(sha256('tpch:' || node_type || ':' || content), 1, 16) AS node_id,
                  node_type, content
           FROM (SELECT 'region' AS node_type, r_name AS content FROM region
                 UNION ALL SELECT 'nation', n_name FROM nation
                 UNION ALL SELECT 'customer', c_name FROM customer)),
         e AS (
           SELECT 'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16) AS src_id,
                  'node_' || substr(sha256('tpch:region:' || r_name), 1, 16) AS dst_id
           FROM nation JOIN region ON n_regionkey = r_regionkey
           UNION ALL
           SELECT 'node_' || substr(sha256('tpch:customer:' || c_name), 1, 16),
                  'node_' || substr(sha256('tpch:nation:' || n_name), 1, 16)
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         ends AS (SELECT src_id AS node_id FROM e UNION ALL SELECT dst_id FROM e),
         deg AS (SELECT node_id, count(*) AS degree FROM ends GROUP BY 1)
         SELECT d.node_id, n.content, n.node_type, d.degree
         FROM deg d JOIN nodes n ON d.node_id = n.node_id
         ORDER BY d.degree DESC, d.node_id ASC LIMIT 3""",

    "q22_term_histogram" ->
      """SELECT tok, count(*) AS cnt FROM (
           SELECT unnest(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS tok
           FROM documents) t
         GROUP BY 1 ORDER BY cnt DESC, tok ASC LIMIT 20""",

    "q23_ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qemb
                    FROM embeddings WHERE vec_id < 8),
         s AS (SELECT q.qid, e.vec_id AS nid,
                      round(list_cosine_similarity(q.qemb, CAST(e.embedding AS DOUBLE[])), 6) AS cos_sim
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS BIGINT) AS rnk FROM s)
         SELECT qid, nid, cos_sim, rnk FROM r WHERE rnk <= 5""",

    "q29_needs_keyword_scores" -> {
      val wc = "CAST(len(list_filter(regexp_split_to_array(text,'\\s+'), x -> x <> '')) AS DOUBLE)"
      def occ(k: String) =
        s"CAST((length(lower(text)) - length(replace(lower(text), '$k', ''))) / ${k.length} AS DOUBLE)"
      val cols = graft.needs.Needs.needOrder.map { need =>
        val (kws, phrases, clues) = graft.needs.Needs.indicators(need)
        val kw = kws.map(occ).mkString(" + ")
        val ph = phrases.map(p => s"(CASE WHEN contains(lower(text), '$p') THEN 1 ELSE 0 END)").mkString(" + ")
        val cl = clues.map(c => s"(CASE WHEN contains(lower(text), '$c') THEN 1 ELSE 0 END)").mkString(" + ")
        s"round(least(least(($kw) / greatest($wc / 100.0, 1.0), 1.0) * 0.4" +
          s" + least(CAST($ph AS DOUBLE) / ${phrases.size}, 1.0) * 0.3" +
          s" + least(CAST($cl AS DOUBLE) / ${clues.size}, 1.0) * 0.3, 1.0), 6) AS ${need}_score"
      }
      s"SELECT doc_id, ${cols.mkString(", ")} FROM documents"
    },

    "q30_argmax_dedup" ->
      """SELECT user_id, event_type, event_id, value FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             ORDER BY value DESC, event_id ASC) AS rn FROM events) q
         WHERE rn = 1""",

    "q31_cooccurrence" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         d AS (SELECT a.doc_id, CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS min_dist
               FROM toks a JOIN toks b ON a.doc_id = b.doc_id
               WHERE a.tok = 'spark' AND b.tok = 'data' GROUP BY 1)
         SELECT doc_id, min_dist,
                CASE WHEN min_dist <= 5 THEN 0.9 WHEN min_dist <= 20 THEN 0.7
                     WHEN min_dist <= 50 THEN 0.5 ELSE 0.3 END AS strength
         FROM d WHERE (CASE WHEN min_dist <= 5 THEN 0.9 WHEN min_dist <= 20 THEN 0.7
                     WHEN min_dist <= 50 THEN 0.5 ELSE 0.3 END) > 0.4""",

    "q32_ordered_caps" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk)
         SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok FROM toks WHERE pos <= 5""",

    // Text-derived expectation (round-3 hardening): subjects come from the
    // document TEXT (derivedPersona), the discusses-topic row is gated on
    // the F2 regex NER actually finding a person in the derived body, and
    // english docs split by doc_id parity between interview-format and
    // standard relationship rules — so the driver hash covers front-matter
    // parse → routing → NER → theme derivation → per-route needs → strict
    // thresholds, per document, not per-route constants.
    "q33_graph_metrics" ->
      s"""SELECT customer_id, count(*) AS total_triples,
                round(avg(confidence), 6) AS avg_confidence,
                count(DISTINCT pred) AS n_preds,
                max(pred) AS most_common_relationship
         FROM ($kgTriplesOracleSql) trip GROUP BY 1""",

    "q25_kg_pipeline_triples" -> kgTriplesOracleSql,

    "q39_v1_smoothed_triples" -> kgV1TriplesOracleSql,

    // floor(epoch(...)) everywhere: Spark's unix_timestamp truncates to
    // whole seconds while DuckDB's epoch() keeps the microsecond fraction —
    // the explicit floor makes both engines compare/subtract the same values
    "q41_sessionization" ->
      """WITH o AS (SELECT user_id, event_id, ts,
           CAST(floor(epoch(ts)) AS BIGINT) -
             CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap_s
         FROM events),
         s AS (SELECT user_id, ts,
           sum(CASE WHEN gap_s > 43200 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
         FROM o)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
                min(ts) AS start_ts, max(ts) AS end_ts,
                CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
         FROM s GROUP BY 1, 2""",

    "q40_repetition_stats" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         base AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
                    CAST(length(array_to_string(l, '')) AS BIGINT) AS tok_chars, l FROM tk),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         bi AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bg
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
         cnt AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
         st AS (SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct, max(c) AS top_c
                FROM cnt GROUP BY 1)
         SELECT b.doc_id,
                CAST(coalesce(st.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                round(coalesce(CAST(st.n_distinct AS DOUBLE) / st.n_bigrams, 0e0), 6) AS distinct_bigram_ratio,
                round(coalesce(CAST(st.top_c AS DOUBLE) / st.n_bigrams, 0e0), 6) AS top_bigram_share,
                round(CASE WHEN b.n_tokens > 0 THEN CAST(b.tok_chars AS DOUBLE) / b.n_tokens ELSE 0e0 END, 6) AS mean_word_len
         FROM base b LEFT JOIN st ON b.doc_id = st.doc_id""",

    // LSH-verified near-dup (the 100 TB dedup shape): candidates from the
    // q17 band join, verified with the q16 exact Jaccard — composed here so
    // the scale path itself is driver-checked, not just its ingredients.
    "q34_neardup_lsh_verified" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                  WHERE a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.d1, c.d2, count(*) AS inter
                   FROM cand c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2 AND y.shingle = x.shingle
                   GROUP BY 1, 2)
         SELECT d1, d2, round(inter / (s1.n + s2.n - inter), 6) AS jaccard
         FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8""",

    // q34's banding replayed per doc (bands are per-document, so computing
    // them over the union equals the engine's per-side computation); the
    // candidate join keeps only odd(new)×even(old) pairs.
    "q75_incremental_neardup" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
                  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.new_id, c.old_id, count(*) AS inter
                   FROM cand c JOIN sh x ON x.doc_id = c.new_id
                               JOIN sh y ON y.doc_id = c.old_id AND y.shingle = x.shingle
                   GROUP BY 1, 2)
         SELECT new_id, old_id, round(inter / (s1.n + s2.n - inter), 6) AS jaccard
         FROM inter JOIN sizes s1 ON new_id = s1.doc_id JOIN sizes s2 ON old_id = s2.doc_id
         WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8""",

    // q34's pipeline with the guardrail count-filter replayed: buckets with
    // more than maxBucket(=2) members are excluded from candidate
    // generation, so the two size-3 buckets' pairs must be absent.
    "q42_neardup_guardrail" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2),
         keep AS (SELECT band, band_sig FROM bands GROUP BY 1, 2 HAVING count(*) <= 2),
         kb AS (SELECT b.* FROM bands b JOIN keep k ON b.band = k.band AND b.band_sig = k.band_sig),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM kb a JOIN kb b ON a.band = b.band AND a.band_sig = b.band_sig
                  WHERE a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.d1, c.d2, count(*) AS inter
                   FROM cand c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2 AND y.shingle = x.shingle
                   GROUP BY 1, 2)
         SELECT d1, d2, round(inter / (s1.n + s2.n - inter), 6) AS jaccard
         FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
         WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8""",

    // 5th dedup family replay: hashed-TF vectors (md5 2-hex-char bucket
    // mod 64), q24-style hyperplane buckets over them, pair candidates per
    // (table, bucket), exact cosine >= 0.95 rounded 6dp.
    "q44_embedding_neardup" ->
      ("""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS tok FROM documents),
         bkt AS (SELECT doc_id,
                  ((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*16 +
                   (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)) % 64 AS bucket
                 FROM toks),
         cnts AS (SELECT doc_id, bucket, count(*) AS cnt FROM bkt GROUP BY 1,2),
         mm AS (SELECT doc_id, map_from_entries(list_transform(list_zip(list(bucket), list(cnt)), z -> {'k': z[1], 'v': z[2]})) AS mp
               FROM cnts GROUP BY 1),
         emb AS (SELECT doc_id, list_transform(generate_series(0,63), j -> CAST(coalesce(mp[j][1], 0) AS DOUBLE)) AS emb FROM mm),
         pl AS (SELECT * FROM (VALUES """ + planeValuesSql(64, 12, 4) + """) AS v(t, j, vec)),
         sv AS (SELECT e.doc_id, pl.t, pl.j,
                 list_sum(list_transform(e.emb, (x, i) -> x * pl.vec[i])) AS s
               FROM emb e CROSS JOIN pl),
         bk AS (SELECT doc_id, t, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
                FROM sv GROUP BY 1, 2),
         keep AS (SELECT t, bucket FROM bk GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 512),
         kb AS (SELECT b.* FROM bk b JOIN keep k ON b.t = k.t AND b.bucket = k.bucket),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM kb a JOIN kb b ON a.t = b.t AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         sc AS (SELECT c.d1, c.d2, round(list_cosine_similarity(ea.emb, eb.emb), 6) AS cos_sim
                FROM cand c JOIN emb ea ON ea.doc_id = c.d1 JOIN emb eb ON eb.doc_id = c.d2)
         SELECT d1, d2, cos_sim FROM sc WHERE cos_sim >= 0.95"""),

    // The embedding family's drop accounting (q43 analog): same hashed-TF +
    // hyperplane-bucket CTEs as q44, then every (table, bucket) group whose
    // member count exceeds the binding cap (16), with its size.
    "q49_embedding_dropped" ->
      ("""WITH toks AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '')) AS tok FROM documents),
         bkt AS (SELECT doc_id,
                  ((strpos('0123456789abcdef', substr(md5(tok),1,1))-1)*16 +
                   (strpos('0123456789abcdef', substr(md5(tok),2,1))-1)) % 64 AS bucket
                 FROM toks),
         cnts AS (SELECT doc_id, bucket, count(*) AS cnt FROM bkt GROUP BY 1,2),
         mm AS (SELECT doc_id, map_from_entries(list_transform(list_zip(list(bucket), list(cnt)), z -> {'k': z[1], 'v': z[2]})) AS mp
               FROM cnts GROUP BY 1),
         emb AS (SELECT doc_id, list_transform(generate_series(0,63), j -> CAST(coalesce(mp[j][1], 0) AS DOUBLE)) AS emb FROM mm),
         pl AS (SELECT * FROM (VALUES """ + planeValuesSql(64, 12, 4) + """) AS v(t, j, vec)),
         sv AS (SELECT e.doc_id, pl.t, pl.j,
                 list_sum(list_transform(e.emb, (x, i) -> x * pl.vec[i])) AS s
               FROM emb e CROSS JOIN pl),
         bk AS (SELECT doc_id, t, CAST(sum(CASE WHEN s > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
                FROM sv GROUP BY 1, 2)
         SELECT CAST(t AS BIGINT) AS t, bucket, CAST(count(*) AS BIGINT) AS bucket_size
         FROM bk GROUP BY 1, 2 HAVING count(*) > 16"""),

    // The drop accounting q42 relies on: every (band, band_sig) bucket whose
    // member count exceeds the cap, with its size.
    "q43_neardup_dropped" ->
      """WITH tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2)
         SELECT CAST(band AS BIGINT) AS band, band_sig, CAST(count(*) AS BIGINT) AS bucket_size
         FROM bands GROUP BY 1, 2 HAVING count(*) > 2""",

    // Dedup cluster resolution: q34's verified-pair chain feeds a
    // recursive-CTE connected components, then the keeper rule (max byte
    // length via strlen, ties to min doc_id) and cluster stats replayed in
    // plain SQL. comp (VARCHAR min label) is only a grouping key — the
    // emitted cluster_id is the portable min NUMERIC doc_id.
    "q62_neardup_clusters" ->
      """WITH RECURSIVE tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         sh AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         seeds AS (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed),
         mh AS (SELECT doc_id, seed, min(md5(shingle || ':' || CAST(seed AS VARCHAR))) AS minhash
                FROM sh CROSS JOIN seeds GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 4 AS band, md5(string_agg(minhash, ',' ORDER BY seed)) AS band_sig
                   FROM mh GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bands a JOIN bands b ON a.band = b.band AND a.band_sig = b.band_sig
                  WHERE a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         inter AS (SELECT c.d1, c.d2, count(*) AS inter
                   FROM cand c JOIN sh x ON x.doc_id = c.d1 JOIN sh y ON y.doc_id = c.d2 AND y.shingle = x.shingle
                   GROUP BY 1, 2),
         vp AS (SELECT d1, d2 FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8),
         edges AS (SELECT CAST(d1 AS VARCHAR) AS a, CAST(d2 AS VARCHAR) AS b FROM vp
                   UNION SELECT CAST(d2 AS VARCHAR), CAST(d1 AS VARCHAR) FROM vp),
         reach(id, lab) AS (SELECT a, a FROM edges
                            UNION SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id),
         cc AS (SELECT CAST(id AS BIGINT) AS doc_id, min(lab) AS comp FROM reach GROUP BY 1),
         j AS (SELECT c.doc_id, c.comp, CAST(strlen(d.text) AS BIGINT) AS len
               FROM cc c JOIN documents d ON c.doc_id = d.doc_id),
         mx AS (SELECT comp, max(len) AS mx FROM j GROUP BY 1),
         keepers AS (SELECT j.comp, min(j.doc_id) AS keeper
                     FROM j JOIN mx ON j.comp = mx.comp AND j.len = mx.mx GROUP BY 1),
         ag AS (SELECT comp, min(doc_id) AS cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
                FROM j GROUP BY 1)
         SELECT j.doc_id, ag.cluster_id, ag.cluster_size,
                CAST(j.doc_id = k.keeper AS BIGINT) AS keep
         FROM j JOIN ag ON j.comp = ag.comp JOIN keepers k ON j.comp = k.comp""",

    // Connected components as a recursive CTE: reach(id,lab) closes over the
    // symmetrized edge list; component = min reachable label. Labels are
    // VARCHAR (matching the engine's string hash-min) then cast back.
    "q28_canon_components" ->
      """WITH RECURSIVE tk AS (SELECT doc_id, list_filter(regexp_split_to_array(text,'\s+'), x -> x <> '') AS l FROM documents),
         toks AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM tk),
         ds AS (SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
                FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
                            JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         pairs AS (SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
                   FROM ds x JOIN ds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                   GROUP BY 1, 2),
         sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
         ed AS (SELECT d1, d2 FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
                WHERE round(inter / (s1.n + s2.n - inter), 6) > 0.8),
         edges AS (SELECT CAST(d1 AS VARCHAR) AS a, CAST(d2 AS VARCHAR) AS b FROM ed
                   UNION SELECT CAST(d2 AS VARCHAR), CAST(d1 AS VARCHAR) FROM ed),
         reach(id, lab) AS (SELECT a, a FROM edges
                            UNION SELECT e.a, r.lab FROM edges e JOIN reach r ON e.b = r.id)
         SELECT CAST(id AS BIGINT) AS doc_id, CAST(min(lab) AS BIGINT) AS component
         FROM reach GROUP BY 1""",

    // Multi-table sign-hyperplane LSH top-k: the ±1 hyperplane coefficients
    // are deterministic (parity of 31·i + 17·plane), so bucket assignment,
    // candidate set, and exact cosine re-rank are all reconstructable in SQL.
    "q24_ann_lsh_topk" ->
      ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         pl AS (SELECT * FROM (VALUES """ + planeValuesSql(64, 6, 4) + """) AS v(t, j, vec)),
         s AS (SELECT e.vec_id, pl.t, pl.j,
                 list_sum(list_transform(e.emb, (x, i) -> x * pl.vec[i])) AS sv
               FROM e CROSS JOIN pl),
         bk AS (SELECT vec_id, t, CAST(sum(CASE WHEN sv > 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
                FROM s GROUP BY 1, 2),
         q AS (SELECT vec_id AS qid, t, bucket FROM bk WHERE vec_id < 8),
         cand AS (SELECT DISTINCT q.qid, b.vec_id AS nid
                  FROM bk b JOIN q ON b.t = q.t AND b.bucket = q.bucket
                  WHERE b.vec_id <> q.qid),
         sc AS (SELECT c.qid, c.nid, round(list_cosine_similarity(eq.emb, en.emb), 6) AS cos_sim
                FROM cand c JOIN e eq ON eq.vec_id = c.qid JOIN e en ON en.vec_id = c.nid),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS BIGINT) AS rnk FROM sc)
         SELECT qid, nid, cos_sim, rnk FROM r WHERE rnk <= 5"""),

    // IVF-Flat ANN with a k-means-TRAINED coarse quantizer: seeds = 16
    // smallest ids, 2 deterministic training rounds (assignment by rounded
    // cosine with ties to smallest cid; centroid update = per-dimension mean
    // as a sequential fold over values ordered by vector id — the exact
    // replay of Similarity.trainIvfCentroids), then nearest-centroid
    // inverted lists, nprobe=4 probe, exact re-rank. Every stage ordered on
    // (rounded cosine, id) so the SQL reconstruction is exact.
    "q35_ann_ivf_topk" -> {
      val iters = 2
      val train = (1 to iters).map { t =>
        val prev = s"c${t - 1}"
        s"""a${t}r AS (SELECT e.vec_id AS nid, c.cid, round(list_cosine_similarity(e.emb, c.cemb), 6) AS ccos
                  FROM e CROSS JOIN $prev c),
           as$t AS (SELECT nid, cid FROM (
                  SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS rn
                  FROM a${t}r) WHERE rn = 1),
           m$t AS (SELECT a.cid, d.pos, list_reduce(list(d.val ORDER BY a.nid), (x, y) -> x + y) / count(*) AS coord
                  FROM as$t a JOIN dims d ON d.vec_id = a.nid GROUP BY 1, 2),
           g$t AS (SELECT cid, list(coord ORDER BY pos) AS cemb FROM m$t GROUP BY 1),
           c$t AS (SELECT p.cid, coalesce(g.cemb, p.cemb) AS cemb FROM $prev p LEFT JOIN g$t g ON p.cid = g.cid)"""
      }.mkString(",\n         ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         dims AS (SELECT vec_id, unnest(emb) AS val, generate_subscripts(emb, 1) AS pos FROM e),
         c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e ORDER BY vec_id LIMIT 16),
         $train,
         c AS (SELECT cid, cemb FROM c$iters),
         a0 AS (SELECT e.vec_id AS nid, c.cid,
                  round(list_cosine_similarity(e.emb, c.cemb), 6) AS ccos
                FROM e CROSS JOIN c),
         a AS (SELECT nid, cid FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY nid ORDER BY ccos DESC, cid) AS rn
                 FROM a0) WHERE rn = 1),
         p0 AS (SELECT e.vec_id AS qid, c.cid,
                  round(list_cosine_similarity(e.emb, c.cemb), 6) AS ccos
                FROM e CROSS JOIN c WHERE e.vec_id < 8),
         p AS (SELECT qid, cid FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, cid) AS rn
                 FROM p0) WHERE rn <= 4),
         sc AS (SELECT p.qid, a.nid, round(list_cosine_similarity(eq.emb, en.emb), 6) AS cos_sim
                FROM p JOIN a ON p.cid = a.cid
                JOIN e eq ON eq.vec_id = p.qid JOIN e en ON en.vec_id = a.nid
                WHERE a.nid <> p.qid),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS BIGINT) AS rnk FROM sc)
         SELECT qid, nid, cos_sim, rnk FROM r WHERE rnk <= 5"""
    },

    // SimHash reconstructed bit-for-bit: per-token md5, top-64-bit value,
    // majority vote per bit, re-assembled into the same 16-char hex string.
    "q26_simhash" ->
      s"WITH $simhashOracleCtes SELECT doc_id, simhash FROM sh",

    // SimHash-banded near-dup: candidates share one of the 4×16-bit bands
    // (= 4 hex chars of the q26 value), verified by nibble-wise popcount
    // hamming <= 4 — the whole third dedup family is SQL-reconstructed.
    "q36_simhash_neardup" -> {
      val hamming = (1 to 16).map(p =>
        s"bit_count(xor(strpos('0123456789abcdef', substr(h1, $p, 1)) - 1, " +
          s"strpos('0123456789abcdef', substr(h2, $p, 1)) - 1))").mkString(" + ")
      s"""WITH $simhashOracleCtes,
         bands AS (SELECT doc_id, simhash, b.band, substr(simhash, 13 - 4 * b.band, 4) AS bv
                   FROM sh CROSS JOIN (SELECT unnest([0,1,2,3]) AS band) b),
         cand AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2, a.simhash AS h1, c.simhash AS h2
                  FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv AND a.doc_id < c.doc_id)
         SELECT d1, d2, CAST($hamming AS BIGINT) AS hamming FROM cand
         WHERE ($hamming) <= 4"""
    },

    // The oracle knows only the GENERATION parameters (id → kind/dims/rate/
    // pixel formulas); the engine side recovers them by parsing the real
    // container bytes — PNG through zlib inflate + scanline unfilter, JPEG
    // through a real Huffman entropy decode + fixed-point IDCT — so this
    // checks the byte-level decoders, not a tautology. png bytes: 57
    // header/chunk overhead + zlib stored stream (raw + 6 + 5·ceil(raw/
    // 65535)), raw = h·(3w+1); png pixel_sum: every channel of (x,y) is
    // (i+x+y)%256, summed over antidiagonals s = x+y (trapezoid count
    // least(s, w-1, h-1, w+h-2-s)+1) to avoid a w×h blowup. jpeg rows split
    // i%6=1 grayscale / i%6=4 YCbCr-4:2:0 color. Grayscale (dc = 64·(i%16),
    // AC ripples a1 = 3·((i%5)−2) at zigzag 1
    // and a2 = 2·((i%7)−3) at zigzag 2, identical in every block): bytes =
    // 175 header + ceil((nblocks·(4+acbits) + t)/8) where t =
    // bitlen(dc) = 6+floor(log2(i%16))+1 (first block's DC magnitude bits)
    // and acbits = 3 (EOB) + per-ripple (3 + size); images with i%13<6
    // carry a DRI (+6 header) with restart interval r = 2+(i%4) — the
    // stream splits into ceil(nblocks/r) byte-aligned segments, each paying
    // t once (DC predictor reset), plus 2 bytes per RSTn (jb CTE).
    // pixel_sum (jpx CTE) replays the
    // fixed-point IDCT — only v∈{0,1},u∈{0,1} basis cells are active, so
    // pixel(y,x) = clamp(floor((K0·(K0·dc + K1[x]·a1) + K0·K1[y]·a2 +
    // 2²⁵)/2²⁶) + 128) with the K literals generated from the engine's
    // idctK, weighted by how many blocks show column x / row y (w//8 + edge
    // remainder) — an 8×8 grid per image instead of a w×h blowup. Color
    // (jc/jcy/jcx/jcb CTEs): same luma cell, flat chroma cb = 4·((i%9)−4) /
    // cr = 4·((i%11)−5), JFIF fixed-point RGB (constants from yccToRgb);
    // RGB stays periodic-8 so the same 8×8-grid weighting applies; bytes =
    // 311 overhead + ceil((nmcu·(4·bpm + 14) + ty + tcb + tcr)/8), no DRI
    // on color rows.
    "q27_multimodal_features" ->
      (s"""WITH f AS (SELECT i,
           CASE WHEN i%3=0 THEN 'png' WHEN i%3=1 THEN 'jpg' ELSE 'wav' END AS kind,
           (i%17=0) AS corrupt,
           64+(i%512) AS w, 48+(i%256) AS h, 8000+(i%8)*4000 AS sr
           FROM generate_series(0,999) t(i)),
         praw AS (SELECT i, w, h, h*(3*w+1) AS raw FROM f WHERE kind='png' AND NOT corrupt),
         pbytes AS (SELECT i, 57 + raw + 6 + 5*CAST(ceil(raw/65535.0) AS BIGINT) AS nb FROM praw),
         psum AS (SELECT p.i,
                    3*sum((least(s.s, p.w-1, p.h-1, p.w+p.h-2-s.s)+1) * ((p.i + s.s) % 256)) AS px
                  FROM praw p JOIN generate_series(0, 876) s(s) ON s.s <= p.w+p.h-2
                  GROUP BY 1),
         jp AS (SELECT i, w, h, 64*(i%16) AS dc, 3*((i%5)-2) AS a1, 2*((i%7)-3) AS a2,
                  CAST(ceil(w/8.0) AS BIGINT)*CAST(ceil(h/8.0) AS BIGINT) AS nb,
                  CASE WHEN i%16=0 THEN 0 ELSE 7 + CAST(floor(log2(i%16)) AS BIGINT) END AS t,
                  7 + CASE abs(3*((i%5)-2)) WHEN 0 THEN 0 WHEN 3 THEN 5 ELSE 6 END
                    + CASE abs(2*((i%7)-3)) WHEN 0 THEN 0 WHEN 2 THEN 5 ELSE 6 END AS bpm,
                  CASE WHEN i%13 < 6 THEN 2 + i%4 ELSE 0 END AS r
                FROM f WHERE kind='jpg' AND i%6=1 AND NOT corrupt),
         jb AS (SELECT i,
                  CASE WHEN r = 0 THEN 175 + (nb*bpm + t + 7)//8
                       ELSE 181 + ((nb + r - 1)//r - 1) * ((r*bpm + t + 7)//8 + 2)
                            + ((nb - ((nb + r - 1)//r - 1)*r)*bpm + t + 7)//8
                  END AS jbytes
                FROM jp),
         jpx AS (SELECT jp.i,
                   sum((jp.w//8 + CASE WHEN xx.x < jp.w%8 THEN 1 ELSE 0 END)
                     * (jp.h//8 + CASE WHEN yy.y < jp.h%8 THEN 1 ELSE 0 END)
                     * greatest(0, least(255, 128 + CAST(floor(
                         ($idctK0*($idctK0*jp.dc + ($idctK1Sql)[xx.x+1]*jp.a1)
                          + $idctK0*($idctK1Sql)[yy.y+1]*jp.a2 + 33554432) / 67108864.0) AS BIGINT)))) AS px
                 FROM jp JOIN generate_series(0,7) xx(x) ON true
                         JOIN generate_series(0,7) yy(y) ON true
                 GROUP BY 1),
         jc AS (SELECT i, w, h, 64*(i%16) AS dc, 3*((i%5)-2) AS a1, 2*((i%7)-3) AS a2,
                  4*((i%9)-4) AS cb, 4*((i%11)-5) AS cr,
                  CAST(ceil(w/16.0) AS BIGINT)*CAST(ceil(h/16.0) AS BIGINT) AS nmcu,
                  CASE WHEN i%16=0 THEN 0 ELSE 7 + CAST(floor(log2(i%16)) AS BIGINT) END AS ty,
                  7 + CASE abs(3*((i%5)-2)) WHEN 0 THEN 0 WHEN 3 THEN 5 ELSE 6 END
                    + CASE abs(2*((i%7)-3)) WHEN 0 THEN 0 WHEN 2 THEN 5 ELSE 6 END AS bpm,
                  CASE abs((i%9)-4)  WHEN 0 THEN 0 WHEN 1 THEN 6 WHEN 2 THEN 7 WHEN 3 THEN 7 ELSE 8 END AS tcb,
                  CASE abs((i%11)-5) WHEN 0 THEN 0 WHEN 1 THEN 6 WHEN 2 THEN 7 WHEN 3 THEN 7 ELSE 8 END AS tcr
                FROM f WHERE kind='jpg' AND i%6=4 AND NOT corrupt),
         jcb AS (SELECT i, 311 + (nmcu*(4*bpm + 14) + ty + tcb + tcr + 7)//8 AS jbytes FROM jc),
         jcy AS (SELECT jc.i, xx.x, yy.y, jc.w, jc.h, jc.cb, jc.cr,
                   greatest(0, least(255, 128 + CAST(floor(
                     ($idctK0*($idctK0*jc.dc + ($idctK1Sql)[xx.x+1]*jc.a1)
                      + $idctK0*($idctK1Sql)[yy.y+1]*jc.a2 + 33554432) / 67108864.0) AS BIGINT))) AS yv
                 FROM jc JOIN generate_series(0,7) xx(x) ON true
                         JOIN generate_series(0,7) yy(y) ON true),
         jcx AS (SELECT i,
                   sum((w//8 + CASE WHEN x < w%8 THEN 1 ELSE 0 END)
                     * (h//8 + CASE WHEN y < h%8 THEN 1 ELSE 0 END)
                     * (greatest(0, least(255, yv + CAST(floor((${ycc._1}*cr + 32768)/65536.0) AS BIGINT)))
                      + greatest(0, least(255, yv - CAST(floor((${ycc._2}*cb + ${ycc._3}*cr + 32768)/65536.0) AS BIGINT)))
                      + greatest(0, least(255, yv + CAST(floor((${ycc._4}*cb + 32768)/65536.0) AS BIGINT))))) AS px
                 FROM jcy GROUP BY 1)
         SELECT kind, count(*) AS n,
           CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN corrupt THEN 3
                WHEN kind='png' THEN pb.nb
                WHEN kind='jpg' THEN coalesce(jb.jbytes, jcb.jbytes)
                ELSE 108 END) AS BIGINT) AS total_bytes,
           CAST(max(CASE WHEN corrupt THEN 0 WHEN kind IN ('png','jpg') THEN w ELSE 0 END) AS BIGINT) AS max_width,
           CAST(max(CASE WHEN corrupt THEN 0 WHEN kind IN ('png','jpg') THEN h ELSE 0 END) AS BIGINT) AS max_height,
           CAST(max(CASE WHEN corrupt THEN 0 WHEN kind='wav' THEN sr ELSE 0 END) AS BIGINT) AS max_sample_rate,
           CAST(sum(CASE WHEN corrupt THEN 0
                WHEN kind='png' THEN ps.px
                WHEN kind='jpg' THEN coalesce(jx.px, jcx.px)
                ELSE 0 END) AS BIGINT) AS total_pixel_sum
         FROM f LEFT JOIN pbytes pb ON f.i = pb.i LEFT JOIN psum ps ON f.i = ps.i
                LEFT JOIN jpx jx ON f.i = jx.i LEFT JOIN jb ON f.i = jb.i
                LEFT JOIN jcx ON f.i = jcx.i LEFT JOIN jcb ON f.i = jcb.i
         GROUP BY 1"""),

    // Resize replay: resized dims = floor(w/2), floor(h/2); resized pixel
    // (x, y) samples source (2x, 2y) whose channel value is (i+2x+2y)%256 —
    // antidiagonal s = x+y gives value (i+2s)%256 with the trapezoid count.
    "q45_multimodal_resize" ->
      """WITH f AS (SELECT i, 64+(i%512) AS w, 48+(i%256) AS h
           FROM generate_series(0,999) t(i) WHERE i%3=0 AND i%17<>0),
         r AS (SELECT i, w//2 AS rw, h//2 AS rh FROM f),
         ps AS (SELECT r.i,
                  3*sum((least(s.s, r.rw-1, r.rh-1, r.rw+r.rh-2-s.s)+1) * ((r.i + 2*s.s) % 256)) AS px
                FROM r JOIN generate_series(0, 436) s(s) ON s.s <= r.rw+r.rh-2
                GROUP BY 1)
         SELECT r.i AS media_id, CAST(r.rw AS INTEGER) AS rw, CAST(r.rh AS INTEGER) AS rh,
                CAST(ps.px AS BIGINT) AS resized_pixel_sum
         FROM r JOIN ps ON r.i = ps.i""",

    // Frame-sample replay: every 2nd frame of each non-corrupt GVID; frame
    // f of video i carries the pixel formula of id = i·1000+f.
    "q46_multimodal_frames" ->
      """WITH v AS (SELECT i, 4+(i%5) AS nf, 24+(i%16) AS w, 16+(i%8) AS h
           FROM generate_series(0,199) t(i) WHERE i%13<>0),
         fr AS (SELECT v.i, v.w, v.h, ff.f
                FROM v JOIN generate_series(0, 8) ff(f) ON ff.f < v.nf AND ff.f % 2 = 0),
         ps AS (SELECT fr.i, fr.f,
                  3*sum((least(s.s, fr.w-1, fr.h-1, fr.w+fr.h-2-s.s)+1) * ((fr.i*1000 + fr.f + s.s) % 256)) AS px
                FROM fr JOIN generate_series(0, 60) s(s) ON s.s <= fr.w+fr.h-2
                GROUP BY 1, 2)
         SELECT fr.i AS media_id, CAST(fr.f AS INTEGER) AS frame_idx,
                CAST(fr.w AS INTEGER) AS width, CAST(fr.h AS INTEGER) AS height,
                CAST(ps.px AS BIGINT) AS pixel_sum
         FROM fr JOIN ps ON fr.i = ps.i AND fr.f = ps.f""",

    // Audio replay: wav rows are i%3=2, non-corrupt; sample j of wav i is
    // ((7i + 37j) mod 4096) - 2048 — sum/peak of |.| over 32 samples.
    "q48_multimodal_audio" ->
      """WITH w AS (SELECT i FROM generate_series(0,999) t(i) WHERE i%3=2 AND i%17<>0),
         sm AS (SELECT w.i, abs(((7*w.i + 37*s.j) % 4096) - 2048) AS a
                FROM w JOIN generate_series(0,31) s(j) ON true)
         SELECT i AS media_id, CAST(count(*) AS BIGINT) AS n_samples,
                CAST(sum(a) AS BIGINT) AS sum_abs, CAST(max(a) AS BIGINT) AS peak
         FROM sm GROUP BY 1""",

    // F2 regex NER replayed in SQL: rebuild the derived body, take the first
    // 10 raw regex matches (duplicates count toward the cap), then distinct
    // keeping first-occurrence order — exactly the engine's nameNer. The org
    // keyword scan (F3) matches nothing on this vocabulary, so all rows are
    // PERSON at 0.7 (the engine emits orgs after persons when present).
    "q37_ner_mentions" ->
      """WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         tt AS (SELECT doc_id,
           array_to_string(list_transform(l, (x, i) ->
             CASE WHEN i <= 2 OR (i - 1) % 7 = 0 THEN upper(substr(x, 1, 1)) || substr(x, 2) ELSE x END), ' ') AS body
           FROM tk),
         caps AS (SELECT doc_id,
           list_slice(regexp_extract_all(body, '\b[A-Z][a-z]+( [A-Z][a-z]+)*\b'), 1, 10) AS m FROM tt),
         m0 AS (SELECT doc_id, unnest(m) AS surface, generate_subscripts(m, 1) AS pos FROM caps),
         d AS (SELECT doc_id, surface, min(pos) AS first_pos FROM m0 GROUP BY 1, 2)
         SELECT doc_id,
                CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY first_pos) AS BIGINT) AS ord,
                surface, 'PERSON' AS entity_type, CAST(0.7 AS DOUBLE) AS confidence
         FROM d""",

    // Entity linking replayed: same mention reconstruction as q37, KB from
    // the distinct token vocabulary, broadcast-alias equi-join on the
    // normalized surface, ctx_sim = |ctx ∩ profile| / sqrt(|ctx|·|profile|)
    // (= 1/sqrt(distinct body tokens) here since the profile is one token
    // that the surface guarantees is present), link_score = 0.6·ctx_sim +
    // 0.4·prior on the ROUNDED ctx_sim — exactly EntityLink's formulas.
    // Two-token person surfaces have no alias → null (unlinked) columns.
    "q38_entity_linking" ->
      """WITH tk AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS l FROM documents),
         tt AS (SELECT doc_id,
           array_to_string(list_transform(l, (x, i) ->
             CASE WHEN i <= 2 OR (i - 1) % 7 = 0 THEN upper(substr(x, 1, 1)) || substr(x, 2) ELSE x END), ' ') AS body,
           len(list_distinct(l)) AS nd
           FROM tk),
         caps AS (SELECT doc_id,
           list_slice(regexp_extract_all(body, '\b[A-Z][a-z]+( [A-Z][a-z]+)*\b'), 1, 10) AS m FROM tt),
         m0 AS (SELECT doc_id, unnest(m) AS surface, generate_subscripts(m, 1) AS pos FROM caps),
         d AS (SELECT doc_id, surface, min(pos) AS first_pos FROM m0 GROUP BY 1, 2),
         men AS (SELECT doc_id,
                   CAST(doc_id AS VARCHAR) || '#' ||
                     CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY first_pos) AS VARCHAR) AS mention_id,
                   surface
                 FROM d),
         kb AS (SELECT DISTINCT unnest(l) AS tok FROM tk),
         kbp AS (SELECT tok AS entity_id,
                   upper(substr(tok, 1, 1)) || substr(tok, 2) AS canonical_name,
                   round(0.3 + (length(tok) % 5) * 0.1, 1) AS prior
                 FROM kb),
         cand AS (SELECT m.mention_id, k.entity_id, k.canonical_name,
                    round(1.0 / sqrt(t.nd), 6) AS ctx_sim,
                    round(0.6 * round(1.0 / sqrt(t.nd), 6) + 0.4 * k.prior, 6) AS link_score
                  FROM men m JOIN tt t ON m.doc_id = t.doc_id
                  JOIN kbp k ON lower(m.surface) = k.entity_id)
         SELECT m.mention_id, m.doc_id, m.surface,
                c.entity_id, c.canonical_name, c.ctx_sim, c.link_score
         FROM men m LEFT JOIN cand c ON m.mention_id = c.mention_id"""
  )
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection: word-shingling, MinHash signatures, LSH band
  * candidate generation, exact n-gram Jaccard verification, and SimHash.
  *
  * Scale design: shingles/minhash/simhash are array Column expressions
  * (narrow, codegen'd — no shuffle until the candidate join); LSH banding
  * turns the O(n²) all-pairs problem into an equi-join on (band, signature),
  * which Spark executes as a shuffled hash join keyed on a 32-char hash —
  * uniform keys, no skew. Exact Jaccard runs only on LSH candidates.
  * MinHash uses md5(shingle:seed) so signatures are engine-portable and
  * deterministic (no JVM-specific hashing in results).
  */
object NearDup {

  /** MinHash signatures per doc on the LSH paths, and minhashes per band. */
  private val K = 8
  private val RowsPerBand = 4

  /** Longest name `hammingJoin` blocks on. */
  private val MaxNameLen = 64

  /** Shingle array from an ALREADY-MATERIALIZED token-array column.
    *
    * Callers must bind `toks` to a concrete column (extra .select), not pass
    * the tokenize expression inline: the lambda references the array 3×
    * per element, and an inlined split(...) expression is re-evaluated at
    * every reference (no common-subexpression elimination inside lambda
    * bodies) — measured ~25× slower (9.4 s vs 0.4 s for 260k shingles).
    */
  def shingleArr(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Distinct (doc_id, shingle) rows, tokens materialized before shingling.
    *
    * Set semantics via `array_distinct` INSIDE the shingle array, not a
    * row-level `.distinct()`: duplicates only exist within a document, so
    * the per-doc narrow dedup yields exactly the distinct row set with NO
    * exchange — measured (MinhashProbe, sf0.1, min of 3): signatures 0.72 s
    * array_distinct vs 0.96 s duplicates-kept vs 1.57 s row-distinct;
    * candidate pipeline equal-or-better. Every consumer (minhash min,
    * Jaccard sizes/intersections, band join) needs set semantics, so this
    * is the one shared discipline.
    */
  private def shingleRows(docs: DataFrame): DataFrame =
    TextOps.fanOut(docs.select(col("doc_id"), col("text").as("text0")))
      .select(col("doc_id"), TextOps.tokens(col("text0")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(shingleArr(col("toks")))).as("shingle"))

  /** (doc_id, seed, minhash) rows for k seeds; docs w/o shingles omitted.
    *
    * Plan shape: narrow per-doc-deduped shingle explode (see shingleRows —
    * min is duplicate-insensitive so the deduped set gives identical
    * signatures while shrinking the md5 count, with no exchange; the same
    * discipline `lshVerifiedPairs` uses, so the two paths share one shape),
    * then the WIDE one-shuffle aggregation (`minhashWide`) unpivoted back to
    * (doc_id, seed, minhash) rows by a narrow posexplode.
    */
  def minhashSignatures(docs: DataFrame, k: Int = K): DataFrame =
    minhashFromShingleRows(shingleRows(docs), k)

  /** WIDE per-doc minhash: ONE hash aggregate computing all K signature
    * columns (plus the distinct-shingle count) in a single shuffle —
    * replaces the former explode(×k seeds) → groupBy(doc_id, seed) shape,
    * which shuffled k× the rows and hashed k× the aggregation keys for the
    * same K md5 digests per shingle. The count column doubles as the exact
    * shingle-set size, so Jaccard verification needs no separate size
    * aggregation + joins. Output: (doc_id, n, m0..m{K-1}).
    */
  private def minhashWide(rows: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n") +:
      (0 until K).map(s => min(md5(concat(col("shingle"), lit(s":$s")))).as(s"m$s"))
    rows.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Same, from precomputed (doc_id, shingle) rows. Kept in the historical
    * explode(×k seeds) → groupBy(doc_id, seed) shape: when the caller wants
    * the (doc_id, seed, minhash) ROWS themselves (q15), this is measured
    * faster than unpivoting `minhashWide` (0.55 s vs 1.31 s at sf0.1 —
    * min-of-string aggregation buffers are object-hashed, and one narrow
    * string buffer per key beats nine wide ones when no downstream fusion
    * pays for them); the fused chains use `minhashWide` directly.
    */
  private def minhashFromShingleRows(rows: DataFrame, k: Int): DataFrame =
    rows
      .select(col("doc_id"), col("shingle"), explode(sequence(lit(0L), lit(k - 1L))).as("seed"))
      .groupBy(col("doc_id"), col("seed"))
      .agg(min(md5(concat(col("shingle"), lit(":"), col("seed").cast("string")))).as("minhash"))

  /** LSH band signatures straight off the wide minhash row: a NARROW
    * projection + one-row-per-band explode, no second shuffle (grouping
    * unpivoted (doc_id, seed, minhash) rows by (doc_id, band) would
    * re-collect and re-sort what the wide row already holds in seed order).
    * band_sig = md5 of the band's `RowsPerBand` consecutive minhashes,
    * comma-joined in seed order. Output: (doc_id, n, band, band_sig).
    */
  private def bandsFromWide(wide: DataFrame): DataFrame = {
    val bandStructs = (0 until K / RowsPerBand).map { b =>
      val ms = (b * RowsPerBand until (b + 1) * RowsPerBand).map(s => col(s"m$s"))
      struct(lit(b.toLong).as("band"), md5(concat_ws(",", ms: _*)).as("band_sig"))
    }
    wide.select(col("doc_id"), col("n"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("n"),
        col("bk.band").as("band"), col("bk.band_sig").as("band_sig"))
  }

  /** Docs→LSH-candidate-pairs: pairs sharing at least one band signature
    * (K = 8 minhashes in bands of RowsPerBand = 4; d1 < d2, distinct), via
    * the wide minhash aggregation — one shuffle to signatures and a narrow
    * band projection, then `candidatesWithSizes`' one bucket aggregation.
    */
  def lshCandidatePairs(docs: DataFrame): DataFrame =
    candidatesWithSizes(bandsFromWide(minhashWide(shingleRows(docs))), Int.MaxValue)
      .select("d1", "d2")

  /** Exact shingle-set Jaccard over all pairs sharing ≥1 shingle (suitable
    * below ~10⁶ docs; at scale restrict to `lshCandidatePairs` first).
    */
  def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val ds = shingleRows(docs)
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ds.as("x").join(ds.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), Seq("d1"))
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), Seq("d2"))
      .withColumn("jaccard", round(col("inter") / (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jaccard") > threshold)
      .select("d1", "d2", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering (the AllPairs /
    * PPJoin family, Bayardo et al. WWW'07 / Xiao et al. WWW'08 — the
    * MapReduce formulation is Vernica et al. SIGMOD'10): all pairs of
    * documents whose TOKEN-BIGRAM sets have Jaccard >= num/den, with NO
    * recall loss — the lossless alternative to MinHash LSH (`lshVerified*`)
    * when the threshold is a hard contract rather than a recall/cost knob.
    *
    * Candidate pruning: order every document's gram set by one global
    * rarest-first total order (document frequency asc, gram asc) and emit
    * only each doc's PREFIX — the first `n - ceil(t·n) + 1` grams. For any
    * pair with J >= t, the smallest shared gram in that order provably
    * falls inside BOTH prefixes (if all shared grams sat outside a prefix,
    * the overlap would be <= ceil(t·n) - 1 < t·n, contradicting J >= t), so
    * a prefix×prefix equi-join on the gram loses nothing. A size filter
    * (den·min >= num·max, integer — J >= t forces sizes within a t factor)
    * prunes further before exact verification.
    *
    * All threshold tests use EXACT integer arithmetic on the rational
    * num/den (ceil(t·n) = (num·n + den - 1) div den; final test
    * inter·den >= num·(n1+n2-inter)) — no float ceil/rounding can disagree
    * with the oracle at knife-edge Jaccard values. `jaccard` in the output
    * is display-only.
    *
    * 100 TB shape: one gram scan (checkpointed — feeds the df aggregation,
    * the prefix build, and both verification joins), one vocabulary-sized
    * df aggregation + join (no global rank window — the sort key is the
    * zero-padded df string, so ordering needs no single-partition pass),
    * one per-doc sort (narrow), then an equi-join on prefix grams. The
    * rarest-first order is the skew guard: ubiquitous grams land in a
    * prefix only for docs consisting almost entirely of ubiquitous grams.
    *
    * Scale boundary (measured; BENCH/BASELINE.md, "Data-size scaling"): on
    * corpora with a DEGENERATE vocabulary (every gram corpus-common —
    * template spam, tiny synthetic vocabularies) the candidate set of any
    * exact prefix-filter algorithm is quadratic by corpus construction, and
    * an exact join cannot cap buckets without ceasing to be exact — the
    * 50k→500k probe measured 89× wall at
    * 10× input on exactly such a corpus, vs 1.7× for the mask-blocked
    * hamming family. Use this operator when the threshold is a hard
    * contract over a Zipfian corpus (rare tokens exist, prefixes prune);
    * on template-degenerate corpora run exact dedup + the guardrailed LSH
    * families, whose `maxBucket` accounting exists for precisely this case.
    * Output: (d1, d2, inter, n1, n2, jaccard), d1 < d2.
    */
  def prefixJaccardPairs(docs: DataFrame, num: Int, den: Int): DataFrame = {
    require(num > 0 && den >= num, s"threshold num/den must be in (0,1]: $num/$den")
    // distinct token-bigram rows, one scan (fanned out — see
    // TextOps.fanOut) shared by df/prefix/verify
    val grams = TextOps.fanOut(docs.select(col("doc_id"), col("text").as("text0")))
      .select(col("doc_id"), TextOps.tokens(col("text0")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(shingleArr(col("toks"), 2))).as("gram"))
      .localCheckpoint()
    val dfreq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    // rarest-first sortable key; df zero-padded so string order == (df, gram)
    val keyed = grams.join(dfreq, Seq("gram"))
      .select(col("doc_id"),
        concat(lpad(col("df").cast("string"), 12, "0"), lit("|"), col("gram")).as("kg"))
    val arrs = keyed.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("kg"))).as("kgs"))
      .select(col("doc_id"), col("kgs"), size(col("kgs")).cast("long").as("n"))
    // required overlap ceil(t·n) in exact integer arithmetic; prefix = rest + 1
    val req = floor((col("n") * num + (den - 1)) / den).cast("long")
    // materialized once: the prefix×prefix self-join below reads BOTH sides
    // from this table — without the snapshot the whole df-join + per-doc
    // collect/sort chain is evaluated twice (candidatesWithSizes' lesson; the
    // self-join itself is kept because the positional filter needs p from
    // both sides and prefix buckets of ubiquitous grams must stay under
    // AQE's skew-join splitting, not in collected lists)
    val pref = arrs.select(col("doc_id"), col("n"),
      posexplode(slice(col("kgs"), lit(1), greatest(lit(0L), col("n") - req + 1).cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("p"), col("col").as("kg"))
      .localCheckpoint()
    // PPJoin positional filter: the pair's MINIMUM shared gram sits at
    // (p1, p2) with every other shared gram strictly after both, so overlap
    // <= 1 + min(n1-p1, n2-p2); J >= t needs overlap·(num+den) >= num·(n1+n2)
    // (i/(n1+n2-i) >= num/den ⟺ i·(num+den) >= num·(n1+n2)). Rows generated
    // by non-minimal shared grams may fail the bound — the pair survives via
    // its minimal gram's row, so recall is intact and distinct() dedups.
    val cand = pref.select(col("doc_id").as("d1"), col("n").as("n1"), col("p").as("p1"), col("kg"))
      .join(pref.select(col("doc_id").as("d2"), col("n").as("n2"), col("p").as("p2"), col("kg")), Seq("kg"))
      .where(col("d1") < col("d2"))
      .where(least(col("n1"), col("n2")) * den >= greatest(col("n1"), col("n2")) * num)
      .where((lit(1L) + least(col("n1") - col("p1"), col("n2") - col("p2"))) * (num + den) >=
        (col("n1") + col("n2")) * num)
      .select("d1", "d2", "n1", "n2").distinct()
    val inter = cand
      .join(grams.withColumnRenamed("doc_id", "d1"), Seq("d1"))
      .join(grams.withColumnRenamed("doc_id", "d2"), Seq("d2", "gram"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .where(col("inter") * den >= (col("n1") + col("n2") - col("inter")) * num)
      .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
        round(col("inter") / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
  }

  /** Scale-path near-dup detection: exact Jaccard verification restricted to
    * LSH candidate pairs — the all-pairs shingle join (`jaccardPairs`) becomes
    * a candidate-driven semi-join, turning O(n²) verification into
    * O(|candidates|). This is the 100 TB shape; `jaccardPairs` stays as the
    * exhaustive small-scale oracle.
    */
  def lshVerifiedPairs(docs: DataFrame, threshold: Double): DataFrame = {
    // ONE tokenize/shingle scan over the corpus, materialized once: the
    // deduped set feeds the wide minhash aggregation (min is duplicate-
    // insensitive so the distinct set is equivalent) and both verification
    // joins; the wide row's count column carries the shingle-set sizes all
    // the way through the candidate pairs, so verification needs no size
    // aggregation or joins at all.
    val ds = shingleRows(docs)
      .localCheckpoint()
    val cands = candidatesWithSizes(bandsFromWide(minhashWide(ds)), Int.MaxValue)
    verifyJaccardSized(ds, cands, threshold)
  }

  /** Candidate pairs from (doc_id, n, band, band_sig) rows with both docs'
    * shingle-set sizes carried. Output: (d1, d2, n1, n2), d1 < d2, distinct.
    *
    * ONE aggregation (bucket members collected per (band, band_sig), sorted
    * by the unique doc_id, pairs exploded from the list) rather than a
    * self-join: a self-join evaluates the whole upstream minhash/banding
    * pipeline twice (measured ~2× wall), while this shape computes it once
    * and shuffles each band row exactly once. Bucket member lists are
    * duplicate-group-sized — tiny unless the corpus genuinely contains that
    * many near-identical docs (then the pair count itself is quadratic, for
    * any algorithm).
    */
  private def candidatesWithSizes(bands: DataFrame, maxBucket: Int): DataFrame = {
    // maxBucket guardrail: a bucket of N near-identical docs yields N²/2
    // pairs whatever the algorithm — exact dedup (q12) should remove
    // identical content FIRST; capping bounds the damage if a mega-cluster
    // slips through. When the cap is set, filter on a cheap COUNT
    // aggregation (map-side partial) and semi-join BEFORE collecting
    // members, so mega-bucket lists are never materialized at all —
    // measured ~8× on a 50k-doc corpus whose duplicate mass is genuinely
    // quadratic. The uncapped paths (`lshCandidatePairs`, `lshVerifiedPairs`)
    // pass Int.MaxValue and keep the one-shuffle, oracle-exact collect shape.
    val pruned =
      if (maxBucket == Int.MaxValue) bands
      else {
        val keep = bands.groupBy(col("band"), col("band_sig"))
          .agg(count(lit(1)).as("bn"))
          .where(col("bn") > 1 && col("bn") <= maxBucket)
          .select(col("band"), col("band_sig"))
        bands.join(keep, Seq("band", "band_sig"), "left_semi")
      }
    pruned
      .groupBy(col("band"), col("band_sig"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ms"))
      .where(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.getField("doc_id").as("d1"), y.getField("doc_id").as("d2"),
            x.getField("n").as("n1"), y.getField("n").as("n2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.n1").as("n1"), col("p.n2").as("n2"))
      .distinct()
  }

  /** Exact-Jaccard verification of size-carrying candidate pairs against
    * precomputed (doc_id, shingle) rows. Equi-join keys (d1) then
    * (d2, shingle): hash joins, no per-pair cross, and no size joins —
    * n1/n2 ride the candidate rows.
    */
  private def verifyJaccardSized(ds: DataFrame, cands: DataFrame, threshold: Double): DataFrame =
    cands
      .join(ds.withColumnRenamed("doc_id", "d1"), Seq("d1"))
      .join(ds.withColumnRenamed("doc_id", "d2"), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"), col("n1"), col("n2")).agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter") / (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jaccard") > threshold)
      .select("d1", "d2", "jaccard")

  /** Hamming-distance self-join for SHORT strings (entity names, aliases,
    * SKUs) at distance <= 1 — the edit-distance dedup family (PassJoin-
    * style signature blocking, specialized to substitutions): two
    * equal-length strings at hamming distance <= 1 MUST share at least one
    * "deletion neighborhood" key (the string with position i masked — mask
    * the differing position and the keys coincide), so blocking on all
    * |s| masked variants has ZERO recall loss, and candidates are verified
    * by an exact character-compare.
    *
    * 100 TB shape: the mask explode is narrow (|s| rows per name, names
    * longer than `MaxNameLen` = 64 chars are dropped); the join key carries the length so only comparable
    * strings meet; block sizes are structurally small for keys with any
    * entropy (members must agree on every unmasked character — run exact
    * dedup first if the corpus has mass duplicates, same discipline as the
    * LSH families). Verification is one codegen'd zip_with over
    * pre-materialized char arrays (no-CSE discipline).
    * Output: (d1, d2, hamming) with d1 < d2 and hamming <= 1.
    */
  def hammingJoin(rows: DataFrame, idCol: String, nameCol: String): DataFrame = {
    val base = TextOps.fanOut(
        rows.select(col(idCol).cast("long").as("id"), col(nameCol).as("name")))
      .where(length(col("name")) <= MaxNameLen)
    val keyed = base
      .select(col("id"), col("name"),
        explode(sequence(lit(1), length(col("name")))).as("i"))
      .select(col("id"), col("name"),
        concat_ws("|", length(col("name")).cast("string"), col("i").cast("string"),
          col("name").substr(lit(1), col("i") - 1),
          col("name").substr(col("i") + 1, lit(MaxNameLen))).as("mkey"))
    // ONE bucket-collect aggregation instead of a self-join on mkey: the
    // self-join evaluated the whole mask-explode pipeline twice (the
    // candidatesWithSizes lesson); sort_array on struct(id, name) orders by
    // id, so every exploded pair has d1 <= d2, and the where below keeps
    // only the documented d1 < d2 when two rows share an id.
    val cand = keyed
      .groupBy(col("mkey"))
      .agg(sort_array(collect_list(struct(col("id"), col("name")))).as("ms"))
      .where(size(col("ms")) > 1)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.getField("id").as("d1"), y.getField("id").as("d2"),
            x.getField("name").as("n1"), y.getField("name").as("n2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.n1").as("n1"), col("p.n2").as("n2"))
      .where(col("d1") < col("d2"))
      .distinct()
    // exact verify over materialized char arrays (lambdas get no CSE)
    cand
      .select(col("d1"), col("d2"), split(col("n1"), "").as("c1"), split(col("n2"), "").as("c2"))
      .select(col("d1"), col("d2"),
        size(filter(zip_with(col("c1"), col("c2"), (x, y) => x =!= y), b => b))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 1)
  }

  /** INCREMENTAL near-dup: flag each document of a NEW shard whose
    * shingle-set Jaccard with any EXISTING corpus document exceeds
    * `threshold` — the asymmetric join a production ingest pipeline runs
    * every batch (dedup today's crawl against the accumulated corpus)
    * instead of re-running the all-corpus self-join. Same MinHash/LSH
    * machinery as `lshVerifiedPairs`, but bands are computed per side and
    * the candidate join is new×old only: the new shard is typically orders
    * of magnitude smaller than the corpus, so its band table broadcasts and
    * NO pairwise work scales with |corpus|² — only with |corpus| (its band
    * scan) + |candidates|. At true scale the old side's shingle rows and
    * bands are the PERSISTED dedup index (write them once per batch, reuse
    * every subsequent batch); this entrypoint recomputes them so the
    * operator is self-contained over two DataFrames.
    * Output: (new_id, old_id, jaccard), one row per flagged cross pair.
    */
  def incrementalNearDup(newDocs: DataFrame, corpus: DataFrame, threshold: Double): DataFrame = {
    val dsNew = shingleRows(newDocs).localCheckpoint()
    val dsOld = shingleRows(corpus).localCheckpoint()
    // per-side wide minhash (one shuffle each) with the shingle-set size
    // carried through the band join, so verification needs no size joins
    val cand = bandsFromWide(minhashWide(dsNew))
      .select(col("doc_id").as("new_id"), col("n").as("n1"), col("band"), col("band_sig"))
      .join(bandsFromWide(minhashWide(dsOld))
        .select(col("doc_id").as("old_id"), col("n").as("n2"), col("band"), col("band_sig")),
        Seq("band", "band_sig"))
      .select("new_id", "old_id", "n1", "n2").distinct()
    cand
      .join(dsNew.withColumnRenamed("doc_id", "new_id"), Seq("new_id"))
      .join(dsOld.withColumnRenamed("doc_id", "old_id"), Seq("old_id", "shingle"))
      .groupBy(col("new_id"), col("old_id"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(col("inter") / (col("n1") + col("n2") - col("inter")), 6))
      .where(col("jaccard") > threshold)
      .select("new_id", "old_id", "jaccard")
  }

  /** Buckets the `maxBucket` guardrail would prune: one cheap COUNT
    * aggregation per (band, band_sig) — map-side partial, member lists never
    * collected. Exactly the buckets `candidatesWithSizes(_, maxBucket)` drops.
    * Output: (band, band_sig, bucket_size) with bucket_size > maxBucket.
    */
  def lshOverflowBuckets(bands: DataFrame, maxBucket: Int): DataFrame =
    bands.groupBy(col("band"), col("band_sig"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)

  /** Scale-entrypoint result: verified pairs plus the ACCOUNTED drops (no
    * silent caps — every pruned bucket is visible with its size).
    */
  final case class ScaledNearDup(pairs: DataFrame, droppedBuckets: DataFrame,
                                 label: String = "lshVerifiedPairsScaled") {
    /** Materializes the (tiny) overflow summary, WARN-logs it when nonempty,
      * and returns (droppedBucketCount, largestBucketSize).
      */
    def logDrops(): (Long, Long) = {
      val row = droppedBuckets
        .agg(count(lit(1)).as("nb"), coalesce(max(col("bucket_size")), lit(0L)).as("mx"))
        .head()
      val (nb, mx) = (row.getLong(0), row.getLong(1))
      if (nb > 0)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$label pruned $nb over-cap LSH buckets (largest $mx members); " +
            "pairs within them were NOT emitted — run exact dedup first or raise maxBucket")
      (nb, mx)
    }
  }

  /** The 100 TB near-dup entrypoint: `lshVerifiedPairs` with the
    * quadratic-bucket guardrail ON by default (maxBucket = 1024 ≈ 0.5M pairs
    * per worst-case bucket) and the drops accounted: `.droppedBuckets` lists
    * every pruned (band, band_sig, size) and `.logDrops()` WARN-logs the
    * summary. A bucket of N near-identical docs yields N²/2 pairs under ANY
    * algorithm, so the right fix for overflow is exact dedup (q12) first —
    * this entry makes that failure loud instead of letting a mega-cluster
    * take the job down. The unlimited `lshVerifiedPairs` stays as the
    * oracle-exact form. Both frames share one checkpointed shingle scan AND
    * one checkpointed band table (pairs, droppedBuckets and logDrops() all
    * read it), so construction launches the shingle/minhash jobs eagerly —
    * the right trade for an entrypoint whose outputs are always actioned.
    */
  def lshVerifiedPairsScaled(docs: DataFrame, threshold: Double,
                             maxBucket: Int = 1024): ScaledNearDup = {
    val ds = shingleRows(docs)
      .localCheckpoint()
    // band rows are read three times (count-filter, bucket collection, drop
    // accounting) — materialize them once; docs×(K/RowsPerBand) small rows
    // (n rides along so verification needs no size joins)
    val bands = bandsFromWide(minhashWide(ds))
      .localCheckpoint()
    ScaledNearDup(
      pairs = verifyJaccardSized(ds, candidatesWithSizes(bands, maxBucket), threshold),
      droppedBuckets = lshOverflowBuckets(bands, maxBucket))
  }

  /** Java-regex `\s` (the historical tokenizer was split("\\s+")): exactly
    * space, tab, LF, vertical tab, FF, CR — NOT the Python/Unicode space
    * set `isPySpace` uses: the oracle SQL replays split("\\s+"), so
    * `simhashMd5Long` must split where it does.
    */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Portable 64-bit SimHash: per-token md5, top 64 bits, majority vote per
    * bit — bit b of the result is set iff votes(b) > 0, so the value is
    * reconstructable bit-for-bit by any engine with md5 (the DuckDB oracle
    * recomputes it in SQL).
    */
  def simhashMd5Long(text: String): Long = {
    val votes = new Array[Int](64)
    if (text != null) {
      // manual maximal-run tokenization — same token sequence as
      // split("\\s+") with empties dropped, without the regex engine or the
      // per-token hex-string round trip (md5Top64 ≡ the first 16 hex chars
      // parsed as an unsigned long)
      val n = text.length
      var i = 0
      while (i < n) {
        while (i < n && isRegexSpace(text.charAt(i))) i += 1
        val start = i
        while (i < n && !isRegexSpace(text.charAt(i))) i += 1
        if (i > start) {
          val v = graft.text.PyText.md5Top64(text.substring(start, i))
          var b = 0
          while (b < 64) { if (((v >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Same value as 16-char lowercase hex (the q26 surface form). */
  def simhashMd5Hex(text: String): String = f"${simhashMd5Long(text)}%016x"

  /** DataFrame helper: (doc_id, simhash hex) via typed map. */
  def simhashDF(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhashMd5Hex(text)) }
      .toDF("doc_id", "simhash")
  }

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash-banded near-dup (the third dedup family, complementing exact
    * dedup and MinHash LSH): 4×16-bit bands of the md5 simhash → candidate
    * pairs sharing a band (the same single-bucket-aggregation shape as
    * `lshCandidatePairs`, no self-join) → `hamming(simhash) <= maxHamming`
    * verification. By pigeonhole every pair at distance <= 3 shares one of
    * the 4 bands, so recall is exact below 4 and decays above; pairs at
    * larger distance survive only when their differing bits cluster.
    * Scale shape: ONE narrow simhash pass (one md5 per token, no shingle
    * explode), one shuffle on (band, 16-bit value), tiny verified pair set —
    * cheaper than MinHash when token-level (not phrase-level) similarity is
    * the target. Output: (d1, d2, hamming), d1 < d2.
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // no fanOut here: the per-token md5 map is cheap enough after the
    // md5Top64/manual-tokenizer rewrite that an extra exchange measured as
    // a net loss (0.50 s → 0.74 s at sf0.1)
    val sims = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, simhashMd5Long(text)) }
      .toDF("doc_id", "sim")
    // static per-band shifts (codegen'd), carried with the signature so the
    // verification needs no join back
    val bandCols = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col("sim"), 16 * b).bitwiseAND(lit(0xffffL)).as("band_val")))
    val bands = sims.select(col("doc_id"), col("sim"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.band_val").as("band_val"))
    val buckets = bands
      .groupBy(col("band"), col("band_val"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sim")))).as("ms"))
      // no bucket cap: identical texts share all 4 bands, so exact dedup
      // comes first at scale
      .where(size(col("ms")) > 1)
    buckets
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.getField("doc_id").as("d1"), y.getField("doc_id").as("d2"),
            x.getField("sim").as("s1"), y.getField("sim").as("s2")))))).as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        hamming(col("p.s1"), col("p.s2")).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Cluster resolution — the stage AFTER pair generation in a production
    * dedup pipeline: verified near-dup pairs → connected components
    * (alternating large-star/small-star, O(log n) rounds in diameter) →
    * one canonical "keeper" per cluster. Keeper rule: longest text in
    * BYTES, ties to the smallest doc id — deterministic and
    * engine-portable (byte length sidesteps char-vs-codepoint ambiguity).
    *
    * Output: one row per doc appearing in any pair — (doc_id,
    * cluster_id = min doc id in the cluster, cluster_size, keep ∈ {0,1}).
    * A 100 TB pipeline anti-joins `keep = 0` rows against the corpus.
    *
    * Scale shape: CC runs over the PAIR set (≪ corpus after exact dedup +
    * the bucket guardrail); the doc-length join touches only pair members
    * (inner-join-sized, uniform long keys); keeper/size/min are one
    * map-side-partial hash aggregate on the component key — `min_by` over
    * a (−len, doc_id) struct replaces a window sort (see
    * [[graft.kg.GraphQueries]] min_by discipline).
    */
  def resolveClusters(spark: SparkSession, docs: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").cast("string").as("src"),
      col("d2").cast("string").as("dst"))
    val cc = graft.canon.Canonicalize.connectedComponents(spark, edges)
      .select(col("id").cast("long").as("doc_id"), col("component").as("comp"))
    val lens = docs.select(col("doc_id").cast("long").as("doc_id"),
      octet_length(col("text")).cast("long").as("len"))
    val members = cc.join(lens, "doc_id")
    val agg = members.groupBy("comp").agg(
      min(col("doc_id")).as("cluster_id"),
      count(lit(1)).as("cluster_size"),
      min_by(col("doc_id"), struct((-col("len")).as("nl"), col("doc_id"))).as("keeper"))
    members.join(agg, "comp")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("keeper")).cast("long").as("keep"))
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (baseline) and an
  * LSH-bucketed approximate variant (scale path).
  *
  * Scale design: the query side is broadcast (top-k for Q queries against N
  * vectors = one narrow pass over N, no shuffle of the big side); cosine is a
  * sequential fold (`aggregate`/`zip_with`), fully codegen'd. The LSH variant
  * prunes candidates by sign-hyperplane bucket equi-join: at 10⁹ vectors the
  * bucket join replaces the N×Q cross product with |bucket|×Q partial scans.
  */
object Similarity {

  /** Hash tables of the sign-hyperplane LSH families. */
  private val Tables = 4

  /** Dimension of `hashedEmbeddings`' vectors. */
  private val EmbDim = 64

  /** Cast float embedding to double for portable arithmetic. */
  def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  /** Codegen'd dot product (custom Catalyst expression — identical addition
    * order to the aggregate/zip_with fold it replaced, so results are
    * bit-identical; the HOF fold ran interpreted).
    */
  def dot(a: Column, b: Column): Column = graft.expr.GraftExpressions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))
  // cosine(a, b) = dot(a,b)/(norm(a)·norm(b)) — always composed from
  // MATERIALIZED norms at call sites (see bruteForceTopK scaladoc), never
  // inlined, so no convenience wrapper is exposed.

  /** Brute-force top-k cosine neighbors for a set of query ids.
    * Output: (query_id, neighbor_id, cos_sim rounded to 6dp, rank).
    *
    * Norms are materialized ONCE per vector before the pairwise stage —
    * higher-order array functions don't get common-subexpression
    * elimination, so an inline cosine(q, n) would re-fold both norms per
    * PAIR (Q× redundant work on the big side). The per-pair cost is then
    * one dot product. Same IEEE result: identical folds over identical
    * arrays, just evaluated earlier.
    */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5): DataFrame = {
    val base = embeddings.select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nemb"))
      .select(col("nid"), col("nemb"), norm(col("nemb")).as("nnorm"))
    val queries = embeddings
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qemb"))
      .select(col("qid"), col("qemb"), norm(col("qemb")).as("qnorm"))
    val scored = base.crossJoin(broadcast(queries))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qemb"), col("nemb")) / (col("qnorm") * col("nnorm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic ±1 hyperplane vector for plane j over `dim` dimensions —
    * portable (no RNG): sign = low bit of the splitmix64 finalizer of
    * (j << 32) | i. Computed driver-side and shipped as a LITERAL array, so
    * the projection stays fully codegen'd (a zip_with/aggregate fold here
    * would evict the whole Project from whole-stage codegen); the SQL
    * oracles inline the SAME literals (generated from this function), so
    * there is exactly one source of truth and no cross-engine arithmetic.
    * (Round-4 fix, twice over: the original (31·i + 17·j) % 2 reduces to
    * parity of i+j — TWO distinct planes total — and a first replacement
    * (bit 16 of a linear Knuth mix) still produced only 24 distinct planes
    * of 48 at dim 64; the non-degeneracy test in OpsSpec now asserts the
    * family property directly, and a full finalizer passes it.)
    */
  def hyperplane(dim: Int, j: Int): Array[Double] =
    Array.tabulate(dim) { i =>
      var x = (j.toLong << 32) | i.toLong
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^= (x >>> 31)
      if ((x & 1L) == 0L) 1.0 else -1.0
    }

  /** Sign-hyperplane LSH bucket id for one hash table: bit j =
    * sign(graft_dot(emb, hyperplane(table·planes + j))). `emb` must already
    * be a DOUBLE array bound to a column (callers materialize via asDouble
    * once). Numerically identical to the previous fold form — same
    * coefficients, same addition order.
    */
  def lshBucket(emb: Column, dim: Int, planes: Int, table: Int): Column = {
    (0 until planes).map { j =>
      val s = graft.expr.GraftExpressions.dot_product(
        emb, typedLit(hyperplane(dim, table * planes + j).toSeq))
      when(s > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Deterministic spherical k-means for the IVF coarse quantizer.
    *
    * Every step is engine-portable so the DuckDB oracle replays training
    * bit-for-bit: seeds = the `centroids` smallest ids; assignment by
    * ROUNDED (6dp) cosine with ties to the smallest cid; the centroid
    * update is the per-dimension mean computed as a SEQUENTIAL left fold
    * over values sorted by vector id (Spark `aggregate` over a sorted
    * collect_list ≡ DuckDB `list_reduce(list(... ORDER BY id))`) divided
    * once — floating-point addition isn't associative, so an unordered
    * SUM() would differ across engines/partitionings; the ordered fold is
    * deterministic everywhere. Clusters that lose all members keep their
    * previous centroid. Two fixed rounds (no convergence check — also
    * for replayability).
    *
    * Scale shape: the corpus side is one narrow pass per iteration
    * (broadcast centroids), the update shuffles only (centroids × dim)
    * groups — but the ordered-fold mean buffers EVERY member value per
    * (cid, pos) group, so at 10⁹ vectors training must run on a sample:
    * pass `maxTrainVectors` and the trainer keeps ids where
    * pmod(xxhash64(nid), ceil(n/maxTrainVectors)) = 0 — a deterministic,
    * partitioning-independent id-hash sample — and runs the IDENTICAL
    * code path on the survivors (seeds = smallest sampled ids, so sampled
    * training ≡ full training on the sampled subset, bit for bit; tested).
    * The collect_list buffer is then bounded by ~maxTrainVectors/centroids
    * values per group. 0 (default) trains on everything — the
    * oracle-replayed configuration.
    */
  def trainIvfCentroids(embeddings: DataFrame, centroids: Int,
                        maxTrainVectors: Long = 0L): DataFrame =
    trainIvfFromMat(
      embeddings
        .select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nemb"))
        .select(col("nid"), col("nemb"), norm(col("nemb")).as("nnorm")),
      centroids, iters = 2, maxTrainVectors)

  /** Training core over a prepared (nid, nemb, nnorm) frame — lets ivfTopK
    * hand the trainer its own materialized scan instead of each side
    * re-deriving (and re-materializing) the cast/norm projection.
    */
  private def trainIvfFromMat(full: DataFrame, centroids: Int, iters: Int,
                              maxTrainVectors: Long,
                              materialized: Boolean = false): DataFrame = {
    val sampled =
      if (maxTrainVectors <= 0L) full
      else {
        // one count action to size the modulus — training already runs
        // iters+1 actions via localCheckpoint, and the count reuses the
        // (pruned, narrow) scan; the sample itself is a pushed-down filter
        val n = full.count()
        val mod = math.max(1L, (n + maxTrainVectors - 1L) / maxTrainVectors)
        full.where(pmod(xxhash64(col("nid")), lit(mod)) === 0L)
      }
    // reused iters+1 times — materialize the cast/norm once (skipped when
    // the caller already hands in a materialized unsampled frame)
    val mat =
      if (materialized && (sampled eq full)) full else sampled.localCheckpoint()
    val dims = mat.select(col("nid"), posexplode(col("nemb")).as(Seq("pos", "val")))
    var cents = mat.orderBy(col("nid").asc).limit(centroids)
      .select(col("nid").as("cid"), col("nemb").as("cemb"))
    for (_ <- 0 until iters) {
      val c = cents.select(col("cid"), col("cemb"), norm(col("cemb")).as("cnorm"))
      // argmax-by-key via min_by hash aggregate (map-side partial, no sort)
      // — same ordering/tie-break as a (ccos desc, cid asc) row_number
      // window, measured much faster (3.5× on a 28k-row argmax at sf0.1:
      // 0.77 s vs 2.68 s — the window sorts every partition)
      val assigned = mat.crossJoin(broadcast(c))
        .select(col("nid"),
          round(dot(col("nemb"), col("cemb")) / (col("nnorm") * col("cnorm")), 6).as("ccos"),
          col("cid"))
        .groupBy(col("nid"))
        .agg(min_by(col("cid"), struct(negate(col("ccos")), col("cid"))).as("cid"))
      val coords = assigned.join(dims, Seq("nid"))
        .groupBy(col("cid"), col("pos"))
        .agg((aggregate(array_sort(collect_list(struct(col("nid"), col("val")))),
          lit(0.0), (acc, x) => acc + x.getField("val")) / count(lit(1))).as("coord"))
      val updated = coords.groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("coord")))),
          x => x.getField("coord")).as("cemb"))
      cents = cents.select(col("cid"), col("cemb").as("prev"))
        .join(updated, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cemb"), col("prev")).as("cemb"))
        .localCheckpoint() // truncate the per-iteration plan
    }
    cents.select(col("cid"), col("cemb"), norm(col("cemb")).as("cnorm"))
  }

  /** IVF-Flat approximate top-5: a coarse quantizer partitions vectors into
    * inverted lists by nearest-centroid assignment; a query probes only its
    * `nprobe` closest centroids' lists and re-ranks those candidates
    * exactly. At 10⁹ vectors each query touches ≈ nprobe/centroids of the
    * data, and the assignment pass is one broadcast join over the corpus
    * (no shuffle of the big side until the tiny candidate set). Complements
    * lshTopK: IVF gives tunable recall via nprobe; LSH gives constant-time
    * bucketing.
    *
    * The quantizer is k-means-trained (`trainIters` deterministic rounds,
    * see trainIvfCentroids) — recall with trained centroids beats the raw
    * first-N seed set whenever the data is clustered (tested); pass
    * trainIters = 0 for the untrained seed quantizer, and `maxTrainVectors`
    * at large N to bound the training shuffle by a deterministic id-hash
    * sample (assignment/probe/re-rank still cover every vector).
    *
    * All orderings tie-break on (rounded cosine desc, id asc), so results
    * are deterministic and engine-portable (the DuckDB oracle reconstructs
    * training, assignment, probe, and re-rank).
    */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long],
              centroids: Int = 16, nprobe: Int = 4, trainIters: Int = 2,
              maxTrainVectors: Long = 0L): DataFrame = {
    // ONE materialized cast/norm scan shared by training, assignment, and
    // the probe side (previously the trainer checkpointed its own identical
    // copy and assignment/probe re-derived the projection from the source).
    // Deliberately NOT fanned out: the training loop runs many tiny stages
    // over this snapshot, and a 32-partition layout made each schedule 32
    // near-empty tasks — measured 2.2 s vs 1.2 s for q35 at sf0.1.
    val mat = embeddings.select(col("vec_id").as("nid"), col("embedding").as("e0"))
      .select(col("nid"), asDouble(col("e0")).as("nemb"))
      .select(col("nid"), col("nemb"), norm(col("nemb")).as("nnorm"))
      .localCheckpoint()
    // coarse quantizer: k-means-trained from the `centroids` SMALLEST ids
    // (rank-based seeds, so sparse or offset id spaces work); orderBy+limit
    // plans as TakeOrderedAndProject (per-partition top-N, no full sort)
    val cents =
      if (trainIters > 0)
        trainIvfFromMat(mat, centroids, trainIters, maxTrainVectors, materialized = true)
      else mat.orderBy(col("nid").asc).limit(centroids)
        .select(col("nid").as("cid"), col("nemb").as("cemb"), col("nnorm").as("cnorm"))
    // inverted lists: every vector → its nearest centroid (broadcast join);
    // argmax via min_by hash aggregate — same (ccos desc, cid asc) order as
    // a row_number window, without the per-partition sort
    val assigned = mat.crossJoin(broadcast(cents))
      .select(col("nid"), col("nemb"), col("nnorm"), col("cid"),
        round(dot(col("nemb"), col("cemb")) / (col("nnorm") * col("cnorm")), 6).as("ccos"))
      .groupBy(col("nid"))
      .agg(min_by(struct(col("nemb"), col("nnorm"), col("cid")),
        struct(negate(col("ccos")), col("cid"))).as("b"))
      .select(col("nid"), col("b.nemb").as("nemb"), col("b.nnorm").as("nnorm"),
        col("b.cid").as("cid"))
    // query probe lists: nprobe nearest centroids per query vector
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid").asc)
    val probes = mat.where(col("nid").isin(queryIds: _*))
      .select(col("nid").as("qid"), col("nemb").as("qemb"), col("nnorm").as("qnorm"))
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qemb"), col("qnorm"), col("cid"),
        round(dot(col("qemb"), col("cemb")) / (col("qnorm") * col("cnorm")), 6).as("ccos"))
      .withColumn("rn", row_number().over(wProbe)).where(col("rn") <= nprobe)
      .select(col("qid"), col("qemb"), col("qnorm"), col("cid"))
    // candidates = union of the probed inverted lists; exact re-rank
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qemb"), col("nemb")) / (col("qnorm") * col("nnorm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 5)
  }

  /** Deterministic feature-hashed bag-of-words embedding: component j =
    * count of tokens whose md5-derived bucket (first 2 hex chars, i.e. 8
    * uniform bits, mod `EmbDim` = 64, which divides 256) equals j.
    * Engine-portable (md5 + hex arithmetic, no JVM hashing), so the DuckDB
    * oracle reconstructs identical vectors. Scale shape: token explode →
    * (doc, bucket) count aggregate (map-side partial) → one map_from_entries
    * assembly per doc; docs with zero tokens are absent (no zero vector to
    * divide by). Identical documents get identical vectors — which makes
    * cosine over these embeddings a DEDUP signal, see cosineNearDupPairsScaled.
    * Output: (doc_id, emb).
    */
  def hashedEmbeddings(docs: DataFrame): DataFrame = {
    // ONE hash aggregate: EmbDim conditional-count columns per doc (map-side
    // partial, buffer = EmbDim longs) instead of the former two-shuffle
    // groupBy(doc, bucket) → groupBy(doc) collect/map_from_entries shape.
    // count(when(bucket = j)) ≡ the per-bucket count with absent buckets 0,
    // so vectors are bit-identical.
    val bucketed = TextOps.fanOut(docs.select(col("doc_id"), col("text").as("text0")))
      .select(col("doc_id"), explode(TextOps.tokens(col("text0"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 2), 16, 10).cast("long") % EmbDim).as("bucket"))
    val cnts = (0 until EmbDim).map(j => count(when(col("bucket") === j, lit(1))).as(s"c$j"))
    bucketed.groupBy(col("doc_id")).agg(cnts.head, cnts.tail: _*)
      .select(col("doc_id"),
        array((0 until EmbDim).map(j => col(s"c$j").cast("double")): _*).as("emb"))
  }

  /** Over-cap (table, bucket) groups the guardrail prunes — one cheap COUNT
    * aggregation (map-side partial, member lists never collected), the
    * embedding-family analog of `NearDup.lshOverflowBuckets`. Output:
    * (t, bucket, bucket_size) with bucket_size > maxBucket.
    */
  def cosineOverflowBuckets(bucketRows: DataFrame, maxBucket: Int): DataFrame =
    bucketRows.groupBy(col("bucket.t").cast("long").as("t"), col("bucket.b").as("bucket"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)

  /** Embedding-cosine near-dup pairs over `hashedEmbeddings`' (doc_id, emb)
    * rows — the 5th dedup family (exact hash, MinHash LSH, SimHash bands,
    * n-gram Jaccard, and embedding cosine): sign-hyperplane LSH candidate
    * generation over ALL vectors (`Tables` = 4 tables of `planes`
    * hyperplanes; the same single-bucket-aggregation + pair-explode shape
    * as NearDup.lshCandidatePairs — ids only, embeddings joined back
    * afterwards, so bucket lists never carry arrays), then exact cosine
    * verification >= `threshold` (rounded 6dp, engine-portable). Candidate
    * recall follows the multi-table LSH bound; the DuckDB oracle replays the
    * bucket pruning so the contract is exact. `.pairs` is (d1, d2,
    * cos_sim), d1 < d2.
    *
    * `maxBucket` is the same quadratic-bucket guardrail as the text
    * families, with the no-silent-caps contract: `.droppedBuckets` lists
    * every pruned (t, bucket, bucket_size) so over-cap clusters are
    * visible — `.logDrops()` WARN-logs the summary. As with the text
    * entrypoint, a bucket of N near-identical vectors yields N²/2 pairs
    * under ANY algorithm; the right fix for overflow is exact dedup first,
    * and this entry makes that failure loud. Both frames share one
    * checkpointed embedding scan and (when capped) one checkpointed bucket
    * table.
    *
    * Dim contract enforced IN the plan (same raise_error as lshTopK): a
    * vector whose length is not `EmbDim` = 64 would silently hash into
    * wrong buckets — losing candidate RECALL with no symptom (the
    * exact-cosine verify prevents false positives but not misses); fail the
    * job instead.
    *
    * A repeated id row repeats its pair rows (the verification joins match
    * each copy); take `distinct` on (d1, d2) if ids may repeat.
    */
  def cosineNearDupPairsScaled(embeddings: DataFrame, threshold: Double,
                               planes: Int = 6, maxBucket: Int = Int.MaxValue): NearDup.ScaledNearDup = {
    val mat = embeddings
      .select(col("doc_id").as("nid"), asDouble(col("emb")).as("nemb"))
      .select(col("nid"), col("nemb"), norm(col("nemb")).as("nnorm"))
      .localCheckpoint() // bucket scan + two verification joins
    val checked = mat.withColumn("nemb",
      when(size(col("nemb")) === EmbDim, col("nemb"))
        .otherwise(raise_error(concat(
          lit(s"cosineNearDupPairs: embedding dim != $EmbDim, got "),
          size(col("nemb")).cast("string")))))
    // Buckets via a BROADCAST plane table + map-side partial aggregation,
    // not the single tables×planes literal mega-expression: one projection
    // holding all 48 literal hyperplane arrays compiles into one huge
    // method that the JVM refuses to JIT, and under a materializing sink
    // it ran ~20× slower than under an aggregation (measured 1.3 s vs
    // 0.07 s on q44's bucket pass at sf0.1). Here each row computes ONE
    // small codegen'd dot; the 48× row inflation is map-local — the
    // partial sum collapses it to `Tables` rows per vector before the
    // exchange. Values are bit-identical: the dot fold order matches the
    // old expression and the bit-OR over disjoint bitvals equals the old
    // when-chain reduce (a sum would carry into a wrong bucket on a repeated id).
    val planeRows: Seq[(Int, Long, Seq[Double])] =
      for { t <- 0 until Tables; j <- 0 until planes }
        yield (t, 1L << j, hyperplane(EmbDim, t * planes + j).toSeq)
    val sess = embeddings.sparkSession
    import sess.implicits._
    val planesDf = planeRows.toDF("t", "bitval", "plane")
    val bucketRows = checked.select(col("nid"), col("nemb"))
      .crossJoin(broadcast(planesDf))
      .groupBy(col("nid"), col("t"))
      .agg(bit_or(when(dot(col("nemb"), col("plane")) > 0, col("bitval")).otherwise(lit(0L))).as("b"))
      .select(col("nid"), struct(col("t").as("t"), col("b").as("b")).as("bucket"))
    // same cap discipline as NearDup.lshCandidatePairs: when the guardrail is
    // set, a cheap COUNT + semi-join prunes mega-buckets BEFORE any member
    // list is collected — and the SAME checkpointed bucket table feeds the
    // drop accounting, so pairs and droppedBuckets always agree
    val (pruned, dropped) =
      if (maxBucket == Int.MaxValue)
        (bucketRows, cosineOverflowBuckets(bucketRows.limit(0), maxBucket))
      else {
        val rows = bucketRows.localCheckpoint()
        val keep = rows.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
          .where(col("bn") > 1 && col("bn") <= maxBucket)
          .select(col("bucket"))
        (rows.join(keep, Seq("bucket"), "left_semi"), cosineOverflowBuckets(rows, maxBucket))
      }
    // pair explosion as TWO chained generates, not one nested transform:
    // the nested form materializes the full k²/2-struct array per bucket
    // row before exploding (≈131k structs for a 512-member bucket); the
    // chained form emits one ≤k slice per first-level row. Same (d1 < d2)
    // pair set — the member list is ascending, so the post-i slice holds
    // exactly the larger partners.
    val cand = pruned
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("nid"))).as("ids"))
      .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "d1")))
      .select(col("d1"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("d2"))
      .distinct()
    val pairs = cand
      .join(mat.select(col("nid").as("d1"), col("nemb").as("e1"), col("nnorm").as("m1")), Seq("d1"))
      .join(mat.select(col("nid").as("d2"), col("nemb").as("e2"), col("nnorm").as("m2")), Seq("d2"))
      .select(col("d1"), col("d2"), round(dot(col("e1"), col("e2")) / (col("m1") * col("m2")), 6).as("cos_sim"))
      .where(col("cos_sim") >= threshold)
    NearDup.ScaledNearDup(pairs, dropped, label = "cosineNearDupPairsScaled")
  }

  /** Approximate top-k with standard multi-table LSH: `Tables` = 4
    * independent hash tables of 6 hyperplanes each; candidate set = union
    * of the query's buckets across tables (explode → equi-join on (table,
    * bucket) → distinct), then exact cosine rank within candidates. More
    * tables → higher recall at linear candidate cost; at 10⁹ vectors each
    * table join touches only |bucket| ≈ N/2^6 rows per query.
    *
    * @param dim embedding dimensionality (hyperplanes are literal arrays of
    *   this length). Pass it explicitly to keep plan construction lazy; the
    *   default (-1) peeks one row — and returns an empty result frame when
    *   the input has no rows at all.
    */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int = 5,
              dim: Int = -1): DataFrame = {
    // materialize the double-cast embedding + norm once per vector; all
    // tables×planes bucket folds then read the bound array instead of
    // re-running the cast transform per plane (no CSE inside array lambdas)
    val mat = embeddings
      .select(col("vec_id").as("nid"), asDouble(col("embedding")).as("nemb"))
      .select(col("nid"), col("nemb"), norm(col("nemb")).as("nnorm"))
    val dimension =
      if (dim > 0) dim
      else embeddings.select(size(col("embedding"))).head(1).headOption.map(_.getInt(0)).getOrElse(0)
    if (dimension <= 0)
      return mat.limit(0).select(col("nid").as("qid"), col("nid"),
        lit(0.0).as("cos_sim"), lit(1).as("rank"))
    // dim contract enforced IN the plan (construction stays lazy): a vector
    // whose length disagrees with the hyperplane length would silently hash
    // wrong-length projections into wrong buckets — fail the job instead
    val checked = mat.withColumn("nemb",
      when(size(col("nemb")) === dimension, col("nemb"))
        .otherwise(raise_error(concat(
          lit(s"lshTopK: embedding dim != $dimension, got "),
          size(col("nemb")).cast("string")))))
    val bucketCols = (0 until Tables).map(t =>
      struct(lit(t).as("t"), lshBucket(col("nemb"), dimension, 6, t).as("b")).as(s"bk$t"))
    val withBuckets = checked.select(
      (Seq(col("nid"), col("nemb"), col("nnorm")) :+
        explode(array(bucketCols: _*)).as("bucket")): _*)
    val q2 = withBuckets.where(col("nid").isin(queryIds: _*))
      .select(col("nid").as("qid"), col("nemb").as("qemb"), col("nnorm").as("qnorm"), col("bucket"))
    val cand = withBuckets.join(broadcast(q2), Seq("bucket"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), col("qemb"), col("qnorm"), col("nemb"), col("nnorm"))
      .dropDuplicates("qid", "nid")
    val scored = cand.select(col("qid"), col("nid"),
      round(dot(col("qemb"), col("nemb")) / (col("qnorm") * col("nnorm")), 6).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}

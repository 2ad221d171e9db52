package graft.canon

import graft.exec.Snapshots
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Cross-document entity canonicalization (SURVEY §2.3 J10 — the north rule's
  * connected-components generalization of the reference's content-hash node
  * identity, enhanced_hypergraph_builder_agent_v2.py:1300-1303 /
  * graph_extraction_agent.py:510-519).
  *
  * An alias dictionary is canonicalized on the driver: its lower-cased
  * (alias, canonical) pairs are collected once and labelled by a
  * path-compressed union-find into a [[Canonicalize.KeyIndex]] (sorted ids
  * plus labels), which `Pipeline.run` broadcasts and looks node keys up in.
  * The alias graph is the small side, so it is neither joined nor
  * partitioned ("To Partition, or Not to Partition", SIGMOD'21); like the
  * knowledge base that entity linking indexes, it must fit the driver.
  *
  * `connectedComponents` serves edge sets that come from the corpus as a
  * distributed frame (q28, q62's near-dup clusters). Two regimes, chosen by
  * the measured size of the oriented, distinct edge set (one bounded collect
  * of its snapshot):
  *
  *  - at most `DriverMaxEdges` edges: the same union-find on the driver. A
  *    graph of a few hundred edges would otherwise pay Spark's fixed per-job
  *    and per-stage cost for every star round while doing almost no work.
  *  - more edges: alternating large-star / small-star rounds (Kiveris et
  *    al., "Connected Components in MapReduce and Beyond") as a driver loop
  *    of plain DataFrame join+groupBy/min steps with `localCheckpoint()` per
  *    round to truncate lineage. Converges in O(log n) rounds regardless of
  *    graph DIAMETER — the hash-min label propagation it replaced needed
  *    O(diameter) rounds, so a 1000-hop chain blew past any reasonable
  *    maxIter and silently returned unconverged labels; star contraction
  *    handles chains and hubs alike. No GraphX: plain Catalyst plans keep
  *    AQE (incl. skew-join splitting) in charge of the physical layout,
  *    which matters because hub entities ("Intel" in a third of pages) make
  *    the edge list heavily skewed.
  *
  * Both regimes return the same rows under the same schema. The component
  * label is the minimum id in Spark's string order — binary comparison of
  * the UTF-8 bytes (`UTF8String.binaryCompare`), the order `least`/`min`
  * use — not `String.compareTo`'s UTF-16 order, which sorts supplementary
  * characters (surrogate pairs) below U+E000..U+FFFF.
  *
  * Skew handling in the star loop (SURVEY §4.1): the per-node neighborhood
  * minimum is a hash aggregate with map-side partial min (reducer input
  * bounded by #map-partitions rows per key, even for a hub node present in
  * every partition), and neighbor emission is an equi-join the AQE skew rule
  * can split. Neighbor LISTS are never collected.
  */
object Canonicalize {

  /** Safety bound on large-star+small-star rounds: with O(log n)
    * convergence, 50 covers any graph that fits on storage.
    */
  private val MaxIter = 50

  /** Largest edge set `connectedComponents` labels on the driver (alias
    * dictionaries are not bounded by it: `keyIndex` always labels them
    * there). A driver-memory cap, not a speed crossover. On a 4-core host
    * (local[4], 4 shuffle partitions) the union-find beat the star loop at
    * every measured size, 50k to 1M distinct edges: 14-23x on single paths,
    * 3-8x on hub-heavy graphs. What grows with the bound is the collected
    * rows' share of the driver heap, 16 MB at 100k edges of 10-character
    * ids (164 MB at 1M). A larger edge set stays distributed and runs the
    * star loop, after a bounded collect that took 0.06-0.44 s there.
    */
  private val DriverMaxEdges = 100000

  /** Connected components over an undirected edge list. Throws
    * IllegalStateException instead of returning wrong labels if the star
    * rounds do not converge within the safety bound.
    *
    * @param edges DataFrame with two string columns (src, dst)
    * @return DataFrame (id, component) — component = min id in the component
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    val (snap, snapIds) = orientedSnapshot(edges)
    smallEdgeSet(snap) match {
      case Some(rows) => driverComponents(spark, snap, snapIds, rows)
      case None => starComponents(spark, snap, snapIds)
    }
  }

  /** The snapshot's rows if it holds at most `DriverMaxEdges` edges, from
    * one bounded collect; None otherwise, so the star loop does not run
    * with the collected rows still referenced.
    */
  private def smallEdgeSet(snap: DataFrame): Option[Array[Row]] = {
    val head = snap.limit(DriverMaxEdges + 1).collect()
    if (head.length <= DriverMaxEdges) Some(head) else None
  }

  /** Eager snapshot of the edge set oriented (u, v) with u > v in Spark's
    * string order, self-loops (and NULL endpoints) dropped, distinct — so
    * the upstream edge pipeline (e.g. q62's LSH-verify chain) is evaluated
    * once — and the ids of the RDDs it persisted.
    */
  private[canon] def orientedSnapshot(edges: DataFrame): (DataFrame, Set[Int]) = {
    val e0 = edges
      .select(col("src").cast("string").as("a"), col("dst").cast("string").as("b"))
      .where(col("a") =!= col("b"))
    Snapshots.checkpoint(
      e0.select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v")).distinct())
  }

  /** (id, component) of an edge forest of stars: every non-root appears as
    * the larger endpoint pointing at its component's min id (groupBy-min is
    * an identity pass there — kept as a guard so a residual multi-edge could
    * never duplicate label rows). The vertex set is read from the edges
    * themselves: both star rounds preserve the endpoint set (large-star
    * keeps every vertex as a larger endpoint or as the min-target of its
    * larger neighbors; small-star keeps every left endpoint via its (u, m)
    * row and every right endpoint as a target).
    */
  private def labels(cur: DataFrame): DataFrame = {
    val vertices = cur.select(col("u").as("id")).union(cur.select(col("v").as("id"))).distinct()
    vertices
      .join(cur.groupBy(col("u").as("id")).agg(min(col("v")).as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Schema of both regimes' result. The star loop's `min` makes both
    * columns nullable whatever the input's nullability, so the driver
    * regime uses this fixed schema rather than one derived from its input.
    */
  private val LabelSchema = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("component", StringType, nullable = true)))

  /** Union-find over the collected snapshot rows, returned as a local
    * DataFrame with `LabelSchema`; frees the snapshot.
    */
  private[canon] def driverComponents(spark: SparkSession, snap: DataFrame, snapIds: Set[Int],
                                      rows: Array[Row]): DataFrame = {
    val ix = unionFind(rows.map(r => (r.getString(0), r.getString(1))))
    val out = spark.createDataFrame(
      ix.ids.indices.map(i => Row(ix.ids(i).toString, ix.ids(ix.labels(i)).toString)).asJava, LabelSchema)
    Snapshots.free(spark, snapIds)
    out
  }

  /** Spark's string order (`least`/`min`): binary comparison of the UTF-8 bytes. */
  private val BinaryOrder: java.util.Comparator[UTF8String] = (a, b) => a.binaryCompare(b)

  /** The position of `key` in `ids`, sorted in Spark's string order (a
    * negative number when absent).
    */
  private def position(ids: Array[UTF8String], key: UTF8String): Int =
    java.util.Arrays.binarySearch(ids, key, BinaryOrder)

  /** A graph's components, labelled on the driver, as two dense arrays:
    * `ids`, its vertices sorted in Spark's string order, and `labels(i)`, the
    * position in `ids` of vertex i's component minimum. A key is found by
    * binary search — no hash map, no boxed ids.
    */
  final class KeyIndex private[canon] (private[canon] val ids: Array[UTF8String],
                                       private[canon] val labels: Array[Int]) extends Serializable {
    /** `key`'s component minimum; null for a NULL key or one outside every component. */
    def canonicalKey(key: String): String =
      if (key == null) null
      else {
        val i = position(ids, UTF8String.fromString(key))
        if (i < 0) null else ids(labels(i)).toString
      }
  }

  /** Components of the undirected graph `edges` by a path-compressed
    * union-find on the driver. Ids are numbered in Spark's string order and a
    * union links the larger root under the smaller, so every root is its
    * component's minimum.
    */
  private def unionFind(edges: Array[(String, String)]): KeyIndex = {
    val ids = edges.flatMap(e => Array(e._1, e._2)).distinct.map(UTF8String.fromString)
    java.util.Arrays.sort(ids, BinaryOrder)
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val ra = find(position(ids, UTF8String.fromString(a)))
      val rb = find(position(ids, UTF8String.fromString(b)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.indices.foreach(find) // every vertex now points straight at its root
    new KeyIndex(ids, parent)
  }

  /** The large-star / small-star loop from the oriented snapshot; frees
    * every superseded round snapshot (the final one backs the result).
    */
  private[canon] def starComponents(spark: SparkSession, snap: DataFrame,
                                    snapIds: Set[Int]): DataFrame = {
    import spark.implicits._
    var (cur, curIds) = (snap, snapIds)

    /** Cheap convergence fingerprint: (edge count, XOR of per-edge xxhash64)
      * — one aggregate, no join; XOR is commutative and overflow-free (ANSI-
      * safe), and the edge set is distinct so no pair cancels its duplicate.
      * The round map is deterministic, so an identical fingerprint means an
      * identical edge set from here on (collision odds ~2⁻⁶⁴ per round).
      */
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prevFp = fingerprint(cur)
    var iter = 0
    var converged = false
    // rounds after the first are materialized via a LAZY local checkpoint:
    // the plan is truncated immediately (without truncation the round
    // plan doubles per iteration — cur appears twice in sym — and analysis
    // goes exponential), but the snapshot is only computed by the
    // fingerprint job itself, so each round costs ONE job instead of
    // checkpoint + a separate fingerprint job
    while (iter < MaxIter && !converged) {
      // ---- large-star: every node u links its LARGER neighbors to the min
      // of its closed neighborhood. min is a map-side-partial hash aggregate
      // (no neighbor lists); each undirected edge contributes exactly one
      // emitted edge, so the set never grows.
      val sym = cur.union(cur.select($"v".as("u"), $"u".as("v")))
      val mins = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"mn", $"u").as("m"))
      // no distinct here: |ls| = |{(u,v) ∈ sym : v > u}| = |cur| either way
      // (dedup could only shrink it), every consumer is duplicate-insensitive
      // (mins2 is a min; ss ends in distinct), and dropping it removes one
      // full exchange of the edge set per round
      val ls = sym.join(mins, Seq("u"))
        .where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))   // v > u ≥ m → stays (larger, smaller)
      // ---- small-star: every node u links its smaller neighbors (and
      // itself) to its min smaller neighbor; on (larger, smaller)-oriented
      // edges all neighbors in the group are smaller, so no `least` needed.
      val mins2 = ls.groupBy($"u").agg(min($"v").as("m"))
      val ss = ls.join(mins2, Seq("u"))
        .where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins2.select($"u", $"m".as("v")))
        .distinct()
      val (next, nextIds) = Snapshots.checkpoint(ss, eager = false)
      val fp = fingerprint(next) // ONE job: materializes the lazy snapshot en route
      // fingerprint equality is necessary-but-probabilistic (a ~2⁻⁶⁴ XOR
      // collision would otherwise silently freeze WRONG labels); confirm
      // with an exact set comparison — counts are already equal inside the
      // fingerprint, so one-direction except suffices, and it runs only on
      // fingerprint-equal rounds (normally exactly once, at convergence)
      converged = fp == prevFp && next.except(cur).isEmpty
      prevFp = fp
      Snapshots.free(spark, curIds)
      cur = next
      curIds = nextIds
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxIter star rounds")
    // the vertex set comes from the FINAL materialized snapshot, not from
    // the input edges, so the upstream edge pipeline is not re-run for the
    // label join
    labels(cur)
  }

  /** The alias graph's [[KeyIndex]]: one collect of the lower-cased
    * (alias, canonical) pairs, self-loops and NULL endpoints dropped (a local
    * dictionary folds into a local relation, so this runs no Spark job),
    * labelled by the union-find. An empty or all-self-loop dictionary gives
    * an empty index.
    */
  def keyIndex(aliases: DataFrame): KeyIndex = {
    val edges = aliases.select(lower(col("alias")).as("src"), lower(col("canonical")).as("dst"))
      .where(col("src") =!= col("dst")).collect()
    unionFind(edges.map(r => (r.getString(0), r.getString(1))))
  }

  /** The canonical key of a lower-cased string column `key`, looked up in
    * the broadcast alias index: the component minimum, else `key` itself
    * (NULL stays NULL).
    */
  def canonicalKey(index: Broadcast[KeyIndex], key: Column): Column = {
    val lookup = udf((k: String) => index.value.canonicalKey(k))
    coalesce(lookup(key), key)
  }

  /** The persisted id of a canonical key: "canon_" and the first 16 hex
    * digits of its SHA-256 (graph_extraction_agent.py:510-519 pattern).
    */
  def canonicalId(canonicalKey: Column): Column =
    concat(lit("canon_"), substring(sha2(canonicalKey, 256), 1, 16))

  /** (key, canonical_key) for the distinct lower-cased keys of `nodeKeys`
    * (column `key`), through a broadcast `keyIndex(aliases)`: same-content
    * merge (exact, the reference's md5(lower(content)) identity) extended
    * with the alias dictionary (alias → canonical). A key outside every
    * component keeps itself, as does every key under an empty or
    * all-self-loop dictionary. The broadcast lives as long as the returned
    * frame's lineage, so it is left to the ContextCleaner.
    */
  def canonicalKeys(spark: SparkSession, nodeKeys: DataFrame, aliases: DataFrame): DataFrame = {
    val index = spark.sparkContext.broadcast(keyIndex(aliases))
    nodeKeys.select(lower(col("key")).as("key")).distinct()
      .select(col("key"), canonicalKey(index, col("key")).as("canonical_key"))
  }
}

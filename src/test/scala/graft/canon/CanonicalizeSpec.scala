package graft.canon

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{concat, least, lit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Connected-components canonicalization (J10): both regimes — the driver
  * union-find and the star loop — and the alias dictionary's broadcast key
  * index against a brute-force union-find oracle, hub-skew shapes, Spark's
  * string order, and idempotence (north rule).
  */
class CanonicalizeSpec extends SparkSpec {

  /** Spark's string order: binary comparison of the UTF-8 bytes. */
  private val sparkOrder: Ordering[String] =
    Ordering.fromLessThan((a, b) => UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)

  /** Driver-side union-find oracle. */
  private def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical = min member per component, in Spark's order (least/min)
    val byRoot = ids.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val m = members.min(sparkOrder)
      members.map(_ -> m)
    }
  }

  private def collectLabels(df: DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** The star loop over `edges`, bypassing the size-derived choice. */
  private def runStar(edges: DataFrame): DataFrame = {
    val (snap, ids) = Canonicalize.orientedSnapshot(edges)
    Canonicalize.starComponents(spark, snap, ids)
  }

  /** The driver union-find over `edges`, whatever their number. */
  private def runDriver(edges: DataFrame): DataFrame = {
    val (snap, ids) = Canonicalize.orientedSnapshot(edges)
    Canonicalize.driverComponents(spark, snap, ids, snap.collect())
  }

  /** Labels of both regimes, after checking they agree on the schema
    * (column names, types and nullability).
    */
  private def bothPaths(edges: Seq[(String, String)]): Seq[(String, Map[String, String])] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst")
    val (star, driver) = (runStar(df), runDriver(df))
    assert(star.schema == driver.schema)
    Seq("star" -> collectLabels(star), "driver" -> collectLabels(driver))
  }

  test("CC matches union-find on a fixed graph with transitive chains") {
    val edges = Seq(
      "a" -> "b", "b" -> "c",           // chain
      "d" -> "e",                        // pair
      "f" -> "f2", "f2" -> "f3", "f3" -> "f", // cycle
      "x" -> "y")
    for ((path, got) <- bothPaths(edges)) assert(got == unionFind(edges), path)
  }

  test("CC handles hub skew (star with 200 spokes + chains)") {
    val star = (1 to 200).map(i => "hub" -> f"spoke$i%03d")
    val chains = (1 to 20).map(i => f"spoke$i%03d" -> f"leaf$i%03d")
    val edges = star ++ chains
    for ((path, got) <- bothPaths(edges)) {
      assert(got == unionFind(edges), path)
      assert(got.values.toSet.size == 1, path) // all one component
      assert(got("leaf005") == "hub", path)    // min label is "hub"
    }
  }

  test("CC matches union-find on random graphs (seeded property loop)") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(39)
      val m = 1 + rnd.nextInt(80)
      val edges = (1 to m).map { _ =>
        (f"v${rnd.nextInt(n)}%02d", f"v${rnd.nextInt(n)}%02d")
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty)
        for ((path, got) <- bothPaths(edges))
          assert(got == unionFind(edges), s"$path: trial $trial failed on $edges")
    }
  }

  test("CC converges on a 1000-hop chain (O(log n) star rounds, not O(diameter))") {
    // hash-min label propagation needed one round per hop — 1000 hops blew
    // past maxIter=50 and silently returned unconverged labels; star
    // contraction closes this in ~log rounds
    val chain = (0 until 1000).map(i => (f"n$i%04d", f"n${i + 1}%04d"))
    for ((path, out) <- bothPaths(chain)) {
      assert(out.size == 1001, path)
      assert(out.values.forall(_ == "n0000"),
        s"$path: unconverged labels: ${out.filter(_._2 != "n0000").take(5).toSeq}")
    }
  }

  test("CC loop frees superseded edge checkpoints (<=1 live snapshot)") {
    import spark.implicits._
    // before the round-3 fix the loop left one cached RDD per round behind
    val chain = (0 until 30).map(i => (f"c$i%02d", f"c${i + 1}%02d")).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = runStar(chain)
    assert(out.collect().map(_.getString(1)).toSet == Set("c00"))
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    // only the FINAL edge snapshot may stay cached: every superseded round
    // snapshot is freed
    assert(leaked.size <= 1, s"leaked ${leaked.size} cached RDDs: $leaked")
    // the driver regime frees its only snapshot
    val before2 = sc.getPersistentRDDs.keySet.toSet
    assert(Canonicalize.connectedComponents(spark, chain).collect().map(_.getString(1)).toSet == Set("c00"))
    val leaked2 = sc.getPersistentRDDs.keySet.toSet -- before2
    assert(leaked2.isEmpty, s"driver regime left ${leaked2.size} cached RDDs: $leaked2")
  }

  test("connectedComponents runs the star loop past 100 000 edges: hub, 20 000-hop path, random mass") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // the shape at which the driver union-find hands over: a hub on a third
    // of the edges, one path of 20 000 hops that ends on the hub (its label
    // travels the whole path), and random edges among the hub's spokes
    val rnd = new scala.util.Random(20261020L)
    val hub = (0 until 50000).map(i => ("hub", s"v$i"))
    val path = (0 until 20000).map(i => (f"p$i%05d", f"p${i + 1}%05d")) :+ ("p20000" -> "hub")
    val mass = (0 until 80000).map(_ => (s"v${rnd.nextInt(200000)}", s"v${rnd.nextInt(200000)}"))
    val edges = hub ++ path ++ mass
    assert(hub.size >= 0.3 * edges.size)
    val distinct = edges.collect { case (a, b) if a != b => if (sparkOrder.lt(a, b)) (b, a) else (a, b) }.distinct.size
    assert(distinct == 150001)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val cc = Canonicalize.connectedComponents(spark, edges.toDF("src", "dst"))
    // the driver regime returns its labels as a local relation
    assert(cc.queryExecution.logical.collectFirst { case r: LocalRelation => r }.isEmpty,
      "labelled on the driver, not by the star loop")
    val got = collectLabels(cc)
    assert(got == unionFind(edges))
    assert(got("p00000") == "hub")
    // only the loop's final edge snapshot, which backs the labels, stays cached
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.size <= 1, s"${left.size} cached RDDs left: $left")
  }

  test("component = min id in Spark's binary UTF-8 order, not String.compareTo") {
    import spark.implicits._
    // U+FF21 encodes as EF BC A1, U+1F600 as F0 9F 98 80: "Ａ" is smaller in
    // UTF-8 byte order, but the emoji's high surrogate (D83D) sorts it first
    // in Java's UTF-16 order
    val (fw, emoji) = ("\uFF21", "\uD83D\uDE00")
    assert(emoji.compareTo(fw) < 0)
    val repl = "\uFFFD" // EF BF BD: above "Ａ" in both orders
    val edges = Seq(fw -> emoji, repl -> emoji)
    assert(edges.toDF("a", "b").select(least($"a", $"b")).head().getString(0) == fw)
    for ((path, got) <- bothPaths(edges))
      assert(got == Map(fw -> fw, emoji -> fw, repl -> fw), path)
  }

  test("both regimes return nullable (id, component) for non-nullable input") {
    import spark.implicits._
    // the star loop's min makes both columns nullable whatever the input;
    // the driver regime must match it, not inherit the input's nullability
    val inputs = Seq(
      Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("src", "dst"),
      spark.range(5).select(concat(lit("r"), $"id").as("src"), concat(lit("r"), $"id" + 1).as("dst")))
    for (df <- inputs) {
      assert(!df.schema("src").nullable && !df.schema("dst").nullable)
      val (star, driver) = (runStar(df), runDriver(df))
      assert(star.schema.map(f => (f.name, f.dataType, f.nullable)) ==
        Seq(("id", StringType, true), ("component", StringType, true)))
      assert(driver.schema == star.schema)
      assert(Canonicalize.connectedComponents(spark, df).schema == star.schema)
      assert(collectLabels(driver) == collectLabels(star))
    }
  }

  test("canonicalKeys: empty and all-self-loop alias dictionaries map every key to itself") {
    import spark.implicits._
    val keys = Seq("Intel", "intel corp", "alphabet").toDF("key")
    val empty = Seq.empty[(String, String)].toDF("alias", "canonical")
    val selfLoops = Seq(("Intel", "intel"), ("alphabet", "Alphabet")).toDF("alias", "canonical")
    for (aliases <- Seq(empty, selfLoops)) {
      val got = Canonicalize.canonicalKeys(spark, keys, aliases)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == Map("intel" -> "intel", "intel corp" -> "intel corp", "alphabet" -> "alphabet"))
    }
  }

  test("canonicalization is idempotent: canon(canon(x)) == canon(x)") {
    import spark.implicits._
    val aliases = Seq(
      ("intel", "intel corporation"), ("intel corp", "intel corporation"),
      ("google", "alphabet"), ("alphabet inc", "alphabet"))
      .toDF("alias", "canonical")
    val keys = Seq("intel", "intel corp", "intel corporation", "google",
      "alphabet", "alphabet inc", "unrelated co").toDF("key")
    val once = Canonicalize.canonicalKeys(spark, keys, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // apply again: feed canonical keys back through
    val keys2 = once.values.toSeq.distinct.toDF("key")
    val twice = Canonicalize.canonicalKeys(spark, keys2, aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((_, c) <- once) assert(twice(c) == c, s"canonical key $c not a fixed point")
    // transitive chain merged
    assert(once("intel") == once("intel corp") && once("intel") == once("intel corporation"))
    assert(once("unrelated co") == "unrelated co")
  }

  test("the broadcast key index gives the star loop's canonical ids") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, lower}
    val (fw, emoji, repl) = ("\uFF21", "\uD83D\uDE00", "\uFFFD") // see the binary-order test above
    val chain = (0 until 1000).map(i => (f"Hop$i%04d", f"hop${i + 1}%04d"))
    val hub = (1 to 200).map(i => (f"spoke$i%03d", "HUB"))
    val aliases = (chain ++ hub ++ Seq(
      (null, "hub"), ("hub", null), (null, null), // NULL endpoints: no edge
      ("Self", "self"), ("hub", "HUB"),           // self-loops once lower-cased
      ("", "blank"),                              // the empty key joins a component
      ("İstanbul", "istanbul"), ("STRASSE", "straße"), ("ΟΔΟΣ", "οδός"), ("Σ", "σ"),
      (fw, emoji), (repl, emoji))).toDF("alias", "canonical")
    // node contents: every alias-graph key in some case, keys outside it, NULL
    // and empty contents, and the hub key in a third of the rows
    val contents: Seq[String] = chain.map(_._1) ++ chain.map(_._2.toUpperCase) ++ hub.map(_._1) ++
      Seq.fill(700)("Hub") ++ Seq(null, null, "", "", "Self", "blank", "İstanbul", "ISTANBUL", "straße",
        "Strasse", "ΟΔΟΣ", "οδος", "Σ", fw, emoji, repl, "outside", "Outside Co")
    val keyed = contents.toDF("content").repartition(3).withColumn("key", lower($"content"))
    def ids(withKey: DataFrame): Seq[(Option[String], Option[String])] =
      withKey.select($"content", Canonicalize.canonicalId($"canonical_key")).as[(Option[String], Option[String])]
        .collect().toSeq.sortBy(_.toString)
    // the reference: the star loop's components over the lower-cased pairs,
    // left-joined on the key; a key outside every component keeps itself
    val comps = runStar(aliases.select(lower($"alias").as("src"), lower($"canonical").as("dst")))
    val joined = ids(keyed.join(comps, keyed("key") === comps("id"), "left")
      .select(keyed("content"), coalesce(comps("component"), keyed("key")).as("canonical_key")))
    val index = spark.sparkContext.broadcast(Canonicalize.keyIndex(aliases))
    val looked = try ids(keyed.withColumn("canonical_key", Canonicalize.canonicalKey(index, $"key")))
      finally index.destroy()
    assert(looked == joined)
    // the cases above did reach the index
    val byContent = looked.toMap
    assert(byContent(Some("Hop0500")) == byContent(Some("HOP1000")), "chain not merged")
    assert(byContent(Some("spoke007")) == byContent(Some("Hub")), "hub not merged")
    assert(byContent(Some(emoji)) == byContent(Some(repl)) && byContent(Some(fw)) == byContent(Some(emoji)))
    assert(looked.count(_._1.isEmpty) == 2 && looked.filter(_._1.isEmpty).forall(_._2.isEmpty))
    assert(byContent(Some("outside")) != byContent(Some("Outside Co")))
  }

  test("the key index labels 100 001 edges as the oracle does") {
    import spark.implicits._
    // 100 001 edges: one past the bound connectedComponents still labels on
    // the driver; the alias dictionary has no bound
    val n = 100001L
    val pairs = spark.range(n).select(concat(lit("a"), $"id").as("alias"), concat(lit("B"), $"id").as("canonical"))
    val chain = spark.range(n).select(concat(lit("c"), $"id").as("alias"), concat(lit("C"), $"id" + 1).as("canonical"))
    for ((name, aliases) <- Seq("pairs" -> pairs, "chain" -> chain)) {
      val edges = aliases.as[(String, String)].collect().toSeq.map { case (a, c) => (a.toLowerCase, c.toLowerCase) }
      assert(edges.size == n)
      val want = unionFind(edges)
      val ix = Canonicalize.keyIndex(aliases)
      val wrong = want.filter { case (k, c) => ix.canonicalKey(k) != c }
      assert(wrong.isEmpty, s"$name: ${wrong.size} keys mislabelled, e.g. ${wrong.take(3)}")
    }
  }

  test("KeyIndex.canonicalKey equals the union-find oracle on generated dictionaries (ScalaCheck)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lower
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.rng.Seed
    // words with case mappings (dotted capital I, sharp s, final sigma), keys
    // outside the BMP (U+1F600 and U+10400, which lower-cases to U+10428) and
    // the binary-order pair of the test above; case variants make pairs that
    // are self-loops once lower-cased
    val specials = Seq("İ", "i̇", "ß", "SS", "ss", "Σ", "σ", "ς", "\uFF21", "\uD83D\uDE00", "\uD801\uDC00",
      "\uD801\uDC28", "\uFFFD", "")
    val word: Gen[String] = Gen.frequency(8 -> Gen.choose(0, 30).map(i => s"w$i"), 3 -> Gen.oneOf(specials))
      .flatMap(w => Gen.oneOf(w, w.toUpperCase(java.util.Locale.ROOT), w.capitalize))
    val endpoint: Gen[String] = Gen.frequency(12 -> word, 1 -> Gen.const(null))
    val selfLoop: Gen[(String, String)] = word.map(w => (w.toUpperCase(java.util.Locale.ROOT), w))
    val chain: Gen[Seq[(String, String)]] = Gen.choose(1000, 1200).map(n =>
      (0 until n).map(i => (s"Link$i", s"link${i + 1}")) :+ ("link0" -> "w0"))
    val dictionary: Gen[Seq[(String, String)]] = Gen.frequency(
      1 -> Gen.const(Seq.empty),
      1 -> Gen.zip(endpoint, endpoint).map(Seq(_)),
      8 -> (for {
        random <- Gen.listOf(Gen.frequency(6 -> Gen.zip(endpoint, endpoint), 1 -> selfLoop))
        repeats <- Gen.choose(0, 5)
        hub <- Gen.oneOf(None, Some("Hub"), Some("\uD83D\uDE00"))
        long <- Gen.frequency(3 -> Gen.const(Seq.empty), 1 -> chain)
        seed <- Gen.long
      } yield {
        val base = random ++ random.take(repeats) ++ long
        // spokes make the hub key at least 30% of the rows
        val spokes = hub.toSeq.flatMap(h => (0 to base.size / 2).map(i => (s"spoke$i", h)))
        new scala.util.Random(seed).shuffle(base ++ spokes)
      }))
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(dictionary) { rows =>
      val aliases = rows.toDF("alias", "canonical")
      val ix = Canonicalize.keyIndex(aliases)
      // the pairs lower-cased as Spark does (a local frame: no Spark job)
      val lowered = aliases.select(lower($"alias"), lower($"canonical")).as[(String, String)].collect().toSeq
      val edges = lowered.filter { case (a, c) => a != null && c != null }
      val want = unionFind(edges)
      Seq("empty" -> rows.isEmpty, "one row" -> (rows.size == 1),
        "repeated edge" -> (edges.distinct.size < edges.size),
        "NULL endpoint" -> (edges.size < rows.size),
        "self-loop once lower-cased" -> rows.zip(lowered).exists { case ((a, c), (la, lc)) =>
          a != null && a != c && la == lc },
        "hub in 30% of rows" -> rows.groupBy(_._2).exists(_._2.size * 10 >= rows.size * 3 && rows.size > 10),
        "1000-hop chain" -> rows.exists(_._1 == "Link999"),
        "supplementary character" -> edges.exists(e => (e._1 + e._2).exists(Character.isSurrogate)))
        .foreach { case (k, hit) => if (hit) seen(k) += 1 }
      val keys = (lowered.flatMap(e => Seq(e._1, e._2)) ++ Seq("outside", null)).distinct
      val wrong = keys.filter(k => Option(ix.canonicalKey(k)).getOrElse(k) != want.getOrElse(k, k))
      Prop(wrong.isEmpty && ix.canonicalKey(null) == null) :| s"mislabelled ${wrong.take(3)} in $rows"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(200)
      .withInitialSeed(Seed(20261020L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(res.succeeded >= 200)
    for (k <- Seq("empty", "one row", "repeated edge", "NULL endpoint", "self-loop once lower-cased",
      "hub in 30% of rows", "1000-hop chain", "supplementary character"))
      assert(seen(k) > 0, s"no generated dictionary had a $k: $seen")
  }
}

package graft.link

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

class EntityLinkSpec extends SparkSpec {

  private def kb() = {
    import spark.implicits._
    Seq(
      ("E1", "Intel Corporation", Seq("Intel", "intel corp"), "semiconductors chips manufacturing fabs silicon", 0.9),
      ("E2", "Intel Agency", Seq("Intel", "the agency"), "intelligence espionage government secret", 0.3),
      ("E3", "Google", Seq("google llc"), "search advertising cloud android", 0.8))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
  }

  private def mentions(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.map { case (id, s, c) => (id, s"u$id", s, c) }
      .toDF("mention_id", "url", "surface", "context")
  }

  test("ambiguous alias resolves by context similarity") {
    val m = mentions(
      (1L, "Intel", "the company builds chips and fabs for silicon manufacturing"),
      (2L, "Intel", "government espionage and secret intelligence work"),
      (3L, "INTEL ", "no helpful context here"))
    val out = EntityLink.link(m, kb()).collect()
      .map(r => r.getAs[Long]("mention_id") -> r.getAs[String]("entity_id")).toMap
    assert(out(1L) == "E1") // chips/fabs context → corporation
    assert(out(2L) == "E2") // espionage context → agency
    assert(out(3L) == "E1") // zero ctx both → prior 0.9 beats 0.3
  }

  test("unlinked mentions survive with null entity (anti-join diagnostic)") {
    val m = mentions((1L, "Unknown Thing", "whatever context"))
    val out = EntityLink.link(m, kb()).collect()
    assert(out.length == 1 && out(0).getAs[String]("entity_id") == null)
    val hist = EntityLink.linkScoreHistogram(EntityLink.link(m, kb()))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(hist == Map("unlinked" -> 1L))
  }

  test("normalization: case/whitespace-insensitive alias match") {
    val m = mentions((1L, "  google   LLC ", "android search"))
    val out = EntityLink.link(m, kb()).collect()
    assert(out(0).getAs[String]("entity_id") == "E3")
  }

  test("context similarity formula (binary cosine)") {
    // |A∩B|=2, |A|=3, |B|=4 → 2/sqrt(12)
    val got = EntityLink.contextSimilarity("a b c", "a b x y", EntityLink.useICU(spark))
    assert(math.abs(got - 2.0 / math.sqrt(12.0)) < 1e-6)
    // the column formula agrees
    import spark.implicits._
    val df = Seq(("a b c", "a b x y")).toDF("context", "profile")
    val colGot = df.select(LinkOracle.contextSimilarity($"context", $"profile")).collect()(0).getDouble(0)
    assert(colGot == got)
  }

  /** Runs `f` over a Range-sourced mention frame and checks the executed
    * plan: one scan of the source (a Range leaf marks each), no exchange of
    * any kind and no join.
    */
  private def assertOneNarrowScan(f: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.execution.RangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Aqe extends AdaptiveSparkPlanHelper
    val m = spark.range(3).select(col("id").as("mention_id"), lit("u").as("url"),
      when(col("id") === 0, lit("Intel")).otherwise(lit("nobody")).as("surface"), lit("chips").as("context"))
    val out = f(m)
    assert(out.collect().nonEmpty)
    val plan = out.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case r: RangeExec => r }.size == 1, s"mentions scanned more than once:\n$plan")
    assert(Aqe.collect(plan) { case e: Exchange => e }.isEmpty, s"expected no exchange:\n$plan")
    assert(Aqe.collect(plan) { case j: BaseJoinExec => j }.isEmpty, s"expected no join:\n$plan")
  }

  test("candidates scan the mentions once: no exchange, no join") {
    assertOneNarrowScan(EntityLink.candidates(_, kb()))
  }

  test("a mention whose every candidate scores below minScore comes back unlinked") {
    val m = mentions((1L, "Intel", "chips"), (2L, "google llc", "search advertising cloud android"))
    val out = EntityLink.link(m, kb(), minScore = 0.8).collect()
      .map(r => r.getAs[Long]("mention_id") -> r).toMap
    assert(out.size == 2)
    // Intel's best candidate (E1) scores 0.63 < 0.8: kept, with every kb column NULL
    val unlinked = out(1L)
    assert(Seq("entity_id", "canonical_name", "ctx_sim", "link_score")
      .forall(c => unlinked.isNullAt(unlinked.fieldIndex(c))), s"$unlinked")
    assert(out(2L).getAs[String]("entity_id") == "E3" && out(2L).getAs[Double]("link_score") >= 0.8)
  }

  test("a repeated mention row yields one output row per input row") {
    val m = mentions((1L, "Intel", "chips fabs"), (1L, "Intel", "chips fabs"),
      (2L, "Unknown", "x"), (2L, "Unknown", "x"), (3L, "google llc", "search"))
    val out = EntityLink.link(m, kb()).collect()
      .map(r => (r.getAs[Long]("mention_id"), Option(r.getAs[String]("entity_id")))).toSeq.sorted
    assert(out == Seq((1L, Some("E1")), (1L, Some("E1")), (2L, None), (2L, None), (3L, Some("E3"))))
  }

  test("a score tie goes to the smallest entity_id") {
    import spark.implicits._
    // same alias, same prior, no shared context: all three candidates score 0.2
    val tied = Seq(
        ("Z9", "Acme Zeta", Seq("acme"), "widgets", 0.5),
        ("A1", "Acme Alpha", Seq("acme"), "gadgets", 0.5),
        ("M5", "Acme Mid", Seq("acme"), "tools", 0.5))
      .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
    val out = EntityLink.link(mentions((1L, "ACME", "nothing shared")), tied).collect()
    assert(out.length == 1 && out(0).getAs[String]("entity_id") == "A1" &&
      out(0).getAs[Double]("link_score") == 0.2, out.mkString)
  }

  test("link scans the mentions once: no exchange, no join") {
    assertOneNarrowScan { m =>
      val linked = EntityLink.link(m, kb())
      assert(linked.count() == 3)
      linked
    }
  }

  private def withCaseMapping[T](icu: Boolean)(body: => T): T = {
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, icu.toString)
    try body finally spark.conf.set(key, before)
  }

  private def check(prop: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(Seed(20261019L)).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  // words with special case mappings (dotted capital I, sharp s, final
  // sigma, Kelvin sign; U+A7C0 and U+2C2F, which only ICU lowercases),
  // joined by ASCII, Unicode and no whitespace, with leading/trailing spaces
  private val word = Gen.oneOf("chips", "Chips", "CHIPS", "fab", "İstanbul", "istanbul", "STRASSE", "straße",
    "ΣΟΦΙΑΣ", "σοφιας", "\u212Aelvin", "kelvin", "\uA7C0x", "\uA7C1x", "\u2C2Fa", "\u2C5Fa", "x", "A", "a")
  private val sep = Gen.frequency(6 -> " ", 2 -> "  ", 1 -> "\u00A0", 1 -> "\t", 1 -> "\n", 1 -> "\u2003", 1 -> "")
  private val text: Gen[String] = Gen.frequency(1 -> Gen.const(null), 1 -> Gen.const(""),
    10 -> (for {
      n <- Gen.choose(1, 6)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(n, sep)
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "\u00A0")
    } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString.stripSuffix(" ") + trail))
  // priors on a rounding half-way point of 0.4 · prior at 6 places
  private val prior: Gen[Option[Double]] = Gen.frequency(1 -> Gen.const(None),
    3 -> Gen.choose(0.0, 1.0).map(Some(_)),
    3 -> Gen.choose(0, 999999).map(k => Some((k * 10 + 5) / 1e7 / 0.4)))

  test("Scala normKey, context similarity, link_score and score_bucket equal the Column expressions (ScalaCheck)") {
    import spark.implicits._
    val cases = Gen.listOfN(50, Gen.zip(text, text, text, prior))
    for (icu <- Seq(true, false)) withCaseMapping(icu) {
      val useICU = EntityLink.useICU(spark)
      assert(useICU == icu)
      var halfWay = 0
      var checked = 0
      check(Prop.forAllNoShrink(cases) { cs =>
        val want = cs.toDF("surface", "context", "profile", "prior")
          .withColumn("ctx_sim", LinkOracle.contextSimilarity($"context", $"profile"))
          .withColumn("link_score", LinkOracle.linkScore($"ctx_sim", coalesce($"prior", lit(0.5))))
          .select(LinkOracle.normKey($"surface"), $"ctx_sim", $"link_score", LinkOracle.scoreBucket($"link_score"))
          .as[(String, Double, Double, String)].collect().toSeq
        val got = cs.map { case (surface, context, profile, p) =>
          val sim = EntityLink.contextSimilarity(context, profile, useICU)
          val raw = 0.6 * sim + 0.4 * p.getOrElse(0.5)
          if (BigDecimal(raw).scale == 7 && BigDecimal(raw).toString.endsWith("5")) halfWay += 1
          val score = EntityLink.linkScore(sim, p.getOrElse(0.5))
          (EntityLink.normKey(surface, useICU), sim, score, EntityLink.scoreBucket(Some(score)))
        }
        checked += cs.size
        val bad = want.zip(got).zip(cs).filter { case ((w, g), _) => w != g }
        Prop(bad.isEmpty) :| s"(want, got, input) ${bad.take(3)}"
      }, minSuccessful = 5)
      assert(checked >= 250 && halfWay > 0, s"$checked cases, $halfWay on a half-way point")
      assert(EntityLink.scoreBucket(None) == "unlinked")
    }
  }

  test("link, candidates and linkScoreHistogram equal the Column-expression linker (ScalaCheck)") {
    import spark.implicits._
    // two kb rows alike but for ids whose binary UTF-8 order differs from
    // String.compareTo (U+FF21 vs U+1F600) tie on every mention; equal priors
    // and empty profiles give more ties; NULL aliases arrays, NULL alias
    // elements, NULL names, profiles and priors
    val ids = Seq("E1", "e1", "E10", "Z", "é", "\uFF21")
    val twin = "\uD83D\uDE00"
    val surface = Gen.oneOf("chips", " Chips ", "fab  x", "İstanbul", "istanbul", "STRASSE", "straße", "kelvin",
      "\u212Aelvin", "\uA7C0x", "\uA7C1x", "nobody", "")
    val kbRow = for {
      name <- Gen.frequency(6 -> surface.map(Some(_)), 1 -> Gen.const(None))
      aliases <- Gen.frequency(1 -> Gen.const(None),
        6 -> Gen.listOf(Gen.frequency(8 -> surface.map(Some(_)), 1 -> Gen.const(None))).map(a => Some(a.take(3))))
      profile <- Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some("")), 5 -> text.map(Option(_)))
      p <- Gen.frequency(3 -> Gen.const(Some(0.5)), 2 -> prior)
    } yield (name, aliases, profile, p)
    val mention = Gen.zip(Gen.choose(1L, 40L), Gen.frequency(8 -> surface, 1 -> Gen.const(null)), text)
    val input = Gen.zip(Gen.listOfN(ids.size, kbRow), Gen.listOfN(60, mention), Gen.oneOf(0.0, 0.3, 0.6))
    var twinTies = 0
    check(Prop.forAllNoShrink(input) { case (kbRows, ms, minScore) =>
      val kbDf = (ids.zip(kbRows) :+ (twin -> kbRows.last)).map { case (id, (n, a, pr, p)) => (id, n, a, pr, p) }
        .toDF("entity_id", "canonical_name", "aliases", "profile", "prior")
      val mDf = (ms ++ ms.take(5)).map { case (id, s, c) => (id, s"u$id", s, c) }
        .toDF("mention_id", "url", "surface", "context")
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      val (wantL, gotL) = (LinkOracle.link(mDf, kbDf, minScore), EntityLink.link(mDf, kbDf, minScore))
      // the raw alias a duplicate (alias_key, entity_id) row keeps is arbitrary in the reference
      val (wantC, gotC) = (LinkOracle.candidates(mDf, kbDf), EntityLink.candidates(mDf, kbDf))
      twinTies += gotL.where($"entity_id" === ids.last).count().toInt
      val wantH = wantL.groupBy(LinkOracle.scoreBucket($"link_score").as("score_bucket")).agg(count(lit(1)).as("n"))
      val gotH = EntityLink.linkScoreHistogram(gotL)
      Prop(gotL.schema == wantL.schema) :| s"link schema ${gotL.schema.treeString}" &&
        Prop(rows(gotL) == rows(wantL)) :| s"link rows ${rows(gotL).diff(rows(wantL)).take(3)}" &&
        Prop(gotC.schema == wantC.schema) :| s"candidates schema ${gotC.schema.treeString}" &&
        Prop(rows(gotC.drop("alias")) == rows(wantC.drop("alias"))) :| "candidate rows" &&
        Prop(gotH.schema == wantH.schema && rows(gotH) == rows(wantH)) :| s"histogram ${rows(gotH)}"
    }, minSuccessful = 4)
    assert(twinTies > 0, "no mention linked to the tied twin rows")
  }
}

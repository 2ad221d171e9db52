package graft.link

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
    val got = EntityLink.contextSimilarityScala("a b c", "a b x y")
    assert(math.abs(got - 2.0 / math.sqrt(12.0)) < 1e-6)
    // column version agrees
    import spark.implicits._
    val df = Seq(("a b c", "a b x y")).toDF("context", "profile")
    val colGot = df.select(EntityLink.contextSimilarity($"context", $"profile")).collect()(0).getDouble(0)
    assert(math.abs(colGot - got) < 1e-9)
  }

  test("candidate join is broadcast (plan check)") {
    val m = mentions((1L, "Intel", "chips"))
    val plan = EntityLink.candidates(m, kb()).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join, got:\n$plan")
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

  test("link scans the mentions once: one broadcast join, no self-join") {
    import org.apache.spark.sql.execution.RangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    object Aqe extends AdaptiveSparkPlanHelper
    // a Range leaf marks every scan of the mention source
    val m = spark.range(3).select(col("id").as("mention_id"), lit("u").as("url"),
      when(col("id") === 0, lit("Intel")).otherwise(lit("nobody")).as("surface"), lit("chips").as("context"))
    val linked = EntityLink.link(m, kb())
    assert(linked.collect().length == 3)
    val plan = linked.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case r: RangeExec => r }.size == 1, s"mentions scanned more than once:\n$plan")
    val joins = Aqe.collect(plan) { case j: BaseJoinExec => j }
    assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec], s"expected one broadcast join:\n$plan")
  }
}

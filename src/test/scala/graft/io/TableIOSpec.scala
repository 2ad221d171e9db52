package graft.io

import graft.SparkSpec
import graft.corpus.Corpus
import graft.kg.Pipeline

class TableIOSpec extends SparkSpec {

  test("ParquetTableIO round-trips partitioned appends") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tio").toString
    val tio = new ParquetTableIO(dir)
    assert(!tio.exists("t"))
    tio.append(Seq((1, "a"), (2, "b")).toDF("id", "k"), "t", Seq("k"))
    tio.append(Seq((3, "a")).toDF("id", "k"), "t", Seq("k"))
    assert(tio.exists("t"))
    val back = tio.read(spark, "t")
    assert(back.count() == 3)
    assert(back.where($"k" === "a").count() == 2)
  }

  test("exports: json + csv + text summary (S11), customer-scoped sanitized prefix (F13)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-exp").toString
    Pipeline.run(spark, Corpus.pages(spark, 60, partitions = 2), "erun", s"$dir/wh")
    val tio = new ParquetTableIO(s"$dir/wh")
    val (nodes, edges) = (tio.readCommitted(spark, "nodes"), tio.readCommitted(spark, "edges"))
    val cid = nodes.select("customer_id").limit(1).collect()(0).getString(0)
    val safe = Redact.sanitizeKeyComponent(cid)
    Exports.exportCustomer(nodes, edges, cid, s"$dir/j", "json")
    Exports.exportCustomer(nodes, edges, cid, s"$dir/c", "csv")
    assert(spark.read.json(s"$dir/j/$safe/nodes_json").count() > 0)
    assert(spark.read.option("header", "true").csv(s"$dir/c/$safe/edges_csv").columns.contains("evidence"))
    val s = Exports.summary(nodes, edges, cid)
    assert(s.contains("nodes:") && s.contains("edges:") && s.contains(cid))
    // each histogram by count descending, ties by type; other customers left out
    val n = Seq(("c1", "b"), ("c1", "a"), ("c1", "c"), ("c1", "b"), ("c1", "a"), ("c1", "c"), ("c1", "c"),
      ("c2", "z")).toDF("customer_id", "node_type")
    val e = Seq(("c1", "r"), ("c2", "r")).toDF("customer_id", "relationship_type")
    assert(Exports.summary(n, e, "c1") == "customer: c1\nnodes:\n  c: 3\n  a: 2\n  b: 2\nedges:\n  r: 1\n")
  }

  test("redaction (F12) masks emails/SSNs/cards/credentials; sanitization (F13) matches reference") {
    import spark.implicits._
    // string redaction — Column and Scala twins agree
    val dirty = Seq(
      "mail me at john.doe@example.com now",
      "ssn 123-45-6789 on file",
      "card 4111 1111 1111 1111 ok",
      "the password: hunter2 leaked",
      "nothing sensitive here").toDF("s")
    val out = dirty.select(Redact.redact($"s").as("s")).as[String].collect()
    assert(out(0) == "mail me at [REDACTED] now")
    assert(out(1) == "ssn [REDACTED] on file")
    assert(out(2) == "card [REDACTED] ok")
    assert(out(3) == "the [REDACTED] leaked")
    assert(out(4) == "nothing sensitive here")
    dirty.as[String].collect().zip(out).foreach { case (in, expect) =>
      assert(Redact.redactString(in) == expect)
    }
    // frame-level: sensitive column NAMES fully masked, others redacted
    val f = Seq(("secret1", "x@y.com", 5)).toDF("api_token", "note", "n")
    val r = Redact.redactFrame(f).collect()(0)
    assert(r.getString(0) == "[REDACTED]" && r.getString(1) == "[REDACTED]" && r.getInt(2) == 5)
    // F13 — reference semantics: unsafe → '_', strip, cap 50, fallback
    assert(Redact.sanitizeKeyComponent("cust/42 id") == "cust_42_id")
    assert(Redact.sanitizeKeyComponent("__x__") == "x")
    assert(Redact.sanitizeKeyComponent("///") == "unknown")
    assert(Redact.sanitizeKeyComponent("a" * 80) == "a" * 50)
  }

  test("redaction recurses into array<string> elements and struct fields") {
    import spark.implicits._
    val f = Seq((
      Seq("evidence with a@b.com inside", "clean"),
      ("note 123-45-6789", "tok-abc", 7)))
      .toDF("evidence", "meta")
      .select($"evidence", $"meta".cast("struct<note:string,token:string,n:int>"))
    val r = Redact.redactFrame(f).collect()(0)
    assert(r.getSeq[String](0) == Seq("evidence with [REDACTED] inside", "clean"))
    val m = r.getStruct(1)
    assert(m.getString(0) == "note [REDACTED]")   // pattern-redacted
    assert(m.getString(1) == "[REDACTED]")        // sensitive field NAME (token)
    assert(m.getInt(2) == 7)
    // null struct stays null (rebuild guard)
    val g = Seq((1, null: String)).toDF("id", "s")
      .selectExpr("id", "CAST(NULL AS struct<note:string>) AS meta")
    assert(Redact.redactFrame(g).collect()(0).isNullAt(1))
  }

  test("redaction recurses into map values; sensitive map KEYS mask their values") {
    import spark.implicits._
    val f = Seq((1,
      Map("note" -> "mail a@b.com here", "api_token" -> "s3cr3t", "clean" -> "ok")))
      .toDF("id", "attrs")
    val m = Redact.redactFrame(f).collect()(0).getMap[String, String](1)
    assert(m("note") == "mail [REDACTED] here")   // value pattern-redacted
    assert(m("api_token") == "[REDACTED]")        // sensitive KEY → value masked
    assert(m("clean") == "ok")
    // map<string, struct>: sensitive key nulls the struct, others recurse
    val g = Seq((1, Map(
      "profile" -> ("reach me at x@y.org", 3),
      "auth_blob" -> ("t0k3n", 9))))
      .toDF("id", "attrs")
      .selectExpr("id", "CAST(attrs AS map<string,struct<s:string,n:int>>) AS attrs")
    val gm = Redact.redactFrame(g).collect()(0).getMap[String, org.apache.spark.sql.Row](1)
    assert(gm("profile").getString(0) == "reach me at [REDACTED]")
    assert(gm("profile").getInt(1) == 3)
    assert(gm("auth_blob") == null)
  }

  test("run-commit protocol: unsafe runId rejected, double commit refused, reuse guarded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val tio = new ParquetTableIO(dir)
    intercept[IllegalArgumentException](tio.commit("../escape"))
    intercept[IllegalArgumentException](tio.commit("a/b"))
    tio.commit("run1")
    assert(tio.committedRuns() == Set("run1"))
    // committing the same runId twice would expose a crashed attempt's
    // orphan rows next to the retry's rows — must fail
    intercept[java.nio.file.FileAlreadyExistsException](tio.commit("run1"))
    // Pipeline-level: a committed runId cannot be reused for a new attempt
    intercept[IllegalArgumentException] {
      Pipeline.run(spark, Corpus.pages(spark, 5, partitions = 1), "run1", dir)
    }
    // ... and a runId with orphan (uncommitted) lineage rows is refused too
    import spark.implicits._
    tio.append(Seq(("run2", 0, "u", "done")).toDF("run_id", "partition_id", "url", "status"), "lineage")
    intercept[IllegalStateException] {
      Pipeline.run(spark, Corpus.pages(spark, 5, partitions = 1), "run2", dir)
    }
    // a fresh id still goes through
    Pipeline.run(spark, Corpus.pages(spark, 5, partitions = 1), "run3", dir)
    assert(tio.committedRuns().contains("run3"))
  }
}

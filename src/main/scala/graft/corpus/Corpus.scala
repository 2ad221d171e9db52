package graft.corpus

import graft.model.Page
import graft.ops.TextOps
import graft.text.TextExtract
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic Common-Crawl-style page corpus (SURVEY §7.1.1).
  *
  * No external data (BASELINE.json): pages are generated from a seeded,
  * index-addressed PRNG so any row is reproducible independently of
  * partitioning — `spark.range(n).map(genPage)` is deterministic at every
  * parallelism level, which the scaling benchmark and resume tests rely on.
  *
  * Document archetypes mirror the reference's two example customers
  * (/root/reference/examples/high_customers): a German financial-advisory
  * text with JSON front-matter, an English interview transcript with
  * `Speaker: utterance` dialog, and a generic note. Edge-case variants
  * (missing front-matter, `---` in body, CRLF, empty, non-JSON front-matter)
  * exercise the byte-identical extraction tests.
  */
object Corpus {

  val firstNames = Vector("Tim", "Jon", "Pat", "Anna", "Maria", "David", "Sarah", "Michael",
    "Laura", "Peter", "Nina", "Thomas", "Julia", "Mark", "Eva", "Karl")
  val lastNames = Vector("Wolff", "Fortt", "Gelsinger", "Schmidt", "Miller", "Chen", "Weber",
    "Braun", "Keller", "Novak", "Stein", "Roth", "Lang", "Frank", "Kohl", "Iyer")
  /** Org vocabulary seeds the keyword-NER hits; "Intel" is the hub entity
    * (appears in ~1/3 of interview docs) for the canonicalization skew tests.
    */
  val orgs = Vector("Google", "Microsoft", "Amazon", "Intel Corporation", "Acme Company",
    "Vertex Institute", "Nova University", "Orbit LLC")
  val topics = Vector("innovation", "semiconductors", "cloud computing", "leadership",
    "manufacturing", "artificial intelligence", "financial planning", "insurance")

  val germanSentences = Vector(
    "Ein Berater ist nicht nur für den Depotstand da.",
    "Steuer, Versicherungen, Lebensplanung – alles gehört dazu.",
    "Trennung gibt Sicherheit, das ist der Punkt.",
    "Wer das vermischt, wird bei jeder Gelegenheit schwach.",
    "Du brauchst eine klare Struktur für dein Alter.",
    "Meine Kunden rufen mich auch für völlig andere Themen an.",
    "Das ist der Mehrwert, den man nicht sieht, wenn man nur auf Kosten schaut.",
    "Nur eine Versicherung kann dir das Risiko abnehmen.")
  /** English filler with keyword-NER / insights / needs triggers mixed in. */
  val englishSentences = Vector(
    "We invested heavily in manufacturing capacity and new technology this year.",
    "I led the engineering team through a difficult transition and we created a new process.",
    "My experience with software development taught me the value of planning.",
    "Our goal is to achieve a stable and predictable roadmap for the future.",
    "The team managed to grow revenue while helping the community.",
    "Leadership means you plan to learn every single day and improve your skills.",
    "We want to make a difference and give back to society.",
    "Security and control matter when you structure a financial plan.")

  def nameAt(rng: SplitRng): String = s"${pick(rng, firstNames)} ${pick(rng, lastNames)}"
  private def pick[T](rng: SplitRng, v: Vector[T]): T = v(rng.nextInt(v.length))

  /** Deterministic per-index generator over 64 customers. idx → Page. */
  def genPage(idx: Long, seed: Long = 42L): Page = {
    val rng = new SplitRng(seed, idx)
    val archetype = (idx % 10) match {
      case 0 | 1 | 2 => "financial" // 30%
      case 3 | 4 | 5 | 6 => "interview" // 40%
      case _ => "generic" // 30%
    }
    val cidNum = rng.nextInt(64)
    val cname = {
      val r2 = new SplitRng(seed * 31 + 7, cidNum.toLong) // stable name per customer
      nameAt(r2)
    }
    val cid = f"$cidNum%02d_${cname.toLowerCase.replace(' ', '_')}"
    val variant = rng.nextInt(20) // edge-case lottery
    val (fileName, body) = archetype match {
      case "financial" => (s"beratung_$idx.html", financialDoc(rng, cname, variant))
      case "interview" => (s"interview_$idx.html", interviewDoc(rng, cname, variant))
      case _ => (s"note_$idx.html", genericDoc(rng, cname, variant))
    }
    val raw = applyVariant(body, variant)
    val url = s"https://crawl.example.org/customers/$cid/$fileName"
    val ts = new java.sql.Timestamp(1726000000000L + idx * 1000L)
    val lang = if (archetype == "financial") "de" else "en"
    Page(url, ts, TextExtract.wrapHtml(raw, fileName), raw, lang)
  }

  def frontMatter(cname: String, contentType: String, badJson: Boolean): String = {
    if (badJson) "---\nnot json at all ::::\n---\n\n"
    else
      s"""---
{
  "ContentType": "text/plain",
  "content_type": "$contentType",
  "Title": "Generated document",
  "PersonaName": "$cname",
  "Tags": "generated,corpus"
}
---

"""
  }

  def financialDoc(rng: SplitRng, cname: String, variant: Int): String = {
    val n = 3 + rng.nextInt(6)
    val paras = (0 until n).map { _ =>
      (0 until (2 + rng.nextInt(3))).map(_ => pick(rng, germanSentences)).mkString(" ")
    }
    val engExtra = if (rng.nextInt(4) == 0) Seq(pick(rng, englishSentences)) else Nil
    frontMatter(cname, "financial_advice", variant == 17) +
      (paras ++ engExtra).mkString("\n\n")
  }

  def interviewDoc(rng: SplitRng, cname: String, variant: Int): String = {
    val host = nameAt(rng)
    val org = pick(rng, orgs)
    val hub = if (rng.nextInt(3) == 0) " Intel has a long history here." else ""
    val turns = 4 + rng.nextInt(8)
    val lines = (0 until turns).map { t =>
      val speaker = if (t % 2 == 0) host else cname
      val s1 = pick(rng, englishSentences)
      val s2 = if (t == 1) s"At $org we $s1" else s1
      s"$speaker: $s2$hub"
    }
    frontMatter(cname, "interview_transcript", variant == 17) + lines.mkString("\n")
  }

  def genericDoc(rng: SplitRng, cname: String, variant: Int): String = {
    val n = 1 + rng.nextInt(4)
    val paras = (0 until n).map { _ =>
      (0 until (1 + rng.nextInt(4))).map(_ => pick(rng, englishSentences)).mkString(" ")
    }
    // half carry a "generic_note" front matter (→ generic route); the rest
    // have none → defaults apply (content_type interview_transcript quirk)
    val fm = if (rng.nextInt(2) == 0) frontMatter(cname, "generic_note", variant == 17) else ""
    fm + paras.mkString("\n\n")
  }

  /** Edge-case variants for the byte-identical tests. 14/15 carry ß, NBSP
    * and NEL so the parity suite exercises Python-vs-JVM regex semantics
    * (\b around ß, \s over NBSP/NEL) — divergent engines produce different
    * PERSON entities on these docs.
    */
  def applyVariant(body: String, variant: Int): String = variant match {
    case 18 => body.replace("\n", "\r\n") // CRLF
    case 19 => body + "\n\nlist --- of --- dashes inside body"
    case 16 => "" // empty file
    // injected as the FIRST body line (after any front matter) so the NER
    // 10-raw-match cap can't starve them out of the entity set
    case 15 => injectFirstLine(body, "Anna Weiß and Karl\u00a0Stein joined Große Pläne talks.")
    case 14 => injectFirstLine(body, "Pat\u00a0Miller: we split\u0085the Line here with Mark Roth.")
    case _ => body
  }

  private def injectFirstLine(body: String, extra: String): String =
    if (body.startsWith("---")) {
      val end = body.indexOf("---", 3)
      if (end > 0) {
        val cut = end + 3
        body.substring(0, cut) + "\n" + extra + body.substring(cut)
      } else extra + "\n" + body
    } else extra + "\n" + body

  def pages(spark: SparkSession, n: Long, partitions: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0L, n, 1L, partitions).map(i => genPage(i))
  }

  private def titleToken(t: String): String =
    if (t.isEmpty) t else t.head.toUpper + t.tail

  /** Deterministic text→page-body transform for driver documents: title-case
    * tokens 0, 1 and every 7th (i % 7 == 0). The driver corpus is all
    * lowercase, which starves the F2 regex NER; this transform makes the
    * page body carry NER-extractable names that are pure functions of the
    * document text — so the DuckDB oracle can reconstruct the body
    * (list_transform) and the extraction (regexp_extract_all) exactly, and
    * the driver hash covers the extraction machinery itself.
    */
  def derivedBody(text: String): String =
    text.split("\\s+").iterator.filter(_.nonEmpty).zipWithIndex
      .map { case (t, i) => if (i < 2 || i % 7 == 0) titleToken(t) else t }
      .mkString(" ")

  /** Text-derived persona: the title-cased first two tokens ("key agg …" →
    * "Key Agg") — the page's PersonaName, hence the primary `person` entity
    * and the subject of every person triple, derives from the document TEXT
    * (reconstructable in SQL); `fallback` covers texts with < 2 tokens.
    */
  def derivedPersona(text: String, fallback: String): String = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length >= 2) s"${titleToken(toks(0))} ${titleToken(toks(1))}"
    else if (toks.length == 1) titleToken(toks(0))
    else fallback
  }

  /** Alternative corpus: wrap the driver-provided documents table
    * (testdata documents.parquet) as pages — used by SparkEntry's
    * flagship so the driver-visible path runs on driver data.
    *
    * Each page carries front matter whose content_type derives from the
    * document's language column (de → financial, en → interview, else
    * generic), so the driver-checked pipeline exercises front-matter strip →
    * parse → routing → per-route needs profiles → threshold rules, not one
    * constant path. The body is `derivedBody(text)` and PersonaName is
    * `derivedPersona(text)`, so the subject of every emitted triple and the
    * NER-driven theme/topic gating derive from the document TEXT — the
    * DuckDB oracle reconstructs both from the same columns. English docs
    * split on doc_id parity between an "interview_"-named file (interview
    * format detection fires on the path → interview relationship rules) and
    * a "doc_"-named file (standard rules under interview routing), covering
    * both F14 branches driver-side.
    */
  def pagesFromDocuments(spark: SparkSession, sfDir: String): Dataset[Page] = {
    import spark.implicits._
    // single-file parquet → one split; fan out so the per-doc analyze/build
    // work (the KG pipeline's whole cost) uses the cluster, not one core
    TextOps.fanOut(spark.read.parquet(s"$sfDir/documents.parquet"))
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)]
      .map { case (id, text, lang, source) =>
        val fileName =
          if (lang == "en" && id % 2 == 0) s"interview_$id.html" else s"doc_$id.html"
        val url = s"https://corpus.local/customers/${source}/$fileName"
        val contentType = lang match {
          case "de" => "financial_advice"
          case "en" => "interview_transcript"
          case _ => "generic_note"
        }
        val persona =
          derivedPersona(text, graft.analyze.DocAnalyze.customerNameFromId(source))
        val raw = frontMatter(persona, contentType, badJson = false) + derivedBody(text)
        Page(url, new java.sql.Timestamp(1726000000000L + id * 1000L),
          TextExtract.wrapHtml(raw, fileName.stripSuffix(".html")), raw, lang)
      }
  }
}

/** SplittableRandom-style per-index PRNG: independent of partition layout. */
final class SplitRng(seed: Long, idx: Long) {
  private var state: Long = {
    var z = seed ^ java.lang.Long.rotateLeft(idx * 0x9E3779B97F4A7C15L, 31)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = {
    require(bound > 0)
    (Math.floorMod(nextLong(), bound.toLong)).toInt
  }
}

package graft.analyze

import graft.model._
import graft.text.{PyText, TextExtract}

/** Document analysis stage: structure (F1), NER (F2/F3), insights (F4),
  * dynamics (A7), complexity (F10), duration (F11), routing (lifecycle §3.1.3).
  *
  * All functions are pure and doc-local (the reference processes one document
  * per Lambda; the Spark pipeline runs them inside one narrow typed-map stage,
  * no shuffle). File:line citations are into /root/reference.
  */
object DocAnalyze {

  // Python-re parity (the reference's re module is Unicode-aware; Java's
  // default \s/\b/./^ are ASCII- or line-terminator-divergent):
  //  - \s → explicit class from PyText.isPySpace (== Python's \s exactly,
  //    incl. NBSP/NEL/FS..US which would otherwise split 'Karl Stein');
  //  - \b → UNICODE_CHARACTER_CLASS so 'Weiß' doesn't yield PERSON 'Wei';
  //  - . and MULTILINE ^ → UNIX_LINES so only \n terminates, like Python.
  private val Sp = graft.text.PyText.pySpaceClass
  /** Speaker-line pattern — interview_processing_agent.py:58. */
  private val SpeakerRe = (s"(?d)^([A-Za-z$Sp]+):[$Sp]*(.+)$$").r
  /** Complexity speaker pattern (MULTILINE prefix form) — enhanced_file_analyzer.py:87. */
  private val SpeakerPrefixRe = java.util.regex.Pattern.compile(
    s"^([A-Za-z$Sp]+):[$Sp]*",
    java.util.regex.Pattern.MULTILINE | java.util.regex.Pattern.UNIX_LINES)
  /** Name NER — interview_processing_agent.py:105. */
  private val NameRe = java.util.regex.Pattern.compile(
    s"\\b[A-Z][a-z]+(?:[$Sp]+[A-Z][a-z]+)*\\b",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
  private val SentenceRe = "[.!?]+"

  val orgKeywords: Seq[String] = Seq(
    "Company", "Corporation", "Inc", "LLC", "University", "Institute",
    "Google", "Microsoft", "Amazon") // interview_processing_agent.py:117
  val skillKeywords: Seq[String] = Seq("skill", "experience", "expertise", "proficient", "knowledge", "ability")
  val achievementKeywords: Seq[String] = Seq("achieved", "accomplished", "successful", "led", "managed", "created")
  val goalKeywords: Seq[String] = Seq("goal", "aspire", "want to", "plan to", "hope to", "future")
  val technicalKeywords: Seq[String] = Seq("technology", "software", "engineering", "development", "system", "algorithm")

  /** F1 — parse_interview_structure (interview_processing_agent.py:55-98).
    * Order-dependent sequential fold over lines; blank lines skipped; a
    * non-speaker line is appended to the current segment only if one is open.
    * Speaker list preserves FIRST-OCCURRENCE order (the reference uses a
    * Python set; we fix a deterministic order since downstream only counts).
    */
  def parseStructure(content: String): (Seq[String], Seq[Segment]) = {
    val segments = scala.collection.mutable.ArrayBuffer.empty[Segment]
    val speakers = scala.collection.mutable.LinkedHashSet.empty[String]
    var currentSpeaker: String = null
    val currentText = scala.collection.mutable.ArrayBuffer.empty[String]

    def flush(): Unit =
      if (currentSpeaker != null && currentText.nonEmpty) {
        val joined = currentText.mkString(" ")
        segments += Segment(currentSpeaker, joined, PyText.wordCount(joined))
      }

    for (rawLine <- PyText.splitSep(content, "\n")) {
      val line = PyText.strip(rawLine)
      if (line.nonEmpty) {
        SpeakerRe.findPrefixMatchOf(line) match {
          case Some(m) if m.end == line.length =>
            flush()
            currentSpeaker = PyText.strip(m.group(1))
            currentText.clear()
            currentText += PyText.strip(m.group(2))
            speakers += currentSpeaker
          case _ =>
            if (currentText.nonEmpty) currentText += line
        }
      }
    }
    flush()
    (speakers.toSeq, segments.toSeq)
  }

  /** F2 — regex name NER: first 10 raw matches (duplicates count toward the
    * cap), then distinct, each PERSON conf 0.7 (interview_processing_agent.py:104-115).
    */
  def nameNer(content: String): Seq[RawEntity] = {
    val m = NameRe.matcher(content)
    val first10 = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find() && first10.size < 10) first10 += m.group()
    val distinct = scala.collection.mutable.LinkedHashSet.empty[String]
    first10.foreach(distinct += _)
    distinct.toSeq.map(n => RawEntity(n, "PERSON", 0.7, ""))
  }

  /** F3 — keyword org NER: case-sensitive substring, conf 0.6 (:117-125). */
  def orgNer(content: String): Seq[RawEntity] =
    orgKeywords.filter(content.contains(_)).map(k => RawEntity(k, "ORGANIZATION", 0.6, ""))

  def extractEntities(content: String): Seq[RawEntity] = nameNer(content) ++ orgNer(content)

  /** F4 — keyword insights (interview_processing_agent.py:155-194).
    * Theme order: the reference iterates a Python set of at most
    * {professional_experience, relationships}; we emit professional_experience
    * first when both present (deterministic; caps downstream exceed size 2 so
    * order never changes the graph).
    */
  def extractInsights(content: String, entities: Seq[RawEntity]): KeyInsights = {
    val lower = PyText.lower(content)
    val skills = skillKeywords.filter(lower.contains(_)).map(k => s"Mentioned $k")
    val achievements = achievementKeywords.filter(lower.contains(_)).map(k => s"Discussed $k")
    val goals = goalKeywords.filter(lower.contains(_)).map(k => s"Mentioned $k")
    val types = entities.map(_.entityType).toSet
    val themes = Seq("professional_experience").filter(_ => types("ORGANIZATION")) ++
      Seq("relationships").filter(_ => types("PERSON"))
    KeyInsights(skills, achievements, goals, Nil, themes)
  }

  /** A7 — speaking-time distribution in percent (interview_processing_agent.py:129-153). */
  def speakingDistribution(segments: Seq[Segment]): Map[String, Double] = {
    if (segments.isEmpty) Map.empty
    else {
      val total = segments.map(_.wordCount).sum.toDouble
      if (total == 0) Map.empty
      else segments.groupBy(_.speaker).map { case (sp, segs) => sp -> segs.map(_.wordCount).sum / total * 100.0 }
    }
  }

  /** F10 — content complexity (enhanced_file_analyzer.py:80-100). */
  def complexity(content: String): Double = {
    val wordCount = PyText.wordCount(content)
    val paragraphCount = PyText.splitSep(content, "\n\n").length
    val sm = SpeakerPrefixRe.matcher(content)
    val speakers = scala.collection.mutable.Set.empty[String]
    while (sm.find()) speakers += sm.group(1)
    val lower = PyText.lower(content)
    val technicalScore = technicalKeywords.count(lower.contains(_)).toDouble / technicalKeywords.size
    val total = math.min(wordCount / 2000.0, 1.0) * 0.3 +
      math.min(speakers.size / 5.0, 1.0) * 0.3 +
      math.min(paragraphCount / 20.0, 1.0) * 0.2 +
      technicalScore * 0.2
    math.min(total, 1.0)
  }

  /** F11 — duration estimate in minutes (interview_processing_agent.py:196-199). */
  def durationEstimate(content: String): Double = PyText.wordCount(content) / 150.0

  /** Choice-state routing (customer_aware_workflow_async_neptune.json:47-72):
    * customer-folder equality first, then content_type, default generic.
    * Folder rules generalize to a routing table keyed on customerId.
    */
  def route(customerId: String, contentType: String): String =
    folderRules.getOrElse(customerId, contentType match {
      case "interview_transcript" => "interview"
      case "financial_advice" => "financial"
      case _ => "generic"
    })

  /** The reference's two hard-wired customer routes (workflow json:50-59). */
  private val folderRules: Map[String, String] =
    Map("01_jon_fortt" -> "interview", "00_tim_wolff" -> "financial")

  /** customer id = first path segment after the host that looks like a
    * customer folder; our corpus uses url .../customers/<cid>/<file>.
    */
  def customerIdFromUrl(url: String): String = {
    val marker = "/customers/"
    val i = url.indexOf(marker)
    if (i >= 0) {
      val rest = url.substring(i + marker.length)
      val j = rest.indexOf('/')
      if (j > 0) rest.substring(0, j) else rest
    } else {
      // fall back to second-to-last path segment
      val parts = url.split('/').filter(_.nonEmpty)
      if (parts.length >= 2) parts(parts.length - 2) else "unknown"
    }
  }

  /** customer display name from folder id: "00_tim_wolff" → "Tim Wolff". */
  def customerNameFromId(cid: String): String =
    cid.split('_').dropWhile(s => s.nonEmpty && s.forall(_.isDigit))
      .map(s => if (s.isEmpty) s else s.head.toUpper + s.tail).mkString(" ")

  /** Full per-page analysis — composition of analyze_file +
    * process_interview_transcript on the extracted text.
    */
  def analyze(p: Page): DocAnalysis = {
    val raw = TextExtract.htmlToRaw(p.html)
    val text = TextExtract.frontMatterStrip(raw)
    val meta = TextExtract.frontMatterParse(raw)
    val cid = customerIdFromUrl(p.url)
    val cname = {
      val persona = meta.getOrElse("PersonaName", "")
      if (persona.nonEmpty) persona else customerNameFromId(cid)
    }
    val contentType = meta("content_type")
    val routed = route(cid, contentType)
    val (speakers, segments) = parseStructure(text)
    val entities = extractEntities(text)
    val insights = extractInsights(text, entities)
    DocAnalysis(
      url = p.url,
      customerId = cid,
      customerName = cname,
      filePath = p.url,
      contentType = contentType,
      language = meta("language"),
      domain = meta("domain"),
      routedPath = routed,
      complexity = complexity(text),
      wordCount = PyText.wordCount(text),
      charCount = text.length,
      text = text,
      entities = entities,
      speakers = speakers,
      segments = segments,
      insights = insights,
      speakingDistribution = speakingDistribution(segments),
      durationEstimateMin = durationEstimate(text))
  }
}

package graft.kg

import graft.model._
import graft.text.PyText

/** Per-document graph construction — the deterministic rule paths of
  * enhanced_hypergraph_builder_agent_v2.py (the deployed builder; see
  * SURVEY §2.3-§2.7). One pure function per rule family; `build` composes
  * them into the per-doc transform used inside a typed map (doc-local, no
  * shuffle — the reference's document-parallel Lambda model maps exactly to
  * a Spark narrow stage).
  *
  * Reference quirks reproduced as spec (SURVEY §7.4.3):
  *  - strict `>` confidence thresholds drop keyword-NER orgs (conf 0.6 vs
  *    `> 0.6`, v2:366,431) and regex-NER persons on the standard path
  *    (conf 0.7 vs `> 0.7`, v2:175);
  *  - interview detection asymmetry: entity side checks path OR dialog
  *    patterns (v2:250-268), relationship side checks path only (v2:680-683);
  *  - node lookup key is lower(content) only — later node with same content
  *    overwrites (v2:1273); unresolved edge endpoints silently dropped
  *    (v2:1276-1279);
  *  - dedup keeps the FIRST entity on confidence ties (strict `>`, v2:626).
  */
object GraphBuild {

  val interviewIndicators: Seq[String] = Seq("interview", "transcript", "dialog", "conversation")
  val dialogPatterns: Seq[String] = Seq("interviewer:", "interviewee:", "q:", "a:", "host:", "guest:")

  /** F14 — entity-extractor variant: path OR raw-text dialog patterns (v2:250-268). */
  def isInterviewFormatEntity(filePath: String, rawText: String): Boolean = {
    val p = PyText.lower(filePath)
    interviewIndicators.exists(p.contains(_)) ||
      (rawText.nonEmpty && { val t = PyText.lower(rawText); dialogPatterns.exists(t.contains(_)) })
  }

  /** F14 — relationship-extractor variant: path only (v2:680-683, the asymmetry). */
  def isInterviewFormatRel(filePath: String): Boolean = {
    val p = PyText.lower(filePath)
    interviewIndicators.exists(p.contains(_))
  }

  // Python-\s-exact run (re.sub(r'\s+', ...) in the reference is
  // Unicode-aware; Java's \s is ASCII-only — see PyText.pySpaceClass)
  private val WsRun = ("[" + PyText.pySpaceClass + "]+").r

  /** F5 — entity text cleaning (v2:600-618). */
  def cleanEntityText(text: String): String = {
    var cleaned = WsRun.replaceAllIn(PyText.strip(text), " ")
    for (prefix <- Seq("Mentioned ", "Discussed ", "Has ", "Shows "))
      if (cleaned.startsWith(prefix)) cleaned = cleaned.substring(prefix.length)
    if (cleaned.nonEmpty) cleaned = cleaned.head.toUpper + cleaned.tail
    if (cleaned.length > 2) cleaned else ""
  }

  /** A11 — dedup by (lower(text), type), keep max confidence, first on tie
    * (v2:620-629); preserves first-occurrence order (Python dict order).
    */
  def dedupEntities(entities: Seq[Entity]): Seq[Entity] = {
    val map = scala.collection.mutable.LinkedHashMap.empty[(String, String), Entity]
    for (e <- entities) {
      val key = (PyText.lower(e.text), e.entityType)
      map.get(key) match {
        case Some(prev) if e.confidence > prev.confidence => map(key) = e
        case None => map(key) = e
        case _ => ()
      }
    }
    map.values.toSeq
  }

  /** A12 — relationship dedup by (lower(src), lower(dst), type) (v2:1092-1101). */
  def dedupRelationships(rels: Seq[Relationship]): Seq[Relationship] = {
    val map = scala.collection.mutable.LinkedHashMap.empty[(String, String, String), Relationship]
    for (r <- rels) {
      val key = (PyText.lower(r.src), PyText.lower(r.dst), r.relType)
      map.get(key) match {
        case Some(prev) if r.confidence > prev.confidence => map(key) = r
        case None => map(key) = r
        case _ => ()
      }
    }
    map.values.toSeq
  }

  // ---------------------------------------------------------------- entities

  /** Standard person extraction (v2:155-186). */
  def personEntities(customerName: String, raw: Seq[RawEntity]): Seq[Entity] = {
    val primary =
      if (customerName.nonEmpty && PyText.split(customerName).length <= 3)
        Seq(Entity(customerName, "person", 0.95, "Primary customer/subject",
          "file_analysis", "customer", "", primary = true, 1.0))
      else Nil
    val mentioned = raw.filter(e => e.entityType == "PERSON" && e.confidence > 0.7)
      .map(e => Entity(e.text, "person", e.confidence,
        if (e.context.nonEmpty) e.context else "Mentioned person",
        "file_analysis", "mentioned", "", primary = false, 0.7))
    primary ++ mentioned
  }

  /** Skills from insights[:5], cleaned, conf 0.8 (v2:188-209). */
  def skillEntities(insights: KeyInsights): Seq[Entity] =
    insights.skills.take(5).flatMap { s =>
      val c = cleanEntityText(s)
      if (c.nonEmpty) Some(Entity(c, "skill", 0.8, "Professional competency",
        "file_analysis", "", "professional", primary = false, 0.9)) else None
    }

  /** Concepts from themes[:3] (conf 0.7) + goals[:3] (conf 0.6) (v2:211-248). */
  def conceptEntities(insights: KeyInsights): Seq[Entity] = {
    val themes = insights.themes.take(3).flatMap { t =>
      val c = cleanEntityText(t)
      if (c.nonEmpty) Some(Entity(c, "concept", 0.7, "Main discussion theme",
        "file_analysis", "", "theme", primary = false, 0.8)) else None
    }
    val goals = insights.goals.take(3).flatMap { g =>
      val c = cleanEntityText(g)
      if (c.nonEmpty) Some(Entity(c, "concept", 0.6, "Future aspiration or goal",
        "file_analysis", "", "goal", primary = false, 0.7)) else None
    }
    themes ++ goals
  }

  /** Orgs with conf strictly > 0.6 (v2:425-442) — keyword NER emits exactly
    * 0.6, so these only surface for higher-confidence upstream extractors.
    */
  def orgEntities(raw: Seq[RawEntity]): Seq[Entity] =
    raw.filter(e => e.entityType == "ORGANIZATION" && e.confidence > 0.6)
      .map(e => Entity(e.text, "organization", e.confidence,
        if (e.context.nonEmpty) e.context else "Mentioned organization",
        "file_analysis", "organization", "", primary = false, 0.8))

  /** Interview participants (v2:296-333): customer (no word-count guard) +
    * PERSONs conf>0.7 with role from context keywords.
    */
  def interviewParticipants(customerName: String, raw: Seq[RawEntity]): Seq[Entity] = {
    val cust =
      if (customerName.nonEmpty)
        Seq(Entity(customerName, "person", 0.95, "Interview participant (interviewee)",
          "file_analysis", "interviewee", "", primary = true, 1.0))
      else Nil
    val others = raw.filter(e => e.entityType == "PERSON" && e.confidence > 0.7 && e.text != customerName)
      .map { e =>
        val ctx = PyText.lower(e.context)
        val role = if (Seq("host", "interviewer", "anchor").exists(ctx.contains(_))) "interviewer" else "mentioned_person"
        Entity(e.text, "person", e.confidence, s"Interview participant ($role)",
          "file_analysis", role, "", primary = false, 0.8)
      }
    cust ++ others
  }

  /** Interview topics from themes[:5], conf 0.8, category topic (v2:335-358). */
  def interviewTopics(insights: KeyInsights): Seq[Entity] =
    insights.themes.take(5).flatMap { t =>
      val c = cleanEntityText(t)
      if (c.nonEmpty) Some(Entity(c, "concept", 0.8, "Interview discussion topic",
        "file_analysis", "", "topic", primary = false, 0.9)) else None
    }

  /** Interview mentioned people: PERSON conf>0.6, != customer (v2:379-400) —
    * regex-NER persons (0.7) pass here, unlike the standard path.
    */
  def interviewMentionedPeople(customerName: String, raw: Seq[RawEntity]): Seq[Entity] =
    raw.filter(e => e.entityType == "PERSON" && e.confidence > 0.6 && e.text != customerName)
      .map(e => Entity(e.text, "person", e.confidence, "Person mentioned in interview",
        "file_analysis", "mentioned_person", "", primary = false, 0.7))

  /** Interview orgs (conf>0.6, v2:360-377) and technologies (v2:402-423). */
  def interviewOrgs(raw: Seq[RawEntity]): Seq[Entity] =
    raw.filter(e => e.entityType == "ORGANIZATION" && e.confidence > 0.6)
      .map(e => Entity(e.text, "organization", e.confidence,
        "Organization discussed in interview", "file_analysis",
        "discussed_organization", "", primary = false, 0.8))

  def interviewTechnologies(raw: Seq[RawEntity]): Seq[Entity] = {
    val techTypes = Set("TECHNOLOGY", "PRODUCT", "SOFTWARE", "PLATFORM")
    raw.filter(e => techTypes(e.entityType) && e.confidence > 0.6)
      .map(e => Entity(e.text, "concept", e.confidence,
        "Technology/product discussed in interview", "file_analysis",
        "", "technology", primary = false, 0.8))
  }

  /** File-analysis entity assembly (v2:97-131), deduped. v2's offline LLM
    * pass (§2.9) appends nothing before the dedup, so none is run here.
    */
  def entitiesFromFileAnalysis(doc: DocAnalysis): Seq[Entity] = {
    val isInterview = isInterviewFormatEntity(doc.filePath, doc.text)
    val base =
      if (isInterview)
        interviewParticipants(doc.customerName, doc.entities) ++
          interviewTopics(doc.insights) ++
          interviewOrgs(doc.entities) ++
          interviewMentionedPeople(doc.customerName, doc.entities) ++
          interviewTechnologies(doc.entities)
      else
        personEntities(doc.customerName, doc.entities) ++
          skillEntities(doc.insights) ++
          conceptEntities(doc.insights) ++
          orgEntities(doc.entities)
    dedupEntities(base)
  }

  /** Needs-analysis entity assembly (v2:133-153), deduped. */
  def entitiesFromNeeds(needs: NeedsProfile): Seq[Entity] = {
    val behaviors = needs.patterns.take(5).flatMap { p =>
      val c = cleanEntityText(p)
      if (c.nonEmpty) Some(Entity(c, "behavioral_pattern", 0.8, "Observed behavioral pattern",
        "needs_analysis", "", "behavior", primary = false, 0.9)) else None
    }
    val traits = needs.traits.take(5).flatMap { t =>
      val c = cleanEntityText(t)
      if (c.nonEmpty) Some(Entity(c, "personality_trait", 0.8, "Identified personality trait",
        "needs_analysis", "", "personality", primary = false, 0.9)) else None
    }
    // Need entities iterate needs_scores in dict insertion order (canonical
    // need order) — only scores strictly > 0.4 (v2:560-577).
    val needEnts = NeedsOrder.scoreOrder(needs.scores).collect {
      case (name, score) if score > 0.4 =>
        Entity(PyText.title(name), "need", score, s"Human need with score ${fmtScore(score)}",
          "needs_analysis", "", "human_need", primary = false, 1.0)
    }
    val lifeThemes = needs.lifeThemes.take(3).flatMap { t =>
      val c = cleanEntityText(t)
      if (c.nonEmpty) Some(Entity(c, "concept", 0.7, "Major life theme",
        "needs_analysis", "", "life_theme", primary = false, 0.8)) else None
    }
    dedupEntities(behaviors ++ traits ++ needEnts ++ lifeThemes)
  }

  /** Python str(float) for context strings — Scala's Double.toString is the
    * same shortest-roundtrip repr ("0.8", "1.0").
    */
  private def fmtScore(d: Double): String = d.toString

  private object NeedsOrder {
    /** Iterate scores in canonical insertion order. */
    def scoreOrder(scores: Map[String, Double]): Seq[(String, Double)] =
      graft.needs.Needs.needOrder.flatMap(n => scores.get(n).map(n -> _)) ++
        scores.filterNot(kv => graft.needs.Needs.needOrder.contains(kv._1)).toSeq
  }

  // ------------------------------------------------------------ relationships

  /** J2 person×skill → SPECIALIZES_IN 0.8, primary persons only (v2:844-865). */
  def personSkillRels(entities: Seq[Entity]): Seq[Relationship] = {
    val persons = entities.filter(_.entityType == "person")
    val skills = entities.filter(_.entityType == "skill")
    for (p <- persons if p.primary; s <- skills) yield Relationship(
      p.text, s.text, "specializes_in", 0.8,
      Seq(s"${p.text} demonstrates ${s.text}"),
      s"Primary customer ${p.text} shows expertise in ${s.text}", "file_analysis")
  }

  /** J4 person×need via dominant-need substring lookup, score>0.5 → DEMONSTRATES
    * (v2:867-901). Confidence = the matching dominant score.
    */
  def personNeedRels(entities: Seq[Entity], dominant: Seq[NeedScore]): Seq[Relationship] = {
    val persons = entities.filter(_.entityType == "person")
    val needs = entities.filter(_.entityType == "need")
    for {
      p <- persons if p.primary
      n <- needs
      score = dominant.collectFirst {
        case ns if PyText.lower(n.text).contains(PyText.lower(ns.need)) => ns.score
      }.getOrElse(0.0)
      if score > 0.5
    } yield Relationship(
      p.text, n.text, "demonstrates", score,
      Seq(s"${p.text} shows strong ${n.text} need (score: ${PyText.f2(score)})"),
      s"Needs analysis indicates ${p.text} has high ${n.text} need", "needs_analysis")
  }

  /** J5 keyword-map need→behavior broadcast-dictionary match (v2:975-998). */
  val needBehaviorKeywords: Map[String, Seq[String]] = Map(
    "certainty" -> Seq("strategic", "planner", "risk", "manager", "cautious", "analytical"),
    "variety" -> Seq("innovative", "creative", "explorer", "adventurous"),
    "significance" -> Seq("leader", "achiever", "competitive", "ambitious"),
    "connection" -> Seq("collaborative", "team", "social", "helper"),
    "growth" -> Seq("learner", "developer", "improver", "student"),
    "contribution" -> Seq("helper", "mentor", "teacher", "giver"))

  def needBehaviorStrength(needText: String, behaviorText: String): Double = {
    val n = PyText.lower(needText)
    val b = PyText.lower(behaviorText)
    val hit = needBehaviorKeywords.exists { case (k, kws) => n.contains(k) && kws.exists(b.contains(_)) }
    if (hit) 0.8 else 0.3
  }

  /** need×behavior, strength>0.6 → INFLUENCES (v2:903-927). */
  def needBehaviorRels(entities: Seq[Entity]): Seq[Relationship] = {
    val needs = entities.filter(_.entityType == "need")
    val behaviors = entities.filter(_.entityType == "behavioral_pattern")
    for {
      n <- needs; b <- behaviors
      strength = needBehaviorStrength(n.text, b.text)
      if strength > 0.6
    } yield Relationship(
      n.text, b.text, "influences", strength,
      Seq(s"${n.text} need drives ${b.text} behavior"),
      s"Psychological need ${n.text} manifests as ${b.text} pattern", "needs_analysis")
  }

  /** J6 skill×concept if both financial-domain → RELATES_TO 0.7 (v2:929-1015). */
  val financialSkillKw: Seq[String] = Seq("financial", "investment", "insurance", "planning", "advisory")
  val financialConceptKw: Seq[String] = Seq("financial", "investment", "insurance", "planning", "advisory", "wealth")

  def skillConceptRels(entities: Seq[Entity]): Seq[Relationship] = {
    val skills = entities.filter(_.entityType == "skill")
    val concepts = entities.filter(_.entityType == "concept")
    for {
      s <- skills; c <- concepts
      if financialSkillKw.exists(PyText.lower(s.text).contains(_)) &&
        financialConceptKw.exists(PyText.lower(c.text).contains(_))
    } yield Relationship(
      s.text, c.text, "relates_to", 0.7,
      Seq(s"${s.text} skill applies to ${c.text}"),
      s"Professional skill ${s.text} is relevant to ${c.text}", "file_analysis")
  }

  /** Interview rule families (v2:685-842). Role selection mirrors the
    * reference's assignment loop (v2:725-731): LAST matching person wins for
    * each role, and the `elif` means an interviewer-role person is never also
    * picked as interviewee (even if primary).
    */
  def participantRels(entities: Seq[Entity]): Seq[Relationship] = {
    val persons = entities.filter(_.entityType == "person")
    var interviewer: Option[Entity] = None
    var interviewee: Option[Entity] = None
    for (p <- persons) {
      if (p.role == "interviewer") interviewer = Some(p)
      else if (p.role == "interviewee" || p.primary) interviewee = Some(p)
    }
    (interviewer, interviewee) match {
      case (Some(ivr), Some(ive)) => Seq(Relationship(
        ivr.text, ive.text, "interviews", 0.95,
        Seq(s"${ivr.text} conducts interview with ${ive.text}"),
        "Interview participant relationship", "interview_analysis"))
      case _ => Nil
    }
  }

  def personTopicRels(entities: Seq[Entity]): Seq[Relationship] = {
    val primary = entities.find(e => e.entityType == "person" && e.primary)
    val topics = entities.filter(e => e.entityType == "concept" && e.category == "topic")
    primary.toSeq.flatMap(p => topics.map(t => Relationship(
      p.text, t.text, "discusses", 0.8,
      Seq(s"${p.text} discusses ${t.text} in interview"),
      "Interview participant discusses topic", "interview_analysis")))
  }

  def personOrgRels(entities: Seq[Entity]): Seq[Relationship] = {
    val primary = entities.find(e => e.entityType == "person" && e.primary)
    val orgs = entities.filter(_.entityType == "organization")
    primary.toSeq.flatMap(p => orgs.map(o => Relationship(
      p.text, o.text, "affiliated_with", 0.7,
      Seq(s"${p.text} mentions ${o.text} in interview"),
      "Organization mentioned by interview participant", "interview_analysis")))
  }

  def topicOrgRels(entities: Seq[Entity]): Seq[Relationship] = {
    val topics = entities.filter(e => e.entityType == "concept" && e.category == "topic")
    val orgs = entities.filter(_.entityType == "organization")
    for (t <- topics; o <- orgs) yield Relationship(
      t.text, o.text, "relates_to", 0.6,
      Seq(s"${t.text} discussed in context of ${o.text}"),
      "Topic and organization discussed in same interview context", "interview_analysis")
  }

  def personTechRels(entities: Seq[Entity]): Seq[Relationship] = {
    val primary = entities.find(e => e.entityType == "person" && e.primary)
    val techs = entities.filter(e => e.entityType == "concept" && e.category == "technology")
    primary.toSeq.flatMap(p => techs.map(t => Relationship(
      p.text, t.text, "uses", 0.7,
      Seq(s"${p.text} discusses ${t.text} in interview"),
      "Technology discussed by interview participant", "interview_analysis")))
  }

  /** U2 — relationship assembly (v2:637-678): interview path (path-only
    * detection) vs standard path. v2's offline LLM semantic stage (§2.9)
    * appends nothing before the A12 dedup, so none is run here.
    */
  def relationships(entities: Seq[Entity], doc: DocAnalysis, needs: NeedsProfile): Seq[Relationship] = {
    val rels =
      if (isInterviewFormatRel(doc.filePath))
        participantRels(entities) ++
          personTopicRels(entities) ++
          personOrgRels(entities) ++
          topicOrgRels(entities) ++
          personNeedRels(entities, needs.dominant) ++
          personTechRels(entities)
      else
        personSkillRels(entities) ++
          personNeedRels(entities, needs.dominant) ++
          needBehaviorRels(entities) ++
          skillConceptRels(entities)
    dedupRelationships(rels)
  }

  // ------------------------------------------------------------------- graph

  /** F7 — node id "{type}_{md5(lower(content))[:8]}" (v2:1300-1303). */
  def nodeId(content: String, nodeType: String): String =
    s"${nodeType}_${PyText.md5Hex(PyText.lower(content)).substring(0, 8)}"

  def buildNodes(entities: Seq[Entity], sourceFile: String): Seq[KgNode] =
    entities.map { e =>
      KgNode(nodeId(e.text, e.entityType), e.text, e.entityType, e.confidence,
        sourceFile, e.source, e.context, e.domainRelevance)
    }

  /** J1 — endpoint resolution by lower(content) lookup (LAST node with a
    * given content wins, v2:1273) + F9 edge id; unresolved edges dropped.
    */
  def buildEdges(rels: Seq[Relationship], nodes: Seq[KgNode]): Seq[KgEdge] = {
    val lookup = scala.collection.mutable.HashMap.empty[String, String]
    nodes.foreach(n => lookup(PyText.lower(n.content)) = n.id)
    rels.flatMap { r =>
      (lookup.get(PyText.lower(r.src)), lookup.get(PyText.lower(r.dst))) match {
        case (Some(srcId), Some(dstId)) =>
          Some(KgEdge(s"edge_${srcId}_${dstId}_${r.relType}", srcId, dstId,
            r.relType, r.confidence, r.evidence, r.reasoning))
        case _ => None
      }
    }
  }

  /** The per-document transform (v2 build_enhanced_hypergraph:1111-1180),
    * = SURVEY §3.2's unit-testable pure function.
    */
  def build(doc: DocAnalysis, needs: NeedsProfile): DocGraph = {
    val fileEntities = entitiesFromFileAnalysis(doc)
    val needsEntities = entitiesFromNeeds(needs)
    var all = fileEntities ++ needsEntities
    // fallback: ensure >=3 entities by injecting customer (v2:1135-1148)
    if (all.size < 3 && doc.customerName.nonEmpty)
      all = all :+ Entity(doc.customerName, "person", 0.9, "Primary customer",
        "metadata", "customer", "", primary = true, 1.0)
    val rels = relationships(all, doc, needs)
    val nodes = buildNodes(all, doc.filePath)
    val edges = buildEdges(rels, nodes)
    DocGraph(doc.url, doc.customerId, doc.routedPath, nodes, edges)
  }

  /** Parity view: one Triple per edge, endpoints resolved back to content. */
  def triples(g: DocGraph): Seq[Triple] = {
    val byId = g.nodes.map(n => n.id -> n.content).toMap
    g.edges.map(e => Triple(g.customerId, g.url,
      byId.getOrElse(e.srcId, e.srcId), e.edgeType, byId.getOrElse(e.dstId, e.dstId),
      e.confidence, e.evidence))
  }
}

package graft.model

/** Core data model of the KG-construction engine.
  *
  * Shapes mirror the reference's dataclasses (see /root/reference):
  *  - Page: input table per BASELINE.json input_hint
  *  - RawEntity: interview_processing_agent.py entity dicts (:100-127)
  *  - Segment: parse_interview_structure segments (:55-98)
  *  - DocAnalysis: enhanced_file_analyzer.analyze_file (:40-59) merged with
  *    interview_processing_agent.process_interview_transcript (:13-36)
  *  - NeedsProfile: needs_analysis_agent NeedsAnalysisResult (:155-162)
  *  - Entity / Relationship: enhanced_hypergraph_builder_agent_v2.py
  *    CleanEntity (:45-55) / CleanRelationship (:57-65)
  *  - KgNode / KgEdge: EnhancedHyperNode (:67-77) / EnhancedHyperEdge (:79-89)
  */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

final case class RawEntity(text: String, entityType: String, confidence: Double, context: String)

final case class Segment(speaker: String, text: String, wordCount: Int)

final case class KeyInsights(
    skills: Seq[String],
    achievements: Seq[String],
    goals: Seq[String],
    challenges: Seq[String],
    themes: Seq[String])

object KeyInsights { val empty: KeyInsights = KeyInsights(Nil, Nil, Nil, Nil, Nil) }

final case class DocAnalysis(
    url: String,
    customerId: String,
    customerName: String,
    filePath: String,
    contentType: String,   // front-matter content_type, default interview_transcript
    language: String,
    domain: String,
    routedPath: String,    // interview | financial | generic (Choice-state routing)
    complexity: Double,
    wordCount: Int,
    charCount: Int,
    text: String,          // extracted text (byte-identical invariant holder)
    entities: Seq[RawEntity],
    speakers: Seq[String],
    segments: Seq[Segment],
    insights: KeyInsights,
    speakingDistribution: Map[String, Double],
    durationEstimateMin: Double)

final case class NeedScore(need: String, score: Double)

final case class NeedsProfile(
    url: String,
    scores: Map[String, Double],
    dominant: Seq[NeedScore],
    patterns: Seq[String],
    traits: Seq[String],
    lifeThemes: Seq[String],
    confidence: Double)

final case class Entity(
    text: String,
    entityType: String,
    confidence: Double,
    context: String,
    source: String,
    role: String,
    category: String,
    primary: Boolean,
    domainRelevance: Double)

final case class Relationship(
    src: String,
    dst: String,
    relType: String,
    confidence: Double,
    evidence: Seq[String],
    reasoning: String,
    source: String)

final case class KgNode(
    id: String,
    content: String,
    nodeType: String,
    confidence: Double,
    source: String,
    extractionSource: String,
    context: String,
    domainRelevance: Double,
    // v1 temporal indexing (hypergraph_builder_agent.py:448-461): stamped by
    // GraphBuildV1.applyTemporalIndexing; write-time-only like F18, so both
    // are excluded from parity. Empty in v2 mode.
    temporalIndex: String = "",
    temporalCategory: String = "")

final case class KgEdge(
    id: String,
    srcId: String,
    dstId: String,
    edgeType: String,
    confidence: Double,
    evidence: Seq[String],
    reasoning: String,
    // see KgNode — v1 temporal stamps, parity-excluded
    temporalIndex: String = "",
    temporalCategory: String = "")

final case class DocGraph(
    url: String,
    customerId: String,
    routedPath: String,
    nodes: Seq[KgNode],
    edges: Seq[KgEdge])

final case class Triple(
    customer_id: String,
    url: String,
    subj: String,
    pred: String,
    obj: String,
    confidence: Double,
    evidence: Seq[String])

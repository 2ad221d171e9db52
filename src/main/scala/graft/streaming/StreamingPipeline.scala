package graft.streaming

import graft.kg.Pipeline
import graft.model.Page
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front-end for the KG pipeline (SURVEY §2.8).
  *
  * The reference has no streaming — each document arrives as one Step
  * Functions execution. The Spark-native equivalent of "process whatever has
  * landed, exactly once, then stop" is `Trigger.AvailableNow` over a file
  * source whose every micro-batch is one batch `Pipeline.run`: the stream
  * builds the same product as a batch run, and resumes through the same
  * lineage table and commit markers.
  *
  * `eventCountsStream` shows the stateful side: watermarked tumbling-window
  * counts (the A7/A13-style aggregates) over a streaming events table.
  */
object StreamingPipeline {

  /** Stream pages from a parquet directory into the warehouse at outDir, one
    * `Pipeline.run(resume = true)` per micro-batch under a fresh run id: outDir
    * holds what a batch run writes, a replayed micro-batch is deduplicated by
    * the lineage anti-join, and AvailableNow drains what exists and stops.
    */
  def pipelineStream(spark: SparkSession, pagesDir: String, outDir: String,
                     checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val runBatch: (Dataset[Page], Long) => Unit = (batch, id) =>
      Pipeline.run(batch.sparkSession, batch, s"s${id}_${java.util.UUID.randomUUID()}", outDir, resume = true)
    spark.readStream.schema(Encoders.product[Page].schema).parquet(pagesDir).as[Page]
      .writeStream
      .foreachBatch(runBatch)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked tumbling-window event counts (stateful streaming agg):
    * 1-hour windows, 2-hour watermark for late data.
    */
  def eventCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Custom-state streaming dedup (flatMapGroupsWithState): emit a document
    * only the FIRST time its content fingerprint is seen across micro-batches
    * — the training-data-pipeline dedup shape with explicit state control
    * (unlike dropDuplicates, the state is ours: at 100 TB a
    * ProcessingTimeTimeout would bound it to a retention horizon; kept
    * NoTimeout here so the exactly-once contract is easy to test).
    * Within one batch the min doc_id wins (deterministic).
    */
  def firstSeenDedup(docs: Dataset[(String, Long)]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (fp: String, rows: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((fp, rows.map(_._2).min))
          }
      }
  }

  /** Streaming near-dup (the q36 simhash family's streaming analog): each
    * doc explodes into its 4×16-bit simhash band keys ("b:hhhh"); the
    * stateful dedup then emits each band key only on FIRST sighting. A doc
    * whose 4 keys ALL emit is novel content; a doc with any suppressed key
    * is a near-dup candidate of something already streamed (pigeonhole:
    * any doc within hamming <= 3 of an earlier one shares >= 1 band and is
    * flagged — same recall floor as batch q36, which remains the exact
    * backstop with hamming verification). Narrow flatMap — the only
    * shuffle/state is the band-key dedup, keyed on uniform 16-bit values.
    */
  def simhashBandKeys(docs: Dataset[(Long, String)]): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    docs.flatMap { case (id, text) =>
      val sim = graft.ops.NearDup.simhashMd5Long(text)
      (0 until 4).map(b => (f"$b:${(sim >>> (16 * b)) & 0xffffL}%04x", id))
    }
  }

  /** First-seen band-key stream over exact NoTimeout state (stream ≡ batch). */
  def nearDupBandStream(docs: Dataset[(Long, String)]): Dataset[(String, Long)] =
    firstSeenDedup(simhashBandKeys(docs))

  /** Holds the bounded recent (doc_id, simhash) partners of one band key —
    * the verification state for `verifiedNearDupStream`.
    */
  final case class BandPartners(partners: Seq[(Long, Long)])

  /** IN-STREAM VERIFIED near-dup — closes the gap between the band-key
    * flagging stream (candidates only, pigeonhole recall) and batch q36
    * semantics (hamming-verified pairs): each doc explodes into its 4 band
    * keys carrying its full 64-bit simhash; per band key the state keeps the
    * (bounded) recent (doc_id, simhash) partners, and an arriving doc emits
    * (d1, d2, hamming) for every stored partner within `maxHamming` — a
    * candidate that shares a band but exceeds maxHamming (an LSH false
    * positive) is filtered IN the stream, no downstream batch needed.
    *
    * State shape at 100 TB: the key space is structurally bounded (4 bands ×
    * 2¹⁶ signatures = 262,144 keys) and each key holds ≤ `maxPartners`
    * entries (FIFO eviction), so total state is a few hundred MB worst case
    * regardless of stream length — no timeout lease needed. Tradeoffs
    * (documented contract): an evicted partner stops matching (batch q12/q36
    * stay the backstop, as with the horizon lease), and a pair sharing
    * SEVERAL bands emits once per shared band — dedup downstream with
    * dropDuplicates(d1, d2) if exact-once pairs matter. Within a batch,
    * docs are processed in doc_id order (deterministic replay).
    */
  def verifiedNearDupStream(docs: Dataset[(Long, String)], maxHamming: Int = 4,
                            maxPartners: Int = 64): Dataset[(Long, Long, Int)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyed = docs.flatMap { case (id, text) =>
      val sim = graft.ops.NearDup.simhashMd5Long(text)
      (0 until 4).map(b => (f"$b:${(sim >>> (16 * b)) & 0xffffL}%04x", id, sim))
    }
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[BandPartners, (Long, Long, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(String, Long, Long)], state: GroupState[BandPartners]) =>
          var partners = state.getOption.map(_.partners.toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[(Long, Long, Int)]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, sim) =>
            if (!partners.exists(_._1 == id)) {
              partners.foreach { case (pid, psim) =>
                val h = java.lang.Long.bitCount(sim ^ psim)
                if (h <= maxHamming)
                  out += ((math.min(pid, id), math.max(pid, id), h))
              }
              partners = (partners :+ ((id, sim))).takeRight(maxPartners)
            }
          }
          state.update(BandPartners(partners))
          out.result().iterator
      }
  }

  /** The bounded-memory production shape of `firstSeenDedup`: state for a
    * fingerprint expires `horizonMs` after its last sighting
    * (ProcessingTimeTimeout), so total state is bounded by the distinct
    * fingerprints seen within the horizon instead of growing forever — at
    * 100 TB/day that's the difference between a retention window and an
    * unbounded store. Tradeoff (documented contract): a duplicate arriving
    * AFTER the horizon re-emits — acceptable for training-data dedup where
    * the downstream exact-dedup batch pass (q12) is the backstop. Every
    * sighting renews the lease (sliding horizon).
    */
  def firstSeenDedupWithHorizon(docs: Dataset[(String, Long)],
                                horizonMs: Long): Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (fp: String, rows: Iterator[(String, Long)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            // timeout callbacks carry no data rows; drop the lease so the
            // next sighting of this fingerprint re-emits
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            state.setTimeoutDuration(horizonMs) // renew the lease
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(horizonMs)
            Iterator.single((fp, rows.map(_._2).min))
          }
      }
  }
}

package graft.streaming

import graft.kg.Pipeline
import graft.model.Page
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming front-end for the KG pipeline (SURVEY §2.8).
  *
  * The reference has no streaming — each document arrives as one Step
  * Functions execution. The Spark-native equivalent of "process whatever has
  * landed, exactly once, then stop" is `Trigger.AvailableNow` over a file
  * source whose every micro-batch is one batch `Pipeline.run`: the stream
  * builds the same product as a batch run, and resumes through the same
  * lineage table and commit markers.
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
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing-window z-score anomaly detection over event-rate series — the
  * batch form of the monitoring query every ingest pipeline runs over its
  * own throughput ("did this hour's volume deviate from the recent
  * norm?").
  *
  * Determinism across engines: the window statistics are EXACT integer
  * sums (count, Σn, Σn²) — only the final mean/variance/z conversion
  * touches doubles, in one fixed expression tree, rounded to 6 dp. No
  * float accumulation order can differ because nothing floating is ever
  * accumulated.
  *
  * 100 TB shape: one hash aggregation to the (group, hour) grain —
  * typically 5-6 orders of magnitude smaller than the event stream — then
  * one window sort over that tiny series per group. The expensive input
  * never meets a window.
  */
object Anomaly {

  /** Per-(group, hour) event counts with a z-score against the trailing
    * 6 buckets (current bucket EXCLUDED from the baseline).
    * z is null when the window has < 2 points or zero variance;
    * is_anomaly = |z| > 2 (false when z is null).
    * Output: (hour, <groupCol>, n, n_window, z, is_anomaly).
    */
  def countZscores(events: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val counts = events
      .groupBy(date_trunc("hour", col(tsCol)).as("hour"), col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("hour").asc)
      .rowsBetween(-6, -1)
    counts
      .withColumn("m", count(col("n")).over(w).cast("long"))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .withColumn("mean", col("s").cast("double") / col("m"))
      .withColumn("variance", when(col("m") > 1,
        (col("ss").cast("double") - col("s").cast("double") * col("s") / col("m")) /
          (col("m") - 1)))
      .withColumn("z", when(col("variance") > 0,
        round((col("n") - col("mean")) / sqrt(col("variance")), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 2.0, lit(false)))
      .select(col("hour"), col("grp").as(groupCol), col("n"),
        col("m").as("n_window"), col("z"), col("is_anomaly"))
  }
}

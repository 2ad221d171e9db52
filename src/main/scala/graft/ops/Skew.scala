package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-immune aggregation: the two-stage SALTED shape for hot keys.
  *
  * A plain `groupBy(hotKey)` shuffles every row of the hottest key to ONE
  * reduce task — at 100 TB a single mega-key (the empty referrer, the
  * bot UA, the "en" language tag) straggles the whole stage. Salting
  * splits each key into `salts` sub-keys for a first partial aggregate,
  * then combines the per-salt partials in a second, tiny aggregation —
  * the hot key's rows now spread over `salts` tasks and the second stage
  * touches only |keys|·salts rows. (Spark's own map-side partial
  * aggregation covers the same ground when the mapper count is high and
  * the combiner holds; explicit salting is the insurance when partial
  * aggregation degrades — high-cardinality group-bys spill their hash
  * maps — or when AQE skew handling cannot see inside a single key.)
  *
  * Results are EXACTLY the plain groupBy's: counts/min/max are
  * associative, and sums run over DECIMAL so regrouping cannot move a
  * double result — which is what lets the driver oracle verify this plan
  * with a plain GROUP BY.
  */
object Skew {

  /** Per-key (n, sum, min, max) of `valueCol` via two-stage salted
    * aggregation over 16 salts. `saltExpr` must spread rows of one key
    * across buckets — any per-row expression works (a row id, a hash); it
    * only affects the plan, never the result. Sum is computed in
    * DECIMAL(18,6) (exact, order/grouping-independent) and returned as
    * double.
    * Output: (key, n, sum_value, min_value, max_value).
    */
  def saltedStats(rows: DataFrame, keyCol: String, valueCol: String,
                  saltExpr: Column): DataFrame = {
    val partial = rows
      .select(col(keyCol).as("key"), pmod(saltExpr, lit(16)).as("salt"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .groupBy(col("key"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("v")).as("ps"),
        min(col("v")).as("pmin"), max(col("v")).as("pmax"))
    partial.groupBy(col("key"))
      .agg(sum(col("pn")).as("n"),
        sum(col("ps")).cast("double").as("sum_value"),
        min(col("pmin")).cast("double").as("min_value"),
        max(col("pmax")).cast("double").as("max_value"))
  }
}

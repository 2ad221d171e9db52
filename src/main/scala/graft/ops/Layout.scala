package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout keys for scan locality — the write-side optimization that
  * pays for itself at 100 TB: sorting (or range-partitioning) files by a
  * space-filling-curve key over the two most-filtered dimensions makes
  * parquet row-group min/max stats selective on BOTH dimensions at once
  * (a plain sort is selective on its leading column only), so point/range
  * predicates skip most of the table's row groups (the Delta/Iceberg
  * Z-ORDER feature). The key itself is pure integer bit arithmetic —
  * portable, codegen'd, exactly replayable by the oracle.
  */
object Layout {

  /** 2-D Morton (Z-order) interleave of the low 16 bits of two
    * non-negative bucket ids: bit j of `a` lands at position 2j, bit j of
    * `b` at 2j+1. Callers bucket raw values first (e.g. pmod on an id,
    * an hour number) — the key only needs to be ORDER-compatible with
    * locality, not reversible.
    */
  def mortonKey(a: Column, b: Column): Column =
    (0 until 16).map { j =>
      shiftleft(shiftright(a, j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)
}

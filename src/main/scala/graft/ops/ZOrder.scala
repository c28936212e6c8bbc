package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering keys for multi-dimensional file layout.
  *
  * At 100 TB the scan you avoid is the cheapest scan: sorting a table
  * by a bit-interleaved key of two filter columns keeps BOTH columns'
  * min/max ranges tight within every parquet row group, so selective
  * predicates on either column (or both) prune files/row-groups that a
  * single-column sort order could only prune for its leading column.
  * Same idea as Delta/Iceberg `OPTIMIZE ZORDER BY` — here as a plain
  * codegen'd column expression usable with `sortWithinPartitions` or
  * `repartitionByRange` at write time.
  *
  * The key is pure integer bit algebra (no UDF, no shuffle of its own):
  * bit i of x lands at position 2i+1, bit i of y at 2i. Inputs must be
  * non-negative and < 2^16 — callers bucket/quantize wider domains
  * first (range quantiles or modulo), which is what the lakehouse
  * implementations do too.
  */
object ZOrder {

  val Bits = 16

  /** Interleave two 16-bit non-negative ints into one long Morton key. */
  def interleave2(x: Column, y: Column): Column = {
    val xs = x.cast("long"); val ys = y.cast("long")
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i))
    }
  }

  /** Reference scalar twin for property tests. */
  def interleave2Scalar(x: Long, y: Long): Long = {
    require(x >= 0 && x < (1L << Bits) && y >= 0 && y < (1L << Bits))
    (0 until Bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i))
    }
  }
}

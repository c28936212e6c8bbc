package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

class ZOrderSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  test("column expression matches the scalar reference on a value grid") {
    val pts = for (x <- Seq(0L, 1L, 2L, 255L, 256L, 65535L);
                   y <- Seq(0L, 1L, 3L, 254L, 32768L, 65535L)) yield (x, y)
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder.interleave2(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) =>
      assert(z === ZOrder.interleave2Scalar(x, y), s"($x, $y)")
    }
  }

  test("interleaving is a bijection: distinct inputs give distinct keys") {
    val pts = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    assert(pts.map { case (x, y) => ZOrder.interleave2Scalar(x, y) }.distinct.size
      === pts.size)
  }

  test("quadrant ordering: the z-curve visits quadrants in y-then-x major order") {
    // With x bits at odd positions, the x half-range dominates:
    // keys in x<2^15 sort entirely below keys in x>=2^15.
    val lo = ZOrder.interleave2Scalar(32767L, 65535L)
    val hi = ZOrder.interleave2Scalar(32768L, 0L)
    assert(lo < hi)
  }

  test("z-clustered layout keeps both columns' per-partition ranges tight") {
    val n = 4096
    val df = spark.range(n.toLong).select(
      (col("id") * 2654435761L % 256).as("x"),
      (col("id") * 40503L % 256).as("y"))
    // the write-time layout: range-partition and sort by the z-key
    val clustered = df.repartitionByRange(16, ZOrder.interleave2(col("x"), col("y")))
      .sortWithinPartitions(ZOrder.interleave2(col("x"), col("y")))
    // Per output partition, measure the bounding box of (x, y). A
    // z-clustered layout gives every file a small rectangle — the
    // row-group pruning win. Compare against the unclustered layout
    // where each partition spans nearly the full domain.
    val spans = clustered.rdd.mapPartitions { it =>
      val rows = it.toSeq
      if (rows.isEmpty) Iterator.empty
      else {
        val xs = rows.map(_.getLong(0)); val ys = rows.map(_.getLong(1))
        Iterator(((xs.max - xs.min) + 1) * ((ys.max - ys.min) + 1))
      }
    }.collect()
    val domain = 256L * 256L
    val meanBox = spans.sum.toDouble / spans.length
    assert(meanBox < domain / 4.0,
      s"mean per-file bounding box $meanBox should be well under domain $domain")
    assert(clustered.count() === n.toLong)
  }
}

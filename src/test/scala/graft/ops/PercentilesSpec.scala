package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class PercentilesSpec extends SparkSpec {
  import spark.implicits._

  private def windowReference(df: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy($"g").orderBy($"v", $"id")
    df.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"g")))
      .filter($"rn" === ceil($"n" * 0.5) || $"rn" === ceil($"n" * 0.95))
      .groupBy($"g")
      .agg(min(when($"rn" === ceil($"n" * 0.5), $"v")).as("p50"),
        min(when($"rn" === ceil($"n" * 0.95), $"v")).as("p95"))
      .as[(String, Double, Double)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
  }

  test("histogram-located percentiles equal the window formulation, duplicates and all") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 5000).map { i =>
      val g = Seq("a", "b", "c")(i % 3)
      // heavy duplication: values quantized to 50 levels
      (g, math.floor(rnd.nextDouble() * 50) / 7.0, i.toLong)
    }
    val df = rows.toDF("g", "v", "id")
    val got = Percentiles.exactDiscrete(df, "g", "v", Seq("id"),
        Seq("p50" -> 0.5, "p95" -> 0.95), buckets = 16)
      .as[(String, Double, Double)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(got === windowReference(df))
  }

  test("long ranges wider than 2^63 bucket monotonically (no silent subtraction wrap)") {
    // range 1e19 > Long.MaxValue: (mx - mn) in LONG arithmetic wraps
    // negative and the walked percentile silently returned the wrong
    // row before the double-space bucketization
    val df = Seq(
      ("g", -5000000000000000000L, 1L),
      ("g", -4000000000000000000L, 2L),
      ("g", 0L, 3L),
      ("g", 5000000000000000000L, 4L)).toDF("g", "v", "id")
    val got = Percentiles.exactDiscrete(df, "g", "v", Seq("id"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p100" -> 1.0), buckets = 16)
      .as[(String, Long, Long, Long)].collect().head
    assert(got == (("g", -5000000000000000000L, -4000000000000000000L,
      5000000000000000000L)))
  }

  test("degenerate shapes: constant column, single-row group, p100") {
    val df = Seq(
      ("const", 5.0, 1L), ("const", 5.0, 2L), ("const", 5.0, 3L),
      ("one", 9.0, 4L)).toDF("g", "v", "id")
    val out = Percentiles.exactDiscrete(df, "g", "v", Seq("id"),
        Seq("p50" -> 0.5, "p100" -> 1.0), buckets = 8)
      .as[(String, Double, Double)].collect().map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(out === Map("const" -> ((5.0, 5.0)), "one" -> ((9.0, 9.0))))
  }

  test("null values are excluded from ranking (standard percentile semantics)") {
    val df = Seq(("g", Some(1.0), 1L), ("g", None: Option[Double], 2L),
      ("g", Some(3.0), 3L), ("g", None: Option[Double], 4L)).toDF("g", "v", "id")
    val out = Percentiles.exactDiscrete(df, "g", "v", Seq("id"), Seq("p50" -> 0.5), 8)
      .as[(String, Double)].head()
    assert(out === (("g", 1.0)), "k = ceil(2 * 0.5) = 1st of the two non-null values")
  }

  test("narrow pass only ranks located buckets (second scan is a fraction of the data)") {
    val df = (1 to 10000).map(i => ("g", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val out = Percentiles.exactDiscrete(df, "g", "v", Seq("id"),
      Seq("p50" -> 0.5), buckets = 100)
    assert(out.as[(String, Double)].head() === (("g", 5000.0)))
  }

  test("group-count guard trips loudly instead of collecting an unbounded histogram") {
    val df = (1 to 5000).map(i => (s"g$i", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val e = intercept[IllegalArgumentException] {
      Percentiles.exactDiscrete(df, "g", "v", Seq("id"), Seq("p50" -> 0.5),
        buckets = 16, maxDriverGroups = 100)
    }
    assert(e.getMessage.contains("maxDriverGroups"))
    // The documented few-groups regime still works under the guard.
    val ok = Percentiles.exactDiscrete(
      df.withColumn("g", lit("only")), "g", "v", Seq("id"),
      Seq("p50" -> 0.5), buckets = 16, maxDriverGroups = 100)
    assert(ok.as[(String, Double)].head() === (("only", 2500.0)))
  }

  test("windowDiscrete equals the histogram plan on the same input") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 3000).map { i =>
      (Seq("a", "b")(i % 2), math.floor(rnd.nextDouble() * 40) / 3.0, i.toLong)
    }.toDF("g", "v", "id")
    val win = Percentiles.windowDiscrete(df, "g", "v", Seq("id"),
        Seq("p50" -> 0.5, "p95" -> 0.95))
      .as[(String, Double, Double)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    val hist = Percentiles.exactDiscrete(df, "g", "v", Seq("id"),
        Seq("p50" -> 0.5, "p95" -> 0.95), buckets = 32)
      .as[(String, Double, Double)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(win === hist)
  }

  test("autoDiscrete dispatches by measured group count, same answer in both regimes") {
    val few = (1 to 2000).map(i => (s"g${i % 3}", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val many = (1 to 2000).map(i => (s"g${i % 500}", i.toDouble, i.toLong)).toDF("g", "v", "id")
    for (df <- Seq(few, many)) {
      val auto = Percentiles.autoDiscrete(df, "g", "v", Seq("id"),
          Seq("p50" -> 0.5), maxDriverGroups = 100)
        .as[(String, Double)].collect().toMap
      val win = Percentiles.windowDiscrete(df, "g", "v", Seq("id"), Seq("p50" -> 0.5))
        .as[(String, Double)].collect().toMap
      assert(auto === win)
    }
  }
}

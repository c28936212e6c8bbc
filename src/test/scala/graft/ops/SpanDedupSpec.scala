package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed exact-substring span removal: shared runs vanish from
  * every document, unique prose survives, within-doc repeats don't
  * count as duplication.
  */
class SpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private def auditOf(n: Int, rows: (Long, String)*): Map[Long, (Long, Long, String)] = {
    val df = rows.toSeq.toDF("id", "text")
    SpanDedup.audit(df, "id", "text", n = n, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
  }

  test("a shared 3-gram is cut from every document, unique text survives") {
    val a = auditOf(3,
      1L -> "alpha beta gamma delta unique one",
      2L -> "other words alpha beta gamma delta tail",
      3L -> "totally unrelated text here")
    // "alpha beta gamma" and "beta gamma delta" both appear in docs 1+2
    // → tokens alpha..delta covered in both docs.
    assert(a(1L) == ((6L, 4L, "unique one")))
    assert(a(2L) == ((7L, 4L, "other words tail")))
    assert(a(3L) == ((4L, 0L, "totally unrelated text here")))
  }

  test("within-document repetition alone is not duplication") {
    val a = auditOf(3,
      1L -> "ping pong ping pong ping pong",
      2L -> "completely different words here")
    assert(a(1L)._2 == 0L)
    assert(a(1L)._3 == "ping pong ping pong ping pong")
  }

  test("fully-duplicated documents rewrite to null; short/empty docs pass through") {
    val a = auditOf(3,
      1L -> "copy paste block",
      2L -> "copy paste block",
      3L -> "tiny doc",
      4L -> "",
      5L -> null)
    assert(a(1L) == ((3L, 3L, null)) && a(2L) == ((3L, 3L, null)))
    assert(a(3L) == ((2L, 0L, "tiny doc")))
    assert(a(4L) == ((0L, 0L, null)) && a(5L) == ((0L, 0L, null)))
  }

  test("coverage extends across overlapping duplicated grams, not past them") {
    // docs share "a b c d" (length-4 run); with n=3 the duplicated
    // grams are "a b c" and "b c d" — x/y/z stay.
    val a = auditOf(3,
      1L -> "x a b c d y",
      2L -> "z a b c d")
    assert(a(1L) == ((6L, 4L, "x y")))
    assert(a(2L) == ((5L, 4L, "z")))
  }

  test("duplicate document ids fail loudly instead of stitching grams across texts") {
    val df = Seq((1L, "a b c d e f"), (1L, "g h i j k l"), (2L, "m n o p q r"))
      .toDF("doc_id", "text")
    val e = intercept[Exception](SpanDedup.audit(df, "doc_id", "text", n = 3).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("duplicate")), msgs(e).mkString(" | "))
    // unique ids still pass
    assert(SpanDedup.audit(df.filter($"text" =!= "g h i j k l"),
      "doc_id", "text", n = 3).count() == 2)
  }
}

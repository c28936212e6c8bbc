package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def fpsOf(n: Int, w: Int, rows: (Long, String)*): Map[Long, Set[String]] = {
    val df = rows.toSeq.toDF("id", "text")
    Winnow.fingerprints(df, "id", "text", n, w)
      .as[(Long, String)].collect().groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).toSet }
  }

  test("each complete window contributes its minimum gram hash, by value") {
    val fps = fpsOf(2, 3, 1L -> "a b c d e f")
    val grams = Seq("a b", "b c", "c d", "d e", "e f").map(md5hex)
    val expected = (0 to 2).map(s => grams.slice(s, s + 3).min).toSet
    assert(fps(1L) == expected)
  }

  test("a shared run of n+w-1 tokens guarantees a common fingerprint despite shifts") {
    val fps = fpsOf(2, 3,
      1L -> "x1 x2 x3 a b c d e f",
      2L -> "a b c d e f y1")
    assert((fps(1L) intersect fps(2L)).nonEmpty)
  }

  test("short documents fall back to the global min; gram-less documents vanish") {
    val fps = fpsOf(2, 5, 1L -> "a b c", 2L -> "solo", 3L -> "")
    assert(fps(1L) == Set(Seq("a b", "b c").map(md5hex).min))
    assert(!fps.contains(2L) && !fps.contains(3L))
  }
}

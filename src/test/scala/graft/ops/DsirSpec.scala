package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 4096

  /** Bucket of a term under the op's own hash (collision-free for the
    * handful of distinct test terms at B=4096 — asserted in setup).
    */
  private def bucket(term: String): Int =
    Seq(term).toDF("t").select(Dsir.bucketOf(col("t"), B).cast("int"))
      .head().getInt(0)

  test("featureTerms yields lowercased unigrams plus space-joined bigrams") {
    val docs = Seq((0L, "The cat Sat"), (1L, "x"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
    val out = Dsir.featureOccurrences(docs, "id", "t").as[(Long, String)].collect()
      .groupBy(_._1).map { case (id, ts) => id -> ts.map(_._2).toSeq }
    assert(out(0L) == Seq("the", "cat", "sat", "the cat", "cat sat"))
    assert(out(1L) == Seq("x"))
    assert(!out.contains(2L) && !out.contains(3L))
  }

  test("score sums milli weights over feature occurrences, exactly") {
    val terms = Seq("the", "cat", "the cat")
    assert(terms.map(bucket).distinct.size == 3, "test terms must not collide")
    val w = Map(bucket("the") -> 100L, bucket("cat") -> -40L,
      bucket("the cat") -> 7L)
    val df = Seq((1L, "the cat"), (2L, "the the"), (3L, "zzz")).toDF("id", "text")
    val s = Dsir.score(df, "id", "text", w, B)
      .as[(Long, Long)].collect().toMap
    // doc 1: the + cat + "the cat" = 100 - 40 + 7
    assert(s(1L) == 67L)
    // doc 2: the×2 + bigram "the the" (unweighted) = 200
    assert(s(2L) == 200L)
    assert(s(3L) == 0L)
  }

  test("resampleTopK keeps the k best with the md5 tiebreak; Gumbel variant is run-stable") {
    val w = Map(bucket("hot") -> 1000L)
    val df = (1L to 20L).map(i => (i, if (i <= 5) "hot" else "cold")).toDF("id", "text")
    val top = Dsir.resampleTopK(df, "id", "text", w, B, k = 7)
      .as[(Long, Long)].collect()
    assert(top.take(5).forall(_._2 == 1000L))
    assert(top.map(_._1).take(5).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // the 2 zero-score slots are the md5-smallest cold ids — recompute
    val coldByMd5 = (6L to 20L).map(i => i ->
      java.security.MessageDigest.getInstance("MD5").digest(i.toString.getBytes)
        .map("%02x".format(_)).mkString).sortBy(_._2).map(_._1).take(2).toSet
    assert(top.drop(5).map(_._1).toSet == coldByMd5)
  }
}

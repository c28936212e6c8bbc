package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class CorpusCurationSpec extends SparkSpec {
  import spark.implicits._

  test("quality model: exact integer logit over token OCCURRENCES, bias included") {
    val df = Seq(
      (1L, "the the cat"),      // 2×400 - 700 = 100 → kept
      (2L, "lorem the"),        // -800 + 400 - 700 = -1100 → dropped
      (3L, ""),                 // bias only = -700 → dropped
      (4L, "unseen tokens only")) // bias only
      .toDF("doc_id", "text")
    val w = Map("the" -> 400L, "lorem" -> -800L)
    val got = QualityModel.scoreLinear(df, "doc_id", "text", w, milliBias = -700L)
      .select("doc_id", "milli_logit", "kept")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((100L, true)))
    assert(got(2L) == ((-1100L, false)))
    assert(got(3L) == ((-700L, false)))
    assert(got(4L) == ((-700L, false)))
    // sigmoid is monotone in the logit; kept ⇔ score ≥ 0.5
    val scores = QualityModel.scoreLinear(df, "doc_id", "text", w, -700L)
      .select("doc_id", "score", "kept").as[(Long, Double, Boolean)].collect()
    scores.foreach { case (_, s, k) => assert(k == (s >= 0.5)) }
    // the filter composition keeps exactly the kept ids
    assert(QualityModel.filterQuality(df, "doc_id", "text", w, -700L)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("bigram LM: hand-computed transition probabilities, junk sinks") {
    val df = Seq(
      (1L, "a b a b a b"),     // typical transitions
      (2L, "a zz b qq a ww"))  // unseen-ish transitions
      .toDF("doc_id", "text")
    val out = TextRank.bigramLogProb(df, "doc_id", "text")
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // corpus: tokens a×5 b×4 zz qq ww → V = 5
    // doc1 bigrams: ab×3, ba×2; c(ab)=3, c(ba)=2 (doc2 has none of these)
    // P(b|a) = (3+1)/(c1(a)=5 + 5) = 0.4 ; P(a|b) = (2+1)/(4+5) = 1/3
    val expected1 = (3 * math.log(0.4) + 2 * math.log(3.0 / 9)) / 5
    assert(math.abs(out(1L)._1 - expected1) < 1e-9 && out(1L)._2 == 5L)
    assert(out(2L)._1 < out(1L)._1, "unseen transitions must score lower")
  }

  private def windowReference(df: org.apache.spark.sql.DataFrame,
      budgets: Map[String, Long]): Set[Long] = {
    val budgetCol = budgets.foldLeft(lit(-1L)) { case (acc, (g, b)) =>
      when(col("source") === g, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy($"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter($"source".isin(budgets.keys.toSeq: _*))
      .withColumn("__before", coalesce(sum($"n_chars").over(w), lit(0L)))
      .filter($"__before" < budgetCol)
      .select("doc_id").as[Long].collect().toSet
  }

  test("token budget: sliced plan equals the plain window formulation") {
    val rnd = new scala.util.Random(3)
    val df = (1 to 3000).map { i =>
      (i.toLong, s"src${i % 5}", (rnd.nextInt(200) + 1).toLong)
    }.toDF("doc_id", "source", "n_chars")
    val budgets = Map("src0" -> 10000L, "src1" -> 1L, "src2" -> 100000000L, "src3" -> 0L)
    val got = TokenBudget.sample(df, "doc_id", "source", "n_chars", budgets)
      .select("doc_id").as[Long].collect().toSet
    assert(got == windowReference(df, budgets))
    // group absent from the recipe (src4) contributes nothing
    assert(TokenBudget.sample(df, "doc_id", "source", "n_chars", budgets)
      .filter($"source" === "src4").count() == 0L)
  }

  test("token budget: met or overshot by at most one document; zero budget keeps none") {
    val df = (1 to 500).map(i => (i.toLong, "g", 10L)).toDF("doc_id", "source", "n_chars")
    val out = TokenBudget.sample(df, "doc_id", "source", "n_chars", Map("g" -> 105L))
    val total = out.agg(sum($"n_chars")).as[Long].head()
    assert(total >= 105L && total <= 115L, s"budget 105 with 10-token docs → 110, got $total")
    assert(TokenBudget.sample(df, "doc_id", "source", "n_chars", Map("g" -> 0L)).count() == 0L)
  }

  test("token budget: zero-weight documents at a full-slice boundary are kept") {
    // exact-boundary + zero-weight edge: kept iff tokens BEFORE < budget
    val df = Seq((1L, "g", 5L), (2L, "g", 0L), (3L, "g", 5L), (4L, "g", 5L))
      .toDF("doc_id", "source", "n_chars")
    val got = TokenBudget.sample(df, "doc_id", "source", "n_chars", Map("g" -> 10L))
      .select("doc_id").as[Long].collect().toSet
    assert(got == windowReference(df, Map("g" -> 10L)))
  }

  test("token budget rejects float weights (order-sensitive running sums)") {
    val df = Seq((1L, "g", 1.5)).toDF("doc_id", "source", "n_chars")
    intercept[IllegalArgumentException] {
      TokenBudget.sample(df, "doc_id", "source", "n_chars", Map("g" -> 10L))
    }
  }

  test("token budget rejects negative weights (the slice walk needs monotone sums)") {
    val df = Seq((1L, "g", 100L), (2L, "g", -50L)).toDF("doc_id", "source", "n_chars")
    val e = intercept[IllegalArgumentException] {
      TokenBudget.sample(df, "doc_id", "source", "n_chars", Map("g" -> 60L))
    }
    assert(e.getMessage.contains("negative weight"))
  }
}

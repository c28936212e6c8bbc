package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class LowerRootSpec extends SparkSpec {
  import spark.implicits._

  private def via(values: Seq[String]): Seq[Option[String]] =
    values.toDF("s")
      .select(GraftExtensions.lower_root(col("s")).as("l"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getString(0))).toSeq

  test("ASCII fast path: byte-wise lower, no-op frame returned when already lower") {
    assert(via(Seq("FeVer", "already lower", "MIXED 123 !@#")) ==
      Seq(Some("fever"), Some("already lower"), Some("mixed 123 !@#")))
    // no-upper ASCII returns the same UTF8String instance (no copy)
    val s = UTF8String.fromString("plain ascii")
    assert(LowerRoot.eval(s) eq s)
  }

  test("non-ASCII path is Locale.ROOT even under a Turkish default locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
    try {
      // Non-ASCII char forces the slow path; ROOT maps 'I' -> 'i',
      // Turkish default would map it to dotless 'ı'.
      assert(via(Seq("BEHÇET IRITIS")) == Seq(Some("behçet iritis")))
      assert(LowerRoot.eval(UTF8String.fromString("Ç-I")).toString == "ç-i")
      // and matches what BiDict.norm produces for the same string
      assert(LowerRoot.eval(UTF8String.fromString("É IRIS")).toString ==
        graft.ontology.BiDict.norm("É IRIS"))
    } finally java.util.Locale.setDefault(prev)
  }

  test("null propagates") {
    assert(via(Seq(null.asInstanceOf[String])) == Seq(None))
  }
}

package graft.strategy

import graft.model._
import graft.ontology.BiDictLibrary
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** T7 — split an `HpoOrDisease` column into `<col>_hpo` and
  * `<col>_disease` by dictionary-library membership, HPO winning ties;
  * a value in neither is a reject ([[CellRuleStrategy]]); the source
  * column is dropped and the raw cell kept in the column of its class
  * (reference
  * `phenoxtract/src/transform/strategies/hpo_disease_splitter.rs:51-150`).
  *
  * The library rides a Spark broadcast and each non-null cell is
  * classified in a UDF by `BiDictLibrary.memberOf`, i.e. by
  * `BiDict.resolve`, the rule that built the dictionary keys — so a
  * padded or upper-case cell classifies exactly as the driver would
  * resolve it, on any host locale.
  */
final case class HpoDiseaseSplitterStrategy(library: BiDictLibrary) extends CellRuleStrategy {
  val name = "hpo_disease_splitter"

  protected def targets(cdf: Cdf): Seq[String] = cdf.columnsOfKind(ContextKind.KHpoOrDisease)

  /** The cell's class, "hpo" or "disease". HPO is tested first, as in
    * the reference, so shared terms classify as "hpo".
    */
  protected def rule(spark: SparkSession): Column => Column = {
    val bc = spark.sparkContext.broadcast(library)
    val classOf = udf { (v: String) =>
      if (v == null) null
      else if (bc.value.memberOf("hp", v)) "hpo"
      else if (bc.value.memberOf("mondo", v)) "disease"
      else null
    }
    c => classOf(c)
  }

  protected def hint: String = "values in neither the HPO nor the disease ontology"

  /** Replaces `c` by `<c>_hpo` and `<c>_disease` and its series by
    * their two; a series bound to more columns keeps the ones not split
    * yet.
    */
  override protected def write(cdf: Cdf, c: String, cls: Column): Cdf = {
    val sc = cdf.bindings.collectFirst { case (`c`, s) => s }.get
    val rest = sc.identifier.resolve(cdf.df.columns.toSeq).filterNot(_ == c)
    val df = cdf.df
      .withColumn(s"${c}_hpo", when(cls === "hpo", col(c)))
      .withColumn(s"${c}_disease", when(cls === "disease", col(c)))
      .drop(c)
    val kept = cdf.context.seriesContexts.flatMap { s =>
      if (s != sc) Seq(s)
      else if (rest.nonEmpty) Seq(sc.copy(identifier = Identifier.Multi(rest)))
      else Nil
    }
    val split = Seq(
      sc.copy(identifier = Identifier.Single(s"${c}_hpo"), dataContext = Context.Hpo),
      sc.copy(identifier = Identifier.Single(s"${c}_disease"), dataContext = Context.Disease))
    Cdf(cdf.context.copy(seriesContexts = kept ++ split), df)
  }
}

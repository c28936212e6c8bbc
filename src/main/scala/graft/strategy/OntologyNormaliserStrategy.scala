package graft.strategy

import graft.model._
import graft.ontology.BiDictLibrary
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** T6 — case-insensitive label/synonym → CURIE normalization through a
  * broadcast ontology dictionary (reference
  * `phenoxtract/src/transform/strategies/ontology_normaliser.rs:61-141`):
  * IDs already in CURIE form pass through (validated), labels resolve
  * via the bidict; a value `BiDictLibrary.resolve` does not know is a
  * reject ([[CellRuleStrategy]]).
  *
  * The dictionary rides a Spark broadcast: executors map values via a
  * lookup UDF over the broadcast map — the dictionary is
  * ontology-sized (≤ a few 100k terms), the data side never shuffles.
  */
final case class OntologyNormaliserStrategy(
    library: BiDictLibrary,
    targetKinds: Set[ContextKind] =
      Set(ContextKind.KHpo, ContextKind.KDisease, ContextKind.KSeverity,
          ContextKind.KPrimarySite)) extends CellRuleStrategy {
  val name = "ontology_normaliser"

  protected def targets(cdf: Cdf): Seq[String] =
    cdf.columnsWhere(sc => targetKinds.contains(sc.dataContext.kind))

  protected def rule(spark: SparkSession): Column => Column = {
    val bc = spark.sparkContext.broadcast(library)
    val resolveId = udf((v: String) => if (v == null) null else bc.value.resolve(v).map(_._1.id).orNull)
    c => resolveId(c)
  }

  protected def hint: String = "terms not found in the ontology library"
}

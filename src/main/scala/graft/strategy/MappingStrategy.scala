package graft.strategy

import graft.model._
import graft.ontology.BiDict
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** T2 — context-targeted synonym normalization (reference
  * `phenoxtract/src/transform/strategies/mapping.rs:62-278`): cells of
  * every column whose data context matches `targetKind` are mapped via
  * `BiDict.norm` (Java trim + ROOT-locale lowercase) of the value; a
  * value with no key is a reject ([[CellRuleStrategy]]).
  *
  * The map's keys and every cell are normalized by the same JVM rule:
  * the map rides a Spark broadcast and each cell is keyed and looked up
  * in a UDF, so a tab/CR-padded or upper-case cell maps on any host
  * locale.
  */
final case class MappingStrategy(
    name: String,
    synonymMap: Map[String, String],
    targetKind: ContextKind) extends CellRuleStrategy {

  private val norm: Map[String, String] =
    synonymMap.map { case (k, v) => BiDict.norm(k) -> v }

  protected def targets(cdf: Cdf): Seq[String] = cdf.columnsOfKind(targetKind)

  protected def rule(spark: SparkSession): Column => Column = {
    val bc = spark.sparkContext.broadcast(norm)
    val mapped = udf((v: String) => if (v == null) null else bc.value.getOrElse(BiDict.norm(v), null))
    c => mapped(c)
  }

  protected def hint: String = s"known keys: ${norm.keys.toSeq.sorted.mkString(", ")}"
}

object MappingStrategy {

  /** Built-in subject-sex normalization (reference `mapping.rs:92-131`). */
  def defaultSex: MappingStrategy = MappingStrategy(
    "default_sex_mapping",
    Map(
      "m" -> "MALE", "male" -> "MALE", "man" -> "MALE",
      "f" -> "FEMALE", "female" -> "FEMALE", "woman" -> "FEMALE",
      "diverse" -> "OTHER_SEX", "intersex" -> "OTHER_SEX", "other" -> "OTHER_SEX",
      "other_sex" -> "OTHER_SEX", "unknown_sex" -> "UNKNOWN_SEX"),
    ContextKind.KSubjectSex)

  /** Built-in vital-status normalization (reference `mapping.rs:135-178`). */
  def defaultVitalStatus: MappingStrategy = MappingStrategy(
    "default_vital_status_mapping",
    Map(
      "yes" -> "ALIVE", "living" -> "ALIVE", "alive" -> "ALIVE",
      "no" -> "DECEASED", "dead" -> "DECEASED", "deceased" -> "DECEASED",
      "unknown" -> "UNKNOWN_STATUS", "no data" -> "UNKNOWN_STATUS",
      "unknown_status" -> "UNKNOWN_STATUS"),
    ContextKind.KVitalStatus)
}

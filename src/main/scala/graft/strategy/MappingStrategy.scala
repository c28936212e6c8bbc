package graft.strategy

import graft.model._
import graft.ontology.BiDict
import org.apache.spark.sql.functions._

/** T2 — context-targeted synonym normalization (reference
  * `phenoxtract/src/transform/strategies/mapping.rs:62-278`): cells of
  * every column whose data context matches `targetKind` are mapped via
  * `BiDict.norm` (Java trim + ROOT-locale lowercase) of the value; **all
  * unmapped non-null values across all tables are collected first and
  * the strategy fails once** with the complete set (reference
  * error-accumulation semantics `mapping.rs:202-277`).
  *
  * The map's keys and every cell are normalized by the same JVM rule:
  * the map rides a Spark broadcast and each cell is keyed and looked up
  * in a UDF, so a tab/CR-padded or upper-case cell maps on any host
  * locale. The unmapped scan is one distinct-collect over all matching
  * columns ([[MappingException.rejectAny]]) — a second cheap pass, not
  * a per-row throw.
  */
final case class MappingStrategy(
    name: String,
    synonymMap: Map[String, String],
    targetKind: ContextKind) extends Strategy {

  private val norm: Map[String, String] =
    synonymMap.map { case (k, v) => BiDict.norm(k) -> v }

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val bc = tables.head.df.sparkSession.sparkContext.broadcast(norm)
    val keyOf = udf((v: String) => if (v == null) null else BiDict.norm(v))
    val mapped = udf((k: String) => if (k == null) null else bc.value.getOrElse(k, null))
    def key(c: String) = keyOf(col(c).cast("string"))

    // Pass 1: accumulate every unmapped distinct key across tables.
    MappingException.rejectAny(name,
      tables.flatMap { cdf =>
        cdf.columnsOfKind(targetKind).map { c =>
          cdf.df
            .select(key(c).as("v"))
            .filter(col("v").isNotNull && mapped(col("v")).isNull)
        }
      },
      hint = s"known keys: ${norm.keys.toSeq.sorted.mkString(", ")}")

    // Pass 2: rewrite each cell to its mapped value.
    tables.map { cdf =>
      val df = cdf.columnsOfKind(targetKind).foldLeft(cdf.df) { (acc, c) =>
        acc.withColumn(c, mapped(key(c)))
      }
      cdf.copy(df = df)
    }
  }
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

package graft.strategy

import graft.clean.Casts
import graft.model._
import org.apache.spark.sql.functions._

/** T1 — per-SeriesContext cell-value substitution (reference
  * `phenoxtract/src/transform/strategies/alias_map.rs:53-135`):
  * every series carrying an `AliasMap` gets its values rewritten —
  * explicit alias-to-null allowed, unmapped values pass through — and
  * the column is then cast to the map's declared output type via the
  * strict specific cast (P4).
  *
  * The map rides a Spark broadcast and each cell is looked up in a UDF
  * by its `String.trim`, the rule `AliasMap.normalized` applies to the
  * keys (the T2/T6 idiom): the generated code does not grow with the
  * map, which an S8 alias CSV may make any size.
  */
object AliasMapStrategy extends Strategy {
  val name = "alias_map"

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] =
    tables.map(applyTo)

  def applyTo(cdf: Cdf): Cdf = {
    val aliased = cdf.bindings.foldLeft(cdf.df) {
      case (df, (colName, sc)) =>
        sc.aliasMap match {
          case Some(am0) =>
            val am = am0.normalized
            val bc = df.sparkSession.sparkContext.broadcast(am.entries)
            val alias = udf { (v: String) =>
              if (v == null) null
              else bc.value.get(v.trim) match {
                case Some(a) => a.orNull
                case None    => v
              }
            }
            Casts.specific(df.withColumn(colName, alias(col(colName).cast("string"))), colName,
              OutputDataType.toSpark(am.outputType))
          case None => df
        }
    }
    cdf.copy(df = aliased)
  }
}

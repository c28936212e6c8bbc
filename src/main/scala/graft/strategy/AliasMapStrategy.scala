package graft.strategy

import graft.clean.Casts
import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** T1 — per-SeriesContext cell-value substitution (reference
  * `phenoxtract/src/transform/strategies/alias_map.rs:53-135`):
  * every series carrying an `AliasMap` gets its values rewritten —
  * explicit alias-to-null allowed, unmapped values pass through — and
  * the column is then cast to the map's declared output type via the
  * strict specific cast (P4).
  *
  * The maps are config-sized: a literal when-chain compiles into
  * whole-stage codegen (no shuffle, no UDF, no broadcast needed below
  * thousands of keys — beyond that, swap to a broadcast map join).
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
            val casted = {
              val replaced = replaceExpr(col(colName).cast("string"), am)
              df.withColumn(colName, replaced)
            }
            Casts.specific(casted, colName, OutputDataType.toSpark(am.outputType))
          case None => df
        }
    }
    cdf.copy(df = aliased)
  }

  /** when-chain over the alias entries; None ⇒ null; miss ⇒ passthrough. */
  private def replaceExpr(c: Column, am: AliasMap): Column = {
    // Java-trim to match AliasMap.normalized's Java-trimmed keys:
    // Spark's trim strips only U+0020, so a tab/CR-padded cell would
    // silently bypass the map (the MappingStrategy idiom)
    val trimmed = Casts.javaTrim(c)
    am.entries.foldLeft(Option.empty[Column]) {
      case (acc, (key, alias)) =>
        val v = alias.map(lit(_)).getOrElse(lit(null).cast("string"))
        Some(acc.fold(when(trimmed === key, v))(_.when(trimmed === key, v)))
    }.map(_.otherwise(c)).getOrElse(c)
  }
}

package graft.strategy

import graft.model._
import graft.ontology.BiDictLibrary
import org.apache.spark.sql.functions._

/** T7 — split an `HpoOrDisease` column into `<col>_hpo` and
  * `<col>_disease` by dictionary-library membership, HPO winning ties;
  * unknown non-null values error; the source column is dropped
  * (reference
  * `phenoxtract/src/transform/strategies/hpo_disease_splitter.rs:51-150`).
  *
  * The library rides a Spark broadcast and each non-null cell is
  * classified in a UDF by `BiDictLibrary.memberOf`, i.e. by
  * `BiDict.resolve`, the rule that built the dictionary keys — so a
  * padded or upper-case cell classifies exactly as the driver would
  * resolve it, on any host locale.
  */
final case class HpoDiseaseSplitterStrategy(library: BiDictLibrary) extends Strategy {
  val name = "hpo_disease_splitter"

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(_.columnsOfKind(ContextKind.KHpoOrDisease).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] = {
    val bc = tables.head.df.sparkSession.sparkContext.broadcast(library)
    // HPO is tested first, as in the reference, so shared terms
    // classify as "hpo".
    val classOf = udf { (v: String) =>
      if (v == null) null
      else if (bc.value.memberOf("hp", v)) "hpo"
      else if (bc.value.memberOf("mondo", v)) "disease"
      else null
    }
    def cls(c: String) = classOf(col(c).cast("string"))

    MappingException.rejectAny(name,
      tables.flatMap { cdf =>
        cdf.columnsOfKind(ContextKind.KHpoOrDisease).map { c =>
          cdf.df.select(col(c).cast("string").as("v"))
            .filter(col("v").isNotNull && cls("v").isNull)
        }
      },
      "values in neither the HPO nor the disease ontology")

    tables.map { cdf =>
      val targets = cdf.bindings.filter(_._2.dataContext.kind == ContextKind.KHpoOrDisease)
      if (targets.isEmpty) cdf
      else {
        val df = targets.foldLeft(cdf.df) { case (acc, (c, _)) =>
          acc.withColumn(s"${c}_hpo", when(cls(c) === "hpo", col(c)))
            .withColumn(s"${c}_disease", when(cls(c) === "disease", col(c)))
            .drop(c)
        }
        val ctx = targets.foldLeft(cdf.context) { case (acc, (c, sc)) =>
          acc.copy(seriesContexts =
            acc.seriesContexts.filterNot(_ == sc) ++ Seq(
              sc.copy(identifier = Identifier.Single(s"${c}_hpo"),
                dataContext = Context.Hpo),
              sc.copy(identifier = Identifier.Single(s"${c}_disease"),
                dataContext = Context.Disease)))
        }
        Cdf(ctx, df)
      }
    }
  }
}

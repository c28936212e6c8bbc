package graft.strategy

import graft.model._
import org.apache.spark.sql.functions._

/** T5 — expand free-text multi-HPO columns into one Boolean column per
  * discovered HPO id (reference
  * `phenoxtract/src/transform/strategies/multi_hpo_col_expansion.rs:46-230`):
  *
  *   - cells of `MultiHpoId`-context columns are regex-scanned for
  *     `HP:\d{7}`;
  *   - per (patient, building-block) the found ids are unioned;
  *   - each discovered id becomes a Boolean column named
  *     `HP:xxxxxxx#block` (bare id when the block is None — header
  *     codec from `transform/utils.rs:58-86`), true for patients whose
  *     text mentioned it, null otherwise;
  *   - source columns are dropped; new SeriesContexts carry
  *     headerContext=Hpo, dataContext=ObservationStatus.
  *
  * Spark shape: regexp_extract_all → explode → groupBy(subject).pivot —
  * a dynamic-output-schema (generator + pivot) operator. The distinct
  * id set per block is collected to drive the pivot column list (it is
  * data-dependent schema, inherently a driver decision; the set is
  * ontology-bounded, thousands at most).
  */
object MultiHpoColExpansionStrategy extends Strategy {
  val name = "multi_hpo_col_expansion"
  private val HpoRe = "(HP:\\d{7})"

  override def isValid(tables: Seq[Cdf]): Boolean =
    tables.exists(_.columnsOfKind(ContextKind.KMultiHpoId).nonEmpty)

  protected def internalTransform(tables: Seq[Cdf]): Seq[Cdf] =
    Cdf.parMap(tables) { cdf =>
      val targets = cdf.bindings.filter(_._2.dataContext.kind == ContextKind.KMultiHpoId)
      if (targets.isEmpty) cdf
      else {
        val subject = cdf.subjectIdColumn
        // One pass per building block (blocks may differ per series).
        val byBlock: Map[Option[String], Seq[String]] =
          targets.groupBy(_._2.buildingBlockId).view.mapValues(_.map(_._1)).toMap

        var df = cdf.df
        var ctx = cdf.context
        byBlock.foreach { case (block, cols) =>
          val seqd = df.withColumn("__row", monotonically_increasing_id())
          val mentions = cols.zipWithIndex.map { case (c, ci) =>
            seqd.select(col(subject).as("__s"), col("__row"), lit(ci).as("__col"),
              posexplode(regexp_extract_all(col(c).cast("string"), lit(HpoRe), lit(1)))
                .as(Seq("__pos", "__hpo")))
          }.reduce(_ unionByName _)

          // Discovered ids keep FIRST-SEEN order — row order, then
          // source-column order, then appearance order within the cell
          // (the column ordinal breaks (row, pos) ties between two text
          // columns of the same block — without it the pivot column
          // order, hence the emitted feature order, is nondeterministic).
          // The (row, col, pos) keys are unique, so a driver-side sort
          // of the collected ids gives that order with no Spark sort job.
          val ids = mentions.groupBy(col("__hpo"))
            .agg(min(struct(col("__row"), col("__col"), col("__pos"))).as("__first"))
            .collect()
            .sortBy { r =>
              val first = r.getStruct(1)
              (first.getLong(0), first.getInt(1), first.getInt(2))
            }
            .map(_.getString(0))
          if (ids.nonEmpty) {
            val flags = mentions.select(col("__s"), col("__hpo")).groupBy(col("__s"))
              .pivot(col("__hpo"), ids.toIndexedSeq)
              .agg(first(lit(true)))
            val renamed = ids.foldLeft(flags) { (acc, id) =>
              acc.withColumnRenamed(id, headerFor(id, block))
            }
            df = df.join(renamed.withColumnRenamed("__s", subject), Seq(subject), "left")
            ids.foreach { id =>
              ctx = ctx.withSeries(SeriesContext(
                identifier = Identifier.Single(headerFor(id, block)),
                headerContext = Context.Hpo,
                dataContext = Context.ObservationStatus,
                buildingBlockId = block))
            }
          }
          // Drop the source free-text columns + their contexts.
          df = df.drop(cols: _*)
          ctx = ctx.copy(seriesContexts = ctx.seriesContexts.filterNot(sc =>
            sc.dataContext.kind == ContextKind.KMultiHpoId &&
              sc.identifier.resolve(cols).nonEmpty))
        }
        Cdf(ctx, df)
      }
    }

  /** Header codec `{hpo}#{block}` / bare id (reference `transform/utils.rs:58-86`). */
  def headerFor(hpoId: String, block: Option[String]): String =
    block.fold(hpoId)(b => s"$hpoId#$b")

  def decodeHeader(header: String): (String, Option[String]) =
    // split at the FIRST '#' only: a block id containing '#' must
    // round-trip through headerFor/decodeHeader, not silently regroup
    // the observation under a truncated block name
    header.indexOf('#') match {
      case -1 => (header, None)
      case i  => (header.substring(0, i), Some(header.substring(i + 1)))
    }
}

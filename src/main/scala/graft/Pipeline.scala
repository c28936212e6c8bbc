package graft

import graft.clean.Preprocessor
import graft.collect.{Assembler, AssemblerConfig, Facts, Phenopacket}
import graft.model.Cdf
import graft.ontology.BiDictLibrary
import graft.strategy.Strategy
import org.apache.spark.sql.Dataset

/** The Extract → Transform (preprocess → strategies → collect) → Load
  * pipeline (reference `phenoxtract/src/pipeline.rs:36-85`,
  * `transform/transform_module.rs:26-43`).
  *
  * Strategies see ALL tables at once (cross-table DOB maps). The
  * preprocess/strategy stages are column rewrites with eager checks
  * (type election, reject scans, the DOB map), and each stage's output
  * tables are materialized where the stage ends (`Preprocessor.process`
  * and `Strategy.transform` cut their lineage, see `Cdf.materialized`).
  * Facts and assembly stay lazy until the load runs the single
  * groupByKey shuffle in `collect`.
  *
  * Per-table work that starts Spark jobs runs concurrently on the
  * driver ([[Cdf.parMap]]): the tables' preprocessing here, and inside
  * each strategy its per-table checks and lineage cuts
  * ([[Strategy.transform]]). Strategies still run one after another,
  * tables keep their input order, and when several tables fail the
  * first table's error is thrown, as a serial loop would. Fact
  * extraction stays serial: it starts no job.
  */
final case class Pipeline(
    strategies: Seq[Strategy],
    library: BiDictLibrary,
    assembler: AssemblerConfig,
    hgvs: graft.ontology.HgvsResolver = graft.ontology.HgvsResolver.empty,
    resolver: Option[graft.ontology.TermResolver] = None) {

  def transform(tables: Seq[Cdf]): Dataset[Phenopacket] = {
    val preprocessed = Cdf.parMap(tables)(Preprocessor.process)
    val transformed = strategies.foldLeft(preprocessed) { (ts, strategy) =>
      if (strategy.isValid(ts)) strategy.transform(ts) else ts
    }
    val facts = Facts.extractAll(transformed)
    Assembler.assemble(facts, library, assembler, hgvs, resolver)
  }
}

package graft.config

import graft.Pipeline
import graft.collect.AssemblerConfig
import graft.extract.{CsvSource, ExcelSource}
import graft.model.ContextKind._
import graft.model.{Cdf, ContextKind}
import graft.ontology.{BiDict, BiDictLibrary, HgvsResolver, Resource}
import graft.strategy._
import org.apache.spark.sql.SparkSession

/** Entry point 3.1 — config-driven execution: parse → bind → run
  * (reference `Phenoxtract::try_from(config).run()`,
  * `phenoxtract/src/phenoxtract.rs:5-16`).
  *
  * Resource binding diverges deliberately from the reference's REST
  * clients (LOINC/BioPortal/HGNC/VariantValidator — zero-egress here,
  * and SURVEY.md §3.4 recommends pre-resolved broadcast dictionaries
  * for determinism): each resource may name a local `terms_file` CSV
  * (`id,label,synonyms` with `|`-separated synonyms) that becomes a
  * broadcast BiDict; `pipeline.hgvs_cache` names the offline HGVS
  * resolution cache (the analog of the reference's CachedHGVSClient
  * disk cache).
  */
object ConfigRunner {

  /** Every config fault (unknown strategy, resolver class that cannot
    * be built, missing loader) is raised before the first Spark job:
    * the strategies, the resolver and the loader are built before
    * [[extractAll]] reads any source.
    */
  def run(spark: SparkSession, configPath: String): Unit = {
    val cfg = ConfigLoader.load(configPath)
    val library = buildLibrary(cfg)
    val hgvs = cfg.hgvsCache.map(HgvsResolver.load).getOrElse(HgvsResolver.empty)
    val strategies = cfg.strategies.map(strategyFor(_, library))
    val resolver = buildResolver(cfg, library)
    val out = cfg.loader.getOrElse(
      throw new IllegalArgumentException("config has no file_system loader"))
    val tables = extractAll(spark, cfg)
    val pipeline = Pipeline(
      strategies = strategies,
      library = library,
      assembler = AssemblerConfig(
        cohort = cfg.metaData.cohortName,
        created = java.time.Instant.now().toString.replaceAll("\\.\\d+Z$", "Z"),
        createdBy = cfg.metaData.createdBy,
        submittedBy = cfg.metaData.submittedBy.getOrElse("")),
      hgvs = hgvs,
      resolver = resolver)
    graft.load.FileSystemLoader.load(pipeline.transform(tables), out.outputDir, out.createDir)
  }

  /** One extract per CSV source or workbook, in the config's single
    * ordered `data_sources` list (fact provenance sorts by data-source
    * registration order, `Facts.scala`, so a csvs-then-excels concat
    * would reorder packet contents for mixed-type configs relative to
    * the configured and reference order).
    *
    * The extracts run concurrently ([[Cdf.parMap]]); tables come back
    * in configured order, and when several sources fail, the error of
    * the first configured one is thrown.
    */
  def extractAll(spark: SparkSession, cfg: ConfigLoader.GraftConfig): Seq[Cdf] = {
    val csvs = cfg.csvSources.map(s => s.ordinal -> (() => Seq(CsvSource.extract(spark, s))))
    val excels = cfg.excelSources.map(e =>
      e.ordinal -> (() => ExcelSource.extract(spark, e.source, e.sheets)))
    Cdf.parMap((csvs ++ excels).sortBy(_._1))(_._2()).flatten
  }

  def buildLibrary(cfg: ConfigLoader.GraftConfig): BiDictLibrary =
    BiDictLibrary(
      cfg.metaData.resources.map { r =>
        val resource = Resource(r.id, r.name, r.url, r.version, r.namespacePrefix, r.iriPrefix)
        r.termsFile.fold(BiDict.fromEntries(resource, Seq.empty)) { path =>
          val terms = loadTerms(path)
          try BiDict.fromEntries(resource, terms) catch {
            case e: IllegalArgumentException =>
              throw new IllegalArgumentException(s"terms file $path: ${e.getMessage}", e)
          }
        }
      },
      cfg.metaData.scopes)

  /** The `pipeline.resolver` opt-in (absent = offline dictionaries,
    * the deterministic default): reflectively load the named
    * [[graft.ontology.TermResolver]] and stack it offline-first behind
    * a per-executor cache and optional rate limit — the reference's
    * cached + rate-limited client shape (bioportal_client.rs:53-99)
    * without any network code of our own.
    */
  def buildResolver(cfg: ConfigLoader.GraftConfig,
      library: BiDictLibrary): Option[graft.ontology.TermResolver] =
    cfg.resolver.map { r =>
      val custom = r.className.trim.toLowerCase match {
        case "http" => graft.ontology.HttpTermResolver(
          baseUrl = r.url.getOrElse(throw new IllegalArgumentException(
            "resolver class 'http' requires a 'url'")),
          user = r.user, password = r.password)
        case _ => graft.ontology.TermResolver.custom(r.className, library)
      }
      graft.ontology.TermResolver.wrapped(custom,
        offline = library, cacheSize = r.cacheSize, ratePerSec = r.ratePerSec)
    }

  /** `id,label,synonyms` CSV, an optional `id,…` header row first;
    * synonyms `|`-separated. Read by [[ConfigLoader.readCsv]], so a
    * quoted "Seizure, generalized" label stays one field.
    */
  def loadTerms(path: String): Seq[(String, String, Seq[String])] = {
    val rows = ConfigLoader.readCsv(path)
    val header = rows.headOption.exists(r => r.size > 1 && r(0).equalsIgnoreCase("id"))
    val body = if (header) rows.tail else rows
    body.map { parts =>
      require(parts.length >= 2, s"terms file $path: bad row '${parts.mkString(",")}'")
      (parts(0), parts(1),
        parts.lift(2).map(_.split("\\|").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty))
    }
  }

  /** Build one strategy from its config entry (reference
    * `config/strategy_config.rs` + `strategies/strategy_factory.rs`).
    * Parameter blocks are read as [[ConfigLoader.read]] reads every
    * config object: a strategy accepts only the keys it reads, and one
    * that reads none rejects any key.
    */
  def strategyFor(spec: ConfigLoader.StrategySpec, library: BiDictLibrary): Strategy = {
    val name = spec.name.trim
    def params[A](decode: ConfigLoader.Fields => A): A =
      ConfigLoader.read(spec.params.orNull, name)(decode)
    name.toLowerCase match {
      case "default_mapping" =>
        spec.params.fold("sex")(ConfigLoader.scalar(_, name)) match {
          case "sex"          => MappingStrategy.defaultSex
          case "vital_status" => MappingStrategy.defaultVitalStatus
          case other => throw new IllegalArgumentException(
            s"unknown default_mapping '$other' (expected sex | vital_status)")
        }
      case "date_to_age" => DateToAgeStrategy(params(_.bool("strict", default = true)))
      case "ontology_normaliser" if spec.params.isEmpty => OntologyNormaliserStrategy(library)
      case "ontology_normaliser" => params { p =>
        val onto = p.req("ontology")
        val kind = p.req("data_context_kind").trim.toLowerCase
        val scopedDicts =
          if (library.scopes.contains(onto)) library.scoped(onto)
          else library.dicts.filter(_.resource.id == onto)
        require(scopedDicts.nonEmpty, s"ontology_normaliser: no dictionaries for '$onto'")
        OntologyNormaliserStrategy(BiDictLibrary(scopedDicts),
          Set(ContextKind.byName.get(kind).filter(normalisable).getOrElse(
            throw new IllegalArgumentException(s"unknown context kind '$kind'"))))
      }
      case other =>
        val strategy = other match {
          case "alias_map"                    => AliasMapStrategy
          case "mapping"                      => MappingStrategy.defaultSex
          case "default_sex_mapping"          => MappingStrategy.defaultSex
          case "default_vital_status_mapping" => MappingStrategy.defaultVitalStatus
          case "age_to_iso8601"               => AgeToIso8601Strategy()
          case "date_to_age_lenient"          => DateToAgeStrategy(strict = false)
          case "multi_hpo_col_expansion"      => MultiHpoColExpansionStrategy
          case "hpo_disease_splitter"         => HpoDiseaseSplitterStrategy(library)
          case _ => throw new IllegalArgumentException(s"unknown strategy '$other'")
        }
        params(_ => ()) // none of these reads a parameter
        strategy
    }
  }

  /** The context kinds `ontology_normaliser` may target (reference
    * strum `ContextKind`).
    */
  private val normalisable: Set[ContextKind] = Set(KHpo, KDisease, KSeverity, KPrimarySite,
    KQualitativeMeasurement, KSubjectSex, KVitalStatus, KCauseOfDeath, KHpoOrDisease,
    KTreatmentAgent, KProcedure)
}

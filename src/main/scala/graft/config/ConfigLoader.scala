package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import graft.extract.{CsvSourceConfig, ExcelSheetConfig}
import graft.model._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** S7 — declarative pipeline configuration (reference
  * `phenoxtract/src/config/config_loader.rs:8-44`,
  * `CONFIG_YAML_README.md`): YAML/YML/JSON/TOML configs with
  * `${ENV_VAR}` shell expansion, decoded strictly (unknown strategy /
  * context names fail fast). TOML rides the vendored [[TomlParser]],
  * RON the vendored [[RonParser]] — every format the reference's
  * config crate accepts.
  */
object ConfigLoader {

  /** `ordinal` (here and on [[CsvSourceConfig]]) = the source's
    * position in the config's single ordered `data_sources` list. The
    * decode splits the list by type, but fact provenance sorts by
    * data-source REGISTRATION order (Facts.scala) — the reference
    * iterates the configured list in order, so a mixed csv/excel config
    * must reassemble that order, not csvs-then-excels.
    */
  final case class ExcelDataSource(source: String, sheets: Seq[ExcelSheetConfig],
      ordinal: Int = 0)

  final case class LoaderConfig(outputDir: String, createDir: Boolean)
  final case class ResourceConfig(
      id: String, name: String, url: String, version: String,
      namespacePrefix: String, iriPrefix: String, termsFile: Option[String])
  final case class MetaDataConfig(
      createdBy: String, submittedBy: Option[String], cohortName: String,
      resources: Seq[ResourceConfig],
      /** resolution class → resource ids (reference wires one dict
        * library per class in `transform_context.rs`). */
      scopes: Map[String, Seq[String]])
  /** A configured strategy: bare name, or name + parameter node
    * (reference `config/strategy_config.rs`: `ontology_normaliser:
    * {ontology:…, data_context_kind:…}`, `date_to_age: {strict:…}`).
    */
  final case class StrategySpec(name: String, params: Option[JsonNode])
  final case class GraftConfig(
      csvSources: Seq[CsvSourceConfig],
      excelSources: Seq[ExcelDataSource],
      strategies: Seq[StrategySpec],
      loader: Option[LoaderConfig],
      metaData: MetaDataConfig,
      hgvsCache: Option[String],
      resolver: Option[ResolverConfig] = None)

  /** `pipeline.resolver` block — the config gate for a live term
    * resolver (default absent = offline dictionaries only):
    * `class` names a [[graft.ontology.TermResolver]] implementation,
    * or the literal `http` for the built-in
    * [[graft.ontology.HttpTermResolver]] (then `url` is required and
    * `user` / `password` add basic auth — source secrets via `${ENV}`
    * expansion, the reference reads LOINC credentials from the
    * environment too); `cache_size` / `rate_limit_per_sec` size its
    * per-executor cache and token bucket.
    */
  final case class ResolverConfig(
      className: String,
      cacheSize: Int = 100000,
      ratePerSec: Option[Double] = None,
      url: Option[String] = None,
      user: Option[String] = None,
      password: Option[String] = None)

  def load(path: String): GraftConfig = {
    val raw = Files.readString(Paths.get(path))
    val expanded = expandEnv(raw)
    val tree =
      if (path.endsWith(".yaml") || path.endsWith(".yml"))
        new ObjectMapper(new YAMLFactory()).readTree(expanded)
      else if (path.endsWith(".toml")) TomlParser.parse(expanded)
      else if (path.endsWith(".ron")) RonParser.parse(expanded)
      else new ObjectMapper().readTree(expanded)
    decode(tree, Paths.get(path).getParent)
  }

  /** `${VAR}` expansion (reference config_loader shell expansion);
    * unset variables error.
    */
  def expandEnv(raw: String): String =
    "\\$\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r.replaceAllIn(raw, m =>
      scala.util.matching.Regex.quoteReplacement(
        sys.env.getOrElse(m.group(1),
          throw new IllegalArgumentException(s"config references unset env var ${m.group(1)}"))))

  // ------------------------------------------------------------------

  private def decode(root: JsonNode, baseDir: java.nio.file.Path): GraftConfig = {
    val sources = arr(root, "data_sources")
    // Every source must declare its type — a missing/typo'd 'type'
    // would otherwise silently drop the whole table from the pipeline.
    sources.foreach(s => req(s, "type"))
    val indexed = sources.zipWithIndex
    val csvs = indexed.filter { case (s, _) => text(s, "type").contains("csv") }
      .map { case (s, i) =>
        CsvSourceConfig(
          source = req(s, "source"),
          separator = text(s, "separator").getOrElse(","),
          hasHeaders = bool(s, "has_headers", default = true),
          patientsAreRows = bool(s, "patients_are_rows", default = true),
          tableContext = TableContext(
            name = text(s, "name").getOrElse(req(s, "source")),
            seriesContexts = arr(s, "series_contexts").map(seriesContext(_, baseDir))),
          ordinal = i)
      }
    val excels = indexed.filter { case (s, _) => text(s, "type").contains("excel") }
      .map { case (s, i) =>
        ExcelDataSource(
          source = req(s, "source"),
          sheets = arr(s, "sheets").map { sh =>
            ExcelSheetConfig(
              sheetName = req(sh, "sheet_name"),
              hasHeaders = bool(sh, "has_headers", default = true),
              patientsAreRows = bool(sh, "patients_are_rows", default = true),
              tableContext = TableContext(
                name = req(sh, "sheet_name"),
                seriesContexts = arr(sh, "series_contexts").map(seriesContext(_, baseDir))))
          },
          ordinal = i)
      }
    val unknownTypes = sources.flatMap(s => text(s, "type")).filterNot(Set("csv", "excel"))
    require(unknownTypes.isEmpty, s"unknown data source type(s): ${unknownTypes.mkString(", ")}")

    val pipeline = Option(root.get("pipeline")).getOrElse(
      throw new IllegalArgumentException("config missing 'pipeline'"))
    val md = Option(pipeline.get("meta_data"))

    // Resource lists are grouped by resolution class (reference
    // transform_context wiring); field name → scope tag.
    val scopeFields = Seq(
      "hpo_resource" -> "hpo",
      "disease_resources" -> "disease",
      "assay_resources" -> "assay",
      "unit_resources" -> "unit",
      "qualitative_measurement_resources" -> "qual",
      "gene_resources" -> "gene",
      "allelic_resources" -> "allelic",
      "anatomy_resources" -> "anatomy",
      "drug_resources" -> "drug",
      "treatment_resources" -> "treatment",
      "procedure_resources" -> "procedure")
    val byScope: Seq[(String, Seq[ResourceConfig])] =
      md.toSeq.flatMap { m =>
        scopeFields.map { case (field, scope) =>
          scope -> Option(m.get(field)).toSeq.flatMap {
            case n if n.isArray => n.elements().asScala.toSeq.map(resource)
            case n              => Seq(resource(n))
          }
        }
      }
    val resources = byScope.flatMap(_._2).distinctBy(_.id)
    val scopes = byScope.collect {
      case (scope, rs) if rs.nonEmpty => scope -> rs.map(_.id)
    }.toMap

    val strategies = Option(pipeline.get("strategies")).toSeq
      .flatMap(_.elements().asScala).map { n =>
        if (n.isTextual) StrategySpec(n.asText(), None)
        else {
          val fields = n.properties().asScala.toSeq
          require(fields.size == 1, s"parameterized strategy must have one key, got $n")
          StrategySpec(fields.head.getKey, Some(fields.head.getValue))
        }
      }

    GraftConfig(
      csvSources = csvs,
      excelSources = excels,
      strategies = strategies,
      loader = Option(pipeline.get("loader")).flatMap(l => Option(l.get("file_system"))).map(fs =>
        LoaderConfig(req(fs, "output_dir"), bool(fs, "create_dir", default = false))),
      metaData = MetaDataConfig(
        createdBy = md.flatMap(m => text(m, "created_by")).getOrElse("graft"),
        submittedBy = md.flatMap(m => text(m, "submitted_by")),
        cohortName = md.flatMap(m => text(m, "cohort_name")).getOrElse("cohort"),
        resources = resources,
        scopes = scopes),
      hgvsCache = text(pipeline, "hgvs_cache").map(resolvePath(baseDir, _)),
      resolver = Option(pipeline.get("resolver")).map { r =>
        ResolverConfig(
          className = req(r, "class"),
          cacheSize = positive(r, "cache_size", integral = true).fold(100000)(_.toInt),
          ratePerSec = positive(r, "rate_limit_per_sec", integral = false).map(_.toDouble),
          // text(), not raw asText(): an explicit null would otherwise
          // become the literal string "null" and reach the HTTP layer
          // as a URL/credential instead of failing the required-field
          // validation.
          url = text(r, "url"),
          user = text(r, "user"),
          password = text(r, "password"))
      })
  }

  private def resource(n: JsonNode): ResourceConfig = ResourceConfig(
    id = req(n, "id"),
    name = text(n, "name").getOrElse(req(n, "id")),
    url = text(n, "url").getOrElse(""),
    version = text(n, "version").getOrElse("unknown"),
    namespacePrefix = text(n, "namespace_prefix").getOrElse(req(n, "id").toUpperCase),
    iriPrefix = text(n, "iri_prefix").getOrElse(""),
    termsFile = text(n, "terms_file"))

  private def seriesContext(n: JsonNode, baseDir: java.nio.file.Path): SeriesContext =
    SeriesContext(
      identifier = identifier(n.get("identifier")),
      headerContext = Option(n.get("header_context")).map(context).getOrElse(Context.NoContext),
      dataContext = Option(n.get("data_context")).map(context).getOrElse(Context.NoContext),
      fillMissing = text(n, "fill_missing"),
      aliasMap = Option(n.get("alias_map")).map(aliasMap(_, baseDir)),
      buildingBlockId = text(n, "building_block_id"))

  private def identifier(n: JsonNode): Identifier = {
    require(n != null, "series context missing 'identifier'")
    if (n.isArray) Identifier.Multi(n.elements().asScala.map(_.asText()).toSeq)
    else if (n.isObject) {
      val rx = text(n, "regex").getOrElse(
        throw new IllegalArgumentException(s"object identifier must be {regex: …}, got $n"))
      Identifier.regex(rx)
    } else Identifier.Single(n.asText())
  }

  /** Context decode: bare snake_case name, or single-key object for
    * parameterized contexts (`onset: age`,
    * `quantitative_measurement: {assay_id:…, unit_ontology_id:…}`).
    */
  def context(n: JsonNode): Context = {
    if (n.isTextual) contextByName(n.asText(), None)
    else {
      val fields = n.fields().asScala.toSeq
      require(fields.size == 1, s"parameterized context must have one key, got $n")
      val (name, v) = (fields.head.getKey, fields.head.getValue)
      contextByName(name, Some(v))
    }
  }

  private def contextByName(name: String, param: Option[JsonNode]): Context = {
    import Context._
    def timeKind: TimeKind = TimeKind.parse(param.map(_.asText()).getOrElse("age"))
    name.trim.toLowerCase match {
      case "subject_id"             => SubjectId
      case "subject_sex"            => SubjectSex
      case "date_of_birth"          => DateOfBirth
      case "vital_status"           => VitalStatus
      case "time_at_last_encounter" => TimeAtLastEncounter(timeKind)
      case "time_of_death"          => TimeOfDeath(timeKind)
      case "cause_of_death"         => CauseOfDeath
      case "survival_time_days"     => SurvivalTimeDays
      case "hpo"                    => Hpo
      case "disease"                => Disease
      case "multi_hpo_id"           => MultiHpoId
      case "onset"                  => Onset(timeKind)
      case "hpo_or_disease"         => HpoOrDisease
      case "time_of_resolution"     => TimeOfResolution(timeKind)
      case "severity"               => Severity
      case "observation_status"     => ObservationStatus
      case "primary_site"           => PrimarySite
      case "hgvs"                   => Hgvs
      case "hgnc"                   => Hgnc
      case "quantitative_measurement" =>
        val p = param.getOrElse(throw new IllegalArgumentException(
          "quantitative_measurement needs {assay_id, unit_ontology_id}"))
        QuantitativeMeasurement(req(p, "assay_id"), req(p, "unit_ontology_id"))
      case "qualitative_measurement" =>
        val p = param.getOrElse(throw new IllegalArgumentException(
          "qualitative_measurement needs {assay_id}"))
        QualitativeMeasurement(req(p, "assay_id"))
      case "time_of_measurement"    => TimeOfMeasurement(timeKind)
      case "reference_range_start"  => ReferenceRangeStart
      case "reference_range_end"    => ReferenceRangeEnd
      case "treatment_agent"        => TreatmentAgent
      case "route_of_administration" => RouteOfAdministration
      case "drug_type"              => DrugType
      case "treatment_target"       => TreatmentTarget
      case "treatment_intent"       => TreatmentIntent
      case "response_to_treatment"  => ResponseToTreatment
      case "treatment_termination_reason" => TreatmentTerminationReason
      case "procedure"              => Procedure
      case "procedure_body_site"    => ProcedureBodySite
      case "time_of_procedure"      => TimeOfProcedure(timeKind)
      case "quantity_value"         => QuantityValue
      case "quantity_unit"          => QuantityUnit
      case "none"                   => NoContext
      case other => throw new IllegalArgumentException(s"unknown context '$other'")
    }
  }

  /** Context KIND by config name (reference strum `ContextKind` —
    * discriminant-only contexts for strategy targeting).
    */
  def contextKind(name: String): ContextKind = {
    import ContextKind._
    name.trim.toLowerCase match {
      case "hpo"                     => KHpo
      case "disease"                 => KDisease
      case "severity"                => KSeverity
      case "primary_site"            => KPrimarySite
      case "qualitative_measurement" => KQualitativeMeasurement
      case "subject_sex"             => KSubjectSex
      case "vital_status"            => KVitalStatus
      case "cause_of_death"          => KCauseOfDeath
      case "hpo_or_disease"          => KHpoOrDisease
      case "treatment_agent"         => KTreatmentAgent
      case "procedure"               => KProcedure
      case other => throw new IllegalArgumentException(s"unknown context kind '$other'")
    }
  }

  /** Alias map: inline mappings or S8 CSV form
    * ({path, key_column_name, alias_column_name}).
    */
  private def aliasMap(n: JsonNode, baseDir: java.nio.file.Path): AliasMap = {
    val outputType = text(n, "output_data_type").map(_.toLowerCase) match {
      case Some("boolean")  => OutputDataType.Bool
      case Some("string") | None => OutputDataType.Str
      case Some("float64")  => OutputDataType.F64
      case Some("int64")    => OutputDataType.I64
      case Some("date")     => OutputDataType.Date
      case Some("datetime") => OutputDataType.Datetime
      case Some(other) => throw new IllegalArgumentException(s"unknown output_data_type '$other'")
    }
    val m = n.get("mappings")
    require(m != null, "alias_map missing 'mappings'")
    val entries: Map[String, Option[String]] =
      if (m.has("path")) loadAliasCsv(
        resolvePath(baseDir, req(m, "path")),
        req(m, "key_column_name"), req(m, "alias_column_name"))
      else m.fields().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
      }.toMap
    AliasMap(entries, outputType).normalized
  }

  /** S8 — key→alias map from a two-column CSV (reference
    * `config/try_from_config.rs:276-314`). Driver-side: alias maps are
    * config-sized.
    */
  def loadAliasCsv(path: String, keyCol: String, aliasCol: String): Map[String, Option[String]] = {
    val rows = readCsv(path)
    require(rows.nonEmpty, s"alias csv $path is empty")
    val header = rows.head
    val ki = header.indexOf(keyCol)
    val ai = header.indexOf(aliasCol)
    require(ki >= 0 && ai >= 0,
      s"alias csv $path needs columns '$keyCol' and '$aliasCol', has ${header.mkString(", ")}")
    rows.tail.zipWithIndex.map { case (parts, i) =>
      val key = parts.lift(ki).getOrElse(throw new IllegalArgumentException(
        s"alias csv $path row ${i + 2}: only ${parts.size} field(s), " +
          s"key column '$keyCol' is at index ${ki + 1}"))
      key -> parts.lift(ai).filter(_.nonEmpty)
    }.toMap
  }

  /** The rows of a side CSV (alias map, terms file), read by the
    * univocity parser Spark ships: double quotes protect commas, line
    * breaks and doubled quotes, so a quoted "Smith, John" key stays one
    * field. Every field is trimmed, an empty one is "", blank rows are
    * skipped, and `#` is data, not a comment.
    */
  private[config] def readCsv(path: String): Seq[IndexedSeq[String]] = {
    val settings = new CsvParserSettings
    settings.setMaxCharsPerColumn(-1) // a long synonym list is one field
    settings.setLineSeparatorDetectionEnabled(true)
    settings.setNullValue("")
    settings.setEmptyValue("")
    settings.getFormat.setComment('\u0000')
    new CsvParser(settings).parseAll(new java.io.File(path), "UTF-8").asScala.toSeq
      .map(_.toIndexedSeq.map(_.trim))
  }

  private def resolvePath(base: java.nio.file.Path, p: String): String = {
    val path = Paths.get(p)
    if (path.isAbsolute || base == null) p else base.resolve(p).toString
  }

  // --- tiny node helpers ---------------------------------------------
  private def arr(n: JsonNode, field: String): Seq[JsonNode] =
    Option(n.get(field)).toSeq.flatMap(_.elements().asScala)
  private def text(n: JsonNode, field: String): Option[String] =
    Option(n.get(field)).filterNot(_.isNull).map(_.asText())
  private def req(n: JsonNode, field: String): String =
    text(n, field).getOrElse(
      throw new IllegalArgumentException(s"config missing required field '$field'"))
  /** A boolean config field: a boolean, "true"/"false" in any case, or
    * 0/1. An EXPLICITLY null value ("has_headers:" with nothing after
    * it) keeps the declared default, like text(). Anything else fails
    * naming the field: Jackson's asBoolean() reads every other value —
    * a `ture` typo included — as false, which would silently ingest a
    * header row as data or transpose a table.
    */
  private[config] def bool(n: JsonNode, field: String, default: Boolean): Boolean =
    Option(n.get(field)).filterNot(_.isNull).fold(default) { v =>
      if (v.isBoolean) v.booleanValue()
      else if (v.isTextual && v.textValue.equalsIgnoreCase("true")) true
      else if (v.isTextual && v.textValue.equalsIgnoreCase("false")) false
      else if (v.isIntegralNumber && v.canConvertToInt && (v.intValue == 0 || v.intValue == 1))
        v.intValue == 1
      else throw new IllegalArgumentException(
        s"config field '$field' must be true or false, got '${v.asText}'")
    }

  /** A positive number config field (an integer when `integral`): a
    * number or numeric text. An explicitly null value keeps the
    * declared default, like text(). Anything else fails naming the
    * field: Jackson's asInt(default) reads `big` as the default and
    * truncates 1.5, and asDouble() reads `fast` as 0.0.
    */
  private[config] def positive(n: JsonNode, field: String, integral: Boolean): Option[BigDecimal] =
    Option(n.get(field)).filterNot(_.isNull).map { v =>
      val number = if (v.isNumber || v.isTextual) Try(BigDecimal(v.asText.trim)).toOption else None
      number.filter(x => x > 0 && (!integral || x.isValidInt)).getOrElse(
        throw new IllegalArgumentException(s"config field '$field' must be a positive " +
          s"${if (integral) "integer" else "number"}, got '${v.asText}'"))
    }
}

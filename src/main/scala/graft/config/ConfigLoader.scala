package graft.config

import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings}
import graft.extract.{CsvSourceConfig, ExcelSheetConfig}
import graft.model._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** S7 — declarative pipeline configuration (reference
  * `phenoxtract/src/config/config_loader.rs:8-44`,
  * `CONFIG_YAML_README.md`): YAML/YML/JSON/TOML configs with
  * `${ENV_VAR}` shell expansion. TOML rides the vendored [[TomlParser]],
  * RON the vendored [[RonParser]] — every format the reference's
  * config crate accepts.
  *
  * Every format reaches the decoder as one Jackson tree, and every
  * object in it is decoded through [[read]], as the reference decodes
  * with serde's `deny_unknown_fields`: an unknown, misspelled or
  * repeated key, a missing required key, a list or object where
  * another shape belongs, and an unknown strategy or context name all
  * fail naming the key and its path (`data_sources[2].series_contexts[1]`).
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
    val expanded = expandEnv(Files.readString(Paths.get(path)))
    // a repeated key fails, as in TOML and RON, where Jackson would
    // keep the last one
    def jackson(factory: JsonFactory) = new ObjectMapper(factory)
      .enable(DeserializationFeature.FAIL_ON_READING_DUP_TREE_KEY).readTree(expanded)
    val tree =
      if (path.endsWith(".yaml") || path.endsWith(".yml")) jackson(new YAMLFactory())
      else if (path.endsWith(".toml")) TomlParser.parse(expanded)
      else if (path.endsWith(".ron")) RonParser.parse(expanded)
      else jackson(new JsonFactory())
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

  private def decode(root: JsonNode, baseDir: Path): GraftConfig = read(root, "") { f =>
    val sources = f.arr("data_sources").zipWithIndex.map { case ((n, path), i) =>
      read(n, path)(source(_, i, baseDir))
    }
    f.obj("pipeline") { p =>
      GraftConfig(
        csvSources = sources.collect { case Left(csv) => csv },
        excelSources = sources.collect { case Right(excel) => excel },
        strategies = p.arr("strategies").map { case (n, path) =>
          val (name, param) = single(n, path)
          StrategySpec(name, param.map(_._1))
        },
        loader = p.obj("loader")(_.obj("file_system")(fs =>
          LoaderConfig(fs.req("output_dir"), fs.bool("create_dir", default = false)))).flatten,
        metaData = p.obj("meta_data")(metaData).getOrElse(read(null, "")(metaData)),
        hgvsCache = p.text("hgvs_cache").map(resolvePath(baseDir, _)),
        resolver = p.obj("resolver") { r =>
          ResolverConfig(
            className = r.req("class"),
            cacheSize = r.positive("cache_size", integral = true).fold(100000)(_.toInt),
            ratePerSec = r.positive("rate_limit_per_sec", integral = false).map(_.toDouble),
            url = r.text("url"),
            user = r.text("user"),
            password = r.text("password"))
        })
    }.getOrElse(f.missing("pipeline"))
  }

  /** One `data_sources` entry; `ordinal` is its place in that list. */
  private def source(s: Fields, ordinal: Int,
      baseDir: Path): Either[CsvSourceConfig, ExcelDataSource] =
    s.req("type") match {
      case "csv" =>
        Left(CsvSourceConfig(
          source = s.req("source"),
          separator = s.text("separator").getOrElse(","),
          hasHeaders = s.bool("has_headers", default = true),
          patientsAreRows = s.bool("patients_are_rows", default = true),
          tableContext = TableContext(
            name = s.text("name").getOrElse(s.req("source")),
            seriesContexts = s.objs("series_contexts")(seriesContext(_, baseDir))),
          ordinal = ordinal))
      case "excel" =>
        Right(ExcelDataSource(
          source = s.req("source"),
          sheets = s.objs("sheets") { sh =>
            ExcelSheetConfig(
              sheetName = sh.req("sheet_name"),
              hasHeaders = sh.bool("has_headers", default = true),
              patientsAreRows = sh.bool("patients_are_rows", default = true),
              tableContext = TableContext(
                name = sh.req("sheet_name"),
                seriesContexts = sh.objs("series_contexts")(seriesContext(_, baseDir))))
          },
          ordinal = ordinal))
      case other => s.invalid("type", s"must be csv or excel, got '$other'")
    }

  /** `meta_data`'s resource fields (an object or a list of them) by the
    * resolution class each feeds (reference transform_context wiring).
    */
  private val scopeFields = Seq(
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

  private def metaData(m: Fields): MetaDataConfig = {
    val byScope = scopeFields.map { case (field, scope) =>
      scope -> m.value(field) { (n, path) =>
        if (n.isArray) elements(n, path).map { case (e, p) => read(e, p)(resource) }
        else Seq(read(n, path)(resource))
      }.getOrElse(Seq.empty)
    }
    MetaDataConfig(
      createdBy = m.text("created_by").getOrElse("graft"),
      submittedBy = m.text("submitted_by"),
      cohortName = m.text("cohort_name").getOrElse("cohort"),
      resources = byScope.flatMap(_._2).distinctBy(_.id),
      scopes = byScope.collect { case (scope, rs) if rs.nonEmpty => scope -> rs.map(_.id) }.toMap)
  }

  private def resource(r: Fields): ResourceConfig = {
    val id = r.req("id")
    ResourceConfig(
      id = id,
      name = r.text("name").getOrElse(id),
      url = r.text("url").getOrElse(""),
      version = r.text("version").getOrElse("unknown"),
      namespacePrefix = r.text("namespace_prefix").getOrElse(id.toUpperCase),
      iriPrefix = r.text("iri_prefix").getOrElse(""),
      termsFile = r.text("terms_file"))
  }

  private def seriesContext(f: Fields, baseDir: Path): SeriesContext =
    SeriesContext(
      identifier = f.value("identifier")(identifier).getOrElse(f.missing("identifier")),
      headerContext = f.value("header_context")(context).getOrElse(Context.NoContext),
      dataContext = f.value("data_context")(context).getOrElse(Context.NoContext),
      fillMissing = f.text("fill_missing"),
      aliasMap = f.obj("alias_map")(aliasMap(_, baseDir)),
      buildingBlockId = f.text("building_block_id"))

  /** A column name, a list of names, or `{regex: …}`. */
  private def identifier(n: JsonNode, path: String): Identifier =
    if (n.isArray) Identifier.Multi(elements(n, path).map { case (e, p) => scalar(e, p) })
    else if (n.isObject) read(n, path)(f => Identifier.regex(f.req("regex")))
    else Identifier.Single(scalar(n, path))

  /** Context decode: a bare snake_case name, or a one-key object for
    * the eight parameterized contexts (`onset: age`,
    * `quantitative_measurement: {assay_id:…, unit_ontology_id:…}`).
    */
  private[config] def context(n: JsonNode, path: String): Context = {
    import Context._
    import ContextKind._
    val (name, param) = single(n, path)
    def time: TimeKind = TimeKind.parse(param.fold("age") { case (v, p) => scalar(v, p) })
    def params[A](decode: Fields => A): A = read(param.map(_._1).orNull, param.fold(path)(_._2))(decode)
    ContextKind.byName.get(name.trim.toLowerCase) match {
      case Some(KTimeAtLastEncounter) => TimeAtLastEncounter(time)
      case Some(KTimeOfDeath)         => TimeOfDeath(time)
      case Some(KOnset)               => Onset(time)
      case Some(KTimeOfResolution)    => TimeOfResolution(time)
      case Some(KTimeOfMeasurement)   => TimeOfMeasurement(time)
      case Some(KTimeOfProcedure)     => TimeOfProcedure(time)
      case Some(KQuantitativeMeasurement) =>
        params(p => QuantitativeMeasurement(p.req("assay_id"), p.req("unit_ontology_id")))
      case Some(KQualitativeMeasurement) => params(p => QualitativeMeasurement(p.req("assay_id")))
      case Some(kind) if param.isEmpty => plain(kind)
      case Some(_) => fail(s"context '$name' in ${where(path)} takes no parameter")
      case None => fail(s"unknown context '${name.trim.toLowerCase}' in ${where(path)}")
    }
  }

  /** Alias map: inline `mappings` (any keys, each value a string or
    * null) or the S8 CSV form ({path, key_column_name, alias_column_name}).
    */
  private def aliasMap(f: Fields, baseDir: Path): AliasMap = {
    val outputType = f.text("output_data_type").map(_.toLowerCase) match {
      case Some("boolean")  => OutputDataType.Bool
      case Some("string") | None => OutputDataType.Str
      case Some("float64")  => OutputDataType.F64
      case Some("int64")    => OutputDataType.I64
      case Some("date")     => OutputDataType.Date
      case Some("datetime") => OutputDataType.Datetime
      case Some(other) => f.invalid("output_data_type", s"names no known type: '$other'")
    }
    val entries = f.obj("mappings") { m =>
      if (m.keys.contains("path")) loadAliasCsv(resolvePath(baseDir, m.req("path")),
        m.req("key_column_name"), m.req("alias_column_name"))
      else m.keys.map(k => k -> m.text(k)).toMap
    }.getOrElse(f.missing("mappings"))
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
    rows.tail.zipWithIndex.foldLeft(Map.empty[String, Option[String]]) { case (m, (parts, i)) =>
      val key = parts.lift(ki).getOrElse(fail(s"alias csv $path row ${i + 2}: only " +
        s"${parts.size} field(s), key column '$keyCol' is at index ${ki + 1}"))
      val alias = parts.lift(ai).filter(_.nonEmpty)
      // an exact repeat is harmless; a second alias would silently win
      if (m.get(key).exists(_ != alias))
        fail(s"alias csv $path row ${i + 2}: key '$key' is aliased twice, to different values")
      m + (key -> alias)
    }
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

  private def resolvePath(base: Path, p: String): String = {
    val path = Paths.get(p)
    if (path.isAbsolute || base == null) p else base.resolve(p).toString
  }

  // --- the reader ---------------------------------------------------

  private def fail(message: String): Nothing = throw new IllegalArgumentException(message)
  private def where(path: String): String = if (path.isEmpty) "the config" else s"'$path'"

  /** Decodes the object `n` at `path` (`data_sources[2].series_contexts[1]`,
    * "" for the root), then fails naming the first key `decode` did not
    * read: an unknown or misspelled key is an error, as under the
    * reference's serde `deny_unknown_fields`. A null `n` reads as an
    * empty object; any other non-object fails.
    */
  private[config] def read[A](n: JsonNode, path: String)(decode: Fields => A): A = {
    val node = if (n == null || n.isNull) JsonNodeFactory.instance.objectNode() else n
    if (!node.isObject) fail(s"${where(path)} must be an object, got $n")
    val fields = new Fields(node, path)
    val decoded = decode(fields)
    fields.keys.find(!fields.seen(_)).foreach(k => fail(s"unknown key '$k' in ${where(path)}"))
    decoded
  }

  /** One config object's keys. Each accessor reads one key and records
    * it for [[read]]; an absent key and an explicitly null one
    * (`has_headers:` with nothing after it) both read as absent, so
    * they keep the declared default.
    */
  private[config] final class Fields(node: JsonNode, path: String) {
    private[ConfigLoader] val seen = scala.collection.mutable.Set.empty[String]
    def keys: Seq[String] = node.fieldNames.asScala.toSeq

    /** The key's value decoded with its path, unless absent or null. */
    def value[A](key: String)(decode: (JsonNode, String) => A): Option[A] = {
      seen += key
      Option(node.get(key)).filterNot(_.isNull)
        .map(decode(_, if (path.isEmpty) key else s"$path.$key"))
    }
    def text(key: String): Option[String] = value(key)(scalar)
    def req(key: String): String = text(key).getOrElse(missing(key))
    def obj[A](key: String)(decode: Fields => A): Option[A] = value(key)(read(_, _)(decode))
    /** A list's elements, each with its path; absent is empty. */
    def arr(key: String): Seq[(JsonNode, String)] = value(key)(elements).getOrElse(Seq.empty)
    def objs[A](key: String)(decode: Fields => A): Seq[A] =
      arr(key).map { case (n, p) => read(n, p)(decode) }

    def missing(key: String): Nothing = fail(s"missing key '$key' in ${where(path)}")
    def invalid(key: String, problem: String): Nothing =
      fail(s"key '$key' in ${where(path)} $problem")

    /** A boolean: a boolean, "true"/"false" in any case, or 0/1.
      * Anything else fails naming the key: Jackson's asBoolean() reads
      * every other value — a `ture` typo included — as false, which
      * would silently ingest a header row as data or transpose a table.
      */
    def bool(key: String, default: Boolean): Boolean = value(key) { (v, _) =>
      if (v.isBoolean) v.booleanValue()
      else if (v.isTextual && v.textValue.equalsIgnoreCase("true")) true
      else if (v.isTextual && v.textValue.equalsIgnoreCase("false")) false
      else if (v.isIntegralNumber && v.canConvertToInt && (v.intValue == 0 || v.intValue == 1))
        v.intValue == 1
      else invalid(key, s"must be true or false, got '${v.asText}'")
    }.getOrElse(default)

    /** A positive number (an integer when `integral`): a number or
      * numeric text. Anything else fails naming the key: Jackson's
      * asInt(default) reads `big` as the default and truncates 1.5, and
      * asDouble() reads `fast` as 0.0.
      */
    def positive(key: String, integral: Boolean): Option[BigDecimal] = value(key) { (v, _) =>
      val number = if (v.isNumber || v.isTextual) Try(BigDecimal(v.asText.trim)).toOption else None
      number.filter(x => x > 0 && (!integral || x.isValidInt)).getOrElse(invalid(key,
        s"must be a positive ${if (integral) "integer" else "number"}, got '${v.asText}'"))
    }
  }

  /** A scalar's text; a list or object fails where Jackson's asText()
    * would read it as "".
    */
  private[config] def scalar(n: JsonNode, path: String): String =
    if (n.isContainerNode) fail(s"${where(path)} must be a string, got $n") else n.asText

  private def elements(n: JsonNode, path: String): Seq[(JsonNode, String)] =
    if (n.isArray) n.elements.asScala.zipWithIndex.map { case (e, i) => e -> s"$path[$i]" }.toSeq
    else fail(s"${where(path)} must be a list, got $n")

  /** A bare name, or an object with one key naming and parameterizing
    * it (`onset: age`, `date_to_age: {strict: false}`): the name, and
    * the parameter with its path unless absent or null.
    */
  private def single(n: JsonNode, path: String): (String, Option[(JsonNode, String)]) =
    if (n.isTextual) (n.textValue, None)
    else if (n.isObject && n.size == 1) {
      val e = n.properties.iterator.next()
      (e.getKey, Option(e.getValue).filterNot(_.isNull).map(_ -> s"$path.${e.getKey}"))
    } else fail(s"${where(path)} must be a name or an object with one key, got $n")
}

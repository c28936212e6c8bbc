package graft.config

import graft.SparkSpec
import graft.model._

import java.nio.file.Files

/** Config decode + env expansion + config-driven end-to-end run. */
class ConfigSpec extends SparkSpec {

  private def write(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("yaml decode: sources, contexts, alias maps, strategies, metadata") {
    val dir = Files.createTempDirectory("graftcfg")
    write(dir, "aliases.csv", "KEYS,ALIASES\nM,MALE\nF,FEMALE\nNo data,\n")
    write(dir, "hp_terms.csv", "id,label,synonyms\nHP:0001945,Fever,febrile|pyrexia\n")
    write(dir, "data.csv", "Patient ID,Sex,Phenotypes,Onset\nP001,M,Fever,12\n")
    val cfgPath = write(dir, "config.yaml",
      s"""data_sources:
         |  - type: "csv"
         |    source: "${dir.resolve("data.csv")}"
         |    has_headers: true
         |    patients_are_rows: true
         |    series_contexts:
         |      - identifier: "Patient ID"
         |        data_context: subject_id
         |      - identifier: "Sex"
         |        data_context: subject_sex
         |        alias_map:
         |          output_data_type: String
         |          mappings:
         |            path: "aliases.csv"
         |            key_column_name: "KEYS"
         |            alias_column_name: "ALIASES"
         |      - identifier: "Phenotypes"
         |        data_context: hpo
         |        building_block_id: "P"
         |      - identifier: "Onset"
         |        data_context:
         |          onset: age
         |        building_block_id: "P"
         |pipeline:
         |  strategies:
         |    - "alias_map"
         |    - "age_to_iso8601"
         |    - "ontology_normaliser"
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |      create_dir: true
         |  meta_data:
         |    created_by: "$${GRAFT_TEST_USER}"
         |    cohort_name: "c1"
         |    hpo_resource:
         |      id: "hp"
         |      version: "2024-01-01"
         |      namespace_prefix: "HP"
         |      terms_file: "${dir.resolve("hp_terms.csv")}"
         |""".stripMargin)

    // env expansion: ${GRAFT_TEST_USER} is not set → error
    intercept[IllegalArgumentException] { ConfigLoader.load(cfgPath) }

    // with the var provided via expandEnv on a patched string
    val raw = Files.readString(java.nio.file.Paths.get(cfgPath))
      .replace("${GRAFT_TEST_USER}", "tester")
    val patched = write(dir, "config2.yaml", raw)
    val cfg = ConfigLoader.load(patched)

    assert(cfg.csvSources.size == 1)
    val sc = cfg.csvSources.head.tableContext.seriesContexts
    assert(sc(0).dataContext == Context.SubjectId)
    assert(sc(1).aliasMap.get.entries == Map(
      "M" -> Some("MALE"), "F" -> Some("FEMALE"), "No data" -> None))
    assert(sc(3).dataContext == Context.Onset(TimeKind.Age))
    assert(cfg.strategies.map(_.name) ==
      Seq("alias_map", "age_to_iso8601", "ontology_normaliser"))
    assert(cfg.metaData.createdBy == "tester")
    assert(cfg.metaData.resources.head.id == "hp")

    // full config-driven run → packet on disk
    ConfigRunner.run(spark, patched)
    val out = dir.resolve("out").toFile.list().toSeq
    assert(out == Seq("c1-P001.json"))
    val json = Files.readString(dir.resolve("out/c1-P001.json"))
    assert(json.contains("\"sex\": \"MALE\""))
    assert(json.contains("HP:0001945"))
    assert(json.contains("\"iso8601duration\": \"P12Y\""))
    assert(json.contains("\"createdBy\": \"tester\""))
  }

  test("TOML decode round-trips the same config as YAML (reference config_loader.rs:8-44)") {
    val dir = Files.createTempDirectory("grafttoml")
    write(dir, "hp_terms.csv", "id,label,synonyms\nHP:0001945,Fever,febrile|pyrexia\n")
    write(dir, "data.csv", "Patient ID,Sex,Phenotypes,Onset\nP001,M,Fever,12\n")
    val yamlPath = write(dir, "config.yaml",
      s"""data_sources:
         |  - type: csv
         |    source: "${dir.resolve("data.csv")}"
         |    series_contexts:
         |      - identifier: "Patient ID"
         |        data_context: subject_id
         |      - identifier: "Sex"
         |        data_context: subject_sex
         |        alias_map:
         |          output_data_type: string
         |          mappings:
         |            M: MALE
         |            F: FEMALE
         |      - identifier: "Onset"
         |        data_context:
         |          onset: age
         |        building_block_id: "P"
         |pipeline:
         |  strategies: ["alias_map", "age_to_iso8601"]
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |      create_dir: true
         |  meta_data:
         |    created_by: "tester"
         |    cohort_name: "c1"
         |    hpo_resource:
         |      id: "hp"
         |      version: "2024-01-01"
         |      namespace_prefix: "HP"
         |      terms_file: "${dir.resolve("hp_terms.csv")}"
         |""".stripMargin)
    val tomlPath = write(dir, "config.toml",
      s"""[[data_sources]]
         |type = "csv"
         |source = "${dir.resolve("data.csv")}"
         |
         |[[data_sources.series_contexts]]
         |identifier = "Patient ID"
         |data_context = "subject_id"
         |
         |[[data_sources.series_contexts]]
         |identifier = "Sex"
         |data_context = "subject_sex"
         |alias_map = { output_data_type = "string", mappings = { M = "MALE", F = "FEMALE" } }
         |
         |[[data_sources.series_contexts]]
         |identifier = "Onset"
         |data_context = { onset = "age" }
         |building_block_id = "P"
         |
         |[pipeline]
         |strategies = ["alias_map", "age_to_iso8601"]
         |
         |[pipeline.loader.file_system]
         |output_dir = "${dir.resolve("out")}"
         |create_dir = true
         |
         |[pipeline.meta_data]
         |created_by = "tester"
         |cohort_name = "c1"
         |
         |[pipeline.meta_data.hpo_resource]
         |id = "hp"
         |version = "2024-01-01"
         |namespace_prefix = "HP"
         |terms_file = "${dir.resolve("hp_terms.csv")}"
         |""".stripMargin)
    val fromYaml = ConfigLoader.load(yamlPath)
    val fromToml = ConfigLoader.load(tomlPath)
    assert(fromToml.csvSources == fromYaml.csvSources)
    assert(fromToml.metaData == fromYaml.metaData)
    assert(fromToml.strategies.map(_.name) == fromYaml.strategies.map(_.name))
    assert(fromToml.loader == fromYaml.loader)

    val ronPath = write(dir, "config.ron",
      s"""// RON flavor of the same pipeline config
         |(
         |  data_sources: [
         |    (
         |      type: csv,
         |      source: "${dir.resolve("data.csv")}",
         |      series_contexts: [
         |        (identifier: "Patient ID", data_context: subject_id),
         |        (
         |          identifier: "Sex",
         |          data_context: subject_sex,
         |          alias_map: (
         |            output_data_type: string,
         |            mappings: { "M": "MALE", "F": "FEMALE" },
         |          ),
         |        ),
         |        (
         |          identifier: "Onset",
         |          data_context: (onset: age),
         |          building_block_id: Some("P"),
         |        ),
         |      ],
         |    ),
         |  ],
         |  pipeline: (
         |    strategies: ["alias_map", "age_to_iso8601"],
         |    loader: (file_system: (
         |      output_dir: "${dir.resolve("out")}",
         |      create_dir: true,
         |    )),
         |    meta_data: (
         |      created_by: "tester",
         |      cohort_name: "c1",
         |      hpo_resource: (
         |        id: "hp",
         |        version: "2024-01-01",
         |        namespace_prefix: "HP",
         |        terms_file: "${dir.resolve("hp_terms.csv")}",
         |      ),
         |    ),
         |  ),
         |)
         |""".stripMargin)
    val fromRon = ConfigLoader.load(ronPath)
    assert(fromRon.csvSources == fromYaml.csvSources)
    assert(fromRon.metaData == fromYaml.metaData)
    assert(fromRon.strategies.map(_.name) == fromYaml.strategies.map(_.name))
    assert(fromRon.loader == fromYaml.loader)
  }

  test("pipeline.resolver block gates a reflective live-resolver stack") {
    val dir = Files.createTempDirectory("graftcfg")
    val cfgPath = write(dir, "r.yaml",
      """data_sources: []
        |pipeline:
        |  strategies: []
        |  resolver:
        |    class: "graft.ontology.StubRemoteResolver"
        |    cache_size: 64
        |    rate_limit_per_sec: 1000
        |  meta_data:
        |    cohort_name: "c1"
        |""".stripMargin)
    val cfg = ConfigLoader.load(cfgPath)
    assert(cfg.resolver == Some(ConfigLoader.ResolverConfig(
      "graft.ontology.StubRemoteResolver", 64, Some(1000.0))))
    val stack = ConfigRunner.buildResolver(cfg, ConfigRunner.buildLibrary(cfg)).get
    assert(stack.resolveIn("hpo", "remote-only term").map(_._1.id) == Some("RT:1"))
    // no resolver block → offline default (None: assembly builds it)
    val plain = write(dir, "p.yaml",
      "data_sources: []\npipeline:\n  strategies: []\n  meta_data:\n    cohort_name: \"c\"\n")
    assert(ConfigLoader.load(plain).resolver.isEmpty)
  }

  test("parameterized quantitative context decodes") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val node = mapper.readTree(
      """quantitative_measurement:
        |  assay_id: "LOINC:8302-2"
        |  unit_ontology_id: "UO:0000015"
        |""".stripMargin)
    assert(ConfigLoader.context(node, "data_context") ==
      Context.QuantitativeMeasurement("LOINC:8302-2", "UO:0000015"))
  }

  test("alias csv: quoted commas stay in one field; short rows fail with the row number") {
    val dir = Files.createTempDirectory("graftcfg")
    val p = write(dir, "a.csv",
      "k,v\n\"Smith, John\",alias1\nplain,alias2\n")
    val m = ConfigLoader.loadAliasCsv(p, "k", "v")
    assert(m === Map("Smith, John" -> Some("alias1"), "plain" -> Some("alias2")))
    // a quoted key may hold a line break and a doubled quote: one row
    val multi = write(dir, "c.csv", "k,v\n\"Multi\nline \"\"key\"\"\",alias3\nplain,alias2\n")
    assert(ConfigLoader.loadAliasCsv(multi, "k", "v") ===
      Map("Multi\nline \"key\"" -> Some("alias3"), "plain" -> Some("alias2")))

    val short = write(dir, "b.csv", "a,b,k\nx,y,key1\nx\n")
    val e = intercept[IllegalArgumentException] {
      ConfigLoader.loadAliasCsv(short, "k", "b")
    }
    assert(e.getMessage.contains("row 3"), e.getMessage)
  }

  test("side csvs: a key or id given two values fails naming it and the file; exact repeats stay") {
    val dir = Files.createTempDirectory("graftcfg")
    // keeping the last row would silently map M to FEMALE
    val aliases = write(dir, "aliases.csv", "k,v\nM,MALE\nM,MALE\nM,FEMALE\n")
    val e1 = intercept[IllegalArgumentException](ConfigLoader.loadAliasCsv(aliases, "k", "v"))
    assert(e1.getMessage.contains("'M'") && e1.getMessage.contains(aliases) &&
      e1.getMessage.contains("row 4"), e1.getMessage)
    val repeated = write(dir, "repeated.csv", "k,v\nM,MALE\nM,MALE\n")
    assert(ConfigLoader.loadAliasCsv(repeated, "k", "v") == Map("M" -> Some("MALE")))
    // keeping the last label would make resolve("Seizure") return HP:1 labelled Fever
    def library(terms: String) = {
      val file = write(dir, "terms.csv", terms)
      val cfg = ConfigLoader.load(write(dir, "terms.yaml",
        s"""pipeline:
           |  meta_data:
           |    hpo_resource: {id: hp, terms_file: "$file"}
           |""".stripMargin))
      ConfigRunner.buildLibrary(cfg)
    }
    val e2 = intercept[IllegalArgumentException](
      library("id,label,synonyms\nHP:1,Seizure,\nHP:1,Fever,\n"))
    assert(e2.getMessage.contains("'HP:1'") && e2.getMessage.contains(dir.resolve("terms.csv").toString),
      e2.getMessage)
    assert(library("id,label,synonyms\nHP:1,Seizure,\nHP:1,Seizure,\n").resolve("Seizure")
      .map(_._1.label).contains("Seizure"))
  }

  test("unknown, misspelled, repeated or misshapen keys fail naming the key and its path") {
    val dir = Files.createTempDirectory("graftcfg")
    val valid =
      """data_sources:
        |  - type: csv
        |    source: data.csv
        |    patients_are_rows: true
        |    separator: ","
        |    series_contexts:
        |      - identifier: Patient ID
        |        data_context: subject_id
        |      - identifier: Sex
        |        data_context: subject_sex
        |        building_block_id: P
        |        fill_missing: unknown
        |        alias_map:
        |          mappings: {M: MALE}
        |  - type: csv
        |    source: other.csv
        |    series_contexts: []
        |  - type: excel
        |    source: book.xlsx
        |    sheets: []
        |pipeline:
        |  meta_data:
        |    cohort_name: c1
        |""".stripMargin
    assert(ConfigLoader.load(write(dir, "valid.yaml", valid)).metaData.cohortName == "c1")
    def load(from: String, to: String) = {
      assert(valid.contains(from), from)
      ConfigLoader.load(write(dir, "bad.yaml", valid.replace(from, to)))
    }
    // read leniently, each of these would load as patients-as-rows, a
    // "," separator, no block, no fill, no alias map, cohort "cohort"
    Seq(
      ("patients_are_rows: true", "patient_are_rows: false",
        "unknown key 'patient_are_rows' in 'data_sources[0]'"),
      ("separator:", "seperator:", "unknown key 'seperator' in 'data_sources[0]'"),
      ("building_block_id:", "building_blok_id:",
        "unknown key 'building_blok_id' in 'data_sources[0].series_contexts[1]'"),
      ("fill_missing:", "fill_mising:",
        "unknown key 'fill_mising' in 'data_sources[0].series_contexts[1]'"),
      ("alias_map:", "alias_mapp:", "unknown key 'alias_mapp' in 'data_sources[0].series_contexts[1]'"),
      ("cohort_name:", "cohort_nam:", "unknown key 'cohort_nam' in 'pipeline.meta_data'"),
      ("source: book.xlsx", "source: book.xlsx\n    name: book",
        "unknown key 'name' in 'data_sources[2]'"),
      ("series_contexts: []", "series_contexts: \"x\"",
        "'data_sources[1].series_contexts' must be a list, got \"x\""),
      ("{M: MALE}", "{M: [MALE]}",
        "'data_sources[0].series_contexts[1].alias_map.mappings.M' must be a string"),
      ("data_context: subject_sex", "data_context: {subject_sex: x}",
        "context 'subject_sex' in 'data_sources[0].series_contexts[1].data_context' takes no parameter"),
      ("source: other.csv", "sourc: other.csv", "missing key 'source' in 'data_sources[1]'")
    ).foreach { case (from, to, message) =>
      val e = intercept[IllegalArgumentException](load(from, to))
      assert(e.getMessage.contains(message), e.getMessage)
    }
    // a repeated key: Jackson would keep the last one (`disease`)
    val e = intercept[com.fasterxml.jackson.core.JsonProcessingException](
      load("data_context: subject_sex", "data_context: hpo\n        data_context: disease"))
    assert(e.getMessage.contains("Duplicate field 'data_context'"), e.getMessage)
    val json = write(dir, "dup.json", """{"pipeline": {"strategies": []}, "pipeline": {}}""")
    val e2 = intercept[com.fasterxml.jackson.core.JsonProcessingException](ConfigLoader.load(json))
    assert(e2.getMessage.contains("Duplicate field 'pipeline'"), e2.getMessage)
  }

  test("terms csv: quoted comma-containing labels survive; mixed sources keep config order") {
    val dir = Files.createTempDirectory("graftcfg")
    val p = write(dir, "terms.csv",
      "id,label,synonyms\nHP:0001250,\"Seizure, generalized\",fits|convulsions\n")
    val terms = ConfigRunner.loadTerms(p)
    assert(terms == Seq(("HP:0001250", "Seizure, generalized",
      Seq("fits", "convulsions"))))

    // a mixed excel-then-csv config must keep data_sources order in the
    // decoded ordinals (fact provenance sorts by registration order)
    write(dir, "d.csv", "Patient ID\nP001\n")
    val cfgPath = write(dir, "mixed.yaml",
      s"""data_sources:
         |  - type: "excel"
         |    source: "${dir.resolve("x.xlsx")}"
         |    sheets: []
         |  - type: "csv"
         |    source: "${dir.resolve("d.csv")}"
         |    series_contexts:
         |      - identifier: "Patient ID"
         |        data_context: subject_id
         |pipeline:
         |  strategies: []
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |""".stripMargin)
    val cfg = ConfigLoader.load(cfgPath)
    assert(cfg.excelSources.map(_.ordinal) == Seq(0))
    assert(cfg.csvSources.map(_.ordinal) == Seq(1))
  }

  test("explicitly-null config booleans fall back to the declared default") {
    val dir = Files.createTempDirectory("graftcfg")
    write(dir, "data.csv", "Patient ID\nP001\n")
    // "has_headers:" with an empty value parses to YAML null — it must
    // keep the default (true), not flip to asBoolean's false and
    // ingest the header row as a patient
    val cfgPath = write(dir, "config.yaml",
      s"""data_sources:
         |  - type: "csv"
         |    source: "${dir.resolve("data.csv")}"
         |    has_headers:
         |    patients_are_rows: true
         |    series_contexts:
         |      - identifier: "Patient ID"
         |        data_context: subject_id
         |pipeline:
         |  strategies: []
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |  meta_data:
         |    created_by: "tester"
         |""".stripMargin)
    val cfg = ConfigLoader.load(cfgPath)
    assert(cfg.csvSources.head.hasHeaders === true)
  }

  test("a misspelled config boolean fails naming the field instead of reading as false") {
    val dir = Files.createTempDirectory("graftcfg")
    write(dir, "data.csv", "Patient ID\nP001\n")
    // `ture` parses as a YAML string, which Jackson's asBoolean() reads
    // as false: the header row would be ingested as a patient
    val headers = write(dir, "headers.yaml",
      s"""data_sources:
         |  - type: "csv"
         |    source: "${dir.resolve("data.csv")}"
         |    has_headers: ture
         |    series_contexts:
         |$subjectSeries
         |pipeline:
         |  strategies: []
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |""".stripMargin)
    val e1 = intercept[IllegalArgumentException](ConfigLoader.load(headers))
    assert(e1.getMessage.contains("'has_headers'") && e1.getMessage.contains("'ture'"),
      e1.getMessage)
    // `flase` would silently keep date_to_age strict
    val strict = multiSourceConfig(dir, "[{\"date_to_age\": {\"strict\": flase}}]",
      "data.csv" -> subjectSeries)
    val e2 = intercept[IllegalArgumentException](ConfigRunner.run(spark, strict))
    assert(e2.getMessage.contains("'strict'") && e2.getMessage.contains("'flase'"),
      e2.getMessage)
  }

  test("resolver numbers that are not positive numbers fail naming the field") {
    val dir = Files.createTempDirectory("graftcfg")
    def resolver(field: String, value: String) = write(dir, s"resolver-$field.yaml",
      s"""data_sources: []
         |pipeline:
         |  strategies: []
         |  resolver:
         |    class: "graft.ontology.StubRemoteResolver"
         |    $field: $value
         |""".stripMargin)
    // asInt(100000) read `big` as 100000 and truncated 1.5; asDouble()
    // read `fast` as 0.0, which failed later without naming the field
    val bad = Seq("cache_size" -> "big", "rate_limit_per_sec" -> "fast",
      "cache_size" -> "1.5", "rate_limit_per_sec" -> "0")
    bad.foreach { case (field, value) =>
      val e = intercept[IllegalArgumentException](ConfigLoader.load(resolver(field, value)))
      assert(e.getMessage.contains(s"'$field'") && e.getMessage.contains(s"'$value'"), e.getMessage)
    }
    // an explicit null keeps the default
    assert(ConfigLoader.load(resolver("cache_size", "")).resolver.get.cacheSize == 100000)
    assert(ConfigLoader.load(resolver("rate_limit_per_sec", "2.5")).resolver.get.ratePerSec ==
      Some(2.5))
  }

  test("strategy parameter blocks decode strictly, naming the strategy and the key") {
    val dir = Files.createTempDirectory("graftcfg")
    val cfg = ConfigLoader.load(write(dir, "strategies.yaml",
      """data_sources: []
        |pipeline:
        |  strategies:
        |    - date_to_age_lenient: {strict: true}
        |    - date_to_age: {strct: false}
        |    - age_to_iso8601: {x: 1}
        |    - date_to_age: {strict: false}
        |    - ontology_normaliser:
        |""".stripMargin))
    val library = ConfigRunner.buildLibrary(cfg)
    // each of these was accepted: lenient ran lenient, `strct` left
    // date_to_age strict, and the unknown key was dropped
    Seq("date_to_age_lenient" -> "strict", "date_to_age" -> "strct", "age_to_iso8601" -> "x")
      .zip(cfg.strategies).foreach { case ((name, key), spec) =>
        val e = intercept[IllegalArgumentException](ConfigRunner.strategyFor(spec, library))
        assert(e.getMessage.contains(s"'$name'") && e.getMessage.contains(s"'$key'"), e.getMessage)
      }
    val valid = cfg.strategies.drop(3).map(ConfigRunner.strategyFor(_, library))
    assert(valid.head == graft.strategy.DateToAgeStrategy(strict = false))
  }

  /** A config over the given `(file name, series_contexts YAML)` CSV
    * sources, in that order, running `strategies`. */
  private def multiSourceConfig(dir: java.nio.file.Path, strategies: String,
      sources: (String, String)*): String = {
    val blocks = sources.map { case (file, series) =>
      s"""  - type: "csv"
         |    source: "${dir.resolve(file)}"
         |    series_contexts:
         |$series""".stripMargin
    }
    write(dir, "config.yaml",
      s"""data_sources:
         |${blocks.mkString("\n")}
         |pipeline:
         |  strategies: $strategies
         |  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |      create_dir: true
         |  meta_data:
         |    created_by: "tester"
         |    cohort_name: "c1"
         |""".stripMargin)
  }

  private val subjectSeries =
    """      - identifier: "Patient ID"
      |        data_context: subject_id""".stripMargin

  test("two sources with null subject ids: the first configured one is named") {
    val dir = Files.createTempDirectory("graftcfg")
    write(dir, "first.csv", "Patient ID,Sex\nP001,M\n,F\n")
    write(dir, "second.csv", "Patient ID,Sex\n,M\nP002,F\n")
    write(dir, "fine.csv", "Patient ID\nP003\n")
    val cfgPath = multiSourceConfig(dir, "[]",
      "fine.csv" -> subjectSeries, "first.csv" -> subjectSeries, "second.csv" -> subjectSeries)
    val e = intercept[IllegalArgumentException](ConfigRunner.run(spark, cfgPath))
    assert(e.getMessage.contains("first.csv"), e.getMessage)
    assert(e.getMessage.contains("contains nulls"), e.getMessage)
    assert(!e.getMessage.contains("second.csv"), e.getMessage)
  }

  test("two tables failing strict date_to_age: the first table's error is thrown") {
    val dir = Files.createTempDirectory("graftcfg")
    def dated(column: String) =
      s"""$subjectSeries
         |      - identifier: "$column"
         |        data_context:
         |          onset: date
         |        building_block_id: "P"""".stripMargin
    write(dir, "dob.csv", "Patient ID,DOB\nP001,2000-01-01\n")
    write(dir, "first.csv", "Patient ID,First onset\nP001,2010-01-01\nP002,2011-01-01\n")
    write(dir, "second.csv", "Patient ID,Second onset\nP003,2012-01-01\n")
    val cfgPath = multiSourceConfig(dir, "[\"date_to_age\"]",
      "dob.csv" -> s"""$subjectSeries
                     |      - identifier: "DOB"
                     |        data_context: date_of_birth""".stripMargin,
      "first.csv" -> dated("First onset"),
      "second.csv" -> dated("Second onset"))
    val e = intercept[graft.strategy.MappingException](ConfigRunner.run(spark, cfgPath))
    assert(e.badValues == Seq("First onset"), e.getMessage)
    assert(e.getMessage.contains("no date of birth"), e.getMessage)
  }

  test("config faults are reported before any source is read") {
    val dir = Files.createTempDirectory("graftcfg")
    val loader =
      s"""  loader:
         |    file_system:
         |      output_dir: "${dir.resolve("out")}"
         |""".stripMargin
    // the only source path does not exist: reading it would fail first
    def config(name: String, strategies: String, extra: String): String =
      write(dir, name,
        s"""data_sources:
           |  - type: "csv"
           |    source: "${dir.resolve("missing.csv")}"
           |    series_contexts:
           |$subjectSeries
           |pipeline:
           |  strategies: $strategies
           |$extra  meta_data:
           |    cohort_name: "c1"
           |""".stripMargin)
    val resolver =
      """  resolver:
        |    class: "graft.ontology.HttpTermResolver"
        |""".stripMargin
    val faults = Seq(
      config("strategy.yaml", "[\"no_such_strategy\"]", loader) ->
        "unknown strategy 'no_such_strategy'",
      config("resolver.yaml", "[]", resolver + loader) ->
        "could not instantiate resolver graft.ontology.HttpTermResolver",
      config("loader.yaml", "[]", "") -> "config has no file_system loader")
    faults.foreach { case (cfgPath, message) =>
      val e = intercept[IllegalArgumentException](ConfigRunner.run(spark, cfgPath))
      assert(e.getMessage.contains(message), e.getMessage)
    }
  }
}

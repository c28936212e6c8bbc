package graft.collect

import graft.SparkSpec
import graft.ontology.{BiDict, BiDictLibrary, Resource}

/** Direct assembler semantics: G6 spread, HGVS validation, G4
  * multiplicity guards, upsert behavior — on hand-built fact lists
  * (no Spark round-trip needed; assembleOne is the per-group fold).
  */
class AssemblerSpec extends SparkSpec {

  private val mondo = BiDict.fromEntries(
    Resource("mondo", "MONDO", "u", "v", "MONDO", "i"),
    Seq(("MONDO:1", "disease one", Seq.empty), ("MONDO:2", "disease two", Seq.empty)))
  private val geno = BiDict.fromEntries(
    Resource("geno", "Genotype Ontology", "http://purl.obolibrary.org/obo/geno.json",
      "2025-07-25", "GENO", "http://purl.obolibrary.org/obo/GENO_$1"),
    Seq(("GENO:0000135", "heterozygous", Seq.empty),
      ("GENO:0000136", "homozygous", Seq.empty)))
  private val hgnc = BiDict.fromEntries(
    Resource("hgnc", "HUGO Gene Nomenclature Committee",
      "https://w3id.org/biopragmatics/resources/hgnc/hgnc.json.gz", "-",
      "hgnc", "https://www.genenames.org/data/gene-symbol-report/#!/hgnc_id/$1"),
    Seq(("HGNC:19349", "KIF21A", Seq.empty)))
  private val lib = BiDictLibrary(Seq(mondo, geno, hgnc))
  private val cfg = AssemblerConfig("c")

  private def fact(src: Int, table: String, seq: Long, block: String, kind: String) =
    Fact("P1", src, table, seq, 0, block, kind)

  test("G6: disease block spread across 2 tables with 2 diseases errors") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(1, "t2", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:2"),
      fact(1, "t2", 0, "C", FactKinds.Interp).copy(variants = "NM_1.1:c.1A>G"))
    val e = intercept[IllegalStateException] {
      Assembler.assembleOne("P1", facts, lib, cfg)
    }
    assert(e.getMessage.contains("spans 2 tables"))
  }

  test("G6: spread block with ONE distinct disease applies it to the variants") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(1, "t2", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(1, "t2", 0, "C", FactKinds.Interp).copy(variants = "NM_1.1:c.1A>G"))
    val p = Assembler.assembleOne("P1", facts, lib, cfg)
    assert(p.interpretations.head.diagnosis.get.disease.id == "MONDO:1")
  }

  test("malformed HGVS errors with the offending expressions") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(0, "t1", 0, "C", FactKinds.Interp).copy(variants = "not-an-hgvs"))
    val e = intercept[IllegalStateException] {
      Assembler.assembleOne("P1", facts, lib, cfg)
    }
    assert(e.getMessage.contains("not-an-hgvs"))
  }

  test("G4: conflicting single-multiplicity individual field errors") {
    val facts = Seq(
      fact(0, "t1", 0, "", FactKinds.Individual_).copy(field = "sex", value = "MALE"),
      fact(1, "t2", 0, "", FactKinds.Individual_).copy(field = "sex", value = "FEMALE"))
    val e = intercept[IllegalStateException] {
      Assembler.assembleOne("P1", facts, lib, cfg)
    }
    assert(e.getMessage.contains("sex"))
  }

  test("feature upsert by HPO id vs allowDuplicatePhenotypes append") {
    val hp = BiDict.fromEntries(Resource("hp", "HPO", "u", "v", "HP", "i"),
      Seq(("HP:1", "f1", Seq.empty)))
    val l2 = BiDictLibrary(Seq(hp))
    val facts = Seq(
      fact(0, "t1", 0, "A", FactKinds.HpoCell).copy(hpo = "HP:1"),
      fact(0, "t1", 1, "A", FactKinds.HpoCell).copy(hpo = "HP:1", onset = "P3Y"))
    val upserted = Assembler.assembleOne("P1", facts, l2, cfg)
    assert(upserted.phenotypicFeatures.size == 1)
    assert(upserted.phenotypicFeatures.head.onset.isDefined) // last write wins
    val dup = Assembler.assembleOne("P1", facts, l2,
      cfg.copy(allowDuplicatePhenotypes = true))
    assert(dup.phenotypicFeatures.size == 2)
  }

  test("interpretations EXTEND across rows of the same disease (no replace)") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(0, "t1", 0, "C", FactKinds.Interp).copy(variants = "NM_1.1:c.1A>G"),
      fact(0, "t1", 1, "C", FactKinds.Interp).copy(variants = "NM_1.1:c.2C>T"))
    val p = Assembler.assembleOne("P1", facts, lib, cfg)
    val gis = p.interpretations.head.diagnosis.get.genomicInterpretations
    assert(gis.size == 2) // both rows' variants present
    assert(gis.flatMap(_.variantInterpretation)
      .flatMap(_.variationDescriptor)
      .flatMap(_.expressions.map(_.value)).toSet ==
      Set("NM_1.1:c.1A>G", "NM_1.1:c.2C>T"))
    // Reference statuses: interpretation stays at the protobuf defaults.
    assert(p.interpretations.head.progressStatus == "UNKNOWN_PROGRESS")
    assert(gis.forall(_.interpretationStatus == "UNKNOWN_STATUS"))
  }

  test("diseases APPEND per cell (reference push_disease) — repeated term kept") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1", onset = "P45Y"),
      fact(0, "t1", 1, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"))
    val p = Assembler.assembleOne("P1", facts, lib, cfg)
    assert(p.diseases.size == 2)
    assert(p.diseases.head.onset.isDefined && p.diseases(1).onset.isEmpty)
  }

  test("gene symbols resolve to numeric HGNC ids via the gene dictionary") {
    val facts = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(0, "t1", 0, "C", FactKinds.Interp).copy(gene = "KIF21A"))
    val p = Assembler.assembleOne("P1", facts, lib, cfg)
    val gi = p.interpretations.head.diagnosis.get.genomicInterpretations.head
    assert(gi.gene.contains(GeneDescriptor("HGNC:19349", "KIF21A")))
    assert(p.metaData.resources.map(_.id).contains("hgnc"))
    // Unknown symbols are an ERROR (reference HGNC client fails),
    // never a fabricated HGNC:<symbol> id.
    val bad = Seq(
      fact(0, "t1", 0, "C", FactKinds.DiseaseK).copy(term = "MONDO:1"),
      fact(0, "t1", 0, "C", FactKinds.Interp).copy(gene = "NOTAGENE"))
    intercept[NoSuchElementException] {
      Assembler.assembleOne("P1", bad, lib, cfg)
    }
  }

  test("facts order deterministically by (src, idx, seq) regardless of arrival order") {
    val hp = BiDict.fromEntries(Resource("hp", "HPO", "u", "v", "HP", "i"),
      (1 to 5).map(i => (s"HP:$i", s"f$i", Seq.empty[String])))
    val l2 = BiDictLibrary(Seq(hp))
    val ordered = Seq(
      fact(0, "b", 0, "", FactKinds.HpoCell).copy(hpo = "HP:1"),
      fact(0, "b", 5, "", FactKinds.HpoCell).copy(hpo = "HP:4"),
      fact(0, "b", 0, "", FactKinds.HpoCell).copy(idx = 1, hpo = "HP:2"),
      fact(0, "b", 1, "", FactKinds.HpoCell).copy(idx = 1, hpo = "HP:5"),
      fact(1, "a", 0, "", FactKinds.HpoCell).copy(hpo = "HP:3"))
    val p = Assembler.assembleOne("P1", ordered.reverse, l2, cfg)
    // src order wins over table-name order ("b" before "a"); within a
    // table a fact's plan position comes before its row (column-major):
    // (idx 0, seq 5) precedes (idx 1, seq 0).
    assert(p.phenotypicFeatures.map(_.`type`.id) == Seq("HP:1", "HP:4", "HP:2", "HP:5", "HP:3"))
  }

  test("unparseable time cells error like the reference (never ride into a packet)") {
    val hp = BiDict.fromEntries(Resource("hp", "HPO", "u", "v", "HP", "i"),
      Seq(("HP:1", "f1", Seq.empty)))
    val l2 = BiDictLibrary(Seq(hp))
    // impossible days are rejected, never clamped to the month's end
    for (bad <- Seq("not-a-time", "2021-02-29", "31.04.2020")) {
      val onset = Seq(
        fact(0, "t1", 0, "A", FactKinds.HpoCell).copy(hpo = "HP:1", onset = bad))
      val dob = Seq(
        fact(0, "t1", 0, "", FactKinds.Individual_).copy(field = "dateOfBirth", value = bad))
      for (facts <- Seq(onset, dob)) {
        val e = intercept[IllegalStateException] {
          Assembler.assembleOne("P1", facts, l2, cfg)
        }
        assert(e.getMessage.contains(bad))
      }
    }
    // valid forms still parse: ISO duration → age, date → timestamp
    assert(TimeParse.parse("P3Y2M").age.isDefined)
    assert(TimeParse.parse("25.04.1998").timestamp.contains("1998-04-25T00:00:00Z"))
  }

  test("TimeParse handles the reference's datetime formats, not just dates") {
    // constants.rs DATETIME_FORMATS: space/T separators, fractional
    // seconds, RFC-822, RFC-3339 — a date-only parser crashed the whole
    // job on any timestamped clinical cell.
    assert(TimeParse.toTimestampString("2020-03-01T10:30:05") == "2020-03-01T10:30:05Z")
    assert(TimeParse.toTimestampString("2020-03-01 10:30:05") == "2020-03-01T10:30:05Z")
    assert(TimeParse.toTimestampString("2020-03-01 10:30:05.5") == "2020-03-01T10:30:05.500Z")
    assert(TimeParse.toTimestampString("Tue, 01 Dec 2020 10:00:00 GMT") ==
      "2020-12-01T10:00:00Z")
    // RFC-3339 with an offset normalizes to UTC (Utc.from_utc_datetime)
    assert(TimeParse.toTimestampString("2020-03-01T10:00:00+02:00") ==
      "2020-03-01T08:00:00Z")
    assert(TimeParse.toTimestampString("2020-03-01T10:00:00.5+02:00") ==
      "2020-03-01T08:00:00.500Z")
    assert(TimeParse.toTimestampString("2020-03-01T10:00:00.25Z") ==
      "2020-03-01T10:00:00.250Z")
    // a 9-digit fraction keeps microseconds, Spark's precision
    assert(TimeParse.toTimestampString("2020-03-01T10:30:05.123456789") ==
      "2020-03-01T10:30:05.123456Z")
    assert(TimeParse.parse("2020-03-01T10:30:05").timestamp
      .contains("2020-03-01T10:30:05Z"))
    // datetime formats are tried FIRST (utils.rs:22-31): a bare date
    // still renders midnight
    assert(TimeParse.toTimestampString("2020-03-01") == "2020-03-01T00:00:00Z")
  }

  test("same time value under different kind annotations is ONE value, not a conflict") {
    // timeOfDeath 'P50Y' from two tables: the time kind is not part of
    // the cell's identity (TimeParse infers it from the string) — a
    // (value, kind) distinct once raised a spurious
    // \"multiple values for timeOfDeath: P50Y, P50Y\" error.
    val facts = Seq(
      fact(0, "t1", 0, "", FactKinds.Individual_)
        .copy(field = "timeOfDeath", value = "P50Y"),
      fact(1, "t2", 0, "", FactKinds.Individual_)
        .copy(field = "timeOfDeath", value = "P50Y"))
    val p = Assembler.assembleOne("P1", facts, lib, cfg)
    assert(p.subject.vitalStatus.flatMap(_.timeOfDeath).flatMap(_.age).map(_.iso8601duration)
      .contains("P50Y"))
  }

  test("block-less gene/variant columns produce no interpretation facts") {
    import spark.implicits._
    import graft.model._
    val df = Seq(("P1", "KIF21A", "MONDO:1")).toDF("subject_id", "gene", "disease")
    val cdf = Cdf.validated(TableContext("t", Seq(
      SeriesContext(Identifier.Single("subject_id"), dataContext = Context.SubjectId),
      SeriesContext(Identifier.Single("gene"), dataContext = Context.Hgnc),
      SeriesContext(Identifier.Single("disease"), dataContext = Context.Disease))), df)
    val kinds = Facts.extract(cdf).collect().map(_.kind).toSet
    assert(!kinds.contains(FactKinds.Interp))
    assert(kinds.contains(FactKinds.DiseaseK))
  }
}

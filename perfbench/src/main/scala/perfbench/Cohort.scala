package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded cohort generator for the `etl_deep` workload.
  *
  * Writes the CSV/XLSX inputs, the YAML config, the ontology term CSVs,
  * the HGVS cache and `digest.tsv` (one `patient<TAB>sha256` line per
  * patient). The digest is built from the generator's own choices,
  * never from the engine: ages are drawn first and every date is
  * derived from the date of birth plus that age, with day-of-month
  * sums kept below 28, so the engine's calendar age must equal the
  * drawn age exactly.
  *
  * The same seed gives byte-identical files; [[fingerprint]] hashes a
  * generation without touching the disk, for the self-check.
  */
object Cohort {

  /** What a generation produced. `sparkInputBytes` counts the files
    * Spark scans (CSVs; the workbook is decoded on the driver).
    */
  final case class Generated(config: Path, outDir: Path, patients: Int,
      digest: Map[String, String], sparkInputBytes: Long, fingerprint: String)

  /** Emits files to a directory (or nowhere) and hashes them in order. */
  private final class Out(dir: Option[Path]) {
    private val md = MessageDigest.getInstance("SHA-256")
    var sparkBytes = 0L
    def file(name: String, bytes: Array[Byte], sparkReads: Boolean = false): Path = {
      md.update(name.getBytes(UTF_8)); md.update(bytes)
      if (sparkReads) sparkBytes += bytes.length
      dir.map { d => val p = d.resolve(name); Files.write(p, bytes); p }
        .getOrElse(java.nio.file.Paths.get(name))
    }
    def text(name: String, s: CharSequence, sparkReads: Boolean = false): Path =
      file(name, s.toString.getBytes(UTF_8), sparkReads)
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------------- vocabulary

  private val syllables: IndexedSeq[String] =
    for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** Bijective pseudo-word of exactly `n` syllables for `i`. */
  private def word(i: Int, n: Int): String = {
    var x = i
    val sb = new StringBuilder
    (0 until n).foreach { _ => sb.append(syllables(x % syllables.size)); x /= syllables.size }
    sb.toString
  }
  private def cap(s: String) = s.head.toUpper +: s.tail

  private val adjectives = IndexedSeq("Abnormal", "Increased", "Decreased", "Absent",
    "Hypoplastic", "Enlarged", "Recurrent", "Progressive", "Congenital", "Mild",
    "Severe", "Episodic", "Bilateral", "Focal", "Chronic", "Delayed")
  private val nouns = IndexedSeq("anomaly", "defect", "dysplasia", "malformation",
    "weakness", "pain", "atrophy", "lesion", "deficiency", "hypertrophy", "dysfunction",
    "stenosis", "cyst", "tremor", "asymmetry", "rigidity")

  /** Synthetic HPO-shaped term: CURIE, label, synonym (all distinct under
    * lowercase across the whole library — labels start with one of the
    * adjectives, synonyms with a 3-syllable word, diseases with a
    * 4-syllable word).
    */
  final case class Term(id: String, label: String, synonym: String)

  def hpoTerms(n: Int): IndexedSeq[Term] = (0 until n).map { i =>
    val w = word(i / adjectives.size, 3)
    Term(f"HP:${1000 + i}%07d", s"${adjectives(i % adjectives.size)} $w",
      s"$w ${nouns(i % nouns.size)}")
  }
  def mondoTerms(n: Int): IndexedSeq[Term] = (0 until n).map { i =>
    val w = cap(word(i, 4))
    Term(f"MONDO:${8000 + i}%07d", s"$w syndrome", s"$w disease")
  }
  final case class Gene(id: String, symbol: String)
  def genes(n: Int): IndexedSeq[Gene] = (0 until n).map { i =>
    Gene(s"HGNC:${10000 + i}", word(i, 2).toUpperCase + (i % 9 + 1))
  }
  final case class Variant(c: String, g: String, chrom: Int, pos: Long, ref: Char, alt: Char)
  private val bases = "ACGT"
  def variantsOf(gi: Int): IndexedSeq[Variant] = (0 until 4).map { k =>
    val ref = bases((gi + k) % 4)
    val alt = bases((gi + k + 1 + k % 2) % 4)
    val cpos = 100 + 37 * k + gi % 500
    val chrom = gi % 22 + 1
    val gpos = 1000000L + gi * 7919L + k * 131L
    Variant(s"NM_${100000 + gi}.1:c.$cpos$ref>$alt",
      f"NC_0000$chrom%02d.12:g.$gpos$ref>$alt", chrom, gpos, ref, alt)
  }

  private val pato = IndexedSeq(
    Term("PATO:0000460", "abnormal", "not normal"),
    Term("PATO:0000461", "normal", "within normal limits"),
    Term("PATO:0000462", "absent", "not detected"),
    Term("PATO:0000467", "present", "detected"))

  // ---------------------------------------------------------------- sampling

  /** Zipf(s = 1.1) over ranks 0 until n; rank → term through a seeded
    * permutation so popular terms are spread over the id space.
    */
  private final class Zipf(n: Int, rng: SplittableRandom) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val perm = {
      val a = Array.range(0, n)
      (n - 1 to 1 by -1).foreach { i => val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def next(): Int = {
      val u = rng.nextDouble()
      var lo = 0; var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      perm(lo)
    }
  }

  /** The calendar age the engine must report, ISO-8601 with zero
    * components omitted.
    */
  private def iso(y: Int, m: Int, d: Int): String = {
    val sb = new StringBuilder("P")
    if (y > 0) sb.append(y).append('Y')
    if (m > 0) sb.append(m).append('M')
    if (d > 0) sb.append(d).append('D')
    if (sb.length == 1) sb.append("0Y")
    sb.toString
  }

  /** A date of birth with day ≤ 14 and a derived (date, age) pair whose
    * day stays ≤ 27, so no month-length borrow can occur.
    */
  private def dob(rng: SplittableRandom): LocalDate =
    LocalDate.of(1940 + rng.nextInt(65), 1 + rng.nextInt(12), 1 + rng.nextInt(14))
  private def ageFrom(rng: SplittableRandom, birth: LocalDate): (LocalDate, String) = {
    val y = 1 + rng.nextInt(15); val m = rng.nextInt(12); val d = rng.nextInt(14)
    (birth.plusYears(y).plusMonths(m).plusDays(d), iso(y, m, d))
  }

  private def termForm(rng: SplittableRandom, t: Term): String = rng.nextInt(10) match {
    case 0 | 1 | 2 => t.id
    case 3 | 4     => t.label
    case 5         => t.label.toLowerCase
    case 6         => t.label.toUpperCase
    case _         => t.synonym
  }

  private val dmy = DateTimeFormatter.ofPattern("dd.MM.yyyy")

  // ---------------------------------------------------------------- digest lines

  /** Canonical fact lines of one packet; `Checks.lines` derives the same
    * lines from rendered JSON.
    */
  object Line {
    def onset(age: Option[String]): String = age.map("age:" + _).getOrElse("-")
    def pf(t: Term, onsetAge: Option[String]) = s"pf|${t.id}|${t.label}|-|${onset(onsetAge)}"
    def dz(t: Term, onsetAge: Option[String]) = s"dz|${t.id}|${t.label}|${onset(onsetAge)}"
    def geneOnly(d: Term, g: Gene) = s"gi|${d.id}|gene|${g.id}|${g.symbol}"
    def variant(d: Term, g: Gene, v: Variant, state: String) =
      s"gi|${d.id}|variant|${g.id}|${g.symbol}|$state|${v.c}"
    def quant(assay: String, label: String, value: Double, unit: String, unitLabel: String,
        lo: Double, hi: Double, age: String) =
      s"mq|$assay|$label|$value|$unit|$unitLabel|$lo|$hi|${onset(Some(age))}"
    def qual(assay: String, label: String, v: Term, age: String) =
      s"ml|$assay|$label|${v.id}|${v.label}|${onset(Some(age))}"
  }

  def sha(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.toSeq.sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------------- shared files

  private val hpoSize = 20000
  private val mondoSize = 2000
  private val geneCount = 400
  private val sexForms = IndexedSeq("m" -> "MALE", "f" -> "FEMALE", "male" -> "MALE",
    "Female" -> "FEMALE", "M" -> "MALE", "F" -> "FEMALE", "woman" -> "FEMALE", "man" -> "MALE")
  private val height = ("LOINC:8302-2", "Body height", "UO:0000015", "centimeter")
  private val nitrite = ("LOINC:5802-4", "Nitrite [Presence] in Urine by Test strip")

  private def termsCsv(ts: Seq[Term]): String =
    ts.map(t => s"${t.id},${t.label},${t.synonym}").mkString("id,label,synonyms\n", "\n", "\n")

  private def writeDictionaries(out: Out, hpo: IndexedSeq[Term], mondo: IndexedSeq[Term],
      gs: IndexedSeq[Gene]): Unit = {
    out.text("terms_hp.csv", termsCsv(hpo))
    out.text("terms_mondo.csv", termsCsv(mondo))
    out.text("terms_pato.csv", termsCsv(pato))
    out.text("terms_hgnc.csv",
      gs.map(g => s"${g.id},${g.symbol},").mkString("id,label,synonyms\n", "\n", "\n"))
    out.text("terms_geno.csv",
      "id,label,synonyms\nGENO:0000135,heterozygous,\nGENO:0000136,homozygous,\n")
    out.text("terms_loinc.csv", s"id,label,synonyms\n${height._1},${height._2},\n${nitrite._1},${nitrite._2},\n")
    out.text("terms_uo.csv", s"id,label,synonyms\n${height._3},${height._4},\n")
    val hgvs = new StringBuilder("{\n")
    val entries = gs.indices.flatMap(gi => variantsOf(gi).map(v => (gs(gi), v)))
    entries.zipWithIndex.foreach { case ((g, v), i) =>
      hgvs.append(s"""  "${v.c}": {"gene": "${g.symbol}", "expressions": [""" +
        s"""{"syntax": "hgvs.c", "value": "${v.c}"}, {"syntax": "hgvs.g", "value": "${v.g}"}], """ +
        s""""vcf": {"genomeAssembly": "hg38", "chrom": "chr${v.chrom}", "pos": ${v.pos}, """ +
        s""""ref": "${v.ref}", "alt": "${v.alt}"}}""")
      hgvs.append(if (i < entries.size - 1) ",\n" else "\n")
    }
    out.text("hgvs_cache.json", hgvs.append("}\n"))
  }

  private def resourcesYaml(dir: String): String =
    s"""  hgvs_cache: $dir/hgvs_cache.json
       |  meta_data:
       |    cohort_name: bench
       |    created_by: perfbench
       |    submitted_by: perfbench
       |    hpo_resource: {id: hp, name: Human Phenotype Ontology, url: "http://purl.obolibrary.org/obo/hp.json", version: "2025-09-01", namespace_prefix: HP, iri_prefix: "http://purl.obolibrary.org/obo/HP_$$1", terms_file: $dir/terms_hp.csv}
       |    disease_resources:
       |      - {id: mondo, name: Mondo Disease Ontology, url: "http://purl.obolibrary.org/obo/mondo.json", version: "2026-01-06", namespace_prefix: MONDO, iri_prefix: "http://purl.obolibrary.org/obo/MONDO_$$1", terms_file: $dir/terms_mondo.csv}
       |    assay_resources:
       |      - {id: loinc, name: LOINC, url: "https://loinc.org/", version: "2.81", namespace_prefix: loinc, iri_prefix: "https://loinc.org/$$1", terms_file: $dir/terms_loinc.csv}
       |    unit_resources:
       |      - {id: uo, name: Units of measurement ontology, url: "http://purl.obolibrary.org/obo/uo.json", version: "2026-01-09", namespace_prefix: UO, iri_prefix: "http://purl.obolibrary.org/obo/UO_$$1", terms_file: $dir/terms_uo.csv}
       |    qualitative_measurement_resources:
       |      - {id: pato, name: Phenotype And Trait Ontology, url: "http://purl.obolibrary.org/obo/pato.json", version: "2025-05-14", namespace_prefix: PATO, iri_prefix: "http://purl.obolibrary.org/obo/PATO_$$1", terms_file: $dir/terms_pato.csv}
       |    gene_resources:
       |      - {id: hgnc, name: HUGO Gene Nomenclature Committee, url: "https://www.genenames.org", version: "-", namespace_prefix: hgnc, iri_prefix: "https://www.genenames.org/data/gene-symbol-report/#!/hgnc_id/$$1", terms_file: $dir/terms_hgnc.csv}
       |    allelic_resources:
       |      - {id: geno, name: Genotype Ontology, url: "http://purl.obolibrary.org/obo/geno.json", version: "2025-07-25", namespace_prefix: GENO, iri_prefix: "http://purl.obolibrary.org/obo/GENO_$$1", terms_file: $dir/terms_geno.csv}
       |""".stripMargin

  // ---------------------------------------------------------------- etl_deep

  /** An XLSX sheet, a patients-as-columns CSV and four long-format CSVs;
    * about 56 fact rows per patient; a config running all seven strategies.
    */
  private def deep(out: Out, dir: String, outDir: String, n: Int, seed: Long): Map[String, String] = {
    val wideCols = math.min(n, 30)
    val rng = new SplittableRandom(seed)
    val hpo = hpoTerms(hpoSize); val mondo = mondoTerms(mondoSize); val gs = genes(geneCount)
    writeDictionaries(out, hpo, mondo, gs)
    // free-text mentions draw from a small reserved vocabulary: each
    // distinct id becomes one pivot column of the expansion strategy
    val freeText = hpo.takeRight(40)
    val hpoZipf = new Zipf(hpoSize - freeText.size, rng)
    val mondoZipf = new Zipf(mondoSize, rng)
    val geneZipf = new Zipf(geneCount, rng)

    val basic = mutable.ArrayBuffer[Seq[Xlsx.Cell]](Seq("Patient ID", "Sex", "Living", "DOB").map(Xlsx.Str))
    val wide = mutable.ArrayBuffer.empty[(String, String)]
    val phen = new StringBuilder("patient_id,phenotype,onset_age,notes\n")
    val onsets = new StringBuilder("patient_id,phenotype,onset_date\n")
    val dis = new StringBuilder("patient_id,diagnosis,dx_onset,gene,hgvs1,hgvs2\n")
    val meas = new StringBuilder("patient_id,height,height_low,height_high,urine_nitrite,obs_date\n")
    val digest = mutable.LinkedHashMap.empty[String, String]

    (0 until n).foreach { p =>
      val id = f"P$p%06d"
      val lines = mutable.ArrayBuffer.empty[String]
      val used = mutable.HashSet.empty[Int]
      def freshHpo(): Term = { var t = hpoZipf.next(); while (used(t)) t = hpoZipf.next(); used += t; hpo(t) }

      val birth = dob(rng)
      val (sexRaw, sex) = sexForms(rng.nextInt(sexForms.size))
      val alive = rng.nextInt(5) > 0
      basic += Seq(Xlsx.Str(id), Xlsx.Str(sexRaw), Xlsx.Str(if (alive) "Yes" else "No"), Xlsx.DateCell(birth))
      lines += s"sex|$sex" += s"dob|${birth}T00:00:00Z" += s"vital|${if (alive) "ALIVE" else "DECEASED"}"

      val mentioned = mutable.LinkedHashSet.empty[Term]
      (0 until 4 + rng.nextInt(5)).foreach { _ =>
        val t = freshHpo()
        val age = if (rng.nextInt(10) < 6) Some(1 + rng.nextInt(80)) else None
        val notes = if (rng.nextInt(100) < 35) {
          val a = freeText(rng.nextInt(freeText.size)); mentioned += a
          if (rng.nextBoolean()) { val b = freeText(rng.nextInt(freeText.size)); mentioned += b
            s"reports ${a.id} and ${b.id} since last visit" }
          else s"noted ${a.id}"
        } else ""
        phen.append(s"$id,${termForm(rng, t)},${age.getOrElse("")},$notes\n")
        lines += Line.pf(t, age.map(a => s"P${a}Y"))
      }
      mentioned.foreach(t => lines += Line.pf(t, None))
      if (p < wideCols) { val t = freshHpo(); wide += id -> termForm(rng, t); lines += Line.pf(t, None) }

      (0 until 2 + rng.nextInt(4)).foreach { _ =>
        val t = freshHpo()
        val (date, age) = ageFrom(rng, birth)
        onsets.append(s"$id,${termForm(rng, t)},${date.format(dmy)}\n")
        lines += Line.pf(t, Some(age))
      }

      val usedDz = mutable.HashSet.empty[Int]
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        val onset = if (rng.nextInt(10) < 7) Some(1 + rng.nextInt(60)) else None
        val onsetIso = onset.map(a => s"P${a}Y")
        if (rng.nextInt(4) == 0) {
          val t = freshHpo()
          dis.append(s"$id,${termForm(rng, t)},${onset.getOrElse("")},,,\n")
          lines += Line.pf(t, onsetIso)
        } else {
          var di = mondoZipf.next(); while (usedDz(di)) di = mondoZipf.next(); usedDz += di
          val d = mondo(di)
          lines += Line.dz(d, onsetIso)
          val (gene, v1, v2) = if (rng.nextInt(5) == 0) ("", "", "") else {
            val gi = geneZipf.next(); val g = gs(gi); val vs = variantsOf(gi)
            rng.nextInt(4) match {
              case 0 => lines += Line.geneOnly(d, g); (g.symbol, "", "")
              case 1 => val v = vs(rng.nextInt(4)); lines += Line.variant(d, g, v, "heterozygous")
                (g.symbol, v.c, "")
              case 2 => val v = vs(rng.nextInt(4)); lines += Line.variant(d, g, v, "homozygous")
                (g.symbol, v.c, v.c)
              case _ => val a = rng.nextInt(4); val b = (a + 1 + rng.nextInt(3)) % 4
                lines += Line.variant(d, g, vs(a), "heterozygous") += Line.variant(d, g, vs(b), "heterozygous")
                (g.symbol, vs(a).c, vs(b).c)
            }
          }
          dis.append(s"$id,${termForm(rng, d)},${onset.getOrElse("")},$gene,$v1,$v2\n")
        }
      }

      (0 until 2 + rng.nextInt(3)).foreach { _ =>
        val h = (1400 + rng.nextInt(600)) / 10.0
        val q = pato(rng.nextInt(pato.size))
        val qRaw = if (rng.nextBoolean()) q.label else q.label.toUpperCase
        val (date, age) = ageFrom(rng, birth)
        meas.append(s"$id,$h,150,200,$qRaw,$date\n")
        lines += Line.quant(height._1, height._2, h, height._3, height._4, 150.0, 200.0, age)
        lines += Line.qual(nitrite._1, nitrite._2, q, age)
      }
      digest(id) = sha(lines)
    }

    out.file("basic.xlsx", Xlsx.write(Seq("basic info" -> basic.toSeq)))
    out.text("visits_wide.csv", (("Patient ID" +: wide.map(_._1).toSeq).mkString(",") + "\n") +
      ("Phenotype" +: wide.map(_._2).toSeq).mkString(",") + "\n", sparkReads = true)
    out.text("phenotypes.csv", phen, sparkReads = true)
    out.text("onsets.csv", onsets, sparkReads = true)
    out.text("diseases.csv", dis, sparkReads = true)
    out.text("measurements.csv", meas, sparkReads = true)

    val cfg =
      s"""data_sources:
         |  - type: excel
         |    source: $dir/basic.xlsx
         |    sheets:
         |      - sheet_name: basic info
         |        series_contexts:
         |          - {identifier: Patient ID, data_context: subject_id}
         |          - {identifier: Sex, data_context: subject_sex}
         |          - {identifier: DOB, data_context: date_of_birth}
         |          - identifier: Living
         |            data_context: vital_status
         |            alias_map: {output_data_type: string, mappings: {"Yes": ALIVE, "No": DECEASED}}
         |  - type: csv
         |    source: $dir/visits_wide.csv
         |    name: visits
         |    patients_are_rows: false
         |    series_contexts:
         |      - {identifier: Patient ID, data_context: subject_id}
         |      - {identifier: Phenotype, data_context: hpo}
         |  - type: csv
         |    source: $dir/phenotypes.csv
         |    name: phenotypes
         |    series_contexts:
         |      - {identifier: patient_id, data_context: subject_id}
         |      - {identifier: phenotype, data_context: hpo, building_block_id: P}
         |      - {identifier: onset_age, data_context: {onset: age}, building_block_id: P}
         |      - {identifier: notes, data_context: multi_hpo_id}
         |  - type: csv
         |    source: $dir/onsets.csv
         |    name: onsets
         |    series_contexts:
         |      - {identifier: patient_id, data_context: subject_id}
         |      - {identifier: phenotype, data_context: hpo, building_block_id: O}
         |      - {identifier: onset_date, data_context: {onset: date}, building_block_id: O}
         |  - type: csv
         |    source: $dir/diseases.csv
         |    name: diseases
         |    series_contexts:
         |      - {identifier: patient_id, data_context: subject_id}
         |      - {identifier: diagnosis, data_context: hpo_or_disease, building_block_id: D}
         |      - {identifier: dx_onset, data_context: {onset: age}, building_block_id: D}
         |      - {identifier: gene, data_context: hgnc, building_block_id: D}
         |      - {identifier: hgvs1, data_context: hgvs, building_block_id: D}
         |      - {identifier: hgvs2, data_context: hgvs, building_block_id: D}
         |  - type: csv
         |    source: $dir/measurements.csv
         |    name: measurements
         |    series_contexts:
         |      - {identifier: patient_id, data_context: subject_id}
         |      - identifier: height
         |        data_context: {quantitative_measurement: {assay_id: "${height._1}", unit_ontology_id: "${height._3}"}}
         |        building_block_id: M
         |      - {identifier: height_low, data_context: reference_range_start, building_block_id: M}
         |      - {identifier: height_high, data_context: reference_range_end, building_block_id: M}
         |      - identifier: urine_nitrite
         |        data_context: {qualitative_measurement: {assay_id: "${nitrite._1}"}}
         |        building_block_id: M
         |      - {identifier: obs_date, data_context: {time_of_measurement: date}, building_block_id: M}
         |pipeline:
         |  strategies:
         |    - alias_map
         |    - hpo_disease_splitter
         |    - ontology_normaliser
         |    - ontology_normaliser: {ontology: pato, data_context_kind: qualitative_measurement}
         |    - date_to_age: {strict: true}
         |    - age_to_iso8601
         |    - default_mapping: sex
         |    - multi_hpo_col_expansion
         |${resourcesYaml(dir)}  loader:
         |    file_system: {output_dir: $outDir, create_dir: true}
         |""".stripMargin
    out.text("config.yaml", cfg)
    digest.toMap
  }

  // ---------------------------------------------------------------- entry


  /** Hash of everything a generation would write, without writing. */
  def fingerprint(patients: Int, dir: Path, outDir: Path, seed: Long): String = {
    val out = new Out(None)
    deep(out, dir.toString, outDir.toString, patients, seed)
    out.hex
  }

  def generate(patients: Int, dir: Path, outDir: Path, seed: Long): Generated = {
    Files.createDirectories(dir)
    val out = new Out(Some(dir))
    val digest = deep(out, dir.toString, outDir.toString, patients, seed)
    val fp = out.hex
    Files.write(dir.resolve("digest.tsv"),
      digest.toSeq.sorted.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n").getBytes(UTF_8))
    Generated(dir.resolve("config.yaml"), outDir, digest.size, digest, out.sparkBytes, fp)
  }
}

package graft.collect

import graft.ontology.{BiDictLibrary, HgvsResolver, OntologyClass, Resource, TermResolver}
import org.apache.spark.sql.Dataset

import scala.collection.mutable

/** Per-patient phenopacket assembly — the engine's one shuffle
  * (reference G1/G2 + collectors C1–C9 + builder B1–B6,
  * `transform/collecting/`, `transform/phenopacket_builder.rs`).
  *
  * `groupByKey(subject).mapGroups`: each group is one patient's fact
  * list (document-sized, bounded), folded into a Phenopacket with the
  * reference's upsert/append semantics. The ontology library and HGVS
  * cache are broadcast-sized immutable values captured in the closure;
  * Spark serializes them once per executor.
  */
final case class AssemblerConfig(
    cohort: String,
    created: String = "1970-01-01T00:00:00Z",
    createdBy: String = "graft",
    submittedBy: String = "",
    allowDuplicatePhenotypes: Boolean = false)

object Assembler {

  def assemble(facts: Dataset[Fact], library: BiDictLibrary,
      config: AssemblerConfig,
      hgvs: HgvsResolver = HgvsResolver.empty,
      resolver: Option[TermResolver] = None): Dataset[Phenopacket] = {
    val spark = facts.sparkSession
    import spark.implicits._
    // Resolution goes through the TermResolver seam: offline broadcast
    // dictionaries by default; a config-gated live resolver (cached +
    // rate-limited per executor) may wrap them — see TermResolver.
    val r = resolver.getOrElse(TermResolver.offline(library))
    facts
      .groupByKey(_.subject)
      .mapGroups { (subject, it) =>
        assembleOne(subject, it.toSeq, library, config, hgvs, Some(r))
      }
  }

  /** Fold one patient's facts into a packet. Deterministic: facts are
    * sorted by (src, idx, seq) — data-source registration order, then
    * COLUMN order, then row order within the column. Column-major
    * within a table because the reference's collectors iterate the
    * Polars column store series-by-series (verified against
    * expected_P001: csv_data emits col1's rows before col2's). The
    * shuffle reader does not preserve any of this, so it is
    * reconstructed here.
    */
  def assembleOne(subject: String, factsUnsorted: Seq[Fact],
      library: BiDictLibrary, config: AssemblerConfig,
      hgvs: HgvsResolver = HgvsResolver.empty,
      termResolver: Option[TermResolver] = None): Phenopacket = {
    val resolverImpl = termResolver.getOrElse(TermResolver.offline(library))
    val facts = factsUnsorted.sortBy(f => (f.src, f.idx, f.seq))
    val packetId = s"${config.cohort}-$subject"
    val resources = mutable.LinkedHashMap.empty[String, Resource]

    // --- B3/B4: scoped term resolution with resource provenance -------
    // The reference wires a SEPARATE dictionary library per value class
    // (transform_context.rs: hpo/disease/assay/unit/qualitative/gene);
    // `scope` selects the same class here — through the TermResolver
    // seam (offline dictionaries unless config opted into a live stack).
    def resolve(scope: String, value: String): OntologyClass = {
      val (oc, res) = resolverImpl.resolveInOrThrow(scope, value)
      resources.getOrElseUpdate(res.id, res)
      oc
    }
    def resolveOpt(scope: String, v: Option[String]): Option[OntologyClass] =
      v.map(resolve(scope, _))

    // Assay/unit CURIEs may live outside the loaded dictionaries
    // (e.g. LOINC without a LOINC dump): fall back to id-as-label.
    def resolveLenient(scope: String, value: String): OntologyClass =
      resolverImpl.resolveIn(scope, value) match {
        case Some((oc, res)) =>
          resources.getOrElseUpdate(res.id, res)
          oc
        case None => OntologyClass(value, value)
      }

    def o(s: String): Option[String] = Fact.opt(s)

    // --- B5: time parsing (timestamp else ISO-8601 age) --------------
    def timeElement(v: String): TimeElement = TimeParse.parse(v)

    // --- C1: individual + vital status (single-multiplicity, G4) -----
    val indivFacts = facts.filter(_.kind == FactKinds.Individual_)
    def single(field: String): Option[String] = {
      val vals = indivFacts.filter(f => o(f.field).contains(field)).flatMap(f => o(f.value))
      val distinct = vals.distinct
      if (distinct.size > 1)
        throw new IllegalStateException(
          s"patient $subject: expected at most one distinct '$field', got ${distinct.mkString(", ")}")
      distinct.headOption
    }
    // Distinct by VALUE alone: the time kind annotation is not part of
    // the cell's identity (TimeParse infers the kind from the string),
    // so the same value annotated age in one table and date in another
    // must not raise a spurious "multiple values" error.
    def singleTimed(field: String): Option[TimeElement] =
      indivFacts.filter(f => o(f.field).contains(field))
        .flatMap(f => o(f.value))
        .distinct match {
        case Seq()  => None
        case Seq(v) => Some(timeElement(v))
        case many => throw new IllegalStateException(
          s"patient $subject: multiple values for '$field': ${many.mkString(", ")}")
      }

    val sex = single("sex")
    val dob = single("dateOfBirth").map(TimeParse.toTimestampString)
    val vitalStatusValue = single("vitalStatus")
    val causeOfDeath = single("causeOfDeath")
    val survivalDays = single("survivalTimeInDays").map { v =>
      v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
        .map(math.round)
        .getOrElse(throw new IllegalStateException(
          s"patient $subject: survivalTimeInDays value '$v' is not numeric"))
    }
    val timeOfDeath = singleTimed("timeOfDeath")
    val lastEncounter = singleTimed("timeAtLastEncounter")

    val vitalStatus =
      if (vitalStatusValue.isEmpty && causeOfDeath.isEmpty &&
          survivalDays.isEmpty && timeOfDeath.isEmpty) None
      else Some(VitalStatus(
        status = vitalStatusValue.getOrElse(
          if (timeOfDeath.isDefined || causeOfDeath.isDefined) "DECEASED" else "UNKNOWN_STATUS"),
        timeOfDeath = timeOfDeath,
        causeOfDeath = resolveOpt("disease", causeOfDeath),
        survivalTimeInDays = survivalDays))

    val individual = Individual(
      id = subject, dateOfBirth = dob, sex = sex,
      timeAtLastEncounter = lastEncounter, vitalStatus = vitalStatus)

    // Observation statuses must be strictly boolean (reference requires
    // a bool column and errors otherwise — hpo_in_cells_collector /
    // hpo_in_header_collector): no lenient polarity guessing.
    def strictBool(v: String, what: String): Boolean = v.toLowerCase match {
      case "true"  => true
      case "false" => false
      case other => throw new IllegalStateException(
        s"patient $subject: $what value '$other' is not a boolean")
    }

    // --- C2: HPO-in-cells (upsert by HPO id unless duplicates allowed)
    val features = mutable.LinkedHashMap.empty[String, PhenotypicFeature]
    val extraFeatures = mutable.ArrayBuffer.empty[PhenotypicFeature]
    facts.filter(_.kind == FactKinds.HpoCell).foreach { f =>
      o(f.hpo).foreach { raw =>
        val term = resolve("hpo", raw)
        val observed = o(f.observed).map(strictBool(_, "observation status"))
        val feature = PhenotypicFeature(
          `type` = term,
          excluded = observed.collect { case false => true },
          onset = o(f.onset).map(timeElement),
          resolution = o(f.resolution).map(timeElement),
          severity = resolveOpt("hpo", o(f.severity)))
        if (config.allowDuplicatePhenotypes && features.contains(term.id))
          extraFeatures += feature
        else features(term.id) = feature // upsert: last write wins, first position kept (B1)
      }
    }

    // --- C3: HPO-in-header (distinct (observed, onset) pairs, G5) -----
    val headerPairs = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[(Boolean, Option[String])]]
    facts.filter(_.kind == FactKinds.HpoHeader).foreach { f =>
      (o(f.hpo), o(f.observed)) match {
        case (Some(id), Some(obs)) =>
          headerPairs.getOrElseUpdate(id, mutable.LinkedHashSet.empty) +=
            ((strictBool(obs, s"HPO header $id observation"), o(f.onset)))
        case _ => ()
      }
    }
    headerPairs.foreach { case (id, pairs) =>
      if (pairs.size > 1)
        throw new IllegalStateException(
          s"patient $subject: HPO header column $id has ${pairs.size} distinct (observed, onset) pairs")
      val (observed, onset) = pairs.head
      val term = resolve("hpo", id)
      features(term.id) = PhenotypicFeature(
        `type` = term,
        excluded = if (observed) None else Some(true),
        onset = if (observed) onset.map(timeElement) else None)
    }

    // --- C4: diseases (append per cell — reference `insert_disease`
    // push_disease, phenopacket_builder.rs:366-433: repeated rows of the
    // same term each produce an entry, NOT an upsert).
    val diseaseList = mutable.ArrayBuffer.empty[Disease]
    facts.filter(_.kind == FactKinds.DiseaseK).foreach { f =>
      o(f.term).foreach { raw =>
        diseaseList += Disease(
          term = resolve("disease", raw),
          onset = o(f.onset).map(timeElement),
          resolution = o(f.resolution).map(timeElement),
          primarySite = resolveOpt("anatomy", o(f.primarySite)))
      }
    }

    // --- C5: interpretations (gene/variant classification) ------------
    // G6 — building-block "spread" (reference
    // interpretation_collector.rs:69-148): when a disease block spans
    // >= 2 tables, the block must carry exactly ONE distinct disease,
    // which then applies to the block's gene/variant data from every
    // table.
    val diseaseFactsByBlock = facts.filter(_.kind == FactKinds.DiseaseK).groupBy(_.block)
    def blockDisease(block: String): Option[String] = {
      val inBlock = diseaseFactsByBlock.getOrElse(block, Seq.empty)
      val values = inBlock.flatMap(f => o(f.term)).distinct
      val spreadTables = inBlock.map(_.table).distinct.size
      if (spreadTables >= 2 && values.size > 1)
        throw new IllegalStateException(
          s"patient $subject: disease block '$block' spans $spreadTables tables " +
            s"with ${values.size} distinct diseases: ${values.mkString(", ")}")
      values.headOption
    }
    val interpretations = mutable.LinkedHashMap.empty[String, Interpretation]
    facts.filter(_.kind == FactKinds.Interp).foreach { f =>
      val genes = o(f.gene).toSeq
      val variants = o(f.variants).toSeq.flatMap(_.split("\\|\\|")).map(_.trim).filter(_.nonEmpty)
      val diseaseRaw = o(f.disease).orElse(blockDisease(f.block))
      if (genes.nonEmpty || variants.nonEmpty) {
        val diseaseTerm = diseaseRaw.map(resolve("disease", _)).getOrElse(
          throw new IllegalStateException(
            s"patient $subject: interpretation block '${f.block}' has gene/variant data but no disease"))
        val interpId = s"$packetId-${diseaseTerm.id}"
        val genomic = GenomicInterpretations.classify(
          subject, genes, variants, resolve, hgvs)
        // Upsert-then-EXTEND (reference upsert_interpretation,
        // phenopacket_builder.rs:352-360): later rows/tables of the same
        // disease add their genomic interpretations, never replace.
        interpretations.get(interpId) match {
          case Some(existing) =>
            val d = existing.diagnosis.get
            interpretations(interpId) = existing.copy(diagnosis =
              Some(d.copy(genomicInterpretations = d.genomicInterpretations ++ genomic)))
          case None =>
            // Reference get_or_create_interpretation leaves the progress
            // status at the protobuf default (UNKNOWN_PROGRESS).
            interpretations(interpId) = Interpretation(
              id = interpId,
              progressStatus = "UNKNOWN_PROGRESS",
              diagnosis = Some(Diagnosis(diseaseTerm, genomic)))
        }
      }
    }

    // --- C6/C7: measurements ------------------------------------------
    val measurements = mutable.ArrayBuffer.empty[Measurement]
    facts.filter(_.kind == FactKinds.Quant).foreach { f =>
      (o(f.assay), o(f.value)) match {
        case (Some(assay), Some(v)) =>
          // Non-finite doubles would render as invalid JSON downstream —
          // gate at ingest.
          v.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite).foreach { value =>
            // Reference insert_quantitative_measurement resolves the
            // unit (parse_quantity) BEFORE the assay — resource
            // registration order follows.
            val unit = o(f.unit).map(resolveLenient("unit", _))
              .getOrElse(OntologyClass("", ""))
            val refRange = (o(f.refLow).flatMap(_.toDoubleOption),
              o(f.refHigh).flatMap(_.toDoubleOption)) match {
              case (Some(lo), Some(hi)) => Some(ReferenceRange(unit, lo, hi))
              case _                    => None
            }
            measurements += Measurement(
              assay = resolveLenient("assay", assay),
              value = MeasurementValue(quantity =
                Some(Quantity(unit, value, refRange))),
              timeObserved = o(f.time).map(timeElement))
          }
        case _ => ()
      }
    }
    facts.filter(_.kind == FactKinds.Qual).foreach { f =>
      (o(f.assay), o(f.value)) match {
        case (Some(assay), Some(v)) =>
          measurements += Measurement(
            assay = resolveLenient("assay", assay),
            value = MeasurementValue(ontologyClass = Some(resolve("qual", v))),
            timeObserved = o(f.time).map(timeElement))
        case _ => ()
      }
    }

    // --- C8/C9: medical actions ---------------------------------------
    val actions = mutable.ArrayBuffer.empty[MedicalAction]
    facts.filter(_.kind == FactKinds.ProcedureK).foreach { f =>
      o(f.code).foreach { code =>
        actions += MedicalAction(
          procedure = Some(ProcedureAction(
            code = resolve("procedure", code),
            bodySite = resolveOpt("anatomy", o(f.bodySite)),
            performed = o(f.time).map(timeElement))),
          treatmentTarget = resolveOpt("hpo", o(f.target)),
          treatmentIntent = resolveOpt("treatment", o(f.intent)),
          responseToTreatment = resolveOpt("treatment", o(f.response)),
          treatmentTerminationReason = resolveOpt("treatment", o(f.termination)))
      }
    }
    facts.filter(_.kind == FactKinds.TreatmentK).foreach { f =>
      o(f.agent).foreach { agent =>
        // (value, unit) must appear in pairs (reference quantity_data.rs:34-91).
        val dose = (o(f.qtyValue).flatMap(_.toDoubleOption), o(f.qtyUnit)) match {
          case (Some(v), Some(u)) => Some(Quantity(resolveLenient("unit", u), v))
          case (None, None)       => None
          case (v, u) => throw new IllegalStateException(
            s"patient $subject: quantity value/unit must appear in pairs (value=$v unit=$u)")
        }
        actions += MedicalAction(
          treatment = Some(Treatment(
            agent = resolve("drug", agent),
            routeOfAdministration = resolveOpt("treatment", o(f.route)),
            drugType = o(f.drugType),
            cumulativeDose = dose)),
          treatmentTarget = resolveOpt("hpo", o(f.target)),
          treatmentIntent = resolveOpt("treatment", o(f.intent)),
          responseToTreatment = resolveOpt("treatment", o(f.response)),
          treatmentTerminationReason = resolveOpt("treatment", o(f.termination)))
      }
    }

    // --- B6: finalize --------------------------------------------------
    Phenopacket(
      id = packetId,
      subject = individual,
      phenotypicFeatures = (features.values ++ extraFeatures).toSeq,
      measurements = measurements.toSeq,
      diseases = diseaseList.toSeq,
      interpretations = interpretations.values.toSeq,
      medicalActions = actions.toSeq,
      metaData = MetaData(
        created = config.created,
        createdBy = config.createdBy,
        submittedBy = Option(config.submittedBy).filter(_.nonEmpty),
        resources = resources.values.toSeq))
  }
}

/** C5 gene/variant classification (reference
  * `transform/pathogenic_gene_variant_info.rs:5-106`): (genes, variants)
  * counts map to none / causative-gene / single / homozygous /
  * compound-het; anything else errors.
  *
  * Variant descriptors are completed through the offline
  * [[graft.ontology.HgvsResolver]] cache (the stand-in for the
  * reference's `pivotal::hgvs::CachedHGVSClient`,
  * phenopacket_builder.rs:322-341): original + derived genomic/protein
  * expressions, VcfRecord, and a validated gene pairing. Gene symbols
  * resolve to real numeric HGNC CURIEs through the `gene`-scoped
  * dictionary (reference resolves via its HGNC client,
  * phenopacket_builder.rs:297-310 — fabricated `HGNC:<symbol>` ids are
  * an error here, not a fallback).
  */
object GenomicInterpretations {

  /** One owner of the HGVS shape rule: [[graft.ontology.HgvsResolver.isValidShape]]
    * — a duplicate regex lookup here would let validation and
    * resolution drift apart when the shape check tightens.
    */
  def isValidHgvs(v: String): Boolean =
    graft.ontology.HgvsResolver.isValidShape(v)

  def classify(subject: String, genes: Seq[String], variants: Seq[String],
      resolve: (String, String) => OntologyClass,
      hgvs: HgvsResolver): Seq[GenomicInterpretation] = {
    variants.filterNot(isValidHgvs) match {
      case Seq() => ()
      case bad => throw new IllegalStateException(
        s"patient $subject: malformed HGVS expression(s): ${bad.mkString(", ")}")
    }

    def geneDescriptor(g: String): GeneDescriptor = {
      // Symbol → numeric HGNC CURIE via the gene-scoped dictionary
      // (dictionary rows are (HGNC:nnnn, SYMBOL)); resolve() also
      // registers the hgnc resource in the packet metadata.
      val oc = resolve("gene", g)
      GeneDescriptor(valueId = oc.id, symbol = oc.label)
    }

    def variantGi(v: String, allelicState: String, gene: Option[String]): GenomicInterpretation = {
      val entry = hgvs.resolve(v)
      // Reference validate_against_gene: a cached variant that names a
      // different gene than the block's HGNC column is a data error.
      (entry.geneSymbol, gene) match {
        case (Some(vg), Some(bg)) if !vg.equalsIgnoreCase(bg.trim) =>
          throw new IllegalStateException(
            s"patient $subject: variant $v belongs to gene $vg, not $bg")
        case _ => ()
      }
      // Resource registration order per variant: hgnc then geno
      // (reference upsert_interpretation, phenopacket_builder.rs:322-341).
      val geneCtx = gene.map(geneDescriptor)
      val allelic = resolve("allelic", allelicState)
      GenomicInterpretation(
        subjectOrBiosampleId = subject,
        interpretationStatus = "UNKNOWN_STATUS", // protobuf default, as the reference leaves it
        variantInterpretation = Some(VariantInterpretation(
          acmgPathogenicityClassification = Some("PATHOGENIC"),
          therapeuticActionability = Some("UNKNOWN_ACTIONABILITY"),
          variationDescriptor = Some(VariationDescriptor(
            // Deterministic UUID (the reference draws a random one and
            // its own comparator normalizes it away) — determinism keeps
            // Spark task retries idempotent.
            id = java.util.UUID.nameUUIDFromBytes(
              s"$subject|$v".getBytes("UTF-8")).toString,
            expressions = entry.expressions.map { case (syn, value) => VcfExpression(syn, value) },
            vcfRecord = entry.vcf.map { case (asm, chrom, pos, ref, alt) =>
              VcfRecord(asm, chrom, pos, ref, alt) },
            moleculeContext = Some("genomic"),
            allelicState = Some(allelic),
            geneContext = geneCtx)))))
    }

    (genes.length, variants.length) match {
      case (0, 0) => Seq.empty
      case (1, 0) => Seq(GenomicInterpretation(
        subjectOrBiosampleId = subject,
        interpretationStatus = "UNKNOWN_STATUS",
        gene = Some(geneDescriptor(genes.head))))
      case (0, 1) | (1, 1) => Seq(variantGi(variants.head, "heterozygous", genes.headOption))
      case (0, 2) | (1, 2) =>
        if (variants(0) == variants(1))
          Seq(variantGi(variants.head, "homozygous", genes.headOption))
        else variants.map(v => variantGi(v, "heterozygous", genes.headOption))
      case (g, v) => throw new IllegalStateException(
        s"invalid quantity of genes $g and variants $v for patient $subject")
    }
  }
}

/** B5 — parse a cell into a protobuf TimeElement: date/datetime →
  * RFC-3339 timestamp; ISO-8601 duration → Age; anything else is an
  * ERROR, exactly like the reference (`transform/utils.rs:34-51`
  * returns None and every builder call site maps that to a
  * ParsingError — junk never rides silently into a packet).
  *
  * Dates and datetimes go through the preprocessor's parser, the JVM
  * side of [[graft.functions.MultiFormatParse]] (the formats of
  * `Casts.datetimeFormats`, RFC-822, then `Casts.dateFormats` at
  * midnight), as the reference's builder reuses its cast cascade
  * (`data_processing/parsing.rs`). Impossible days (`2021-02-29`)
  * are rejected, not clamped. Naive datetimes are taken as UTC (the
  * reference's `Utc.from_utc_datetime`); the instant keeps
  * microseconds, Spark's precision.
  */
object TimeParse {
  import graft.functions.MultiFormatParse
  import org.apache.spark.sql.catalyst.util.DateTimeUtils
  import org.apache.spark.unsafe.types.UTF8String
  import java.time.{Instant, ZoneOffset}

  private val IsoDuration = graft.functions.DateTimeFns.iso8601DurationRegex.r

  private def parseInstant(s: String): Option[Instant] =
    Option(MultiFormatParse.timestampBoxed(UTF8String.fromString(s), ZoneOffset.UTC))
      .map(micros => DateTimeUtils.microsToInstant(micros))

  /** RFC-3339 timestamp string for a date/datetime cell, or error
    * (reference `try_parse_timestamp(...).ok_or(ParsingError)`).
    */
  def toTimestampString(v: String): String =
    parseInstant(v.trim).map(_.toString).getOrElse(
      throw new IllegalStateException(s"could not parse timestamp: '$v'"))

  def parse(v: String): TimeElement = {
    val s = v.trim
    if (IsoDuration.findFirstIn(s).isDefined) TimeElement(age = Some(Age(s)))
    else parseInstant(s).map(i => TimeElement(timestamp = Some(i.toString)))
      .getOrElse(throw new IllegalStateException(
        s"could not parse time element: '$s' is neither a date/datetime nor an ISO-8601 duration"))
  }
}

package graft.ontology

/** A resolved ontology term. */
final case class OntologyClass(id: String, label: String)

/** Provenance of an ontology resource, for packet MetaData (reference
  * `transform/cached_resource_resolver.rs`, phenopacket `Resource`).
  */
final case class Resource(
    id: String, name: String, url: String,
    version: String, namespacePrefix: String, iriPrefix: String)

/** Bidirectional ontology dictionary (reference
  * `phenoxtract/src/ontology/ontology_bidict.rs:8-136`): case-insensitive
  * label/synonym → CURIE, and CURIE → canonical label. Driver-side
  * construction; broadcast to executors by the strategies that use it.
  */
final case class BiDict(
    resource: Resource,
    labelToId: Map[String, String],
    synonymToId: Map[String, String],
    idToLabel: Map[String, String]) {

  def idForLabel(value: String): Option[String] = {
    val k = BiDict.norm(value)
    labelToId.get(k).orElse(synonymToId.get(k))
  }

  def labelForId(id: String): Option[String] = idToLabel.get(id.trim)

  /** Resolve a cell value that may be a CURIE or a label/synonym
    * (reference `transform/bidict_library.rs:46-70`): CURIEs must be
    * known ids; other strings go through the label path.
    */
  def resolve(value: String): Option[OntologyClass] = {
    val v = value.trim
    if (BiDict.isCurie(v)) labelForId(v).map(l => OntologyClass(v, l))
    else idForLabel(v).map(id => OntologyClass(id, idToLabel(id)))
  }
}

object BiDict {
  private val CurieRe = "^[A-Za-z][A-Za-z0-9_.]*:\\S+$".r

  /** Label/synonym lookup normalization: Java trim + ROOT-locale
    * lowercase. Locale.ROOT (not the JVM default) so a host running
    * under tr_TR cannot store "I" as dotless "\u0131". Strategies that
    * probe cells against keys built by this rule apply this same
    * function to each cell in a UDF, never a Column re-spelling of it.
    */
  def norm(s: String): String = s.trim.toLowerCase(java.util.Locale.ROOT)
  def isCurie(s: String): Boolean = CurieRe.findFirstIn(s.trim).isDefined

  /** Build from (id, canonicalLabel, synonyms) triples.
    *
    * A normalized label/synonym that maps to MORE THAN ONE term id is
    * a loud error: `.toMap` would silently keep the last entry and
    * resolve("Fever") could return whichever term happened to load
    * later — wrong CURIEs with no signal. So is an id given two labels,
    * where the last would silently win. The same key repeated for ONE
    * id (a synonym equal to its own label, duplicated rows) is harmless
    * and kept.
    */
  def fromEntries(resource: Resource,
      entries: Seq[(String, String, Seq[String])]): BiDict = {
    def strict(pairs: Seq[(String, String)], what: String): Map[String, String] = {
      val conflicts = pairs.groupBy(_._1).collect {
        case (k, vs) if vs.map(_._2).distinct.size > 1 =>
          s"'$k' -> ${vs.map(_._2).distinct.mkString("/")}"
      }
      require(conflicts.isEmpty,
        s"${resource.id}: conflicting $what entries: " + conflicts.mkString("; "))
      pairs.toMap
    }
    val idToLabel = strict(entries.map { case (id, label, _) => id -> label }, "id")
    val labelToId = strict(
      entries.map { case (id, label, _) => norm(label) -> id }, "normalized label")
    val synonymToId = strict(
      entries.flatMap { case (id, _, syns) => syns.map(s => norm(s) -> id) },
      "normalized synonym")
    BiDict(resource, labelToId, synonymToId, idToLabel)
  }
}

/** Ordered collection of bidicts; first dict that resolves a value wins
  * (reference `transform/bidict_library.rs`). Also answers "which
  * resource did this term come from" for MetaData assembly.
  *
  * `scopes` mirrors the reference's per-class dictionary wiring
  * (`transform_context.rs`: hpo / disease / assay / unit /
  * qualitative-measurement / gene / allelic libraries are SEPARATE
  * BiDictLibraries): scope name → resource ids participating in that
  * resolution class. A scope absent from the map falls back to the
  * whole library, so unscoped configs keep the flat behavior.
  */
final case class BiDictLibrary(
    dicts: Seq[BiDict],
    scopes: Map[String, Seq[String]] = Map.empty) {

  def resolve(value: String): Option[(OntologyClass, Resource)] =
    resolveVia(dicts, value)

  /** Dicts participating in a resolution class. */
  def scoped(scope: String): Seq[BiDict] =
    scopes.get(scope) match {
      case Some(ids) => dicts.filter(d => ids.contains(d.resource.id))
      case None      => dicts
    }

  def resolveIn(scope: String, value: String): Option[(OntologyClass, Resource)] =
    resolveVia(scoped(scope), value)

  private def resolveVia(ds: Seq[BiDict], value: String): Option[(OntologyClass, Resource)] =
    ds.iterator
      .map(d => d.resolve(value).map(_ -> d.resource))
      .collectFirst { case Some(hit) => hit }

  /** Is the value resolvable by the dict with the given resource id? */
  def memberOf(resourceId: String, value: String): Boolean =
    dicts.filter(_.resource.id == resourceId).exists(_.resolve(value).isDefined)
}

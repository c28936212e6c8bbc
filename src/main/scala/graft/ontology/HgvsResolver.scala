package graft.ontology

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One resolved HGVS variant: the validated expression set (original
  * c./n. form plus derived genomic/protein forms), the VCF-style record,
  * and the gene symbol the variant belongs to.
  *
  * The reference resolves these through an external VariantValidator
  * client wrapped in an on-disk cache (`pivotal::hgvs::CachedHGVSClient`,
  * used by `phenopacket_builder.rs:322-341`); this offline resolver IS
  * that cache, pre-populated from a JSON file — same contract, no
  * network.
  */
final case class ResolvedHgvs(
    expressions: Seq[(String, String)], // (syntax, value) in emission order
    vcf: Option[(String, String, Long, String, String)], // assembly, chrom, pos, ref, alt
    geneSymbol: Option[String])

final case class HgvsResolver(entries: Map[String, ResolvedHgvs]) {

  /** Structural HGVS shape `<reference>:<scheme>.<change>` (reference
    * validates remotely; this is the offline precondition).
    */
  def isValidShape(v: String): Boolean = HgvsResolver.isValidShape(v)

  /** Coordinate-scheme letter of an HGVS string → expression syntax tag
    * (`c` → `hgvs.c`, `n` → `hgvs.n`, …).
    */
  def syntaxOf(v: String): String =
    "hgvs." + v.split(':').lift(1).flatMap(_.headOption).getOrElse('c')

  /** Resolve a variant: cached entry when present, else a minimal
    * single-expression descriptor from the string itself (the offline
    * degradation of a cache miss — the reference would fail the network
    * call; here the packet still carries the validated original form).
    */
  def resolve(v: String): ResolvedHgvs = {
    val key = v.trim
    entries.getOrElse(key, ResolvedHgvs(Seq(syntaxOf(key) -> key), None, None))
  }
}

object HgvsResolver {

  val HgvsRe: scala.util.matching.Regex = "^[A-Za-z][A-Za-z0-9_.]*:[cgmnopr]\\..+$".r

  /** THE shape rule — the instance method and every caller delegate
    * here so the check can never fork.
    */
  def isValidShape(v: String): Boolean = HgvsRe.findFirstIn(v.trim).isDefined

  val empty: HgvsResolver = HgvsResolver(Map.empty)

  /** Load the cache file:
    * `{ "<hgvs>": { "expressions": [{"syntax":…,"value":…},…],
    *                "vcf": {"genomeAssembly":…,"chrom":…,"pos":…,"ref":…,"alt":…},
    *                "gene": "SYMBOL" }, … }`
    * (`vcf` and `gene` optional).
    */
  def load(path: String): HgvsResolver = {
    val root = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
    val entries = root.properties().asScala.map { e =>
      val n = e.getValue
      val exprs = Option(n.get("expressions")).toSeq
        .flatMap(_.elements().asScala)
        .map(x => (x.get("syntax").asText(), x.get("value").asText()))
      val vcf = Option(n.get("vcf")).map(v =>
        (v.get("genomeAssembly").asText(), v.get("chrom").asText(),
          v.get("pos").asLong(), v.get("ref").asText(), v.get("alt").asText()))
      val gene = Option(n.get("gene")).map(_.asText())
      e.getKey -> ResolvedHgvs(exprs, vcf, gene)
    }.toMap
    HgvsResolver(entries)
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-site boilerplate-line removal — the RefinedWeb / trafilatura
  * cleaning rule the in-document ([[Dedup.dedupLinesWithinDoc]]) and
  * global-first-wins ([[Dedup.paragraphDedup]]) siblings cannot express:
  * a line that appears in a large enough FRACTION of one site's pages
  * (nav text, cookie banners, footers, share prompts) is boilerplate
  * *for that site* and is removed from EVERY page of the site —
  * including its first occurrence — while the same line on another site
  * with different page mix survives.
  *
  * Reference behavior context: the reference engine curates clinical
  * tables, not web corpora; this operator is part of the
  * training-data-pipeline surface built on the same engine.
  */
object Boilerplate {

  /** Remove from each document every line whose per-domain document
    * frequency crosses the boilerplate threshold:
    *
    *   df(domain, line) >= minDocs  AND
    *   df(domain, line) * 1000 >= ratioMilli * docs(domain)
    *
    * where df counts DISTINCT documents of the domain containing the
    * line and docs counts the domain's documents (input contract: one
    * row per document, the corpus-ops standard). The ratio is an
    * integer milli-fraction (500 = half the site's pages) — the repo's
    * engine-stable score-algebra stance: no float threshold whose
    * comparison could flip with summation order.
    *
    * Returns (id, text): surviving lines rejoined in original order;
    * a document whose every line was boilerplate (or whose text was
    * null) survives with empty text, mirroring [[Dedup.paragraphDedup]].
    *
    * Scale shape — bodies never ride a skewed shuffle:
    *  1. digest-keyed metadata aggregate for df(domain, line): the
    *     (domain, fp, id) projection is distinct'd then counted, both
    *     map-side-combinable, 16-byte digests + ids only;
    *  2. the boilerplate digest set anti-joins the METADATA projection
    *     (domain, fp, id, pos) — a corpus-wide hot line funnels only
    *     digest rows, never bodies;
    *  3. survivors' (id, pos) semi-join the bodied line rows keyed by
    *     (id, pos) — uniformly distributed by construction — and
    *     reassembly groups by id. Bodies therefore ride exactly two
    *     uniform shuffles, like paragraphDedup.
    * The line rows are recomputed from the scan on both sides of step
    * 3 rather than cached: a 100 TB corpus does not fit executor
    * storage, and the scan is column-pruned + codegen'd.
    */
  def domainBoilerplate(df: DataFrame, idCol: String, domainCol: String,
      textCol: String, ratioMilli: Int = 500, minDocs: Int = 2,
      sep: String = "\n"): DataFrame = {
    require(ratioMilli > 0 && ratioMilli <= 1000,
      s"ratioMilli must be in (0, 1000], got $ratioMilli")
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")

    def lineRows(withBody: Boolean): DataFrame = {
      val rows = df.select(col(idCol).as("id"), col(domainCol).as("domain"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      val fp = md5(col("line")).as("__fp")
      if (withBody) rows.select(col("id"), col("pos"), col("domain"), fp,
        col("line"))
      else rows.select(col("id"), col("pos"), col("domain"), fp)
    }

    // df(domain, line): distinct docs containing the line, digests only.
    val docFreq = lineRows(withBody = false)
      .select(col("domain"), col("__fp"), col("id")).distinct()
      .groupBy(col("domain"), col("__fp"))
      .agg(count(lit(1)).as("__df"))

    // docs(domain): input contract is one row per document.
    val domainDocs = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("__docs"))

    val boiler = docFreq
      .join(domainDocs, Seq("domain"))
      .where(col("__df") >= minDocs &&
        col("__df") * lit(1000L) >= lit(ratioMilli.toLong) * col("__docs"))
      .select(col("domain"), col("__fp"))

    // Metadata-only anti-join, then a uniform bodied semi-join.
    val survivingIds = lineRows(withBody = false)
      .join(boiler, Seq("domain", "__fp"), "left_anti")
      .select(col("id"), col("pos"))

    val kept = lineRows(withBody = true)
      .join(survivingIds, Seq("id", "pos"), "left_semi")

    val reassembled = kept
      .groupBy(col("id"))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          s => s.getField("line"))).as("text"))

    df.select(col(idCol).as("id")).distinct()
      .join(reassembled, Seq("id"), "left")
      .select(col("id"), coalesce(col("text"), lit("")).as("text"))
  }

  /** The boilerplate digest set itself — (domain, line) pairs crossing
    * the threshold, with their per-domain document frequency and the
    * domain size. The observability half of [[domainBoilerplate]]:
    * pipelines audit WHAT a site's boilerplate is before deleting it.
    * Carries the line BODY via the same min-struct trick as
    * paragraphDedup: the aggregate ships one (digest, body) row per
    * input partition, never a per-occurrence funnel.
    */
  def domainBoilerplateSet(df: DataFrame, idCol: String, domainCol: String,
      textCol: String, ratioMilli: Int = 500, minDocs: Int = 2,
      sep: String = "\n"): DataFrame = {
    require(ratioMilli > 0 && ratioMilli <= 1000,
      s"ratioMilli must be in (0, 1000], got $ratioMilli")
    // Same guard as domainBoilerplate: a minDocs <= 0 would silently
    // disable the small-domain floor, auditing a set the removal op
    // would loudly reject.
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val rows = df.select(col(idCol).as("id"), col(domainCol).as("domain"),
      explode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as("line"))
      .select(col("id"), col("domain"), md5(col("line")).as("__fp"),
        col("line"))
    val perDoc = rows
      .groupBy(col("domain"), col("__fp"), col("id"))
      .agg(min(col("line")).as("line"))
    val freq = perDoc
      .groupBy(col("domain"), col("__fp"))
      .agg(count(lit(1)).as("doc_freq"), min(col("line")).as("line"))
    val domainDocs = df.groupBy(col(domainCol).as("domain"))
      .agg(count(lit(1)).as("domain_docs"))
    freq.join(domainDocs, Seq("domain"))
      .where(col("doc_freq") >= minDocs &&
        col("doc_freq") * lit(1000L) >= lit(ratioMilli.toLong) * col("domain_docs"))
      .select(col("domain"), col("line"), col("doc_freq"), col("domain_docs"))
  }
}

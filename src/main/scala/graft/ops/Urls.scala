package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL curation — the web-corpus intake steps every CCNet/RefinedWeb-
  * style pipeline runs before content dedup: canonicalize the URL,
  * drop exact re-crawls of the same canonical URL, and roll quality
  * decisions up to the registrable domain.
  *
  * Everything here is row-local column algebra over builtin functions
  * (regexp/split/filter/array_sort — codegen'd, shuffle-free), and
  * deliberately avoids `parse_url` so the SAME normalization is
  * replayable in ANSI SQL for the oracle. The only digest-keyed
  * shuffle in the module ([[dedupByUrl]]'s loser-list window) carries
  * 16-byte digests + ids, never URL text — the [[Dedup]] stance.
  *
  * Canonicalization rules (the curation-standard set):
  *  - scheme and host lowercase; userinfo stripped;
  *  - default ports stripped (`:80` for http, `:443` for https);
  *  - leading `www.` stripped;
  *  - trailing `/` runs stripped from the path (`/a/` == `/a`, and
  *    the root path renders empty);
  *  - fragment dropped;
  *  - tracking parameters dropped ([[trackingParamRegex]]: `utm_*`,
  *    click ids, mailchimp ids), remaining parameters sorted
  *    byte-wise so parameter order never splits a URL identity.
  * Rows that do not look like `scheme://host…` normalize to null —
  * an un-parseable URL has no canonical identity (callers keep or
  * drop those rows explicitly; [[dedupByUrl]] keeps them).
  */
object Urls {

  /** Query parameters that never carry content identity. Kept as one
    * anchored regex so the DuckDB oracle can mirror it verbatim.
    */
  val trackingParamRegex: String =
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref)(=.*)?$"

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val HostRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  private val PathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"

  /** Lowercased host of the canonical form: userinfo, default port
    * and leading `www.` stripped. Null when `url` has no scheme://host.
    */
  def hostOf(url: Column): Column = {
    val scheme = lower(regexp_extract(url, SchemeRe, 1))
    val hostport = lower(regexp_extract(url, HostRe, 1))
    val noUser = regexp_replace(hostport, "^[^@]*@", "")
    val noPort = when(scheme === "http", regexp_replace(noUser, ":80$", ""))
      .when(scheme === "https", regexp_replace(noUser, ":443$", ""))
      .otherwise(noUser)
    val host = regexp_replace(noPort, "^www\\.", "")
    when(scheme === "" || host === "", lit(null)).otherwise(host)
  }

  /** Canonical URL string per the object doc, or null for rows without
    * a parseable `scheme://host` prefix.
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, SchemeRe, 1))
    val host = hostOf(url)
    val path = regexp_replace(regexp_extract(url, PathRe, 1), "/+$", "")
    val rawQ = regexp_extract(url, "[?]([^#]*)", 1)
    val params = filter(split(rawQ, "&"),
      p => p =!= "" && !p.rlike(trackingParamRegex))
    val qs = array_join(array_sort(params), "&")
    when(host.isNull, lit(null)).otherwise(concat(
      scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** Multi-part public suffixes recognized by [[registrableDomain]].
    * A deliberate short list of the common ccTLD second levels — the
    * full public-suffix list is a data file a deployment would load;
    * the ALGORITHM (suffix match → keep one extra label) is the same.
    * Canonical home: [[graft.functions.UrlDomains.multiPartSuffixes]]
    * (the native twin must recognize the identical set).
    */
  val multiPartSuffixes: Seq[String] =
    graft.functions.UrlDomains.multiPartSuffixes

  /** url → registrable domain as ONE native codegen'd call — the
    * semantic equal of `registrableDomain(hostOf(url))` (equivalence
    * property in UrlsSpec), for codegen contexts where the column
    * chain's self-references re-expand without subexpression
    * elimination (join keys, post-explode projections) and can blow
    * janino's 64 KB method limit. Also ~5 regex executions per row
    * cheaper — prefer it on hot corpus paths.
    */
  def registrableDomainOfUrl(url: Column): Column =
    graft.functions.GraftExtensions.url_registrable_domain(url)

  /** Registrable domain (eTLD+1 approximation) of a HOST column: the
    * last two labels, or three when the last two form a known
    * multi-part suffix. Null host → null.
    */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val lastTwo = array_join(slice(labels, n - 1, lit(2)), ".")
    val take = when(n >= 3 && lastTwo.isin(multiPartSuffixes: _*), 3).otherwise(2)
    when(host.isNull, lit(null))
      .when(n <= 2, host)
      .otherwise(array_join(slice(labels, n - take + 1, take), "."))
  }

  /** Drop re-crawls: keep ONE row (smallest `idCol`) per canonical
    * URL. Rows whose URL does not normalize (null canonical) are KEPT
    * — they have no URL identity to collide on — and so are null-id
    * rows (an equi-anti-join never matches null).
    *
    * Shape: the [[Dedup.keepBestOfCluster]] loser-list idiom. The
    * canonical-digest shuffle carries only (md5(canonical), id) — never URL or
    * document text — and produces the LOSER id list; the corpus is
    * then anti-joined on id alone, which broadcasts whenever the
    * loser list is small (the common case: most URLs are unique) and
    * degrades to an id-keyed join with a narrow build side otherwise.
    */
  def dedupByUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = df.select(col(idCol).as("__url_uid"),
      md5(normalizeUrl(col(urlCol))).as("__url_canon"))
    val byCanon = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__url_canon")).orderBy(col("__url_uid"))
    val losers = canon.filter(col("__url_canon").isNotNull)
      .withColumn("__url_rk", row_number().over(byCanon))
      .filter(col("__url_rk") =!= 1)
      .select(col("__url_uid"))
    df.join(losers, df(idCol) === losers("__url_uid"), "left_anti")
  }

  /** Cap documents per registrable domain — the RefinedWeb-style guard
    * against one site dominating a corpus: keep at most `cap` rows per
    * domain, preferring `orderBy` (e.g. a quality score, descending)
    * with `idCol` as the deterministic tiebreak. Rows whose URL has no
    * registrable domain are ALL kept — no identity to cap on.
    *
    * Shape: one `row_number` window filtered to `<= cap`, which Spark's
    * InferWindowGroupLimit rewrites into a map-side group-limit prune —
    * losers die before the shuffle writes them. The no-domain rows ride
    * the SAME single pass instead of a second scan + union: the window
    * partitions on (domain, salt) where salt is 0 for domained rows and
    * the row's own id otherwise, so each null-domain row is a singleton
    * partition (rank 1, always kept) and the classic all-nulls-in-one-
    * reducer skew straggler cannot exist.
    */
  def capPerDomain(df: DataFrame, idCol: String, urlCol: String, cap: Int,
      orderBy: Seq[Column] = Nil): DataFrame = {
    require(cap > 0, s"capPerDomain: cap must be positive, got $cap")
    val dom = registrableDomainOfUrl(col(urlCol))
    val salt = when(dom.isNull, col(idCol)).otherwise(lit(null))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(dom, salt).orderBy(orderBy :+ col(idCol): _*)
    df.withColumn("__url_rk", row_number().over(w))
      .filter(col("__url_rk") <= cap)
      .drop("__url_rk")
  }

  /** Drop rows whose registrable domain is on a blocklist — the
    * domain-level deny list every web-corpus intake applies (spam,
    * SEO farms, known-bad hosts). `blocked` is a config-sized table
    * with a `domain` column (any case); it is broadcast, so the corpus
    * never shuffles. Duplicate blocklist rows are harmless under an
    * anti-join (no distinct pass needed), and rows with no registrable
    * domain never match — they are kept, same stance as [[dedupByUrl]].
    */
  def filterBlockedDomains(df: DataFrame, urlCol: String,
      blocked: DataFrame): DataFrame = {
    require(blocked.columns.contains("domain"),
      s"filterBlockedDomains: blocklist needs a 'domain' column, " +
        s"got [${blocked.columns.mkString(", ")}]")
    val b = broadcast(blocked.select(lower(col("domain")).as("__url_blk")))
    // The join key is the NATIVE expression (one static call), not the
    // five-regex column chain: join keys get no subexpression
    // elimination, so the chain's ~8× self-references expanded
    // multiplicatively there and blew janino's 64 KB method limit
    // (silently knocking the stage to interpreted eval). The native
    // call is immune by construction — and ~5 regex evals per row
    // cheaper. The probe side is already lowercase (hostOf semantics),
    // matching the lowered blocklist.
    df.join(b, registrableDomainOfUrl(col(urlCol)) === col("__url_blk"),
      "left_anti")
  }

  /** Thresholds for [[urlQualitySignals]] — the FineWeb/RefinedWeb-style
    * URL-shape heuristics applied before any content is even fetched:
    * deep paths and long parameter lists mark calendar/faceted-search
    * crawler traps, digit-heavy hosts mark auto-generated spam domains,
    * and a word blocklist marks adult/gambling boilerplate sites.
    * Every threshold is an integer and every decision below is integer
    * arithmetic — no float ratio ever feeds a keep decision (the
    * engine-stability stance used throughout the quality ops).
    *
    * `blockedWords` entries must be lowercase and are matched as plain
    * substrings of the lowercased URL (no regex — so the list is
    * trivially replayable in any oracle engine).
    */
  final case class UrlQualityConfig(
      maxPathDepth: Int = 6,
      maxParams: Int = 4,
      maxHostDigitPermille: Int = 300,
      maxUrlLen: Int = 200,
      blockedWords: Seq[String] = Seq("casino", "viagra", "xxx")) {
    require(maxPathDepth >= 0 && maxParams >= 0 && maxUrlLen > 0,
      "urlQuality: thresholds must be non-negative (maxUrlLen positive)")
    require(maxHostDigitPermille >= 0 && maxHostDigitPermille <= 1000,
      s"urlQuality: maxHostDigitPermille must be in [0, 1000], got $maxHostDigitPermille")
    require(blockedWords.forall(w => w.nonEmpty && w == w.toLowerCase),
      "urlQuality: blockedWords must be non-empty lowercase literals")
  }

  /** URL-shape quality signals + keep decision, appended as columns:
    *
    *  - `path_depth`: non-empty path segments;
    *  - `n_params`: query parameters (tracking params included — they
    *    count toward crawler-trap shape even though [[normalizeUrl]]
    *    would drop them);
    *  - `host_digit_permille`: ⌊1000 · digit-chars / host-chars⌋ of
    *    the canonical host ([[hostOf]] — userinfo/port/www noise never
    *    inflates the ratio);
    *  - `url_len`, `has_blocked_word`;
    *  - `url_keep`: the conjunction — parseable host, every threshold
    *    respected, no blocked word. The digit test cross-multiplies
    *    (`digits·1000 ≤ permille·len`), exact at any host length.
    *
    * Row-local codegen'd string algebra: zero shuffles, streaming-safe
    * as-is. Unparseable URLs (null host) get `url_keep = false` with
    * null host-derived signals — quality pipelines drop what they
    * cannot attribute ([[dedupByUrl]] keeps such rows because dedup
    * has no identity to collide on; a KEEP decision is the opposite
    * stance and must be conservative).
    */
  def urlQualitySignals(df: DataFrame, urlCol: String,
      cfg: UrlQualityConfig = UrlQualityConfig()): DataFrame = {
    val url = col(urlCol)
    val host = hostOf(url)
    val path = regexp_extract(url, PathRe, 1)
    val pathDepth = size(filter(split(path, "/"), p => p =!= ""))
    // the query starts at the FIRST '?' BEFORE any '#': an unanchored
    // "[?]" would treat a '?' inside the fragment (hash-routed SPA
    // URLs) as a query and inflate n_params
    val rawQ = regexp_extract(url, "^[^#?]*[?]([^#]*)", 1)
    val nParams = size(filter(split(rawQ, "&"), p => p =!= ""))
    val hostDigits = length(regexp_replace(host, "[^0-9]", ""))
    val digitPermille = floor(hostDigits * lit(1000) / length(host))
    val lowered = lower(url)
    val blockedHit = cfg.blockedWords
      .map(w => lowered.contains(lit(w)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val keep = host.isNotNull &&
      pathDepth <= cfg.maxPathDepth &&
      nParams <= cfg.maxParams &&
      hostDigits * lit(1000) <= length(host) * lit(cfg.maxHostDigitPermille) &&
      length(url) <= cfg.maxUrlLen &&
      !blockedHit
    df.withColumn("path_depth", when(host.isNull, lit(null)).otherwise(pathDepth))
      .withColumn("n_params", when(host.isNull, lit(null)).otherwise(nParams))
      .withColumn("host_digit_permille",
        when(host.isNull, lit(null)).otherwise(digitPermille))
      .withColumn("url_len", length(url))
      .withColumn("has_blocked_word", blockedHit)
      .withColumn("url_keep", coalesce(keep, lit(false)))
  }
}

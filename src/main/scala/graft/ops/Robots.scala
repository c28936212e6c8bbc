package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** robots.txt exclusion (RFC 9309) — the crawl-politeness step between
  * WARC ingestion and URL curation: a corpus pipeline that republishes
  * or re-crawls must drop URLs the origin disallowed for its agent.
  *
  * Two pieces:
  *
  *  - [[applicableRules]]: a pure-JVM parser (same stance as
  *    [[Warc]]) from one robots.txt body + a user-agent to the rule
  *    list that governs that agent — group selection by most-specific
  *    user-agent token (longest case-insensitive token that is a
  *    substring of ours, `*` as fallback; same-token groups merge per
  *    RFC 9309 §2.2.1), `Allow`/`Disallow` values with the `*`
  *    wildcard and trailing-`$` anchor.
  *  - [[robotsDecisions]]: the distributed application. The robots
  *    TABLE (one row per host — millions of rows at web scale) parses
  *    once into a (host, rules) side; URL rows project to (id, host,
  *    path-and-query) — bodies and full URLs never ride the join.
  *    Longest-match-wins with Allow winning length ties (§2.2.2) is
  *    one map-side-combinable `max(struct(specificity, allow))`
  *    aggregate; no matching rule → allowed (§2.2.3).
  *
  * Matching subject is path + `?query` (fragment dropped), `/` when
  * the path is empty. Wildcard-free rules (the overwhelming majority
  * in real robots files) match via codegen'd `startswith`; only rules
  * containing `*`/`$` take the regex path. Percent-encoding
  * normalization (§2.2.2's octet comparison) is NOT applied — both
  * sides are compared as-scraped; a deployment feeding
  * percent-encoded URLs should canonicalize them first
  * ([[Urls.normalizeUrl]] territory).
  *
  * Skew note: the join key is the host, and hot hosts are real. The
  * rules side is per-host small, so the join broadcasts whenever the
  * robots table fits; past that it is an ordinary shuffle join and
  * [[SkewJoin.hotKeyJoin]] applies unchanged (`id`-keyed decisions,
  * so routing does not change semantics).
  */
object Robots {

  /** One rule from the group governing the caller's user agent.
    * `pattern` is the raw value (specificity = its length, §2.2.2);
    * `regex` is its anchored java-regex translation, present only
    * when the pattern needs one (contains `*` or a trailing `$`).
    */
  final case class Rule(allow: Boolean, pattern: String,
      regex: Option[String])

  /** Parse one robots.txt body and return the rules applicable to
    * `userAgent`, RFC 9309 group selection applied. Unknown lines and
    * comments are ignored; an empty-valued `Disallow:` (allow-all) is
    * dropped at parse time. A malformed or empty body yields no rules
    * (= everything allowed, §2.2.3 absence semantics).
    */
  def applicableRules(body: String, userAgent: String): Seq[Rule] = {
    if (body == null || userAgent == null) return Nil
    val ua = userAgent.toLowerCase
    // (groupTokens, rules) per group; consecutive User-agent lines
    // share one group. A rule line before any User-agent line is
    // ignored (it belongs to no group).
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[String],
        scala.collection.mutable.ArrayBuffer[(Boolean, String)])]
    var inHeader = false
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val i = line.indexOf(':')
      if (i > 0) {
        val key = line.substring(0, i).trim.toLowerCase
        val value = line.substring(i + 1).trim
        key match {
          // an empty User-agent value is malformed — reference parsers
          // drop the line (keeping it would mint a "" token that
          // substring-matches EVERY agent and shadows the '*' group)
          case "user-agent" if value.nonEmpty =>
            if (!inHeader) groups +=
              ((scala.collection.mutable.ArrayBuffer.empty[String],
                scala.collection.mutable.ArrayBuffer.empty[(Boolean, String)]))
            groups.last._1 += value.toLowerCase
            inHeader = true
          case "allow" | "disallow" if groups.nonEmpty =>
            inHeader = false
            if (value.nonEmpty) groups.last._2 += ((key == "allow", value))
          // sitemap / crawl-delay / unknown lines are IGNORED — they
          // neither split a run of consecutive User-agent lines nor end
          // a group's rule collection (RFC 9309 §2.2.4: other records
          // "MUST NOT interfere with the group structure"; only a rule
          // line ends the header run)
          case _ => ()
        }
      }
    }
    // Most specific matching token across all groups: the longest
    // group token that is a substring of our agent; '*' (specificity
    // 0) as fallback. All groups carrying that winning token merge.
    val tokens = groups.flatMap(_._1).distinct
    val matching = tokens.filter(t => t == "*" || ua.contains(t))
    if (matching.isEmpty) return Nil
    val winner = matching.maxBy(t => if (t == "*") 0 else t.length)
    groups.filter(_._1.contains(winner)).flatMap(_._2).toSeq.map {
      case (allow, pattern) => Rule(allow, pattern, translate(pattern))
    }
  }

  /** Anchored java-regex for a wildcard pattern, or None when plain
    * `startswith` suffices. `*` spans anything; `$` anchors only at
    * the end (elsewhere it is literal, per RFC 9309 §2.2.3's special
    * characters).
    */
  private[ops] def translate(pattern: String): Option[String] = {
    val anchored = pattern.endsWith("$")
    val body = if (anchored) pattern.dropRight(1) else pattern
    if (!anchored && !body.contains('*')) return None
    val quoted = body.split("\\*", -1)
      .map(s => if (s.isEmpty) "" else java.util.regex.Pattern.quote(s))
      .mkString(".*")
    Some("^" + quoted + (if (anchored) "$" else ""))
  }

  private val PathQRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)"

  /** Per-URL verdicts: `(idCol, allowed)` — one row per input row.
    * `robots` is a (hostCol, bodyCol) table, one body per host; hosts
    * are matched against the URL's canonical host ([[Urls.hostOf]] —
    * lowercased, www/userinfo/default-port stripped), so feed hosts
    * in that form. URLs with no robots row, an unparseable host, or
    * no matching rule are allowed.
    */
  def robotsDecisions(urls: DataFrame, idCol: String, urlCol: String,
      robots: DataFrame, hostCol: String, bodyCol: String,
      userAgent: String): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val ua = userAgent
    // rules-per-host: dimension-sized (hosts × rules); the typed
    // flatMap is off the corpus path by construction
    val rules = robots.select(col(hostCol).cast("string"),
        col(bodyCol).cast("string"))
      .as[(String, String)]
      .flatMap { case (host, body) =>
        if (host == null) Nil
        else applicableRules(body, ua).map(r =>
          (host.toLowerCase, r.allow, r.pattern, r.regex.orNull,
            r.pattern.length))
      }
      .toDF("__rb_host", "__rb_allow", "__rb_pat", "__rb_re", "__rb_len")
    val pathq = regexp_extract(col(urlCol), PathQRe, 1)
    val slim = urls.select(col(idCol).as("__rb_id"),
      Urls.hostOf(col(urlCol)).as("__rb_host"),
      when(pathq === "", "/").otherwise(pathq).as("__rb_pq"))
    val matched = when(col("__rb_re").isNull,
        col("__rb_pq").startsWith(col("__rb_pat")))
      .otherwise(regexp_like(col("__rb_pq"), col("__rb_re")))
    // losers of the longest-match contest drop out of the max struct;
    // Allow wins length ties because true > false in struct order
    val verdicts = slim
      .join(rules, Seq("__rb_host"), "left")
      .withColumn("__rb_hit",
        when(col("__rb_pat").isNotNull && matched,
          struct(col("__rb_len"), col("__rb_allow"))))
      .groupBy(col("__rb_id"))
      .agg(max(col("__rb_hit")).as("__rb_win"))
      .select(col("__rb_id").as(idCol),
        coalesce(col("__rb_win.__rb_allow"), lit(true)).as("allowed"))
    verdicts
  }
}

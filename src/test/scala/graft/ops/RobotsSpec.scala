package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** RFC 9309 robots.txt semantics ([[Robots]]): group selection,
  * longest-match-wins with Allow tie precedence, wildcard/anchor
  * translation, default-allow, and the distributed decision shape.
  */
class RobotsSpec extends SparkSpec {
  import spark.implicits._

  private val body =
    """# comment line
      |User-agent: evilbot
      |Disallow: /
      |
      |User-agent: graft
      |User-agent: otherbot
      |Allow: /public
      |Disallow: /pub
      |Disallow:
      |
      |User-agent: *
      |Disallow: /private
      |Crawl-delay: 10
      |""".stripMargin

  test("group selection: most specific UA token wins; same-token groups merge; fallback to *") {
    // 'graft' is a substring of 'GraftBot/2.1' → that group governs
    val rules = Robots.applicableRules(body, "GraftBot/2.1")
    assert(rules.map(r => (r.allow, r.pattern)) ==
      Seq((true, "/public"), (false, "/pub")))
    // unknown agent falls back to the * group
    val star = Robots.applicableRules(body, "SomethingElse")
    assert(star.map(r => (r.allow, r.pattern)) == Seq((false, "/private")))
    // a second group with the SAME token merges (RFC 9309 §2.2.1)
    val merged = Robots.applicableRules(
      "User-agent: a\nDisallow: /x\n\nUser-agent: a\nDisallow: /y\n", "a")
    assert(merged.map(_.pattern) == Seq("/x", "/y"))
    // no matching group at all (no *) → no rules → everything allowed
    assert(Robots.applicableRules(
      "User-agent: onlybot\nDisallow: /\n", "GraftBot").isEmpty)
    assert(Robots.applicableRules(null, "a").isEmpty)
    assert(Robots.applicableRules("", "a").isEmpty)
  }

  test("non-rule lines neither split consecutive UA lines nor end rule collection; empty UA dropped") {
    // Crawl-delay between two User-agent lines must NOT split the group
    // — agent 'a' would otherwise silently lose every rule (allow-all)
    val split = "User-agent: a\nCrawl-delay: 10\nUser-agent: b\nDisallow: /private\n"
    assert(Robots.applicableRules(split, "a").map(_.pattern) == Seq("/private"))
    assert(Robots.applicableRules(split, "b").map(_.pattern) == Seq("/private"))
    // Sitemap between rules must not end the group either
    val mid = "User-agent: a\nDisallow: /x\nSitemap: http://e.com/s.xml\nDisallow: /y\n"
    assert(Robots.applicableRules(mid, "a").map(_.pattern) == Seq("/x", "/y"))
    // a malformed empty User-agent value would mint a "" token that
    // substring-matches EVERY agent and shadows '*' — it must be dropped
    val empty = "User-agent:\nDisallow: /a\n\nUser-agent: *\nDisallow: /b\n"
    assert(Robots.applicableRules(empty, "somebot").map(_.pattern) == Seq("/b"))
  }

  test("wildcard and anchor translation: * spans, trailing $ anchors, regex metachars stay literal") {
    assert(Robots.translate("/plain") == None)
    assert(Robots.translate("/a*b") == Some("^\\Q/a\\E.*\\Qb\\E"))
    assert(Robots.translate("/exact$") == Some("^\\Q/exact\\E$"))
    assert(Robots.translate("/a.b") == None) // '.' literal → plain prefix
    assert(Robots.translate("*.gif$") == Some("^.*\\Q.gif\\E$"))
  }

  test("decisions: longest match wins, Allow wins length ties, no-rule and no-host rows allowed") {
    val robots = Seq(
      ("a.com",
        "User-agent: *\nAllow: /p/ok\nDisallow: /p\nDisallow: /q$\nAllow: /q$\n"),
      ("b.com", "User-agent: *\nDisallow: /*.pdf$\n"))
      .toDF("host", "robots")
    val urls = Seq(
      (1L, "https://a.com/p/ok/page"),   // Allow /p/ok (6) beats /p (2)
      (2L, "https://a.com/p/nope"),      // Disallow /p
      (3L, "https://a.com/q"),           // tie at length 3: Allow wins
      (4L, "https://a.com/other"),       // no rule matches
      (5L, "https://b.com/doc/x.pdf"),   // wildcard+anchor denies
      (6L, "https://b.com/doc/x.pdf?v"), // query breaks the $ anchor
      (7L, "https://c.com/anything"),    // host without robots
      (8L, "not a url"))                 // unparseable host
      .toDF("doc_id", "url")
    val got = Robots.robotsDecisions(urls, "doc_id", "url",
        robots, "host", "robots", "AnyBot")
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> true,
      5L -> false, 6L -> true, 7L -> true, 8L -> true))
  }

  test("matching subject is path+query with '/' for empty; host matching uses the canonical host") {
    val robots = Seq(("a.com", "User-agent: *\nDisallow: /x?sort\n"))
      .toDF("host", "robots")
    val urls = Seq(
      (1L, "http://WWW.A.com/x?sort=asc"), // www/case noise; query matched
      (2L, "https://a.com/x?order=1"),     // same path, other query → allowed
      (3L, "https://a.com"))               // empty path → '/'
      .toDF("doc_id", "url")
    val got = Robots.robotsDecisions(urls, "doc_id", "url",
        robots, "host", "robots", "AnyBot")
      .as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true))
  }
}

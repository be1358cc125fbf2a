package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** URL/domain blocklist filtering: host extraction and suffix chains must
  * follow their documented normalization, both filter paths (broadcast-set
  * probe and explode+join fallback) must agree exactly, subdomains of a
  * blocked domain must be blocked while sibling domains survive, and the
  * broadcast path's hot stage must stay exchange-free.
  */
class WebOpsSpec extends AnyFunSuite with SparkSuite {
  private def urls(): DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "https://example.com/a"),
      (1L, "https://WWW.Bad.COM/x"),            // blocked: case + www
      (2L, "http://sub.bad.com:8080/y"),        // blocked: subdomain + port
      (3L, "https://notbad.com/z"),             // survives: sibling, not suffix
      (4L, "https://bad.com.evil.org/w"),       // survives: bad.com not a SUFFIX
      (5L, "ftp://deep.a.b.bad.com/q"),         // blocked: deep subdomain
      (6L, "relative/path/no/scheme"),          // null host -> passes through
      (7L, ""),                                 // null host -> passes through
      (8L, "https://localhost/l"),              // single label: no suffixes
      (9L, "https://tracker.net/p#frag"),       // blocked: second entry
      (10L, "https://anything@bad.com/e"),      // blocked: userinfo evasion
      (11L, "https://u:p@bad.com/e"),           // blocked: user:pass evasion
      (12L, "https://bad.com./e"),              // blocked: trailing-dot FQDN
      (13L, "http://x@sub.bad.com.:8080/e")     // blocked: all three combined
    ).toDF("doc_id", "url").repartition(3)
  }

  private def blocklist(): DataFrame = {
    val s = spark
    import s.implicits._
    // deliberately unnormalized entries: mixed case, www., whitespace
    Seq("  WWW.Bad.Com ", "tracker.NET", "").toDF("domain")
  }

  test("urlHost lowercases, strips www. and port; no scheme or empty -> null") {
    val got = urls().select(col("doc_id"), WebOps.urlHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(0L).contains("example.com"))
    assert(got(1L).contains("bad.com"))
    assert(got(2L).contains("sub.bad.com"))
    assert(got(5L).contains("deep.a.b.bad.com"))
    assert(got(6L).isEmpty && got(7L).isEmpty)
    assert(got(8L).contains("localhost"))
    // evasion vectors: userinfo (with and without password) and the
    // trailing FQDN dot must all resolve to the bare registered host
    assert(got(10L).contains("bad.com"))
    assert(got(11L).contains("bad.com"))
    assert(got(12L).contains("bad.com"))
    assert(got(13L).contains("sub.bad.com"))
  }

  test("hostSuffixes of a NULL host is NULL, not an empty array") {
    val s = spark
    import s.implicits._
    val got = Seq(Option.empty[String], Option("a.b"))
      .toDF("h").select(WebOps.hostSuffixes(col("h")).as("sufs"))
      .collect().map(r => Option(r.get(0)))
    assert(got(0).isEmpty, "NULL host must yield NULL (scaladoc contract)")
    assert(got(1).nonEmpty)
  }

  test("hostSuffixes yields every >=2-label suffix; single label yields none") {
    val s = spark
    import s.implicits._
    val got = Seq("a.b.example.com", "example.com", "localhost")
      .toDF("h").select(col("h"), WebOps.hostSuffixes(col("h")).as("sufs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("a.b.example.com") ==
      Seq("a.b.example.com", "b.example.com", "example.com"))
    assert(got("example.com") == Seq("example.com"))
    assert(got("localhost") == Seq.empty)
  }

  test("blocked domains and their subdomains drop; siblings and null hosts pass") {
    val got = WebOps.filterBlockedDomains(urls(), "url", blocklist())
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 3L, 4L, 6L, 7L, 8L), got.toString)
  }

  test("a trailing-dot blocklist entry blocks the bare host too") {
    val s = spark
    import s.implicits._
    val bl = Seq("bad.com.").toDF("domain")
    val flat = Seq((0L, "https://bad.com/x"), (1L, "https://ok.com/y"))
      .toDF("doc_id", "url")
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val got = WebOps.filterBlockedDomains(flat, "url", bl,
          maxBroadcastDomains = cap)
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L), s"cap=$cap got=$got")
    }
  }

  test("broadcast path equals the explode+join fallback exactly") {
    val a = WebOps.filterBlockedDomains(urls(), "url", blocklist())
      .collect().map(_.getLong(0)).toSet
    val b = WebOps.filterBlockedDomains(urls(), "url", blocklist(),
        maxBroadcastDomains = 0L)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, s"broadcast=$a fallback=$b")
  }

  test("plan: the broadcast path is exchange-free (text never shuffles)") {
    // un-repartitioned input: any Exchange in this plan would be the
    // operator's own doing
    val s = spark
    import s.implicits._
    val flat = Seq((0L, "https://example.com/a"), (1L, "https://bad.com/x"))
      .toDF("doc_id", "url")
    val plan = WebOps.filterBlockedDomains(flat, "url", blocklist())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected zero exchanges:\n$plan")
  }

  test("composes with canonicalizeUrl: canonical key of a survivor is stable") {
    val survivors = WebOps.filterBlockedDomains(urls(), "url", blocklist())
      .select(col("doc_id"), TextOps.canonicalizeUrl(col("url")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(survivors(0L) == "https://example.com/a")
  }

  // ---- robots.txt ---------------------------------------------------------

  test("robotsMatches: prefix, wildcard, and end-anchor semantics") {
    val m = WebOps.robotsMatches _
    assert(m("/a", "/abc"))              // prefix
    assert(m("/a*c", "/abc"))
    assert(m("/a*c", "/axxcY"))          // prefix after wildcard
    assert(m("/*.php", "/x/y.php"))
    assert(m("/a*c$", "/abc"))
    assert(!m("/a*c$", "/abcd"))         // anchored mismatch
    assert(m("/p$", "/p"))
    assert(!m("/p$", "/pq"))
    assert(!m("/b", "/abc"))
    assert(m("/*$", "/anything"))
    assert(m("/a**b", "/a-x-b"))         // consecutive stars
    assert(!m("/priv", "/pub/priv"))     // prefix means FROM THE START
  }

  test("parseRobots: groups, comments, CRLF, case, longest agent token, same-token merge") {
    val txt = "# policy\r\nUser-Agent: graft\r\nDisallow: /a # inline\r\n" +
      "User-agent: *\nDisallow: /b\n" +
      "Crawl-delay: 10\n" +
      "USER-AGENT: graft\nAllow: /a/ok\n" +
      "User-agent: g\nDisallow: /c\n" +
      "Disallow:\n" // empty value: restricts nothing
    val rules = WebOps.parseRobots(txt, "GraftBot/1.0")
    // winning token: "graft" (longest prefix of "graftbot/1.0"; beats "g"
    // and the * fallback); BOTH graft groups merge
    assert(rules.toSet == Set(
      WebOps.RobotsRule(false, "/a"), WebOps.RobotsRule(true, "/a/ok")),
      rules.mkString(","))
    // unknown agent falls back to the * group
    assert(WebOps.parseRobots(txt, "otherbot").toSet ==
      Set(WebOps.RobotsRule(false, "/b")))
    // no matching group at all -> no rules
    assert(WebOps.parseRobots("User-agent: x\nDisallow: /", "y").isEmpty)
    assert(WebOps.parseRobots(null, "y").isEmpty)
  }

  test("robotsAllowed: longest match wins, allow wins ties, no match allows") {
    val rules = Array(
      WebOps.RobotsRule(false, "/private/"),
      WebOps.RobotsRule(true, "/private/ok"))
    assert(!WebOps.robotsAllowed(rules, "/private/x"))
    assert(WebOps.robotsAllowed(rules, "/private/ok/y"), "longer allow wins")
    assert(WebOps.robotsAllowed(rules, "/public"))
    val tie = Array(WebOps.RobotsRule(false, "/p/"), WebOps.RobotsRule(true, "/p/"))
    assert(WebOps.robotsAllowed(tie, "/p/x"), "same-length tie resolves to allow")
    assert(WebOps.robotsAllowed(Array.empty, "/anything"))
  }

  test("robotsAllowedEncoded: decision-identical to robotsAllowed on random rule sets") {
    // the serving path sorts encoded rules by pattern length desc and
    // early-exits; it must agree with the reference decision for every
    // rule set and path — adversarial pieces included (*, $, empty, ties)
    val rnd = new scala.util.Random(42)
    val pieces = Array("/a", "/ab", "/a/", "*", "b", "$", "", "/priv", "c/")
    def randPattern(): String = {
      val n = rnd.nextInt(4)
      val body = (0 until n).map(_ => pieces(rnd.nextInt(pieces.length))).mkString
      if (body.endsWith("$") || rnd.nextInt(4) > 0) body else body + "$"
    }
    val paths = Array("/a", "/ab/x", "/a/bc", "/priv/x", "/c/", "", "/b$", "/abcabc")
    for (_ <- 1 to 400) {
      val rules = Array.fill(rnd.nextInt(6))(
        WebOps.RobotsRule(rnd.nextBoolean(), randPattern()))
      val encoded = rules.sortBy(-_.pattern.length)
        .map(r => (if (r.allow) "A" else "D") + r.pattern).toSeq
      for (p <- paths) {
        val ref = WebOps.robotsAllowed(rules, p)
        val got = WebOps.robotsAllowedEncoded(encoded, p)
        assert(got == ref,
          s"divergence on path '$p' rules ${rules.mkString(",")}: ref=$ref got=$got")
      }
    }
  }

  test("applyRobots: per-host decisions, missing robots and hostless rows allowed; robots side broadcasts") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (0L, "https://a.com/private/x"),   // a.com disallows /private/ -> false
      (1L, "https://a.com/pub"),         // -> true
      (2L, "https://b.com/anything"),    // b.com blocks all -> false
      (3L, "https://c.com/x"),           // no robots row -> true
      (4L, "not a url at all"),          // hostless -> true
      (5L, "https://A.com/private/y"))   // host case-insensitive -> false
      .toDF("doc_id", "url")
    val robots = Seq(
      ("a.com", "User-agent: *\nDisallow: /private/"),
      ("b.com", "User-agent: *\nDisallow: /")).toDF("host", "robots_txt")
    val out = WebOps.applyRobots(corpus, "url", robots, agent = "graftbot")
    val got = out.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(0L -> false, 1L -> true, 2L -> false, 3L -> true,
      4L -> true, 5L -> false), got.toString)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"robots side must broadcast against the URL stream:\n$plan")
  }

  test("applyRobots: fetched-form host keys (www./dot/case) match; duplicate hosts dedupe") {
    val s = spark; import s.implicits._
    val corpus = Seq(
      (0L, "https://www.a.com/private/x"),  // robots keyed "www.a.com" must apply
      (1L, "https://a.com/private/y"),      // bare form hits the same normalized row
      (2L, "https://b.com/x"))
      .toDF("doc_id", "url")
    val robots = Seq(
      ("www.a.com", "User-agent: *\nDisallow: /private/"),
      ("B.com.", "User-agent: *\nDisallow: /"),  // case + trailing FQDN dot
      ("B.com.", "User-agent: *\nDisallow: /"))  // duplicate row: must not multiply
      .toDF("host", "robots_txt")
    val out = WebOps.applyRobots(corpus, "url", robots, agent = "bot").collect()
    assert(out.length == 3, s"duplicate robots rows must not multiply corpus rows: ${out.length}")
    val got = out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(0L -> false, 1L -> false, 2L -> false), got.toString)
  }

  test("urlPath keeps the query when there is no path; empty user-agent cannot hijack") {
    val s = spark; import s.implicits._
    val paths = Seq("https://a.com?sort=x", "https://a.com/?sort=x",
      "https://a.com", "https://a.com/p?q=1#frag")
      .toDF("url").select(WebOps.urlPath(col("url"))).collect().map(_.getString(0))
    assert(paths.toSeq == Seq("/?sort=x", "/?sort=x", "/", "/p?q=1"), paths.mkString(","))
    // a malformed empty "User-agent:" line must not preempt the * group
    val rules = WebOps.parseRobots(
      "User-agent:\nDisallow: /secret/\n\nUser-agent: *\nDisallow: /", "anybot")
    assert(rules.toSet == Set(WebOps.RobotsRule(false, "/")), rules.mkString(","))
  }

  test("robotsMatches property: agrees with a regex reference on 5000 random pattern/path pairs") {
    // reference semantics: '*' -> '.*', everything else literal; prefix
    // match unless '$'-anchored (then whole-path match)
    def ref(pattern: String, path: String): Boolean = {
      val anchored = pattern.nonEmpty && pattern.last == '$'
      val p = if (anchored) pattern.dropRight(1) else pattern
      val rx = p.map {
        case '*' => ".*"
        case c => java.util.regex.Pattern.quote(c.toString)
      }.mkString
      val compiled = java.util.regex.Pattern.compile("^" + rx + (if (anchored) "$" else ""))
      if (anchored) compiled.matcher(path).matches()
      else compiled.matcher(path).find()
    }
    val rnd = new scala.util.Random(77)
    val patChars = "ab/*"
    val pathChars = "ab/"
    var checked = 0
    while (checked < 5000) {
      val pat = (1 to (1 + rnd.nextInt(7))).map(_ => patChars(rnd.nextInt(4))).mkString +
        (if (rnd.nextBoolean()) "$" else "")
      val path = "/" + (0 until rnd.nextInt(9)).map(_ => pathChars(rnd.nextInt(3))).mkString
      val got = WebOps.robotsMatches(pat, path)
      val want = ref(pat, path)
      assert(got == want, s"pattern '$pat' path '$path': matcher=$got regex=$want")
      checked += 1
    }
  }
}

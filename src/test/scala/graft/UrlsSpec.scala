package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Urls

class UrlsSpec extends SparkSpec {

  private def canon(url: String): Row = {
    val schema = StructType(Seq(StructField("u", StringType)))
    spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(List(Row(url))).asJava),
        schema)
      .select(Urls.canonicalize(col("u")).as("c"))
      .select("c.canonical_url", "c.host", "c.registrable_domain",
        "c.n_params_dropped")
      .collect()(0)
  }

  test("case, default port, fragment, tracking params, param order") {
    val r = canon(
      "HTTP://Example.COM:80/a/B?utm_source=x&z=2&fbclid=q&a=1#top")
    assert(r.getString(0) == "http://example.com/a/B?a=1&z=2")
    assert(r.getString(1) == "example.com")
    assert(r.getString(2) == "example.com")
    assert(r.getInt(3) == 2)
  }

  test("non-default port kept; https default port stripped") {
    assert(canon("https://h.example.org:443/p").getString(0)
      == "https://h.example.org/p")
    assert(canon("https://h.example.org:8443/p").getString(0)
      == "https://h.example.org:8443/p")
    assert(canon("http://h.example.org:443/p").getString(0)
      == "http://h.example.org:443/p") // 443 is not http's default
  }

  test("empty path normalizes to /; query-only URL keeps params") {
    assert(canon("https://example.com").getString(0)
      == "https://example.com/")
    assert(canon("https://example.com?b=2&a=1").getString(0)
      == "https://example.com/?a=1&b=2")
  }

  test("all params tracking: query disappears entirely") {
    val r = canon("https://example.com/x?utm_a=1&utm_b=2&gclid=3")
    assert(r.getString(0) == "https://example.com/x")
    assert(r.getInt(3) == 3)
  }

  test("userinfo dropped with the authority parse") {
    assert(canon("https://user:pw@Example.com/x").getString(1)
      == "example.com")
  }

  test("registrable domain: two-level public suffixes get three labels") {
    assert(canon("https://www.news.co.uk/a").getString(2) == "news.co.uk")
    assert(canon("https://a.b.news.co.uk/a").getString(2) == "news.co.uk")
    assert(canon("https://deep.sub.example.com/a").getString(2)
      == "example.com")
    assert(canon("https://localhost/a").getString(2) == "localhost")
  }

  test("scheme-less input is not a URL: canonical null, no crash") {
    val r = canon("not a url at all")
    assert(r.isNullAt(0))
  }

  test("percent-encodings: uppercase hex, unreserved decode, " +
      "malformed pass-through (RFC 3986 6.2.2)") {
    // path: %7e → ~ (unreserved), %2f → %2F (reserved stays encoded,
    // hex uppercased), %41 → A, %zz and a trailing %4 left alone
    val r = canon(
      "https://H.example.com/%7euser/%2fx%41%zz%4?p%61th=x%2f&a=1")
    assert(r.getString(0) ==
      "https://h.example.com/~user/%2FxA%zz%4?a=1&path=x%2F")
    // a pct-normalized key joins the tracking check: %75tm_q IS utm_q
    val t = canon("https://e.com/p?%75tm_q=1&b=2")
    assert(t.getString(0) == "https://e.com/p?b=2")
    assert(t.getInt(3) == 1)
    // '%' alone and '%%' survive untouched
    assert(canon("https://e.com/a%").getString(0) == "https://e.com/a%")
    assert(canon("https://e.com/a%%41").getString(0)
      == "https://e.com/a%A")
    // control-char escapes uppercase but NEVER decode (%1e is not
    // unreserved; a lookup off the low end must not alias into '~')
    assert(canon("https://e.com/a%1e%0a").getString(0)
      == "https://e.com/a%1E%0A")
  }

  test("param keys compare case-insensitively for tracking, byte-order for sort") {
    val r = canon("https://e.com/p?Z=1&UTM_SOURCE=x&A=2")
    assert(r.getString(0) == "https://e.com/p?A=2&Z=1")
    assert(r.getInt(3) == 1)
  }

  // ---- robots.txt ----

  private def robotsFixture(txt: String) = {
    val rs = StructType(Seq(StructField("host", StringType),
      StructField("txt", StringType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          List(Row("h.com", txt))).asJava), rs)
  }

  private def decide(txt: String, urls: (Long, String)*): Map[Long, (Boolean, String)] = {
    val us = StructType(Seq(StructField("id", LongType),
      StructField("url", StringType)))
    val u = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          urls.toList.map { case (i, p) => Row(i, p) }).asJava), us)
    Urls.robotsFilter(u, "id", "url", robotsFixture(txt), "host", "txt")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("allowed"),
          Option(r.getAs[String]("rule_path")).getOrElse(""))).toMap
  }

  test("longest-prefix rule wins; allow beats disallow on ties") {
    val txt = "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
    val got = decide(txt,
      1L -> "https://h.com/private/secret",
      2L -> "https://h.com/private/ok/page",
      3L -> "https://h.com/public/x")
    assert(got(1L) == (false, "/private"))
    assert(got(2L) == (true, "/private/ok"))
    assert(got(3L) == (true, ""))
  }

  test("hosts without a robots entry are allowed") {
    val got = decide("User-agent: *\nDisallow: /\n",
      1L -> "https://other.org/anything")
    assert(got(1L) == (true, ""))
  }

  test("comment, sitemap, and empty-Disallow lines are ignored") {
    val txt = "# hello\nSitemap: https://h.com/s.xml\nDisallow:\n" +
      "  disallow : /x\n"
    val got = decide(txt,
      1L -> "https://h.com/x/deep",
      2L -> "https://h.com/y")
    assert(got(1L) == (false, "/x")) // case/space-tolerant directive
    assert(got(2L) == (true, ""))    // empty Disallow never matches
  }

  test("Disallow / blocks the whole host") {
    val got = decide("User-agent: *\nDisallow: /\n",
      1L -> "https://h.com/", 2L -> "https://h.com/a/b?q=1")
    assert(got(1L)._1 == false && got(2L)._1 == false)
  }

  private def decideAs(agent: String, txt: String,
      urls: (Long, String)*): Map[Long, (Boolean, String)] = {
    val us = StructType(Seq(StructField("id", LongType),
      StructField("url", StringType)))
    val u = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          urls.toList.map { case (i, p) => Row(i, p) }).asJava), us)
    Urls.robotsFilter(u, "id", "url", robotsFixture(txt), "host", "txt",
        agent = agent)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("allowed"),
          Option(r.getAs[String]("rule_path")).getOrElse(""))).toMap
  }

  test("per-agent groups: most specific token wins, others IGNORED") {
    val txt = "User-agent: Googlebot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private\n\n" +
      "User-agent: graft\nDisallow: /graftonly\n\n" +
      "User-agent: graftbot\nUser-agent: extrabot\nAllow: /private/a\nDisallow: /private\n"
    // crawling as graftbot: the len-8 group wins over 'graft' (5) and
    // '*' (0); the Googlebot block-everything group never matches
    val got = decideAs("graftbot", txt,
      1L -> "https://h.com/private/a/x",
      2L -> "https://h.com/private/b",
      3L -> "https://h.com/graftonly/x", // 'graft' group IGNORED
      4L -> "https://h.com/open")
    assert(got(1L) == (true, "/private/a"))
    assert(got(2L) == (false, "/private"))
    assert(got(3L) == (true, ""))
    assert(got(4L) == (true, ""))
    // the multi-UA header attaches the same rules to extrabot
    val got2 = decideAs("extrabot", txt, 1L -> "https://h.com/private/b")
    assert(got2(1L) == (false, "/private"))
    // an unrelated crawler falls back to the '*' group
    val got3 = decideAs("otherbot", txt,
      1L -> "https://h.com/private/a/x", 2L -> "https://h.com/graftonly/x")
    assert(got3(1L) == (false, "/private"))
    assert(got3(2L) == (true, ""))
  }

  test("a matching group with no directives of the consumed class " +
      "still wins (RFC 9309 most-specific-only)") {
    // graftbot group holds only the empty-Disallow allow-all idiom:
    // once it matches, the '*' group is IGNORED entirely — falling
    // back to '*' rules here would over-block the whole crawl
    val txt = "User-agent: *\nDisallow: /private\n\n" +
      "User-agent: graftbot\nDisallow:\n"
    val got = decideAs("graftbot", txt, 1L -> "https://h.com/private/x")
    assert(got(1L) == (true, ""))
    // a rules-only graftbot group suppresses the '*' group's DELAY:
    // the host gets no delay row (callers default), never 4 s
    val txt2 = "User-agent: *\nCrawl-delay: 4\n\n" +
      "User-agent: graftbot\nDisallow: /y\n"
    assert(Urls.crawlDelays(robotsFixture(txt2), "host", "txt",
      "graftbot").collect().isEmpty)
    // and a delay-only graftbot group suppresses the '*' RULES
    val txt3 = "User-agent: *\nDisallow: /\n\n" +
      "User-agent: graftbot\nCrawl-delay: 2\n"
    val got3 = decideAs("graftbot", txt3, 1L -> "https://h.com/anything")
    assert(got3(1L) == (true, ""))
    // an unrelated crawler still reads the '*' group as before
    assert(decideAs("otherbot", txt,
      1L -> "https://h.com/private/x")(1L) == (false, "/private"))
  }

  test("wildcards: * spans segments, trailing $ anchors, mid-$ literal") {
    val txt = "User-agent: *\nDisallow: /*.pdf$\nAllow: /files/pub*\n" +
      "Disallow: /files\nDisallow: /cgi/a$b\n"
    val got = decide(txt,
      1L -> "https://h.com/files/doc.pdf",      // *.pdf$ (9) beats /files (6)... but pub?
      2L -> "https://h.com/files/doc.pdfx",     // $ anchor: no .pdf match → /files
      3L -> "https://h.com/files/pub/doc.pdf",  // tie len 10 vs 10? no: pub* = 10 ... see below
      4L -> "https://h.com/cgi/a$b/x",          // mid-$ is literal
      5L -> "https://h.com/cgi/ab/x")
    assert(got(1L) == (false, "/*.pdf$"))
    assert(got(2L) == (false, "/files"))
    // /files/pub* (11 chars) outranks /*.pdf$ (7) and /files (6)
    assert(got(3L) == (true, "/files/pub*"))
    assert(got(4L) == (false, "/cgi/a$b"))
    assert(got(5L)._1 == true)
  }

  test("equal-length equal-type rules report a deterministic rule_path") {
    // two same-length disallows BOTH match one path: max_by must break
    // the tie on rule_path (greatest wins), not map-side encounter
    // order — the bit-for-bit replay contract
    val both = decide("User-agent: *\nDisallow: /x\nAllow: /y\n" +
      "Disallow: /aa*\nDisallow: /a*a\n", 1L -> "https://h.com/aaa")
    assert(both(1L) == (false, "/aa*"))
    val rev = (1 to 3).map(_ => decide(
      "User-agent: *\nDisallow: /*b\nDisallow: /*a\n",
      1L -> "https://h.com/ab"))
    assert(rev.forall(_ == Map(1L -> (false, "/*b"))))
  }

  test("robotsFilter and politenessSchedule: shuffled joins give the broadcast answer") {
    val txt = "User-agent: *\nDisallow: /private\nAllow: /private/ok\nCrawl-delay: 2\n"
    val u = urlFrame(1L -> "https://h.com/private/x",
      2L -> "https://h.com/private/ok/y", 3L -> "https://h.com/pub",
      4L -> "https://other.com/private/z")
    def run() = (
      Urls.robotsFilter(u, "id", "url", robotsFixture(txt), "host", "txt"),
      Urls.politenessSchedule(u, "id", "url",
        Urls.crawlDelays(robotsFixture(txt), "host", "txt"), "host"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val (filt, sched) = run()
    assert(filt.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the small rules side is not broadcast by default")
    val (bFilt, bSched) = (rows(filt), rows(sched))
    withoutBroadcast {
      val (sFilt, sSched) = run()
      Seq(sFilt, sSched).foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin"), s"still broadcast:\n$plan")
      }
      assert(rows(sFilt) == bFilt)
      assert(rows(sSched) == bSched)
    }
    assert(bFilt.map(r => r(0) -> r(3)) ==
      Set(1L -> false, 2L -> true, 3L -> true, 4L -> true))
  }

  test("resolveUrl: every RFC 3986 reference class against one base") {
    val base = "https://h.example.com/dir/sub/page.html?q=1"
    def res(href: String): String = {
      val schema = StructType(Seq(StructField("b", StringType),
        StructField("h", StringType)))
      val r = spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            List(Row(base, href))).asJava), schema)
        .select(Urls.resolveUrl(col("b"), col("h")).as("r")).collect()(0)
      if (r.isNullAt(0)) null else r.getString(0)
    }
    assert(res("https://o.org/abs") == "https://o.org/abs")
    assert(res("//cdn.net/x.js") == "https://cdn.net/x.js")
    assert(res("/root/a/../b") == "https://h.example.com/root/b")
    assert(res("page2") == "https://h.example.com/dir/sub/page2")
    assert(res("../up/one") == "https://h.example.com/dir/up/one")
    assert(res("./same/dir/") == "https://h.example.com/dir/sub/same/dir/")
    assert(res("?page=2") ==
      "https://h.example.com/dir/sub/page.html?page=2")
    assert(res("#frag") ==
      "https://h.example.com/dir/sub/page.html?q=1#frag")
    assert(res("") == "https://h.example.com/dir/sub/page.html?q=1")
    assert(res("mailto:x@y.com") == "mailto:x@y.com")
    assert(res("sub//dbl") == "https://h.example.com/dir/sub/sub/dbl")
    // excess '..' drops at the root (RFC 5.2.4); trailing '..' keeps
    // the directory form; query+fragment ride the resolved path
    assert(res("../../../deep") == "https://h.example.com/deep")
    assert(res("..") == "https://h.example.com/dir/")
    assert(res("a/../b?x=1#y") == "https://h.example.com/dir/sub/b?x=1#y")
    // a scheme-less base is not resolvable
    val schema = StructType(Seq(StructField("b", StringType),
      StructField("h", StringType)))
    val r = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          List(Row("notabase", "/x"))).asJava), schema)
      .select(Urls.resolveUrl(col("b"), col("h")).as("r")).collect()(0)
    assert(r.isNullAt(0))
  }

  test("extractHrefs: quote styles, unquoted values, decoy tags and " +
      "attributes, document order") {
    val html = "<html><a href=\"/a\">x</a><p><A CLASS='k' HREF='/b'>y</A>" +
      "<a data-x='1' href = '/c'>z</a><a name='no-href'>w</a>" +
      // minified unquoted value stops at whitespace or '>'
      "<a href=/d class=z>u</a><a\nhref=rel/e>v</a>" +
      // decoys: tag names that merely start with 'a'; data-href
      "<area href='/map'>m</area><abbr href='/ab'>t</abbr>" +
      "<a data-href='/dh'>n</a></html>"
    val schema = StructType(Seq(StructField("h", StringType)))
    val got = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          List(Row(html))).asJava), schema)
      .select(Urls.extractHrefs(col("h")).as("l")).collect()(0)
      .getSeq[String](0)
    assert(got == Seq("/a", "/b", "/c", "/d", "rel/e"))
  }

  test("crawlDelays: group selection, max-of-group, junk skip; schedule slots") {
    val txt = "User-agent: Googlebot\nCrawl-delay: 9\n\n" +
      "User-agent: *\nDisallow: /private\nCrawl-delay: 2\nCrawl-delay: 1\n" +
      "Crawl-delay: soon\n\n" +
      "User-agent: graftbot\nAllow: /x\nCrawl-delay: 0.5\n"
    def delayFor(agent: String): Option[Double] =
      Urls.crawlDelays(robotsFixture(txt), "host", "txt", agent)
        .collect().headOption.map(_.getAs[Double]("crawl_delay_sec"))
    // graftbot's own group wins outright — the '*' delays are IGNORED
    assert(delayFor("graftbot").contains(0.5))
    // an unrelated crawler reads the '*' group: max(2, 1), junk skipped
    assert(delayFor("otherbot").contains(2.0))
    // the Allow line between UA runs keeps the groups separate: were
    // rule lines dropped from the lag chain, '*' and 'graftbot' would
    // merge and otherbot would read 0.5 into its max
    val sched = Urls.politenessSchedule(
        urlFrame(1L -> "https://h.com/a", 2L -> "https://h.com/b",
          3L -> "https://h.com/c", 4L -> "https://nodelay.org/z"),
        "id", "url",
        Urls.crawlDelays(robotsFixture(txt), "host", "txt", "otherbot"),
        "host")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Int]("fetch_seq"), r.getAs[Long]("fetch_offset_ms")))
      .toMap
    assert(sched(1L) == (1, 0L))
    assert(sched(2L) == (2, 2000L))
    assert(sched(3L) == (3, 4000L))
    assert(sched(4L) == (1, 0L)) // no delay row → 1 s default, seq 1
  }

  test("sitemap entries + recrawl due: hint fields, defaults, never, " +
      "junk lastmod") {
    val xml = "<urlset>" +
      "<url><loc> https://h.com/a </loc><lastmod>2026-01-01</lastmod>" +
      "<changefreq>weekly</changefreq><priority>0.7</priority></url>" +
      "<url><loc>https://h.com/b</loc>" +
      "<lastmod>2026-01-01T06:30:00Z</lastmod>" +
      "<changefreq>never</changefreq></url>" +
      "<url><loc>https://h.com/c</loc><changefreq>daily</changefreq>" +
      "</url>" +
      "<url><loc>https://h.com/d</loc><lastmod>not-a-date</lastmod>" +
      "</url>" +
      "<url><loc>https://h.com/e&amp;x</loc><lastmod>2026-05-28" +
      "</lastmod><changefreq>sometimes</changefreq></url>" +
      "</urlset>"
    val schema = StructType(Seq(StructField("host", StringType),
      StructField("xml", StringType)))
    val sm = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          List(Row("h.com", xml))).asJava), schema)
    val asOf = 1780000000L // 2026-05-28T22:26:40Z — before e's due
    val got = graft.operators.Urls.recrawlDue(
        graft.operators.Urls.sitemapEntries(sm, "host", "xml"),
        "lastmod", "changefreq", asOf)
      .collect().map { r =>
        r.getAs[String]("loc_url") ->
          (Option(r.getAs[java.lang.Long]("priority_ppm")),
            Option(r.getAs[java.lang.Long]("due_epoch")),
            r.getAs[Boolean]("is_due"))
      }.toMap
    def day(d: String) =
      java.time.LocalDate.parse(d).toEpochDay * 86400L
    // weekly from Jan 1: long overdue; priority exactly 700000 ppm
    assert(got("https://h.com/a") ==
      (Some(700000L), Some(day("2026-01-01") + 604800L), true))
    // never: not due, no due time
    assert(got("https://h.com/b") == (None, None, false))
    // no lastmod: no freshness info = fetch
    assert(got("https://h.com/c") == (None, None, true))
    // junk lastmod + missing changefreq: unparseable = fetch
    assert(got("https://h.com/d") == (None, None, true))
    // entity-unescaped loc; junk changefreq defaults daily; crawled
    // yesterday → due TOMORROW, not yet due
    assert(got("https://h.com/e&x") ==
      (None, Some(day("2026-05-29")), false))
  }

  test("unhinted robotsFilter / politenessSchedule build with 0 actions") {
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { execs.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def settle(): Int = { // the listener bus is async; wait bounded
      var last = -1; var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val cur = execs.get()
        if (cur == last) same += 1 else { same = 0; last = cur }
      }
      execs.get()
    }
    val txt = "User-agent: *\nDisallow: /private\nCrawl-delay: 2\n"
    val u = urlFrame(1L -> "https://h.com/private/x",
      2L -> "https://h.com/a")
    spark.listenerManager.register(ql)
    try {
      Urls.robotsFilter(u, "id", "url", robotsFixture(txt), "host", "txt")
        .queryExecution.executedPlan
      Urls.politenessSchedule(u, "id", "url",
        Urls.crawlDelays(robotsFixture(txt), "host", "txt"), "host")
        .queryExecution.executedPlan
      assert(settle() == 0,
        s"plan construction ran ${execs.get()} action(s)")
    } finally spark.listenerManager.unregister(ql)
  }

  test("sitemap pointers and locs: global lines, entity unescape, nesting") {
    val txt = "User-agent: *\nDisallow: /x\n" +
      "Sitemap: https://h.com/s1.xml\n# c\nsitemap: https://h.com/s2.xml\n"
    val ptrs = Urls.sitemapPointers(robotsFixture(txt), "host", "txt")
      .collect().map(_.getAs[String]("sitemap_url")).toSet
    assert(ptrs == Set("https://h.com/s1.xml", "https://h.com/s2.xml"))
    val xml = "<urlset><url><loc> https://h.com/a?x=1&amp;y=2 </loc></url>" +
      "<url><loc>https://h.com/&lt;b&gt;&apos;c&quot;</loc></url>" +
      "<sitemap><loc>https://h.com/nested.xml</loc></sitemap></urlset>"
    val xs = StructType(Seq(StructField("k", StringType),
      StructField("xml", StringType)))
    val frame = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          List(Row("h", xml))).asJava), xs)
    val locs = Urls.sitemapLocs(frame, "k", "xml")
      .collect().map(_.getAs[String]("loc_url")).toSet
    assert(locs == Set(
      "https://h.com/a?x=1&y=2",
      "https://h.com/<b>'c\"",
      "https://h.com/nested.xml"))
  }

  // ---- frontier index ----

  /** Runs `body` with both broadcast thresholds (static and AQE) off,
    * so every unhinted join plans as a shuffle join.
    */
  private def withoutBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def urlFrame(rows: (Long, String)*) = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("url", StringType)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.toList.map { case (i, u) => Row(i, u) }).asJava), schema)
  }

  test("frontier probe: canonical respellings dedup across and within batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-frontier")
      .toString + "/idx"
    Urls.writeFrontierIndex(urlFrame(
      1L -> "https://seen.example.com/a?utm_c=x&v=1",
      2L -> "http://other.example.com/b"), "url", dir)
    val probe = Urls.probeFrontier(spark, dir, urlFrame(
      // respelling of an indexed url: case, default port, tracking
      10L -> "HTTPS://Seen.example.COM:443/a?v=1&fbclid=q",
      // fresh url, spelled twice → lower id fetches, twin is a dup
      11L -> "https://new.example.com/c?z=1",
      12L -> "https://new.example.com/c?z=1&utm_x=2",
      // not a URL at all
      13L -> "plain text"), "id", "url")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Boolean]("is_url"), r.getAs[Boolean]("in_index"),
          r.getAs[Boolean]("dup_in_batch"), r.getAs[Boolean]("fetch")))
      .toMap
    assert(probe(10L) == (true, true, false, false))
    assert(probe(11L) == (true, false, false, true))
    assert(probe(12L) == (true, false, true, false))
    assert(probe(13L) == (false, false, false, false))
    // committing the batch appends it: a re-crawl fetches nothing
    Urls.appendToFrontierIndex(urlFrame(
      11L -> "https://new.example.com/c?z=1"), "url", dir)
    val again = Urls.probeFrontier(spark, dir, urlFrame(
      20L -> "https://new.example.com/c?z=1"), "id", "url")
      .collect()(0)
    assert(again.getAs[Boolean]("in_index") && !again.getAs[Boolean]("fetch"))
    assert(graft.sinks.Pruning.readIndexMeta(spark, dir)
      .get.params("n_urls") == 3L)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}

/** URL canonicalization for crawl pipelines: the frontier-dedup /
  * per-domain-budget step every web corpus runs before anything else —
  * the same page arrives as `HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#top`
  * and `http://example.com/a?a=1&b=2`, and a crawl that treats those as
  * two URLs double-fetches, double-counts domain quotas, and
  * double-trains. (The reference ETL consumes a structured API and
  * never faces URLs.)
  *
  * Canonical form, applied in order:
  *   1. scheme and host lowercased (path/query case is significant)
  *   2. fragment dropped
  *   3. default port stripped (`:80` for http, `:443` for https)
  *   4. tracking parameters dropped: any key starting `utm_` plus the
  *      click-id family ([[trackingKeys]])
  *   5. remaining query params sorted lexicographically (byte order —
  *      param text is ASCII in practice; order-insensitive equality is
  *      the point)
  *   6. empty path normalized to `/`
  *   7. percent-encodings in path and query normalized per RFC 3986
  *      §6.2.2 ([[pctNormalize]]): uppercase hex, unreserved
  *      characters decoded, malformed escapes left alone
  *
  * Scope (documented, not silent): no userinfo handling beyond
  * dropping it with the authority parse, no percent handling in the
  * HOST (encoded hosts are vanishingly rare; IDN is a data table, not
  * an algorithm), no IDN — those vary per consumer; the seven rules
  * above are the high-agreement core. Registrable-domain extraction uses the
  * last-two-labels rule with a small built-in table of two-level
  * public suffixes ([[multiPartSuffixes]]) — a full PSL is a data
  * file, not an algorithm change.
  *
  * Everything is a ROW-LOCAL projection of native regexp/array
  * expressions in the Java ∩ RE2 subset — zero exchanges, zero UDFs;
  * a 100 TB canonicalization is scan → project → write at input
  * parallelism, and the downstream frontier dedup keys on the
  * canonical string.
  */
object Urls {

  /** Click-id / referral keys dropped besides the `utm_` prefix family. */
  private[graft] val trackingKeys =
    Seq("fbclid", "gclid", "msclkid", "igshid", "mc_eid", "ref")

  /** Two-level public suffixes for the registrable-domain rule. */
  private[graft] val multiPartSuffixes = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "co.in", "com.br", "com.mx", "co.nz", "com.sg", "com.cn")

  /** Expression let-binding — see [[graft.functions.Bind]]: one copy
    * of `e` in the tree however many times `f`'s body references it.
    */
  private def bind(e: Column)(f: Column => Column): Column =
    graft.functions.Bind.once(e)(f)

  private def schemeOf(url: Column): Column =
    lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** (host, port-string) from the authority; userinfo dropped. */
  private def hostPort(url: Column): (Column, Column) = {
    val afterScheme = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val authority = regexp_extract(afterScheme, "^([^/?#]*)", 1)
    val hp = regexp_extract(authority, "([^@]*)$", 1)
    (lower(regexp_extract(hp, "^([^:]*)", 1)),
      regexp_extract(hp, ":([0-9]+)$", 1))
  }

  private def pathOf(url: Column): Column = {
    val afterAuth = regexp_replace(url,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val p = regexp_extract(afterAuth, "^([^?#]*)", 1)
    when(p === "", lit("/")).otherwise(p)
  }

  private def queryOf(url: Column): Column =
    regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)", 1)

  /** RFC 3986 §6.2.2 percent-encoding normalization of a path or
    * query string: valid `%XX` escapes get UPPERCASE hex
    * (`%2f` → `%2F`) and escapes of UNRESERVED characters
    * (ALPHA / DIGIT / `-._~`) DECODE (`%41` → `A`, `%7e` → `~`) —
    * without this, `%7Euser` and `~user` are two frontier entries for
    * one page. Invalid sequences (`%zz`, a lone trailing `%`) pass
    * through untouched — the leave-it-alone rule for malformed
    * escapes. Decoding an unreserved character can never create a
    * URL delimiter (`&`, `=`, `/`, `#` are all reserved and stay
    * encoded), so normalizing BEFORE the query splits into params is
    * safe.
    *
    * Implementation is one split-on-% plus a row-local transform; the
    * hex value comes from digit positions in a literal table and the
    * decoded character from a printable-ASCII lookup string — pure
    * cross-engine arithmetic, no chr()/conv() dialect drift. Zero
    * exchanges.
    */
  private[graft] def pctNormalize(s0: Column): Column = bind(s0) { s =>
    val printable = (32 to 126).map(_.toChar).mkString
    // hex-digit value from codepoint arithmetic (ascii of the
    // uppercased char; -1 = not a hex digit) — a compact expression
    // tree matters here: this lambda inlines several times per
    // canonicalize, and an earlier array-lookup formulation measurably
    // inflated plan compile time on canonicalize-heavy queries
    def hexVal(ch: Column): Column = {
      val a = ascii(ch)
      when(a >= 48 && a <= 57, a - 48)
        .when(a >= 65 && a <= 70, a - 55)
        .otherwise(lit(-1))
    }
    // fast path: most URLs carry no '%' at all — CaseWhen evaluates
    // branches lazily per row, so the split/transform machinery (bound
    // once; the tree used to copy the split per reference) only runs
    // on rows that actually contain an escape
    when(s.contains("%"), bind(split(s, "%", -1)) { parts =>
      val fixed = transform(
        slice(parts, lit(2), greatest(size(parts) - 1, lit(0))), { p =>
          val d1 = upper(p.substr(lit(1), lit(1)))
          val d2 = upper(p.substr(lit(2), lit(1)))
          val n1 = hexVal(d1)
          val n2 = hexVal(d2)
          val n = (n1 * 16 + n2).cast(IntegerType)
          val valid = n1 >= 0 && n2 >= 0
          val decoded = lit(printable).substr(n - 31, lit(1))
          val rest = p.substr(lit(3), length(p))
          // n >= 45 ('-', the smallest unreserved code) keeps the
          // substr position strictly positive: a negative position
          // counts from the END of the lookup string, which would make
          // a control-char escape like %1E masquerade as '~'
          when(valid && n >= 45 && decoded.rlike("^[A-Za-z0-9._~-]$"),
            concat(decoded, rest))
            .when(valid, concat(lit("%"), d1, d2, rest))
            .otherwise(concat(lit("%"), p))
        })
      concat(element_at(parts, 1), array_join(fixed, ""))
    }).otherwise(s)
  }

  /** Query params surviving the tracking filter, sorted. */
  private def keptParams(query: Column): Column = {
    val raw = filter(split(query, "&"), p => length(p) > 0)
    val kept = filter(raw, { p =>
      val key = lower(substring_index(p, "=", 1))
      !key.startsWith("utm_") && !key.isin(trackingKeys: _*)
    })
    array_sort(kept)
  }

  /** Canonicalize `url` into a struct:
    *   - `canonical_url` (null when the input has no scheme — not a URL)
    *   - `host`, `registrable_domain`
    *   - `n_params_dropped` (tracking params removed)
    */
  def canonicalize(url: Column): Column = {
    // Each struct field is an INDEPENDENT compact expression (shared
    // work deduplicated per field via [[bind]], nothing shared across
    // fields): `getField` on the result then prunes to exactly the
    // fields a consumer reads (SimplifyExtractValueOps), while a
    // consumer keeping the whole struct evaluates each field once.
    val (host, port) = hostPort(url)
    val canon = bind(struct(schemeOf(url).as("s"), host.as("h"),
        port.as("p"), pctNormalize(pathOf(url)).as("pa"),
        pctNormalize(queryOf(url)).as("q"))) { t =>
      val scheme = t.getField("s")
      val prt = t.getField("p")
      val defaultPort = (scheme === "http" && prt === "80") ||
        (scheme === "https" && prt === "443")
      val portPart = when(prt === "" || defaultPort, lit(""))
        .otherwise(concat(lit(":"), prt))
      val queryPart = bind(keptParams(t.getField("q"))) { kept =>
        when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
          .otherwise(lit(""))
      }
      when(scheme === "", lit(null).cast(StringType))
        .otherwise(concat(scheme, lit("://"), t.getField("h"), portPart,
          t.getField("pa"), queryPart))
    }
    val registrable = bind(split(host, "\\.")) { labels =>
      val n = size(labels)
      val last2 = concat_ws(".",
        element_at(labels, -2).cast(StringType), element_at(labels, -1))
      val last3 = concat_ws(".", element_at(labels, -3).cast(StringType),
        element_at(labels, -2), element_at(labels, -1))
      when(n >= 3 && last2.isin(multiPartSuffixes: _*), last3)
        .otherwise(when(n >= 2, last2).otherwise(host))
    }
    val nDropped = bind(pctNormalize(queryOf(url))) { query =>
      (size(filter(split(query, "&"), p => length(p) > 0)) -
        size(keptParams(query))).cast(IntegerType)
    }
    struct(
      canon.as("canonical_url"),
      host.as("host"),
      registrable.as("registrable_domain"),
      nDropped.as("n_params_dropped"))
  }

  /** Parse robots.txt bodies into per-AGENT-GROUP rule rows and select
    * each domain's EFFECTIVE rules for `agent` (RFC 9309 §2.2.1 / the
    * Google precedence): lines split the file into groups — one or
    * more consecutive `User-agent:` lines followed by their
    * `Allow:`/`Disallow:` directives; a crawler obeys ONLY the
    * matching group(s) with the most specific agent token, falling
    * back to the `*` group. A token matches when it is `*` or a
    * case-insensitive PREFIX of `agent` (crawler `googlebot-news`
    * matches groups `googlebot` and `googlebot-news`; the longer
    * token wins and the shorter — and `*` — groups are then IGNORED
    * entirely, per the RFC's most-specific-only rule). Directives
    * before any `User-agent:` line belong to the implicit `*` group.
    * Empty-path `Disallow:` lines (the "allow everything" idiom) are
    * dropped — they match nothing under longest-match anyway.
    *
    * Output: (domainCol, rule_type 'allow'|'disallow', rule_path,
    * rule_len) — rule_len is the specificity key (path length AS
    * WRITTEN, wildcards included, the Google rule).
    *
    * Scope (documented): agent tokens are product tokens (`Googlebot`),
    * not versioned strings (`Googlebot/1.2` would not prefix-match);
    * one directive per line, comments after the path ignored by the
    * `\S*` capture.
    *
    * Scale: one line-explode over the robots corpus, one lag/sum
    * window and two keyed aggregates — all exchanges keyed by domain;
    * nothing is corpus×rules shaped.
    */
  /** Shared group machinery: robots lines classified and segmented
    * into agent groups — (domainCol, _ln, _ua, rule_type, rule_path,
    * _delay, _isUa, _gid). EVERY directive class is kept (UA, allow/
    * disallow, crawl-delay): rule lines separate consecutive UA runs
    * even for consumers that ignore them, so [[robotsRules]] and
    * [[crawlDelays]] segment identically.
    */
  private def agentGroups(robots: DataFrame, domainCol: String,
      txtCol: String): DataFrame = {
    val lines = robots.select(col(domainCol),
      posexplode(split(col(txtCol), "\r?\n")).as(Seq("_ln", "_l")))
    val typed = lines.select(col(domainCol), col("_ln"),
        lower(regexp_extract(col("_l"),
          "(?i)^[ \\t]*user-agent[ \\t]*:[ \\t]*(\\S*)", 1)).as("_ua"),
        lower(regexp_extract(col("_l"),
          "(?i)^[ \\t]*(disallow|allow)[ \\t]*:", 1)).as("rule_type"),
        regexp_extract(col("_l"),
          "(?i)^[ \\t]*(?:disallow|allow)[ \\t]*:[ \\t]*(\\S*)", 1)
          .as("rule_path"),
        regexp_extract(col("_l"),
          "(?i)^[ \\t]*crawl-delay[ \\t]*:[ \\t]*([0-9]+(?:\\.[0-9]+)?)[ \\t]*$", 1)
          .as("_delay"))
      .filter(col("_ua") =!= "" || col("rule_type") =!= "" ||
        col("_delay") =!= "")
    // group id: a User-agent line whose previous RELEVANT line was not
    // a User-agent line starts a new group (consecutive UA lines share
    // the directives that follow them)
    val w = Window.partitionBy(col(domainCol)).orderBy(col("_ln"))
    typed
      .withColumn("_isUa", col("_ua") =!= "")
      .withColumn("_gid", sum(
        when(col("_isUa") &&
          !coalesce(lag(col("_isUa"), 1).over(w), lit(false)), 1)
          .otherwise(0)).over(w))
  }

  /** Directive rows of the EFFECTIVE group(s) for `agent`: the input
    * rows (any directive class) with headerless rows (gid 0, no UA
    * header) treated as the implicit '*' group at specificity 0, and
    * only the most specific matching group(s) surviving per domain.
    *
    * The winning specificity is computed over ALL groups — including
    * groups carrying no directive of the class being consumed (a
    * matched group with only an empty `Disallow:` allow-all idiom, or
    * only a `Crawl-delay:` when rules are being read). RFC 9309
    * §2.2.1: once the most specific group matches, every other group
    * is IGNORED — so an empty effective group yields NO rows for the
    * domain (allow-all / no delay), never a fallback to the `*`
    * group's directives.
    *
    * Plan shape: ONE (domain, gid) aggregate over all grouped rows
    * computes every group's specificity (groups without a UA header —
    * gid 0 by construction — fold to the implicit '*' at 0), a
    * domain-keyed window attaches the per-domain winning specificity,
    * and one keyed join selects the surviving rows — exactly two
    * references to the parse lineage, so the robots explode+windows
    * never re-executes per derived frame.
    */
  private def effectiveGroupRows(grouped: DataFrame, domainCol: String,
      agent: String, rows: DataFrame): DataFrame = {
    val agentLc = agent.toLowerCase(java.util.Locale.ROOT)
    val matchLen = when(col("_ua") === "*", 0)
      .when(lit(agentLc).startsWith(col("_ua")), length(col("_ua")))
      .otherwise(-1)
    val best = grouped.groupBy(col(domainCol), col("_gid"))
      .agg(max(when(col("_isUa"), matchLen)).as("_bua"))
      .withColumn("_best", coalesce(col("_bua"),
        when(col("_gid") === 0, 0).otherwise(-1)))
    val allBest = best.withColumn("_dmax",
      max(when(col("_best") >= 0, col("_best")))
        .over(Window.partitionBy(col(domainCol))))
      .select(col(domainCol), col("_gid"), col("_best"), col("_dmax"))
    rows.join(allBest, Seq(domainCol, "_gid"))
      .filter(col("_best") >= 0 && col("_best") === col("_dmax"))
  }

  def robotsRules(robots: DataFrame, domainCol: String, txtCol: String,
      agent: String = "*"): DataFrame = {
    val grouped = agentGroups(robots, domainCol, txtCol)
    val rules = grouped
      .filter(col("rule_type") =!= "" && length(col("rule_path")) > 0)
      .select(col(domainCol), col("_gid"), col("rule_type"),
        col("rule_path"))
    effectiveGroupRows(grouped, domainCol, agent, rules)
      .select(col(domainCol), col("rule_type"), col("rule_path"))
      .distinct()
      .withColumn("rule_len", length(col("rule_path")).cast(IntegerType))
  }

  /** rule_path → anchored RE2 pattern implementing the robots
    * wildcards: `*` matches any character run; ONE trailing `$`
    * anchors the end (a `$` anywhere else is literal, the Google
    * semantics); everything else matches literally. A wildcard-free
    * path compiles to `^literal` — exactly the old prefix rule.
    */
  private[graft] def wildcardPattern(rule: Column): Column = {
    val anchored = rule.endsWith("$")
    val body = when(anchored, rule.substr(lit(1), length(rule) - 1))
      .otherwise(rule)
    val esc = regexp_replace(body, "([.\\[\\]{}()+?^$\\\\|])", "\\\\$1")
    // robots.txt has no escaping: every '*' in the path is a wildcard
    // (the metachar escape above never touches '*')
    val wild = regexp_replace(esc, "\\*", ".*")
    concat(lit("^"), wild, when(anchored, lit("$")).otherwise(lit("")))
  }

  /** Evaluate crawlability for `agent`: per URL, the most specific
    * (longest rule_path as written) matching rule of its HOST's
    * effective agent group decides; ties resolve allow-over-disallow,
    * then lexicographically-greatest rule_path (a TOTAL order, so the
    * reported rule replays bit-for-bit on any engine); hosts with no
    * matching rule — or no robots entry at all — are allowed. Output:
    * (idCol, host, path, allowed, rule_type, rule_path) with null rule
    * columns when nothing matched.
    *
    * Scale: the effective-rules frame is robots-corpus-bounded; it
    * BROADCASTS only while its cardinality is within
    * `broadcastMaxRules` (the Coverage guard convention — a full-web
    * crawl carries rules for tens of millions of hosts, and an
    * unguarded broadcast there is a driver OOM), falling back to a
    * host-keyed shuffled join past the guard. The cardinality comes
    * from `rulesCountHint` when the caller already knows it (or a
    * cheap upper bound — the hint only picks broadcast vs shuffle,
    * never correctness), making plan construction side-effect-free;
    * without a hint ONE count action runs per call (the honest price
    * of an exact guard — callers composing several decisions over one
    * rules corpus should hint). The URL side is one scan projected to
    * (id, host, path); the decision is the join + one id-keyed max_by.
    * Wildcard rules compile per matched row (RLike on a non-foldable
    * pattern) — bounded by rules-per-host, not corpus size.
    */
  def robotsFilter(urls: DataFrame, idCol: String, urlCol: String,
      robots: DataFrame, domainCol: String, txtCol: String,
      agent: String = "*", broadcastMaxRules: Long = 2000000L,
      rulesCountHint: Option[Long] = None): DataFrame = {
    val (host, _) = hostPort(col(urlCol))
    val parsed = urls.select(col(idCol).as("_id"), host.as("host"),
        pathOf(col(urlCol)).as("path"))
    val rules = robotsRules(robots, domainCol, txtCol, agent)
      .withColumnRenamed(domainCol, "host")
      .withColumn("_pat", wildcardPattern(col("rule_path")))
    val nRules = rulesCountHint.getOrElse(rules.count())
    val rhs = if (nRules <= broadcastMaxRules) broadcast(rules) else rules
    val matched = parsed.join(rhs, Seq("host"))
      .filter(regexp_like(col("path"), col("_pat")))
      .groupBy(col("_id"))
      // longest rule wins; at equal length allow beats disallow; at
      // equal (length, type) the greatest rule_path — deterministic
      .agg(max_by(
        struct(col("rule_type"), col("rule_path")),
        struct(col("rule_len"),
          when(col("rule_type") === "allow", 1).otherwise(0),
          col("rule_path"))).as("_w"))
      .select(col("_id"), col("_w.rule_type").as("rule_type"),
        col("_w.rule_path").as("rule_path"))
    parsed.join(matched, Seq("_id"), "left")
      .select(col("_id").as(idCol), col("host"), col("path"),
        coalesce(col("rule_type") =!= "disallow", lit(true)).as("allowed"),
        col("rule_type"), col("rule_path"))
  }

  /** Per-domain `Crawl-delay` directives (the de-facto extension most
    * robots files carry; RFC 9309 leaves it out, major crawlers honor
    * it): the delay in SECONDS from the effective agent group —
    * selected with exactly [[robotsRules]]'s precedence (most
    * specific matching token, headerless lines = the `*` group).
    * Non-numeric values are ignored; several delays in one effective
    * group keep the LARGEST (the polite reading). Output: (domainCol,
    * crawl_delay_sec DOUBLE). Domains with no directive are absent —
    * callers left-join and default.
    */
  def crawlDelays(robots: DataFrame, domainCol: String, txtCol: String,
      agent: String = "*"): DataFrame = {
    val grouped = agentGroups(robots, domainCol, txtCol)
    val delays = grouped.filter(col("_delay") =!= "")
      .select(col(domainCol), col("_gid"),
        col("_delay").cast("double").as("_d"))
    effectiveGroupRows(grouped, domainCol, agent, delays)
      .groupBy(col(domainCol))
      .agg(max(col("_d")).as("crawl_delay_sec"))
  }

  /** `Sitemap:` pointers from robots.txt bodies — sitemap lines are
    * GLOBAL (they belong to no agent group, RFC 9309 §2.4), so this
    * is one multiline extract per file: (domainCol, sitemap_url), one
    * row per pointer, duplicates dropped per domain.
    */
  def sitemapPointers(robots: DataFrame, domainCol: String,
      txtCol: String): DataFrame =
    robots.select(col(domainCol),
        explode(regexp_extract_all(col(txtCol),
          lit("(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)"), lit(1)))
          .as("sitemap_url"))
      .distinct()

  /** `<loc>` entries of sitemap XML bodies (sitemaps.org §XML format;
    * also matches the nested <sitemap><loc> of index files): one row
    * per loc with the XML-mandated entity escapes undone
    * (`&amp; &lt; &gt; &quot; &apos;` — the five the format requires;
    * `&amp;` LAST so `&amp;lt;` single-decodes, the q239 rule).
    * Row-local extract-all + explode: a 100 TB sitemap corpus is
    * scan → project → write.
    */
  def sitemapLocs(sitemaps: DataFrame, keyCol: String,
      xmlCol: String): DataFrame = {
    val raw = explode(regexp_extract_all(col(xmlCol),
      lit("(?is)<loc[ \\t]*>(.*?)</loc[ \\t]*>"), lit(1)))
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&")
    sitemaps.select(col(keyCol), raw.as("_loc"))
      .select(col(keyCol),
        unescaped.foldLeft(trim(col("_loc"))) { case (c, (e, r)) =>
          regexp_replace(c, e, r)
        }.as("loc_url"))
  }

  /** Full `<url>` entries of sitemap XML (sitemaps.org §XML format):
    * one row per entry with the OPTIONAL hint fields —
    * (keyCol, loc_url, lastmod, changefreq, priority_ppm) — null when
    * absent; loc whitespace-trimmed and entity-unescaped exactly like
    * [[sitemapLocs]]; changefreq lowercased; priority parsed through
    * DECIMAL so `0.7` is exactly 700000 ppm on every engine (a double
    * multiply truncates 0.7·10⁶ to 699999). Row-local extract-all +
    * per-block extracts — zero exchanges.
    */
  def sitemapEntries(sitemaps: DataFrame, keyCol: String,
      xmlCol: String): DataFrame = {
    def field(b: Column, tag: String): Column =
      regexp_extract(b, s"(?is)<$tag[ \\t]*>(.*?)</$tag[ \\t]*>", 1)
    val unescaped = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&amp;" -> "&")
    val block = explode(regexp_extract_all(col(xmlCol),
      lit("(?is)<url[ \\t]*>(.*?)</url[ \\t]*>"), lit(1)))
    def optional(c: Column): Column =
      when(c === "", lit(null).cast(StringType)).otherwise(c)
    sitemaps.select(col(keyCol), block.as("_b"))
      .select(col(keyCol),
        unescaped.foldLeft(trim(field(col("_b"), "loc"))) {
          case (c, (e, r)) => regexp_replace(c, e, r)
        }.as("loc_url"),
        optional(trim(field(col("_b"), "lastmod"))).as("lastmod"),
        optional(lower(trim(field(col("_b"), "changefreq"))))
          .as("changefreq"),
        (optional(trim(field(col("_b"), "priority")))
          .cast("decimal(10,6)") * 1000000).cast("long")
          .as("priority_ppm"))
  }

  /** Recrawl due-ness from sitemap hints — the freshness half of a
    * rolling crawl's scheduling: per entry, the hint interval from
    * `changefreq` (always=0 s, hourly, daily, weekly, monthly=30 d,
    * yearly=365 d; missing or unrecognized values default to DAILY —
    * the common crawler reading; `never` means never due from hints),
    * the lastmod epoch (W3C date `yyyy-MM-dd` or UTC datetime
    * `yyyy-MM-dd'T'HH:mm:ssZ` — other offsets are out of scope,
    * documented), and the verdict:
    *
    *   - `never` → is_due false
    *   - no parseable lastmod → is_due TRUE (no freshness info =
    *     fetch) with a null due_epoch
    *   - else due_epoch = lastmod + interval, is_due = due_epoch ≤
    *     `asOfEpochSec`
    *
    * `asOfEpochSec` is caller-supplied (never wall-clock — the same
    * determinism rule as every operator here). One row-local
    * projection; session time zone is UTC by [[graft.GraftSession]]
    * convention, so the epoch arithmetic replays on any engine.
    */
  def recrawlDue(entries: DataFrame, lastmodCol: String,
      changefreqCol: String, asOfEpochSec: Long): DataFrame = {
    val cf = col(changefreqCol)
    val lm = col(lastmodCol)
    // try_to_timestamp: malformed lastmod must yield NULL (= no
    // freshness info), never an ANSI parse error
    val lmEpoch = unix_timestamp(when(length(lm) === 10,
        try_to_timestamp(lm, lit("yyyy-MM-dd")))
      .otherwise(try_to_timestamp(
        regexp_extract(lm, "^(.*)Z$", 1), lit("yyyy-MM-dd'T'HH:mm:ss"))))
    val interval = when(cf === "always", 0L)
      .when(cf === "hourly", 3600L)
      .when(cf === "daily", 86400L)
      .when(cf === "weekly", 604800L)
      .when(cf === "monthly", 2592000L)
      .when(cf === "yearly", 31536000L)
      .when(cf === "never", lit(null).cast("long"))
      .otherwise(86400L)
    entries
      .withColumn("interval_sec", interval)
      .withColumn("due_epoch",
        when(cf === "never", lit(null).cast("long"))
          .otherwise(lmEpoch + col("interval_sec")))
      .withColumn("is_due",
        when(cf === "never", false)
          .when(lmEpoch.isNull, true)
          .otherwise(col("due_epoch") <= asOfEpochSec))
  }

  /** Politeness schedule: given fetchable URLs and per-domain crawl
    * delays, assign each URL its host-local fetch slot —
    * (idCol, host, fetch_seq, fetch_offset_ms) where fetch_seq is the
    * 1-based position in the host's queue (ordered by id — the
    * deterministic arrival order) and fetch_offset_ms =
    * (fetch_seq − 1) · delay·1000 (LONG millis, exact integer from
    * the decimal seconds). Hosts without a delay row use
    * `defaultDelaySec`. One host-keyed rank window + one broadcast
    * join of the delay table: the schedule for a 100 TB frontier is
    * embarrassingly host-parallel. `delaysCountHint` = the caller's
    * known delay-table cardinality (or upper bound) — supplying it
    * makes plan construction side-effect-free; without it ONE count
    * action runs (the robotsFilter hint convention).
    */
  def politenessSchedule(urls: DataFrame, idCol: String, urlCol: String,
      delays: DataFrame, domainCol: String,
      defaultDelaySec: Double = 1.0,
      broadcastMaxDelays: Long = 2000000L,
      delaysCountHint: Option[Long] = None): DataFrame = {
    val (host, _) = hostPort(col(urlCol))
    val keyed = urls.select(col(idCol).as("_id"), host.as("host"))
      .withColumn("fetch_seq", row_number().over(
        Window.partitionBy(col("host")).orderBy(col("_id"))))
    val d0 = delays.select(col(domainCol).as("host"),
      col("crawl_delay_sec"))
    // same cardinality guard as robotsFilter: a full-web delay table
    // is host-count-sized
    val nDelays = delaysCountHint.getOrElse(d0.count())
    val d = if (nDelays <= broadcastMaxDelays) broadcast(d0) else d0
    keyed.join(d, Seq("host"), "left")
      .select(col("_id").as(idCol), col("host"), col("fetch_seq"),
        ((col("fetch_seq") - 1).cast("long") *
          (coalesce(col("crawl_delay_sec"), lit(defaultDelaySec)) * 1000)
            .cast("long")).as("fetch_offset_ms"))
  }

  // ---- link discovery: href extraction + relative resolution ----
  // The step that FEEDS the frontier: a fetched page's anchors are
  // mostly relative ("../a", "/b", "?p=2", "#sec"), and a crawler
  // that cannot resolve them against the page URL discovers nothing.

  /** All `<a href>` values of an HTML column, in document order:
    * single-quoted, double-quoted, or UNQUOTED attribute values (legal
    * and common in minified HTML — `<a href=/page>`), tags with other
    * attributes before/after href. The tag name is anchored (`<a` must
    * be followed by whitespace, so `<area>`/`<abbr>` never feed the
    * frontier) and the attribute boundary enforced (href preceded by
    * whitespace or a closing quote, so `data-href=` never matches).
    * The match captures the value token quotes-and-all — one
    * alternation group, since extract-all takes a single group index —
    * and a row-local transform strips one surrounding quote per end.
    * Zero exchanges.
    */
  def extractHrefs(html: Column): Column = {
    val raw = regexp_extract_all(html,
      lit("(?is)<a\\s(?:[^>]*?[\\s'\"])?href[ \\t]*=[ \\t]*" +
        "(\"[^\"]*\"|'[^']*'|[^\\s>]+)"), lit(1))
    transform(raw, v =>
      regexp_replace(regexp_replace(v, "^['\"]", ""), "['\"]$", ""))
  }

  /** RFC 3986 §5 relative resolution of `href` against absolute
    * `base`, as one row-local native expression:
    *
    *   - absolute href (has scheme) → itself
    *   - protocol-relative `//host/p` → base scheme + href
    *   - root-relative `/p` → base origin + remove_dot_segments(p)
    *   - `?q` → base origin + base path + query
    *   - `#f` → base minus fragment + fragment
    *   - empty → base minus fragment
    *   - relative `p`, `./p`, `../p` → merged with the base path's
    *     directory, dot segments removed by the §5.2.4 stack walk (a
    *     Catalyst `aggregate` fold over the split segments — excess
    *     `..` at the root drop, the RFC rule)
    *
    * Documented simplifications: empty segments collapse (`a//b` →
    * `a/b`) and the base must itself be absolute (a null/scheme-less
    * base yields null). Returns the resolved ABSOLUTE url — callers
    * canonicalize next ([[canonicalize]] drops the fragment, so `#f`
    * links dedup onto their page).
    */
  def resolveUrl(base: Column, href: Column): Column = {
    // p (the path being walked) and the §5.2.4 stack are each bound
    // once ([[bind]]) — the trailing-slash decision references p five
    // times and the stack twice, which used to copy the aggregate fold
    // per reference
    def removeDots(p0: Column): Column = bind(p0) { p =>
      val segs = filter(split(p, "/"),
        s => s =!= "" && s =!= ".")
      bind(aggregate(segs,
        array().cast(ArrayType(StringType)),
        (acc, s) => when(s === "..",
          slice(acc, lit(1),
            greatest(size(acc) - 1, lit(0)))).otherwise(
          concat(acc, array(s))))) { stack =>
        val trailing = when(
          p.endsWith("/") || p.endsWith("/.") || p.endsWith("/..") ||
            p === "." || p === "..",
          when(size(stack) > 0, lit("/")).otherwise(lit("")))
          .otherwise(lit(""))
        concat(lit("/"), array_join(stack, "/"), trailing)
      }
    }
    bind(struct(trim(href).as("h"), schemeOf(base).as("s"),
        regexp_extract(base, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
          .as("o"),
        pathOf(base).as("bp"),
        regexp_extract(base, "^([^#]*)", 1).as("bnf"))) { t =>
      val h = t.getField("h")
      val scheme = t.getField("s")
      val origin = t.getField("o")
      val basePath = t.getField("bp")
      val baseNoFrag = t.getField("bnf")
      // directory of the base path: up to and including the last '/'
      val baseDir = regexp_extract(basePath, "^(.*/)", 1)
      // split href into its path part and the ?query#fragment tail
      val hPath = regexp_extract(h, "^([^?#]*)", 1)
      val hTail = regexp_extract(h, "^[^?#]*([?#].*)$", 1)
      when(scheme === "", lit(null).cast(StringType))
        .when(h === "", baseNoFrag)
        .when(h.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), h)
        .when(h.startsWith("//"), concat(scheme, lit(":"), h))
        .when(h.startsWith("/"),
          concat(origin, removeDots(hPath), hTail))
        .when(h.startsWith("#"), concat(baseNoFrag, h))
        .when(h.startsWith("?"), concat(origin, basePath, h))
        .otherwise(concat(origin,
          removeDots(concat(coalesce(
            when(baseDir === "", lit("/")).otherwise(baseDir), lit("/")),
            hPath)), hTail))
    }
  }

  // ---- persisted frontier index: incremental URL dedup ----
  // A rolling crawl re-probes its frontier EVERY batch: "have we ever
  // fetched this page (under any raw spelling)?" must be answered
  // from a persisted seen-set, never by recanonicalizing yesterday's
  // corpus. Same write/append/probe convention as the span-hash and
  // positional indexes (`_graft_manifest`, kind "frontier"): the
  // index holds only the 60-bit md5 hashes of canonical URLs — raw
  // URL text never lands in the index.

  /** The one definition of a URL's frontier key: the `keep` columns of
    * `urls`, the URL's `canonical_url` and its 60-bit md5 `_h` (both
    * null for a non-URL — no scheme, never fetchable). No widen before
    * the canonicalize battery: the callers run once per crawl batch,
    * and a round-robin exchange there is a shuffle per batch.
    */
  private def canonical(urls: DataFrame, urlCol: String, keep: Column*): DataFrame =
    urls.select(keep :+ canonicalize(col(urlCol)).getField("canonical_url")
        .as("canonical_url"): _*)
      .withColumn("_h",
        graft.functions.TextFunctions.md5Hash60(col("canonical_url")))

  private def canonicalHashes(urls: DataFrame, urlCol: String) =
    canonical(urls, urlCol).filter(col("canonical_url").isNotNull)
      .select(col("_h").as("h")).distinct()

  /** Manifest handshake: fail fast on an index of another kind. */
  private def requireFrontier(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    graft.sinks.Pruning.requireIndexParams(spark, path, "frontier", Map.empty)

  /** Persist the seen-URL set: distinct canonical-URL hashes under
    * `$path/urls` plus the manifest record. Non-URLs (no scheme) are
    * not "seen" — they can never be fetched. One scan, hashes-only
    * exchange; the `n_urls` freshness counter rides an `observe()` on
    * the write job (no extra pass).
    */
  def writeFrontierIndex(urls: DataFrame, urlCol: String,
      path: String): Unit = {
    val obs = new org.apache.spark.sql.Observation("frontier_index_write")
    canonicalHashes(urls.observe(obs, count(lit(1)).as("n_urls")), urlCol)
      .write.mode("overwrite").parquet(s"$path/urls")
    graft.sinks.Pruning.writeIndexMeta(urls.sparkSession, path,
      graft.sinks.Pruning.IndexMeta("frontier", "", Map(
        "n_urls" -> obs.get("n_urls").asInstanceOf[Long])))
  }

  /** Append a committed batch's canonical hashes (fail-fast on a kind
    * mismatch; counter bumped AFTER the data lands — a crash between
    * leaves `n_urls` understating, benign as everywhere: probes read
    * the hash set directly). Duplicate hashes across appends cost
    * bytes, never correctness (probes are hash joins);
    * `compactParquet` is the existing remedy.
    */
  def appendToFrontierIndex(urls: DataFrame, urlCol: String,
      path: String): Unit = {
    requireFrontier(urls.sparkSession, path)
    val obs = new org.apache.spark.sql.Observation("frontier_index_append")
    canonicalHashes(urls.observe(obs, count(lit(1)).as("n_urls")), urlCol)
      .write.mode("append").parquet(s"$path/urls")
    graft.sinks.FaultInjection.point("appendToFrontierIndex:appended")
    graft.sinks.Pruning.bumpIndexMeta(urls.sparkSession, path,
      Map("n_urls" -> obs.get("n_urls").asInstanceOf[Long]))
  }

  /** Frontier-index maintenance telemetry: [[appendToFrontierIndex]]
    * documents that duplicate hashes across appends cost bytes, never
    * correctness — this is the gauge that says WHEN the remedy
    * ([[compactFrontierIndex]]) is worth running. One row:
    *
    *   - `n_files`, `bytes` — the physical layout (a driver-side
    *     directory listing, the same enumeration every maintenance
    *     pass performs)
    *   - `n_rows`, `n_distinct`, `dup_rows`, `bloat_ppm` — actual
    *     content (one hash-column scan + distinct; bloat_ppm =
    *     dup_rows·10⁶/n_rows)
    *   - `n_urls_appended` — the manifest freshness counter, for
    *     comparing "what writers believe" against the scan
    *
    * The [[graft.sinks.Writers.compactPartitionedTable]] reporting
    * convention: facts a maintenance job logs, not a new contract.
    */
  def frontierIndexStats(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    requireFrontier(spark, path)
    val urlsDir = new org.apache.hadoop.fs.Path(s"$path/urls")
    val fs = urlsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = graft.sources.Tables.dataFiles(fs, urlsDir)
    val appended = graft.sinks.Pruning.readIndexMeta(spark, path)
      .flatMap(_.params.get("n_urls")).getOrElse(0L)
    val (nRows, nDistinct) = if (files.isEmpty) (0L, 0L) else {
      val r = graft.sources.Tables.read(spark, s"$path/urls")
        .agg(count(lit(1)), count_distinct(col("h"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val bloat = if (nRows == 0) 0L else (nRows - nDistinct) * 1000000L / nRows
    Seq((files.length.toLong, files.map(_.getLen).sum, nRows, nDistinct,
      nRows - nDistinct, bloat, appended))
      .toDF("n_files", "bytes", "n_rows", "n_distinct", "dup_rows",
        "bloat_ppm", "n_urls_appended")
  }

  /** Rewrite the frontier's hash set as its DISTINCT rows in one file
    * batch — the remedy [[appendToFrontierIndex]] names for append
    * bloat. Read-transparent by construction: probes are hash joins,
    * and the distinct set is the same set. Crash-safe via the
    * [[graft.sinks.Writers.compactParquet]] discipline (same lock
    * file, staged write, publish by two metadata-only renames); a
    * crash never loses the set, a crashed lock must be removed
    * manually after verifying no writer is live. Single-writer by the
    * index's own contract. Returns (rows_before, rows_after).
    */
  def compactFrontierIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L << 20): (Long, Long) = {
    requireFrontier(spark, path)
    import org.apache.hadoop.fs.Path
    val dst = new Path(s"$path/urls")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new Path(s"$path/urls.compact.lock")
    graft.sinks.Writers.acquireSwapLock(fs, lock, "compactFrontierIndex")
    var keepLock = false
    try {
      val before = graft.sources.Tables.read(spark, dst.toString)
      val beforeRows = before.count()
      val distinctDf = before.select(col("h")).distinct()
        .localCheckpoint(true)
      val afterRows = distinctDf.count()
      val bytes = fs.getContentSummary(dst).getLength
      // distinct rows shrink by the dup share; size the file count off
      // the deduped estimate so a heavily-bloated index compacts to
      // proportionally fewer files
      val estBytes = if (beforeRows == 0) bytes
        else bytes * afterRows / math.max(beforeRows, 1L)
      val nFiles = math.max(1L,
        (estBytes + targetFileBytes - 1) / targetFileBytes).toInt
      val (tmp, bak) = graft.sinks.Writers.swapPaths(dst)
      distinctDf.repartition(nFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      graft.sinks.Writers.publishByRename(fs, dst, tmp, bak,
        "compactFrontierIndex", onUnrecovered = () => keepLock = true)
      // the staged write consumed the distinct set — release its blocks
      graft.plans.Checkpoints.drop(distinctDf)
      (beforeRows, afterRows)
    } finally if (!keepLock) { fs.delete(lock, false); () }
  }

  /** Probe a new batch against the persisted frontier: per input row,
    * (idCol, canonical_url, is_url, in_index, dup_in_batch, fetch)
    * where `fetch` = a parseable URL, never seen by the index, and
    * the FIRST (lowest id) occurrence of its canonical form within
    * the batch — the rows a crawler actually requests. Callers
    * [[appendToFrontierIndex]] the batch when they commit it.
    *
    * Scale: batch-sized work against an index READ — one projection
    * to (id, canonical, hash), one hash-keyed left join against the
    * hash-only index scan, one batch-local min-id aggregate. Never a
    * recompute of the indexed crawl.
    */
  def probeFrontier(spark: org.apache.spark.sql.SparkSession, path: String,
      urls: DataFrame, idCol: String, urlCol: String): DataFrame = {
    requireFrontier(spark, path)
    val canon = canonical(urls, urlCol, col(idCol).as("_id"))
    val indexed = indexedHashes(spark, path).select(col("h").as("_h"))
      .distinct()
      .withColumn("_inx", lit(true))
    val first = canon.filter(col("canonical_url").isNotNull)
      .groupBy(col("_h")).agg(min(col("_id")).as("_fid"))
    canon.join(indexed, Seq("_h"), "left")
      .join(first, Seq("_h"), "left")
      .select(col("_id").as(idCol), col("canonical_url"),
        col("canonical_url").isNotNull.as("is_url"),
        coalesce(col("_inx"), lit(false)).as("in_index"),
        (col("canonical_url").isNotNull &&
          col("_id") =!= col("_fid")).as("dup_in_batch"))
      .withColumn("fetch",
        col("is_url") && !col("in_index") && !col("dup_in_batch"))
  }

  /** The fetchable rows of [[probeFrontier]] (`fetch` = true) as
    * (idCol, urlCol, canonical_url, `_h` = the canonical hash), in one
    * plan: the first (lowest id) row per canonical hash, left-anti
    * joined against the index hashes. No re-join with the batch and no
    * distinct over the index; each hash appears once. A null-id row is
    * never fetched, as in [[probeFrontier]] (its `fetch` is null).
    */
  private[graft] def frontierFetchSet(spark: org.apache.spark.sql.SparkSession,
      path: String, urls: DataFrame, idCol: String, urlCol: String): DataFrame = {
    requireFrontier(spark, path)
    canonical(urls, urlCol, col(idCol), col(urlCol))
      .filter(col("canonical_url").isNotNull && col(idCol).isNotNull)
      .groupBy(col("_h"))
      .agg(min(struct(col(idCol), col(urlCol), col("canonical_url"))).as("_f"))
      .join(indexedHashes(spark, path).select(col("h").as("_h")), Seq("_h"),
        "left_anti")
      .select(col(s"_f.$idCol"), col(s"_f.$urlCol"), col("_f.canonical_url"),
        col("_h"))
  }

  /** The frontier's hash set `h`. A missing or empty index is an EMPTY
    * frontier (the bootstrap state of a brand-new crawl), not an error
    * — the streaming ingest's first batch probes before anything has
    * been written.
    */
  private def indexedHashes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val urlsDir = new org.apache.hadoop.fs.Path(s"$path/urls")
    val fs = urlsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (graft.sources.Tables.hasData(fs, urlsDir))
      graft.sources.Tables.read(spark, urlsDir.toString)
    else spark.range(0).select(col("id").as("h"))
  }
}

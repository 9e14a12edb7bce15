package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class CanonicalizeSpec extends SparkSpec {

  private def one(text: String): String = {
    import spark.implicits._
    Seq(text).toDF("t")
      .select(graft.functions.TextFunctions.canonicalizeText(col("t")))
      .collect()(0).getString(0)
  }

  test("canonicalizeText: NFC-composes, folds NBSP, strips zero-widths, collapses space") {
    assert(one("Cafe\u0301") == "Caf\u00E9")          // decomposed -> composed
    assert(one("a\u00A0b") == "a b")                  // NBSP -> space
    assert(one("x\u200By\u200Cz\uFEFF\u00ADw") == "xyzw") // invisibles stripped
    assert(one("  a \t b\n\nc  ") == "a b c")          // whitespace collapse
    // composed chain: all rules in one string
    assert(one(" Cafe\u0301\u00A0x\u200Bend ") == "Caf\u00E9 xend")
  }

  test("nfcNormalize: ASCII short-circuits to the identical reference") {
    import spark.implicits._
    val s = "plain ascii stays untouched 123"
    assert(one(s) == s)
  }

  test("nfcNormalize: interpreted eval and codegen agree") {
    import graft.expressions.NfcNormalizeExpression
    import org.apache.spark.unsafe.types.UTF8String
    val decomposed = UTF8String.fromString("A\u030A")   // A + combining ring
    assert(NfcNormalizeExpression.compute(decomposed).toString == "\u00C5")
    // through a full plan (codegen path)
    assert(one("A\u030A") == "\u00C5")
  }

  test("lDiversityAudit: homogeneous group flagged, diverse group passes") {
    import graft.operators.Privacy
    val rows = Seq(
      // group (1): three distinct sensitive values → diverse at l=3
      Row(1L, "a"), Row(1L, "b"), Row(1L, "c"),
      // group (2): size 4 but one sensitive value → leak
      Row(2L, "x"), Row(2L, "x"), Row(2L, "x"), Row(2L, "x"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows.toList).asJava),
      StructType(Seq(StructField("g", LongType), StructField("s", StringType))))
    val out = Privacy.lDiversityAudit(df, Seq(col("g")), Seq("g"), "s", l = 3)
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(out.toSeq == Seq((1L, 3L, 3L, 1), (2L, 4L, 1L, 0)))
  }

  test("session_window boundary: exactly-at-gap events MERGE; one past splits") {
    // Pins the q181 oracle's strict > boundary: Spark merges sessions
    // that touch (next.start = prev.end), so an event at prev + gap
    // stays in the session and only prev + gap + ε starts a new one.
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def plusMs(ms: Long) = new java.sql.Timestamp(t0.getTime + ms)
    val gapMs = 30L * 60000
    val df = Seq(
      (1L, t0), (1L, plusMs(gapMs)),              // touch → merge
      (2L, t0), (2L, plusMs(gapMs + 1)))          // 1 ms past → split
      .toDF("user_id", "ts")
    val counts = df
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("session_window.start"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(counts.toSeq == Seq((1L, 2L), (2L, 1L), (2L, 1L)))
  }

  // ---- the native URL canonicalizer against its Column reference ----

  /** Every string literal in the URL specs, plus every literal anywhere
    * in the test tree that contains `://`. */
  private lazy val specLiterals: Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val literal = "\"((?:[^\"\\\\\n]|\\\\.)*)\"".r
    def unescape(s: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s(i) == '\\' && i + 1 < s.length) {
          s(i + 1) match {
            case 'u' if i + 5 < s.length =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case 'n' => sb.append('\n'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case c => sb.append(c); i += 2
          }
        } else { sb.append(s(i)); i += 1 }
      }
      sb.toString
    }
    val root = Paths.get("src/test/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    Files.list(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sorted
      .flatMap { p =>
        val urlSpec = Set("UrlsSpec.scala", "CrawlStorySpec.scala")(p.getFileName.toString)
        literal.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
          .map(m => unescape(m.group(1)))
          .filter(s => urlSpec || s.contains("://"))
      }.distinct
  }

  /** A seeded battery of URL spellings: mixed-case, invalid and
    * missing schemes, userinfo, ports 80/443/other/non-numeric,
    * valid, invalid, trailing and multi-byte `%` escapes, `utm_*` and
    * upper-case tracking keys, empty params, fragments, non-ASCII
    * hosts, and free-form noise. */
  private def generatedUrls(n: Int, seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    def pick(xs: String*): String = xs(r.nextInt(xs.size))
    def some(k: Int)(f: => String): String = Seq.fill(r.nextInt(k + 1))(f).mkString
    val noise = "aZ09:/?#@%&=.-_~ é\u00DF\uFB00\u0130\u03A3\n\uD83D\uDE00"
    Seq.fill(n) {
      if (r.nextInt(25) == 0) Seq.fill(r.nextInt(30))(noise(r.nextInt(noise.length))).mkString
      else {
        val scheme = pick("http://", "https://", "HTTP://", "HtTpS://", "ftp://",
          "git+ssh://", "x.y-z://", "1http://", "", "//", "mailto:", "http:/")
        val user = pick("", "", "", "user@", "u:pw@", "a@b@", "@")
        val host = pick("example.com", "Example.COM", "www.news.co.uk",
          "a.b.c.d.e", "localhost", "B\u00DCCHER.de", "\u0130stanbul.com.tr",
          "\u03A3\u038A\u03A3\u03A5\u03A6\u039F\u03A3.gr", "\u4F8B\u3048.JP",
          "xn--bcher-kva.ch", "host.", ".lead", "", "h_1.example.org", "Shop.Example.COM.AU",
          // a Unicode 14 case pair: ICU lowercases it, the JDK 17 tables do not
          "\u2C2F.Example.COM")
        val port = pick("", "", "", ":80", ":443", ":8080", ":", ":abc", ":080", ":80a")
        val path = some(3)(pick("/", "/a", "/A/b", "/~user", "/%7euser", "/%7E",
          "/%2f", "/%41%42", "/%zz", "/%", "/a%", "/%4", "/%C3%A9", "/\u00E9",
          "/%\u00E91", "/%\uFB00x", "/%1e%0a", "/%%41", "/a b", "/x\n", "/%5F%2D%2e"))
        val query = r.nextInt(4) match {
          case 0 => ""
          case 1 => "?"
          case _ => "?" + Seq.fill(1 + r.nextInt(5))(pick("a=1", "b=2", "Z=9", "A=2",
            "utm_source=x", "UTM_Campaign=y", "utm_=1", "gclid=g", "GCLID=G",
            "fbclid=f", "Ref=r", "ref", "mc_eid=1", "igshid=2", "msclkid=3",
            "%75tm_q=1", "p%61th=x%2f", "=v", "k=", "", "\u00E9=1", "a=1=2",
            "x%26y=1", "\u0130D=1", "\ufb00=1", "\ud83d\ude00=1")).mkString("&")
        }
        val frag = pick("", "", "#", "#top", "#a?b=1", "#%41")
        scheme + user + host + port + path + query + frag
      }
    }
  }

  private def canonicalized(urls: Seq[String], f: Column => Column): Map[Int, Row] = {
    val schema = StructType(Seq(StructField("i", IntegerType, nullable = false),
      StructField("u", StringType)))
    val rows = urls.zipWithIndex.map { case (u, i) => Row(i, u) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .select(col("i"), f(col("u")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap
  }

  test("native canonicalize equals the Column composition on every field") {
    val urls = (specLiterals ++ generatedUrls(20000, 20261019L) :+ null).distinct
    assert(specLiterals.size > 50, specLiterals.size)
    val native = canonicalized(urls, graft.operators.Urls.canonicalize)
    val reference = canonicalized(urls, CanonicalizeReference.canonicalize)
    val diff = urls.indices.filter(i => native(i) != reference(i))
    assert(diff.isEmpty, diff.take(10).map(i =>
      s"${urls(i)}\n  native    ${native(i)}\n  reference ${reference(i)}").mkString("\n"))
    // the battery reaches every rule
    val fields = native.values.toSeq
    assert(fields.count(_.isNullAt(0)) > 100 && fields.count(!_.isNullAt(0)) > 10000)
    assert(fields.count(r => !r.isNullAt(3) && r.getInt(3) > 0) > 1000)
    assert(fields.exists(r => !r.isNullAt(0) && r.getString(0).contains("%2F")))
  }

  test("native canonicalize: same dataType as the Column composition; eval == codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.expressions.CanonicalizeUrlExpression
    val nullable = spark.range(1).select(lit(null).cast(StringType).as("u"))
    val notNull = spark.range(1).select(concat(lit("http://h/"), col("id").cast("string")).as("u"))
    for (df <- Seq(nullable, notNull)) {
      val native = df.select(graft.operators.Urls.canonicalize(col("u"))).schema.head
      val reference = df.select(CanonicalizeReference.canonicalize(col("u"))).schema.head
      assert(native.dataType == reference.dataType)
      assert(native.nullable == reference.nullable)
    }
    val urls = specLiterals.take(200) :+ null
    val codegen = canonicalized(urls, graft.operators.Urls.canonicalize)
    for ((u, i) <- urls.zipWithIndex) {
      val e = CanonicalizeUrlExpression(Literal.create(u, StringType))
      val row = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val interpreted = Row.fromSeq(row.toSeq(e.dataType.asInstanceOf[StructType]).map {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case v => v
      })
      assert(Row.fromSeq(codegen(i).toSeq) == interpreted, String.valueOf(u))
    }
  }
}

/** The Column composition that [[graft.operators.Urls.canonicalize]]
  * replaced, kept as the reference its native expression must equal:
  * regexps, `Bind.once` lambdas, `transform`/`filter`/`array_sort` and
  * case-when trees (2,221 Catalyst nodes for `canonical_url` alone).
  */
object CanonicalizeReference {
  import graft.operators.Urls.{multiPartSuffixes, trackingKeys}

  private def bind(e: Column)(f: Column => Column): Column =
    graft.functions.Bind.once(e)(f)

  private def schemeOf(url: Column): Column =
    lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

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

  private def pctNormalize(s0: Column): Column = bind(s0) { s =>
    val printable = (32 to 126).map(_.toChar).mkString
    def hexVal(ch: Column): Column = {
      val a = ascii(ch)
      when(a >= 48 && a <= 57, a - 48)
        .when(a >= 65 && a <= 70, a - 55)
        .otherwise(lit(-1))
    }
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
          when(valid && n >= 45 && decoded.rlike("^[A-Za-z0-9._~-]$"),
            concat(decoded, rest))
            .when(valid, concat(lit("%"), d1, d2, rest))
            .otherwise(concat(lit("%"), p))
        })
      concat(element_at(parts, 1), array_join(fixed, ""))
    }).otherwise(s)
  }

  private def keptParams(query: Column): Column = {
    val raw = filter(split(query, "&"), p => length(p) > 0)
    val kept = filter(raw, { p =>
      val key = lower(substring_index(p, "=", 1))
      !key.startsWith("utm_") && !key.isin(trackingKeys: _*)
    })
    array_sort(kept)
  }

  def canonicalize(url: Column): Column = {
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
}

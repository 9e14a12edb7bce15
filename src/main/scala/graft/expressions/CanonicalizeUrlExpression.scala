package graft.expressions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization ([[graft.operators.Urls.canonicalize]]) as one
  * codegen'd Catalyst expression: `url` → struct(`canonical_url`,
  * `host`, `registrable_domain`, `n_params_dropped`).
  *
  * The same parse used to be a Column composition of regexps, `Bind`
  * lambdas, `transform`/`filter`/`array_sort` and case-when trees —
  * 2,221 Catalyst nodes for `canonical_url` alone. Every Dataset step
  * re-analyzed that tree, and the higher-order functions kept its
  * projection out of whole-stage codegen, so every row ran it
  * interpreted. Here the tree is two nodes (this expression and its
  * input) and the generated code calls [[compute]] once per row.
  *
  * The answers are the Column composition's: [[compute]] runs the same
  * `java.util.regex` patterns with `regexp_extract`'s find-first-group
  * and `regexp_replace`'s replace-all semantics, splits like `split`,
  * case-maps like `lower`/`upper` on a UTF8_BINARY string, and sorts
  * kept params in `UTF8String` byte order, `array_sort`'s order. The
  * test tree keeps the Column composition as the reference
  * (`CanonicalizeSpec`). A null URL yields a struct of four nulls, as
  * the composition does under ANSI mode.
  */
case class CanonicalizeUrlExpression(child: Expression) extends UnaryExpression {

  override def prettyName: String = "canonicalize_url"

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("canonical_url", StringType),
    StructField("host", StringType, nullable = child.nullable),
    StructField("registrable_domain", StringType),
    StructField("n_params_dropped", IntegerType)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"canonicalize_url requires a string input, got $other")
    }

  override def eval(input: InternalRow): Any =
    CanonicalizeUrlExpression.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper =
      CanonicalizeUrlExpression.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = $helper.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CanonicalizeUrlExpression {

  private val trackingKeys = graft.operators.Urls.trackingKeys.toSet
  private val multiPartSuffixes = graft.operators.Urls.multiPartSuffixes.toSet

  private val schemeP = Pattern.compile("^([A-Za-z][A-Za-z0-9+.-]*)://")
  private val schemePrefixP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://")
  private val authorityP = Pattern.compile("^([^/?#]*)")
  private val hostPortP = Pattern.compile("([^@]*)$")
  private val hostP = Pattern.compile("^([^:]*)")
  private val portP = Pattern.compile(":([0-9]+)$")
  private val authPrefixP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*")
  private val pathP = Pattern.compile("^([^?#]*)")
  private val queryP = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)")

  /** `regexp_extract(s, p, 1)`: group 1 of the first match, else "". */
  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find()) { val g = m.group(1); if (g == null) "" else g } else ""
  }

  /** `regexp_replace(s, p, "")`. */
  private def strip(p: Pattern, s: String): String = p.matcher(s).replaceAll("")

  private def lower(s: String): String =
    CollationAwareUTF8String.toLowerCase(UTF8String.fromString(s)).toString

  private def upper(s: String): String =
    CollationAwareUTF8String.toUpperCase(UTF8String.fromString(s)).toString

  /** Code points [from, from + n) of `s`, clamped to its length. */
  private def codePoints(s: String, from: Int, n: Int): String = {
    val len = s.codePointCount(0, s.length)
    if (from >= len) ""
    else {
      val b = s.offsetByCodePoints(0, from)
      s.substring(b, s.offsetByCodePoints(b, math.min(n, len - from)))
    }
  }

  /** Hex value of the first code point of `d` (0 for ""), -1 if none. */
  private def hexVal(d: String): Int = {
    val a = if (d.isEmpty) 0 else d.codePointAt(0)
    if (a >= '0' && a <= '9') a - '0'
    else if (a >= 'A' && a <= 'F') a - 'A' + 10
    else -1
  }

  private def unreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  /** RFC 3986 §6.2.2 percent-encoding normalization of a path or query
    * string: valid `%XX` escapes get UPPERCASE hex (`%2f` → `%2F`) and
    * escapes of UNRESERVED characters (ALPHA / DIGIT / `-._~`) decode
    * (`%41` → `A`, `%7e` → `~`), so `%7Euser` and `~user` are one
    * frontier entry. Invalid sequences (`%zz`, a lone trailing `%`)
    * pass through untouched. Decoding an unreserved character never
    * creates a URL delimiter (`&`, `=`, `/`, `#` are reserved and stay
    * encoded), so normalizing before the query splits into params is
    * safe. Each piece after a `%` is judged on its first two code
    * points, upper-cased as `upper` does.
    */
  private def pctNormalize(s: String): String =
    if (s.indexOf('%') < 0) s
    else {
      val parts = s.split("%", -1)
      val sb = new java.lang.StringBuilder(s.length).append(parts(0))
      var i = 1
      while (i < parts.length) {
        val p = parts(i)
        val d1 = upper(codePoints(p, 0, 1))
        val d2 = upper(codePoints(p, 1, 1))
        val n1 = hexVal(d1)
        val n2 = hexVal(d2)
        if (n1 >= 0 && n2 >= 0) {
          val n = n1 * 16 + n2
          if (unreserved(n)) sb.append(n.toChar)
          else sb.append('%').append(d1).append(d2)
          sb.append(codePoints(p, 2, Int.MaxValue))
        } else sb.append('%').append(p)
        i += 1
      }
      sb.toString
    }

  private def tracking(param: String): Boolean = {
    val eq = param.indexOf('=')
    val key = lower(if (eq < 0) param else param.substring(0, eq))
    key.startsWith("utm_") || trackingKeys.contains(key)
  }

  /** The canonical struct of `url` (null → four null fields). */
  def compute(url: UTF8String): InternalRow = {
    if (url == null) return new GenericInternalRow(4)
    val u = url.toString
    val scheme = lower(extract(schemeP, u))
    val hp = extract(hostPortP, extract(authorityP, strip(schemePrefixP, u)))
    val host = lower(extract(hostP, hp))
    val port = extract(portP, hp)

    val params = pctNormalize(extract(queryP, u)).split("&", -1).filter(_.nonEmpty)
    val kept = params.filterNot(tracking).map(UTF8String.fromString)
    java.util.Arrays.sort(kept, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))

    val canonical =
      if (scheme.isEmpty) null
      else {
        val defaultPort = (scheme == "http" && port == "80") ||
          (scheme == "https" && port == "443")
        val path = extract(pathP, strip(authPrefixP, u))
        val sb = new java.lang.StringBuilder(u.length + 8)
          .append(scheme).append("://").append(host)
        if (port.nonEmpty && !defaultPort) sb.append(':').append(port)
        sb.append(pctNormalize(if (path.isEmpty) "/" else path))
        if (kept.nonEmpty) sb.append('?').append(kept.mkString("&"))
        UTF8String.fromString(sb.toString)
      }

    val labels = host.split("\\.", -1)
    val n = labels.length
    def lastLabels(k: Int): String = labels.slice(n - k, n).mkString(".")
    val registrable =
      if (n >= 3 && multiPartSuffixes.contains(lastLabels(2))) lastLabels(3)
      else if (n >= 2) lastLabels(2)
      else host

    new GenericInternalRow(Array[Any](canonical, UTF8String.fromString(host),
      UTF8String.fromString(registrable), params.length - kept.length))
  }

  /** Column-level API. */
  def canonicalizeUrl(url: Column): Column =
    ColumnBridge.column(CanonicalizeUrlExpression(ColumnBridge.expression(url)))

  /** True exactly when `canonical_url` of `url` is non-null: `url` is
    * non-null and starts with a scheme (`schemeP`, the pattern
    * [[compute]] reads the scheme with). A filter on it reads the input,
    * so the URL is canonicalized once, in the projection.
    */
  def isUrl(url: Column): Column = url.isNotNull && url.rlike(schemeP.pattern)
}

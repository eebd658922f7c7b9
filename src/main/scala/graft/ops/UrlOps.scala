package graft.ops

import java.util.regex.Pattern
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL resolution and canonicalization — the normalizer in front of
  * URL-keyed dedup and the resume anti-join (two spellings of one URL
  * otherwise double-crawl and double-store).
  *
  * [[resolveUrl]], [[documentBase]] and [[canonicalizeUrl]] are plain
  * `String` functions (null in → null out); each `Column` form is one
  * code-generated `udf` over its function, so the forms nest in one
  * projection: `canonicalizeUrl(resolveUrl(documentBase(page, base),
  * href))`. [[urlHost]], [[urlPath]] and [[hostKey]] are single native
  * `regexp_extract`s; host and path share their pattern with the `String`
  * code.
  *
  * Canonical form (RFC 3986 §6 normalizations that preserve identity):
  *   - scheme and host lowercased (ICU case mapping, as Spark's `lower`)
  *   - default port dropped (:80 for http, :443 for https), others kept
  *   - empty path → "/"
  *   - UNRESERVED percent-escapes decoded (§6.2.2.2 — `%7E`→`~`), the
  *     others hex-UPPERCASED (§6.2.2.1), in path and query; `%2F` stays
  *   - dot segments removed from the path (§6.2.2.3), after decoding, so
  *     `%2E` joins dot handling; a trailing `/.`|`/..` keeps the slash
  *   - query otherwise byte-for-byte; fragment dropped
  *
  * NOT done (identity-changing, documented): www-stripping, param sorting.
  */
object UrlOps {

  private val Scheme = Pattern.compile("^([A-Za-z][A-Za-z0-9+.-]*)://")
  private val Host = Pattern.compile("^[^:/?#]+://([^/:?#]+)")
  private val Port = Pattern.compile("^[^:/?#]+://[^/:?#]+:([0-9]+)")
  private val Path = Pattern.compile("^[^:/?#]+://[^/?#]+([^?#]*)")
  private val Query = Pattern.compile("^[^?#]*(\\?[^#]*)")
  private val Authority = Pattern.compile("^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)")
  private val AbsoluteRef = Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:")
  private val HexPair = Pattern.compile("^[0-9A-F]{2}$")

  /** Group 1 of the first match, "" when there is none (`regexp_extract`). */
  private def extract(p: Pattern, s: String): String = {
    val m = p.matcher(s)
    if (m.find() && m.group(1) != null) m.group(1) else ""
  }

  private def lowerCase(s: String): String =
    com.ibm.icu.lang.UCharacter.toLowerCase(com.ibm.icu.util.ULocale.ROOT, s)

  /** The canonical host: lowercased, up to the first `:/?#`. */
  def urlHost(u: Column): Column = lower(regexp_extract(u, Host.pattern, 1))

  def urlPath(u: Column): Column = regexp_extract(u, Path.pattern, 1)
  def urlPath(u: String): String = extract(Path, u)

  /** The partition key for per-host work (`ExtractJob.run`'s salted
    * repartition, host sessions): everything between `scheme://` and the
    * next `/`. Unlike [[urlHost]] it keeps case, port and userinfo.
    */
  def hostKey(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/]+)", 1)

  /** §6.2.2.2 + §6.2.2.1 on each '%' run; a malformed run stays verbatim. */
  private def decodeUnreserved(u: String): String = {
    val parts = u.split("%", -1)
    if (parts.length == 1) u
    else parts.iterator.drop(1).map { p =>
      // `ﬀ` uppercases to "FF" and `$` also matches before a final line
      // terminator: such an escape decodes its first two chars, keeps the rest
      val hex = p.take(2).toUpperCase(java.util.Locale.ROOT)
      if (!HexPair.matcher(hex).find()) "%" + p
      else {
        val ch = Integer.parseInt(hex.substring(0, 2), 16).toChar
        if ((ch < 128 && ch.isLetterOrDigit) || "._~-".indexOf(ch) >= 0) s"$ch${p.drop(2)}"
        else s"%$hex${p.drop(2)}"
      }
    }.mkString(parts(0), "", "")
  }

  /** §6.2.2.3 on an absolute path (others pass through): `..` pops, `.`
    * drops, a final dot segment keeps the slash, empty segments stay.
    */
  private def removeDotSegments(path: String): String =
    if (!path.startsWith("/")) path
    else {
      val (st, trailing) = path.split("/", -1).iterator.drop(1)
        .foldLeft((List.empty[String], false)) {
          case ((st, _), ".") => (st, true)
          case ((st, _), "..") => (st.drop(1), true)
          case ((st, _), seg) => (seg :: st, false)
        }
      st.reverse.mkString("/", "/", if (trailing && st.nonEmpty) "/" else "")
    }

  /** RFC 3986 §5 reference resolution, fragment dropped in every branch
    * (a frontier key must not split on it): an absolute ref passes through
    * (even on a null base), `//host/p` takes the base scheme, and `/p`,
    * `?q`, ""/`#f` and relative paths resolve against the base per the
    * RFC, dot segments removed.
    */
  def resolveUrl(base: String, ref: String): String =
    if (ref == null) null
    else if (AbsoluteRef.matcher(ref).find()) ref.takeWhile(_ != '#')
    else if (base == null) null
    else if (ref.startsWith("//"))
      lowerCase(extract(Scheme, base)) + ":" + ref.takeWhile(_ != '#')
    else {
      val authority = extract(Authority, base)
      val basePath = Option(extract(Path, base)).filter(_.nonEmpty).getOrElse("/")
      val refPath = ref.takeWhile(c => c != '?' && c != '#')
      if (ref.isEmpty || ref.startsWith("#")) authority + basePath + extract(Query, base)
      else if (ref.startsWith("?")) authority + basePath + extract(Query, ref)
      else if (ref.startsWith("/")) authority + removeDotSegments(refPath) + extract(Query, ref)
      else authority + removeDotSegments(basePath.take(basePath.lastIndexOf('/') + 1) +
        refPath) + extract(Query, ref)
    }

  def resolveUrl(base: Column, ref: Column): Column = ResolveUdf(base, ref)
  private val ResolveUdf = udf(resolveUrl(_: String, _: String)).withName("resolve_url")

  /** The DOCUMENT BASE hrefs resolve against (WHATWG): the `<base href>`
    * resolved against the page url, or the page url when it is ""/null.
    */
  def documentBase(pageUrl: String, baseHref: String): String =
    if (baseHref == null || baseHref.isEmpty) pageUrl else resolveUrl(pageUrl, baseHref)

  def documentBase(pageUrl: Column, baseHref: Column): Column = BaseUdf(pageUrl, baseHref)
  private val BaseUdf = udf(documentBase(_: String, _: String)).withName("document_base")

  /** The canonical form above; a string with no `scheme://host` still gets
    * the frame (`"x"` → `":///"`).
    */
  def canonicalizeUrl(u: String): String =
    if (u == null) null
    else {
      val scheme = lowerCase(extract(Scheme, u))
      val port = extract(Port, u)
      val defaultPort = port.isEmpty || scheme == "http" && port == "80" ||
        scheme == "https" && port == "443"
      val path = extract(Path, u)
      scheme + "://" + lowerCase(extract(Host, u)) + (if (defaultPort) "" else ":" + port) +
        (if (path.isEmpty) "/" else removeDotSegments(decodeUnreserved(path))) +
        decodeUnreserved(extract(Query, u))
    }

  def canonicalizeUrl(u: Column): Column = CanonicalUdf(u)
  private val CanonicalUdf = udf(canonicalizeUrl(_: String)).withName("canonicalize_url")
}

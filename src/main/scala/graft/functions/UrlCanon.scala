package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** `url_canon(string)` → the RFC 3986 syntax-based normalization of
  * an absolute URL — the canonicalization step URL-level dedup and
  * crawl-frontier maintenance run before hashing, where
  * `HTTP://Host:80/a/../b` and `http://host/b` must collide:
  * §6.2.2.1 case normalization (scheme + host lowercased, percent
  * hex digits uppercased), §6.2.2.2 percent-encoding normalization
  * (unreserved octets decoded), §6.2.2.3 path-segment normalization
  * (the §5.2.4 remove_dot_segments algorithm, implemented verbatim
  * and pinned on the RFC's own examples), §6.2.3 scheme-based
  * default-port elision (http:80 / https:443) and the empty-path →
  * "/" rule, plus fragment removal (the dedup convention: fragments
  * never reach the server). Null for inputs without a
  * scheme://authority shape (fail-closed — a gate should surface
  * junk, not guess). Spark ships `parse_url` extraction but no
  * normalizer. */
object UrlCanon {
  def normalize(s: UTF8String): UTF8String = {
    val out = normalizeStr(s.toString)
    if (out == null) null else UTF8String.fromString(out)
  }

  def normalizeStr(u: String): String = {
    val si = u.indexOf("://")
    if (si <= 0) return null
    val scheme = u.substring(0, si).toLowerCase
    if (!scheme.forall(c => c.isLetter || c.isDigit || c == '+' ||
      c == '-' || c == '.')) return null
    val rest = u.substring(si + 3)
    var end = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
    if (end < 0) end = rest.length
    var auth = rest.substring(0, end).toLowerCase
    if (auth.isEmpty) return null
    val defPort = scheme match {
      case "http" => ":80"
      case "https" => ":443"
      case _ => null
    }
    if (defPort != null && auth.endsWith(defPort))
      auth = auth.dropRight(defPort.length)
    var tail = rest.substring(end)
    val hi = tail.indexOf('#') // §3.5: fragments never reach the server
    if (hi >= 0) tail = tail.substring(0, hi)
    val qi = tail.indexOf('?')
    val (path0, query) =
      if (qi >= 0) (tail.substring(0, qi), tail.substring(qi))
      else (tail, "")
    val path = if (path0.isEmpty) "/" else path0
    // §6.2.2 order: percent-encoding normalization BEFORE
    // remove_dot_segments, so %2E-encoded dot segments ('/%2e%2e/')
    // decode to '..' and are then eliminated — running it after
    // leaves dot segments in the output and breaks idempotence.
    // (Safe: '/' is reserved, so pctNormalize never decodes %2F and
    // cannot change the path's segment structure.)
    scheme + "://" + auth +
      removeDotSegments(pctNormalize(path)) + pctNormalize(query)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments, verbatim. */
  def removeDotSegments(p: String): String = {
    val out = new StringBuilder
    var in = p
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../") || in == "/..") {
        in = "/" + (if (in == "/..") "" else in.substring(4))
        val idx = out.lastIndexOf("/")
        out.setLength(if (idx >= 0) idx else 0)
      } else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.charAt(0) == '/') 1 else 0
        var next = in.indexOf('/', start)
        if (next < 0) next = in.length
        out.append(in.substring(0, next))
        in = in.substring(next)
      }
    }
    out.toString
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  private def unreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' ||
      c == '~'

  /** §6.2.2.1/§6.2.2.2: percent hex uppercased; unreserved octets
    * decoded. Malformed escapes pass through untouched. */
  def pctNormalize(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hexVal(s.charAt(i + 1)) >= 0 &&
        hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (unreserved(v)) out.append(v.toChar)
        else out.append('%')
          .append(Character.toUpperCase(s.charAt(i + 1)))
          .append(Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else {
        out.append(c)
        i += 1
      }
    }
    out.toString
  }
}

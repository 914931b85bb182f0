package graft.core

import java.util.Locale

/** URL canonicalization for web-corpus dedup.
  *
  * Web-crawl pipelines dedup by canonical URL before any content pass:
  * the same page is crawled as `HTTP://WWW.Example.com:80/a/?utm_source=x`
  * and `http://example.com/a` and must collapse to one key. The rule here
  * is the standard conservative normalization (RFC 3986 §6.2 syntax-based
  * normalization plus the tracking-parameter strip every production
  * crawler applies):
  *
  *   1. scheme and host lowercased (path/query case is preserved);
  *   2. fragment dropped;
  *   3. default port stripped (`:80` for http, `:443` for https; any
  *      other scheme/port combination is kept verbatim);
  *   4. a leading `www.` host label dropped;
  *   5. query parameters split on `&`; empty params and tracking params
  *      (`utm_*`, `fbclid`, `gclid`, `ref`) dropped; the rest sorted
  *      byte-wise and rejoined — param ORDER never distinguishes pages;
  *   6. an empty path becomes `/`; a trailing `/` on a non-root path is
  *      stripped; an empty query drops its `?`.
  *
  * Pure JVM string code, called as one static kernel call
  * (graft.functions.url.canonicalize) so the whole pass stays inside
  * whole-stage codegen. Inputs that do not look like `scheme://host...`
  * are returned unchanged (garbage in the url column must not kill a
  * 100 TB scan; the caller can filter on `url_host(url) = ''`).
  */
object UrlOps {

  private val TrackingParam = "^(utm_[^=]*|fbclid|gclid|ref)=.*$".r.pattern

  /** Canonical form per the rule above; non-URL input returned as-is. */
  def canonicalize(url: String): String = {
    val sep = url.indexOf("://")
    if (sep <= 0 || !url.substring(0, sep).forall(_.isLetter)) return url
    val scheme = url.substring(0, sep).toLowerCase(Locale.ROOT)
    // strip fragment first: everything after the first '#'
    val hashAt = url.indexOf('#')
    val noFrag = if (hashAt >= 0) url.substring(0, hashAt) else url
    val rest = noFrag.substring(sep + 3)
    // authority ends at the first '/', '?' (or end)
    var authEnd = rest.length
    var i = 0
    while (i < authEnd) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?') { authEnd = i } else i += 1
    }
    var host = rest.substring(0, authEnd).toLowerCase(Locale.ROOT)
    if ((scheme == "http" && host.endsWith(":80")) ||
        (scheme == "https" && host.endsWith(":443")))
      host = host.substring(0, host.lastIndexOf(':'))
    if (host.startsWith("www.")) host = host.substring(4)
    val tail = rest.substring(authEnd)
    val qAt = tail.indexOf('?')
    var path = if (qAt >= 0) tail.substring(0, qAt) else tail
    if (path.isEmpty) path = "/"
    else if (path.length > 1 && path.endsWith("/")) path = path.substring(0, path.length - 1)
    val query =
      if (qAt < 0) ""
      else {
        val params = tail.substring(qAt + 1).split("&", -1)
          .filter(p => p.nonEmpty && !TrackingParam.matcher(p).matches())
        java.util.Arrays.sort(params, java.util.Comparator.naturalOrder[String]())
        params.mkString("&")
      }
    val sb = new java.lang.StringBuilder(url.length)
    sb.append(scheme).append("://").append(host).append(path)
    if (query.nonEmpty) sb.append('?').append(query)
    sb.toString
  }

  /** Lowercased host (no port, no `www.`) of a URL, or "" if the input
    * does not parse — the per-domain governance key (blocklists, crawl
    * budgets, per-domain quality stats).
    */
  def host(url: String): String = {
    val sep = url.indexOf("://")
    if (sep <= 0 || !url.substring(0, sep).forall(_.isLetter)) return ""
    val rest = url.substring(sep + 3)
    var end = rest.length
    var i = 0
    while (i < end) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') { end = i } else i += 1
    }
    var h = rest.substring(0, end).toLowerCase(Locale.ROOT)
    val colon = h.lastIndexOf(':')
    if (colon >= 0 && h.substring(colon + 1).forall(_.isDigit)) h = h.substring(0, colon)
    if (h.startsWith("www.")) h = h.substring(4)
    h
  }

  /** Registrable-domain approximation: last two host labels (three when
    * the TLD is a two-level public suffix like co.uk / com.au). The full
    * public-suffix list is a data file a production deploy would ship;
    * the two-level fallback here covers the common cases and is the
    * documented deviation.
    */
  def domain(hostName: String): String = {
    if (hostName.isEmpty) return ""
    val labels = hostName.split('.')
    if (labels.length <= 2) return hostName
    val twoLevel = Set("co", "com", "org", "net", "ac", "gov", "edu")
    val n = labels.length
    val keep = if (labels(n - 1).length == 2 && twoLevel.contains(labels(n - 2))) 3 else 2
    labels.takeRight(keep).mkString(".")
  }
}

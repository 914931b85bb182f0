package graft.core

import java.util.Locale
import java.util.regex.{Matcher, Pattern}
import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Deterministic geoparsing: extract (lat, lon) mentions from page text.
  *
  * Target analog of the reference's header multi-key fallback extraction
  * (reference: mvt/io_espre.py:84-104 — scan several known encodings of
  * the same quantity, first match wins): we scan three coordinate
  * encodings in a fixed precedence order, then gazetteer names.
  *
  * Encodings (precedence):
  *  1. labeled: `lat: <f>, lon|lng|long: <f>` (case-insensitive)
  *  2. geo URI: `geo:<lat>,<lon>`
  *  3. bare parenthesized pair: `(<lat>, <lon>)` with both in range and at
  *     least 3 decimal places (guards against matching arbitrary numbers)
  *  4. gazetteer city names (word-boundary, case-insensitive)
  *
  * Output order: every labeled match by position, then geo URIs, then
  * pairs, then gazetteer 1-word names by position, then 2-word, then
  * 3-word names.
  *
  * One pass over the text, 64 chars at a time, finds both the coordinate
  * candidates (each pattern runs anchored only where its literal prefix
  * occurs) and the letter runs. A run is compared with the gazetteer only
  * if some name's first word has its length and its first and last
  * letters. Text with a char >= 0x80 has its names matched on its
  * `Locale.ROOT` lowering instead, in a second pass.
  */
object Geoparse {
  final case class Mention(lat: Double, lon: Double, kind: String, name: String)

  private val Labeled = Pattern.compile(
    """(?i)lat(?:itude)?\s*[:=]\s*(-?\d{1,2}\.\d+)\s*[,;\s]\s*(?:lon|lng|long)(?:itude)?\s*[:=]\s*(-?\d{1,3}\.\d+)""")
  private val GeoUri =
    Pattern.compile("""(?i)geo:(-?\d{1,2}(?:\.\d+)?),(-?\d{1,3}(?:\.\d+)?)""")
  private val BarePair =
    Pattern.compile("""\((-?\d{1,2}\.\d{3,}),\s*(-?\d{1,3}\.\d{3,})\)""")
  private val Kinds = Array("labeled", "geouri", "pair")

  @inline private def inRange(lat: Double, lon: Double): Boolean =
    lat >= -90.0 && lat <= 90.0 && lon >= -180.0 && lon <= 180.0

  /** Building a Matcher costs more than a parse's own scan, so each thread
    * keeps one per pattern and points it at every text it parses.
    */
  private val matchers = ThreadLocal.withInitial[Array[Matcher]](() =>
    Array(Labeled, GeoUri, BarePair).map(_.matcher("")))

  /** The in-range matches of encoding `k` in `text`, in text order; made
    * at the text's first candidate start for it. `tryAt` must be offered
    * candidate starts in increasing order; a start before the previous
    * match's end is skipped, so the matches are the same non-overlapping
    * ones `findAllMatchIn` yields.
    */
  private final class Encoding(k: Int, text: String) {
    private[this] val m = matchers.get()(k).reset(text)
    private[this] var end = 0
    private[this] var hits: mutable.ArrayBuffer[Mention] = _

    def tryAt(i: Int): Unit = if (i >= end) {
      m.region(i, text.length)
      if (m.lookingAt()) {
        end = m.end()
        val lat = m.group(1).toDouble; val lon = m.group(2).toDouble
        if (inRange(lat, lon)) {
          if (hits == null) hits = new mutable.ArrayBuffer[Mention](4)
          hits += Mention(lat, lon, Kinds(k), "")
        }
      }
    }

    def size: Int = if (hits == null) 0 else hits.length

    /** Copies the hits into `out` at `k`; returns the next free index. */
    def copyTo(out: Array[Mention], k: Int): Int = {
      if (hits != null) hits.copyToArray(out, k)
      k + size
    }
  }

  @inline private def size(e: Encoding): Int = if (e == null) 0 else e.size
  @inline private def copyTo(e: Encoding, out: Array[Mention], k: Int): Int =
    if (e == null) k else e.copyTo(out, k)

  /** Each gazetteer name's words, in `Gazetteer.entries` order. */
  private val words: Array[Array[String]] = Gazetteer.entries.map(_._1.split(' '))
  private val MaxWords = words.map(_.length).max
  /** Mentions are immutable, so every hit on an entry shares one. */
  private val nameMention: Array[Mention] =
    Gazetteer.entries.map { case (n, la, lo) => Mention(la, lo, "gazetteer", n) }

  // First-word filter: `lengths(f * 26 + l)` has bit n set when some
  // name's first word has n letters, starts with letter f and ends with
  // letter l ('a' = 0), and `byStart(f * 64 + n)` lists the names whose
  // first word starts with f and has n letters, in `entries` order. Few
  // letter runs pass: 6 of the 120 filler words of the synthetic pages
  // do, against 54 with the first letter and length alone.
  private val lengths = new Array[Long](26 * 26)
  private val byStart = new Array[Array[Int]](26 * 64)
  for (e <- words.indices) {
    val w = words(e)(0)
    require(w.length < 64 && w.forall(c => c >= 'a' && c <= 'z'), w)
    val key = (w.charAt(0) - 'a') * 64 + w.length
    lengths((w.charAt(0) - 'a') * 26 + w.last - 'a') |= 1L << w.length
    byStart(key) = Option(byStart(key)).getOrElse(Array.empty[Int]) :+ e
  }

  /** An ASCII letter; `| 0x20` lowers it. No other char maps into a-z. */
  @inline private def isLetter(c: Char): Boolean = {
    val f = c | 0x20
    f >= 'a' && f <= 'z'
  }

  /** Whether the letter run `s[start, end)` passes the first-word filter.
    * `n < 64` first: a shift distance is taken mod 64.
    */
  @inline private def mayStartName(s: String, start: Int, end: Int): Boolean = {
    val n = end - start
    n < 64 && (lengths(((s.charAt(start) | 0x20) - 'a') * 26 +
      (s.charAt(end - 1) | 0x20) - 'a') >>> n & 1L) != 0
  }

  /** Whether the letter run `s[start, end)` spells `w` (lowercase). */
  @inline private def spells(s: String, start: Int, end: Int, w: String): Boolean =
    end - start == w.length && s.regionMatches(true, start, w, 0, w.length)

  /** Whether words 1.. of entry `e` follow in `s` from `p0`, one maximal
    * letter run each.
    */
  private def restFollows(s: String, p0: Int, e: Int): Boolean = {
    val ws = words(e)
    val len = s.length
    var p = p0
    var j = 1
    while (j < ws.length) {
      while (p < len && !isLetter(s.charAt(p))) p += 1
      val start = p
      while (p < len && isLetter(s.charAt(p))) p += 1
      if (!spells(s, start, p, ws(j))) return false
      j += 1
    }
    true
  }

  /** Appends to `hits` (made if null) the entries that the letter run
    * `s[start, end)`, a filter pass, starts; returns `hits`.
    */
  private def namesAt(s: String, start: Int, end: Int,
                      hits: mutable.ArrayBuilder.ofInt): mutable.ArrayBuilder.ofInt = {
    var out = hits
    val es = byStart(((s.charAt(start) | 0x20) - 'a') * 64 + end - start)
    var c = 0
    while (c < es.length) {
      val e = es(c)
      if (spells(s, start, end, words(e)(0)) && restFollows(s, end, e)) {
        if (out == null) out = new mutable.ArrayBuilder.ofInt
        out += e
      }
      c += 1
    }
    out
  }

  /** The names pass alone, for text lowered off the one-pass path. */
  private def names(s: String): mutable.ArrayBuilder.ofInt = {
    var hits: mutable.ArrayBuilder.ofInt = null
    val len = s.length
    var start = -1
    var i = 0
    while (i <= len) {
      if (i < len && isLetter(s.charAt(i))) { if (start < 0) start = i }
      else if (start >= 0) {
        if (mayStartName(s, start, i)) hits = namesAt(s, start, i, hits)
        start = -1
      }
      i += 1
    }
    hits
  }

  // The scan reads the text in blocks of 64 chars. A first loop turns a
  // block into two bit masks through `CharClass`, bit 0 (an ASCII letter)
  // and bit 1 (`l`, `g`, `(` or a char >= 0x80); the rest of the scan
  // visits only the set bits, in text order. Candidate starts are
  // the occurrences of each pattern's literal prefix: `lat` and `geo:`
  // ASCII-case-insensitively (Java's (?i) folds ASCII only), `(` exactly.
  // No match can start anywhere else.
  private val CharClass: Array[Byte] = Array.tabulate(0x80) { c =>
    (if (isLetter(c.toChar)) 1 else 0) | (if ("lLgG(".indexOf(c) >= 0) 2 else 0)
  }.map(_.toByte)
  private val Lat = 'l' << 16 | 'a' << 8 | 't'
  private val Geo = 'g' << 16 | 'e' << 8 | 'o'

  def parse(text: String): Seq[Mention] = {
    val len = text.length
    var labeled, geoUri, pair: Encoding = null
    var hits: mutable.ArrayBuilder.ofInt = null
    var ascii = true
    var open = -1 // start of a letter run that goes on past the block
    var b = 0
    while (b < len) {
      val m = math.min(64, len - b)
      var letters, marks = 0L
      var j = 0
      while (j < m) {
        val c = text.charAt(b + j)
        val k = if (c < 0x80) CharClass(c) else 2
        letters |= (k & 1).toLong << j
        marks |= (k >>> 1).toLong << j
        j += 1
      }
      while (marks != 0) {
        val p = b + java.lang.Long.numberOfTrailingZeros(marks)
        val c = text.charAt(p)
        if (c == '(') {
          if (pair == null) pair = new Encoding(2, text)
          pair.tryAt(p)
        } else if (c >= 0x80) ascii = false
        else if (p + 2 < len) {
          // a char >= 0x100 can make `g` equal Lat or Geo by accident;
          // the pattern then finds no match at `p`
          val g = (c | 0x20) << 16 | (text.charAt(p + 1) | 0x20) << 8 |
            (text.charAt(p + 2) | 0x20)
          if (g == Lat) {
            if (labeled == null) labeled = new Encoding(0, text)
            labeled.tryAt(p)
          } else if (g == Geo && p + 3 < len && text.charAt(p + 3) == ':') {
            if (geoUri == null) geoUri = new Encoding(1, text)
            geoUri.tryAt(p)
          }
        }
        marks &= marks - 1
      }
      // Name tokens are the maximal letter runs; ASCII text lowers char by
      // char, so its runs are matched in place. A run ends at a letter
      // whose next char is not one.
      if (ascii) {
        var starts = letters & ~(letters << 1)
        if (open >= 0) starts &= ~1L
        var ends = letters & ~(letters >>> 1)
        // the block's last char (bit 63: the sign) is a letter, and so is the next
        val goesOn = letters < 0 && b + 64 < len && isLetter(text.charAt(b + 64))
        if (goesOn) ends &= Long.MaxValue
        while (ends != 0) {
          val e = b + java.lang.Long.numberOfTrailingZeros(ends) + 1
          val s = b + java.lang.Long.numberOfTrailingZeros(starts)
          val start = if (s < e) { starts &= starts - 1; s } else open
          if (mayStartName(text, start, e)) hits = namesAt(text, start, e, hits)
          ends &= ends - 1
        }
        open = if (!goesOn) -1
          else if (starts != 0) b + java.lang.Long.numberOfTrailingZeros(starts)
          else open
      }
      b += 64
    }
    // Other text has its names matched on its ROOT lowering: that can
    // change the length (İ → i + U+0307) and maps some non-ASCII letters
    // to ASCII ones (Kelvin sign → k).
    if (!ascii) hits = names(text.toLowerCase(Locale.ROOT))
    val nameHits = if (hits == null) null else hits.result()
    val nHits = if (nameHits == null) 0 else nameHits.length
    val n = size(labeled) + size(geoUri) + size(pair) + nHits
    if (n == 0) return Nil
    val out = new Array[Mention](n)
    var k = copyTo(labeled, out, 0)
    k = copyTo(geoUri, out, k)
    k = copyTo(pair, out, k)
    var w = 1
    while (w <= MaxWords) {
      var h = 0
      while (h < nHits) {
        if (words(nameHits(h)).length == w) { out(k) = nameMention(nameHits(h)); k += 1 }
        h += 1
      }
      w += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }
}

/** Tiny built-in gazetteer: 69 world cities (public coordinates, ~2 dp).
  * Names are lowercase; multi-word names match as substrings with word
  * boundaries.
  */
object Gazetteer {
  val entries: Array[(String, Double, Double)] = Array(
    ("london", 51.51, -0.13), ("paris", 48.86, 2.35), ("berlin", 52.52, 13.41),
    ("madrid", 40.42, -3.70), ("rome", 41.89, 12.48), ("lisbon", 38.72, -9.14),
    ("amsterdam", 52.37, 4.90), ("brussels", 50.85, 4.35), ("vienna", 48.21, 16.37),
    ("prague", 50.08, 14.44), ("warsaw", 52.23, 21.01), ("budapest", 47.50, 19.04),
    ("athens", 37.98, 23.73), ("stockholm", 59.33, 18.07), ("oslo", 59.91, 10.75),
    ("helsinki", 60.17, 24.94), ("copenhagen", 55.68, 12.57), ("dublin", 53.35, -6.26),
    ("zurich", 47.37, 8.54), ("geneva", 46.20, 6.14), ("moscow", 55.76, 37.62),
    ("istanbul", 41.01, 28.98), ("cairo", 30.04, 31.24), ("lagos", 6.52, 3.38),
    ("nairobi", -1.29, 36.82), ("johannesburg", -26.20, 28.05), ("cape town", -33.92, 18.42),
    ("casablanca", 33.57, -7.59), ("tel aviv", 32.07, 34.78), ("dubai", 25.20, 55.27),
    ("riyadh", 24.71, 46.68), ("tehran", 35.69, 51.39), ("karachi", 24.86, 67.01),
    ("mumbai", 19.08, 72.88), ("delhi", 28.70, 77.10), ("bangalore", 12.97, 77.59),
    ("dhaka", 23.81, 90.41), ("bangkok", 13.76, 100.50), ("singapore", 1.35, 103.82),
    ("jakarta", -6.21, 106.85), ("manila", 14.60, 120.98), ("hong kong", 22.32, 114.17),
    ("shanghai", 31.23, 121.47), ("beijing", 39.90, 116.41), ("seoul", 37.57, 126.98),
    ("tokyo", 35.68, 139.69), ("osaka", 34.69, 135.50), ("sydney", -33.87, 151.21),
    ("melbourne", -37.81, 144.96), ("auckland", -36.85, 174.76), ("honolulu", 21.31, -157.86),
    ("anchorage", 61.22, -149.90), ("vancouver", 49.28, -123.12), ("seattle", 47.61, -122.33),
    ("san francisco", 37.77, -122.42), ("los angeles", 34.05, -118.24), ("denver", 39.74, -104.99),
    ("chicago", 41.88, -87.63), ("toronto", 43.65, -79.38), ("new york", 40.71, -74.01),
    ("boston", 42.36, -71.06), ("miami", 25.76, -80.19), ("mexico city", 19.43, -99.13),
    ("bogota", 4.71, -74.07), ("lima", -12.05, -77.04), ("santiago", -33.45, -70.67),
    ("buenos aires", -34.60, -58.38), ("sao paulo", -23.55, -46.63), ("rio de janeiro", -22.91, -43.17)
  )
}

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
  */
object Geoparse {
  final case class Mention(lat: Double, lon: Double, kind: String, name: String)

  private val Labeled = Pattern.compile(
    """(?i)lat(?:itude)?\s*[:=]\s*(-?\d{1,2}\.\d+)\s*[,;\s]\s*(?:lon|lng|long)(?:itude)?\s*[:=]\s*(-?\d{1,3}\.\d+)""")
  private val GeoUri =
    Pattern.compile("""(?i)geo:(-?\d{1,2}(?:\.\d+)?),(-?\d{1,3}(?:\.\d+)?)""")
  private val BarePair =
    Pattern.compile("""\((-?\d{1,2}\.\d{3,}),\s*(-?\d{1,3}\.\d{3,})\)""")

  @inline private def inRange(lat: Double, lon: Double): Boolean =
    lat >= -90.0 && lat <= 90.0 && lon >= -180.0 && lon <= 180.0

  /** Building a Matcher costs more than a parse's own scan, so each thread
    * keeps one per pattern and points it at every text it parses.
    */
  private val matchers = ThreadLocal.withInitial[Array[Matcher]](() =>
    Array(Labeled, GeoUri, BarePair).map(_.matcher("")))

  /** The in-range matches of one coordinate encoding, in text order.
    * `tryAt` must be offered candidate starts in increasing order; a start
    * before the previous match's end is skipped, so the matches are the
    * same non-overlapping ones `findAllMatchIn` yields.
    */
  private final class Encoding(m: Matcher, kind: String, text: String) {
    private[this] var bound = false
    private[this] var end = 0
    private[this] var hits: mutable.ArrayBuffer[Mention] = _

    def tryAt(i: Int): Unit = if (i >= end) {
      if (!bound) { m.reset(text); bound = true }
      m.region(i, text.length)
      if (m.lookingAt()) {
        end = m.end()
        val lat = m.group(1).toDouble; val lon = m.group(2).toDouble
        if (inRange(lat, lon)) {
          if (hits == null) hits = new mutable.ArrayBuffer[Mention](4)
          hits += Mention(lat, lon, kind, "")
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

  /** Each gazetteer name's words, in `Gazetteer.entries` order. */
  private val words: Array[Array[String]] = Gazetteer.entries.map(_._1.split(' '))
  private val MaxWords = words.map(_.length).max
  /** Mentions are immutable, so every hit on an entry shares one. */
  private val nameMention: Array[Mention] =
    Gazetteer.entries.map { case (n, la, lo) => Mention(la, lo, "gazetteer", n) }

  // First-word table: open addressing on the word's String.hashCode.
  // A slot holds the indices of the entries starting with that word, in
  // `entries` order. At most half the slots are used.
  private val Slots = Integer.highestOneBit(words.length * 4)
  private val slotHash = new Array[Int](Slots)
  private val slotWord = new Array[String](Slots)
  private val slotEntries = new Array[Array[Int]](Slots)
  words.indices.groupBy(e => words(e)(0)).foreach { case (w, es) =>
    var s = slot(w.hashCode)
    while (slotWord(s) != null) s = (s + 1) & (Slots - 1)
    slotHash(s) = w.hashCode; slotWord(s) = w; slotEntries(s) = es.sorted.toArray
  }

  @inline private def slot(h: Int): Int = (h ^ (h >>> 16)) & (Slots - 1)

  /** An ASCII letter; `| 0x20` lowers it. No other char maps into a-z. */
  @inline private def isLetter(c: Char): Boolean = {
    val f = c | 0x20
    f >= 'a' && f <= 'z'
  }

  /** Whether the letter run `s[start, end)` spells `w` (lowercase). */
  @inline private def spells(s: String, start: Int, end: Int, w: String): Boolean =
    end - start == w.length && s.regionMatches(true, start, w, 0, w.length)

  /** Entries whose first word is the letter run `s[start, end)` with hash
    * `h`, or null.
    */
  private def firstWord(s: String, start: Int, end: Int, h: Int): Array[Int] = {
    var i = slot(h)
    while (slotWord(i) != null) {
      if (slotHash(i) == h && spells(s, start, end, slotWord(i))) return slotEntries(i)
      i = (i + 1) & (Slots - 1)
    }
    null
  }

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

  /** Indices of the entries matched in `s`, by the position of their first
    * word; null when none. Tokens are the maximal letter runs, lowered.
    */
  private def gazetteerHits(s: String): Array[Int] = {
    var hits: mutable.ArrayBuilder.ofInt = null
    val len = s.length
    var i = 0
    while (i < len) {
      if (!isLetter(s.charAt(i))) i += 1
      else {
        val start = i
        var h = 0
        while (i < len && isLetter(s.charAt(i))) { h = 31 * h + (s.charAt(i) | 0x20); i += 1 }
        val es = firstWord(s, start, i, h)
        if (es != null) {
          var c = 0
          while (c < es.length) {
            if (restFollows(s, i, es(c))) {
              if (hits == null) hits = new mutable.ArrayBuilder.ofInt
              hits += es(c)
            }
            c += 1
          }
        }
      }
    }
    if (hits == null) null else hits.result()
  }

  def parse(text: String): Seq[Mention] = {
    val len = text.length
    val ms = matchers.get()
    val labeled = new Encoding(ms(0), "labeled", text)
    val geoUri = new Encoding(ms(1), "geouri", text)
    val pair = new Encoding(ms(2), "pair", text)
    // Candidate starts are the occurrences of each pattern's literal
    // prefix: `lat` and `geo:` ASCII-case-insensitively (Java's (?i) folds
    // ASCII only), `(` exactly. No match can start anywhere else.
    var seen = 0 // OR of every char: >= 0x80 iff the text is not ASCII
    var i = 0
    while (i < len) {
      val c = text.charAt(i)
      seen |= c
      val f = c | 0x20
      if (f == 'l') {
        if (i + 2 < len && (text.charAt(i + 1) | 0x20) == 'a' &&
            (text.charAt(i + 2) | 0x20) == 't') labeled.tryAt(i)
      } else if (f == 'g') {
        if (i + 3 < len && (text.charAt(i + 1) | 0x20) == 'e' &&
            (text.charAt(i + 2) | 0x20) == 'o' && text.charAt(i + 3) == ':') geoUri.tryAt(i)
      } else if (c == '(') pair.tryAt(i)
      i += 1
    }
    // Gazetteer rule: lowercase with Locale.ROOT, tokens = maximal [a-z]
    // runs, match every 1/2/3-gram phrase against the gazetteer. ASCII text
    // lowers char by char, so its runs are matched in place. Other text is
    // lowered first: ROOT lowering can change the length (İ → i + U+0307)
    // and maps some non-ASCII letters to ASCII ones (Kelvin sign → k).
    val s = if (seen >= 0x80) text.toLowerCase(Locale.ROOT) else text
    val hits = gazetteerHits(s)
    val nHits = if (hits == null) 0 else hits.length
    val n = labeled.size + geoUri.size + pair.size + nHits
    if (n == 0) return Nil
    val out = new Array[Mention](n)
    var k = labeled.copyTo(out, 0)
    k = geoUri.copyTo(out, k)
    k = pair.copyTo(out, k)
    var w = 1
    while (w <= MaxWords) {
      var h = 0
      while (h < nHits) {
        if (words(hits(h)).length == w) { out(k) = nameMention(hits(h)); k += 1 }
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

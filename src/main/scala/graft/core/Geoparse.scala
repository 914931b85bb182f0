package graft.core

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
  */
object Geoparse {
  final case class Mention(lat: Double, lon: Double, kind: String, name: String)

  private val Labeled =
    """(?i)lat(?:itude)?\s*[:=]\s*(-?\d{1,2}\.\d+)\s*[,;\s]\s*(?:lon|lng|long)(?:itude)?\s*[:=]\s*(-?\d{1,3}\.\d+)""".r
  private val GeoUri =
    """(?i)geo:(-?\d{1,2}(?:\.\d+)?),(-?\d{1,3}(?:\.\d+)?)""".r
  private val BarePair =
    """\((-?\d{1,2}\.\d{3,}),\s*(-?\d{1,3}\.\d{3,})\)""".r

  @inline private def inRange(lat: Double, lon: Double): Boolean =
    lat >= -90.0 && lat <= 90.0 && lon >= -180.0 && lon <= 180.0

  /** Conservative case-insensitive substring scan — a regex that needs
    * `needle` cannot match text lacking it, and this loop is ~10× cheaper
    * than engaging the regex engine on a miss.
    */
  private def containsIgnoreCase(text: String, needle: String): Boolean = {
    val n = needle.length
    val last = text.length - n
    val c0l = Character.toLowerCase(needle.charAt(0))
    val c0u = Character.toUpperCase(needle.charAt(0))
    var i = 0
    while (i <= last) {
      val ch = text.charAt(i)
      if ((ch == c0l || ch == c0u) &&
          text.regionMatches(true, i, needle, 0, n)) return true
      i += 1
    }
    false
  }

  def parse(text: String): Seq[Mention] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    if (containsIgnoreCase(text, "lat"))
      Labeled.findAllMatchIn(text).foreach { m =>
        val lat = m.group(1).toDouble; val lon = m.group(2).toDouble
        if (inRange(lat, lon)) out += Mention(lat, lon, "labeled", "")
      }
    if (containsIgnoreCase(text, "geo:"))
      GeoUri.findAllMatchIn(text).foreach { m =>
        val lat = m.group(1).toDouble; val lon = m.group(2).toDouble
        if (inRange(lat, lon)) out += Mention(lat, lon, "geouri", "")
      }
    if (text.indexOf('(') >= 0)
      BarePair.findAllMatchIn(text).foreach { m =>
        val lat = m.group(1).toDouble; val lon = m.group(2).toDouble
        if (inRange(lat, lon)) out += Mention(lat, lon, "pair", "")
      }
    // Gazetteer rule: lowercase, tokens = maximal [a-z] runs, match every
    // 1/2/3-gram phrase against the gazetteer. Implemented as a
    // first-word-indexed scan (one hash lookup per token, suffix tokens
    // compared in place) — emits the IDENTICAL match multiset and order
    // (all 1-grams by position, then 2-grams, then 3-grams) as the naive
    // per-n phrase loop, without building ~2·|toks| phrase strings per
    // page (the old loop was ~70% of parse cost — the pipeline's hottest
    // kernel).
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z]+").filter(_.nonEmpty)
    var hits1: scala.collection.mutable.ArrayBuffer[Mention] = null
    var hits2: scala.collection.mutable.ArrayBuffer[Mention] = null
    var hits3: scala.collection.mutable.ArrayBuffer[Mention] = null
    var i = 0
    while (i < toks.length) {
      val cands = Gazetteer.byFirstWord.getOrElse(toks(i), null)
      if (cands != null) {
        var c = 0
        while (c < cands.length) {
          val e = cands(c)
          val n = e.toks.length
          if (i + n <= toks.length) {
            var j = 1
            var ok = true
            while (ok && j < n) { ok = toks(i + j) == e.toks(j); j += 1 }
            if (ok) {
              val m = Mention(e.lat, e.lon, "gazetteer", e.name)
              n match {
                case 1 =>
                  if (hits1 == null) hits1 = scala.collection.mutable.ArrayBuffer.empty
                  hits1 += m
                case 2 =>
                  if (hits2 == null) hits2 = scala.collection.mutable.ArrayBuffer.empty
                  hits2 += m
                case _ =>
                  if (hits3 == null) hits3 = scala.collection.mutable.ArrayBuffer.empty
                  hits3 += m
              }
            }
          }
          c += 1
        }
      }
      i += 1
    }
    if (hits1 != null) out ++= hits1
    if (hits2 != null) out ++= hits2
    if (hits3 != null) out ++= hits3
    out.toSeq
  }
}

/** Tiny built-in gazetteer: 64 world cities (public coordinates, ~2 dp).
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

  /** name → (lat, lon) */
  val byName: Map[String, (Double, Double)] =
    entries.map { case (n, la, lo) => n -> (la, lo) }.toMap

  final case class Entry(toks: Array[String], lat: Double, lon: Double,
                         name: String)

  /** first word → entries starting with it (the scan index). */
  val byFirstWord: Map[String, Array[Entry]] =
    entries.map { case (n, la, lo) => Entry(n.split(' '), la, lo, n) }
      .groupBy(_.toks(0))
}

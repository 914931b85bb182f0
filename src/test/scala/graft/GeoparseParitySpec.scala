package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Gazetteer, Geoparse}
import graft.core.Geoparse.Mention
import graft.sources.SynthPages

/** The regex-and-split geoparser that `Geoparse.parse` replaced, kept
  * verbatim as the reference the single-scan parser must reproduce.
  */
object GeoparseReference {
  private val Labeled =
    """(?i)lat(?:itude)?\s*[:=]\s*(-?\d{1,2}\.\d+)\s*[,;\s]\s*(?:lon|lng|long)(?:itude)?\s*[:=]\s*(-?\d{1,3}\.\d+)""".r
  private val GeoUri =
    """(?i)geo:(-?\d{1,2}(?:\.\d+)?),(-?\d{1,3}(?:\.\d+)?)""".r
  private val BarePair =
    """\((-?\d{1,2}\.\d{3,}),\s*(-?\d{1,3}\.\d{3,})\)""".r

  @inline private def inRange(lat: Double, lon: Double): Boolean =
    lat >= -90.0 && lat <= 90.0 && lon >= -180.0 && lon <= 180.0

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

  final case class Entry(toks: Array[String], lat: Double, lon: Double,
                         name: String)

  val byFirstWord: Map[String, Array[Entry]] =
    Gazetteer.entries.map { case (n, la, lo) => Entry(n.split(' '), la, lo, n) }
      .groupBy(_.toks(0))

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
    val toks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z]+").filter(_.nonEmpty)
    var hits1: scala.collection.mutable.ArrayBuffer[Mention] = null
    var hits2: scala.collection.mutable.ArrayBuffer[Mention] = null
    var hits3: scala.collection.mutable.ArrayBuffer[Mention] = null
    var i = 0
    while (i < toks.length) {
      val cands = byFirstWord.getOrElse(toks(i), null)
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

/** `Geoparse.parse` returns exactly what the reference parser returns: the
  * same mentions in the same order, with bit-identical coordinates.
  */
class GeoparseParitySpec extends AnyFunSuite {
  private def bits(ms: Seq[Mention]): Seq[(Long, Long, String, String)] =
    ms.map(m => (java.lang.Double.doubleToRawLongBits(m.lat),
      java.lang.Double.doubleToRawLongBits(m.lon), m.kind, m.name))

  private def escape(s: String): String =
    s.flatMap(c => if (c >= 0x20 && c < 0x7f) c.toString else f"\\u${c.toInt}%04X")

  /** Asserts parity on every text; returns all reference mentions. */
  private def assertParity(texts: Iterator[String]): Seq[Mention] = {
    val all = Seq.newBuilder[Mention]
    texts.foreach { t =>
      val want = GeoparseReference.parse(t)
      val got = Geoparse.parse(t)
      assert(bits(got) == bits(want), s"text: \"${escape(t)}\"")
      all ++= want
    }
    all.result()
  }

  private def nameWords(ms: Seq[Mention]): Set[Int] =
    ms.filter(_.kind == "gazetteer").map(_.name.split(' ').length).toSet

  test("SynthPages text at seeds 1, 7 and 42") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val ms = assertParity(Iterator.range(0, 5000).map(id => SynthPages.genPage(seed, id).text))
      assert(ms.map(_.kind).toSet == Set("geouri", "pair", "gazetteer"), s"seed $seed")
      assert(nameWords(ms) == Set(1, 2, 3), s"seed $seed")
    }
  }

  test("seeded fuzz of coordinate fragments, names, punctuation and non-ASCII") {
    val names = Gazetteer.entries.map(_._1)
    val fragments = Array(
      "lat", "LAT", "Lat", "lAt", "latitude", "LATITUDE", "LaTiTuDe", "lon", "LON", "lng",
      "LNG", "long", "Long", "longitude", "LONGITUDE", "geo:", "GEO:", "Geo:", "gEo:",
      ":", "=", " ", "  ", "\t", "\n", ",", ";", "(", ")", "-", ".", "1", "12", "123",
      "0", "9", "1.5", "-2.5", "48.8566", "-74.006", "91.0001", "-180.5", "0.000", "-0.0",
      "12.3456", "-33.868", "151.209", "1,2", "x", "k", "i", "arachi", "stanbul", "york",
      "new", "de", "rio", "!", "'", "\"", "/", "_", "?", "\u001A", "\u0130", "\u212A",
      "\u00DF", "\uD83D\uDE00", "\uD801\uDC00", "\u00E9")
    val rnd = new scala.util.Random(20261017L)
    def pick(xs: String*): String = xs(rnd.nextInt(xs.length))
    def num(): String = pick("", "-") + rnd.nextInt(200) +
      pick("", ".", "." + rnd.nextInt(10), "." + (100 + rnd.nextInt(900)), "." + rnd.nextInt(100000))
    // a whole coordinate encoding in random case and spacing, sometimes cut short
    def coords(): String = {
      val c = rnd.nextInt(3) match {
        case 0 => pick("lat", "LAT", "Lat", "latitude", "LATITUDE") + pick("", " ") + pick(":", "=") +
          pick("", " ") + num() + pick(",", ";", " ", ", ") + pick("lon", "LNG", "Long", "longitude") +
          pick("", " ") + pick(":", "=") + pick("", " ") + num()
        case 1 => pick("geo", "GEO", "Geo") + ":" + num() + "," + num()
        case _ => "(" + num() + "," + pick("", " ", "  ") + num() + ")"
      }
      if (rnd.nextInt(4) == 0) c.take(rnd.nextInt(c.length + 1)) else c
    }
    def piece(): String = rnd.nextInt(4) match {
      case 1 => coords()
      case 0 =>
        val n = names(rnd.nextInt(names.length))
        rnd.nextInt(3) match {
          case 0 => n
          case 1 => n.toUpperCase(java.util.Locale.ROOT)
          case _ => n.split(' ').map(_.capitalize).mkString(" ")
        }
      case _ => fragments(rnd.nextInt(fragments.length))
    }
    val ms = assertParity(Iterator.fill(100000) {
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(24)).foreach(_ => sb.append(piece()))
      sb.toString
    })
    assert(ms.map(_.kind).toSet == Set("labeled", "geouri", "pair", "gazetteer"))
    assert(nameWords(ms) == Set(1, 2, 3))
  }

  test("one-pass scan edge cases: prefixes inside words, filter passes, run ends and lengths") {
    val ms = assertParity(GeoparseParitySpec.edgeTexts.iterator)
    assert(ms.map(_.kind).toSet == Set("labeled", "geouri", "pair", "gazetteer"))
    assert(nameWords(ms) == Set(1, 2, 3))
  }

  test("every BMP character in fixed coordinate and name contexts") {
    val ms = assertParity(Iterator.range(0, 0x10000).flatMap { i =>
      val c = i.toChar.toString
      Iterator("paris" + c + "lat: 1.5, lon: 2.5 (" + c + "1.123, 2.345) geo:1,2",
        c + "new" + c + "york" + c)
    })
    assert(ms.map(_.kind).toSet == Set("labeled", "geouri", "pair", "gazetteer"))
  }
}

object GeoparseParitySpec {
  /** Texts at the edges of the one-pass scan. */
  val edgeTexts: Seq[String] = {
    val texts = Seq(
      // coordinate prefixes inside longer words
      "platform lat: 1.5, lon: 2.5", "geology geo:1,2", "xgeo:1,2", "flat:1.5,lon:2.5",
      // runs that pass the first-word filter (length, first and last
      // letter) but are no name, and runs that pass a first-letter-and-
      // length filter only
      "parks", "leurs", "rive", "les", "teilen", "strasse", "lager", "the",
      // first words of multi-word names with the rest missing or cut short
      "tel", "tel avi", "rio de", "new yorker", "san", "los", "hong",
      // names as the first and the last token
      "paris", "paris is nice", "go to paris", "go to Paris.", "lima", "tel aviv",
      // multi-word names split by different non-letter runs
      "new\tyork", "new--york", "rio  de\njaneiro", "rio de janeiro", "new york,",
      "hong_kong", "buenos1aires", "NEW\r\nYORK", "new\u0000york",
      // the first non-ASCII char after coordinate and name hits
      "paris (48.856, 2.352) \u0130stanbul", "geo:1,2 new york \u00DF lat: 1.5, lon: 2.5",
      "paris \u212Aarachi", "new \u0130 york")
    // letter runs of 63, 64 and 70 chars: a shift by 64 is a shift by 0
    val longRuns = for {
      c <- 'a' to 'z'
      n <- Seq(63, 64, 70)
      t <- Seq(c.toString * n, "paris " + c.toString * n + " lima",
        c.toString.toUpperCase * n + "(1.123, 2.345)")
    } yield t
    // runs and candidates across the scan's 64-char blocks
    val shifted = for {
      off <- 50 until 200
      t <- Seq("." * off + "paris new york lat: 1.5, lon: 2.5 geo:1,2 (1.123, 2.345) lima",
        "x" * off + " rio de janeiro", "a " * (off / 2) + "x" * (off % 7) + "tokyo")
    } yield t
    texts ++ longRuns ++ shifted
  }
}

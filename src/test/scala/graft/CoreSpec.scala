package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

class S2Spec extends AnyFunSuite {
  private def randLatLon(i: Int): (Double, Double) = {
    val lat = Rng.uniform(7L, i.toLong, 1L) * 170.0 - 85.0
    val lon = Rng.uniform(7L, i.toLong, 2L) * 360.0 - 180.0
    (lat, lon)
  }

  test("round-trip: center of a cell maps back to the same cell (levels 0-28)") {
    for (i <- 0 until 300) {
      val (lat, lon) = randLatLon(i)
      val level = i % 29
      val id = S2.cellId(lat, lon, level)
      assert(S2.level(id) === level)
      val (clat, clon) = S2.center(id)
      assert(S2.cellId(clat, clon, level) === id,
        s"level=$level lat=$lat lon=$lon")
    }
  }

  test("parent contains child across levels") {
    for (i <- 0 until 300) {
      val (lat, lon) = randLatLon(i + 1000)
      val leaf = S2.leafCellId(lat, lon)
      for (lvl <- 0 to 29) {
        val p = S2.parentAtLevel(leaf, lvl)
        val c = S2.parentAtLevel(leaf, math.min(30, lvl + 1))
        assert(S2.contains(p, c))
        assert(S2.level(p) === lvl)
      }
    }
  }

  test("nearby points share coarse cells, far points do not") {
    val a = S2.cellId(48.8566, 2.3522, 10)  // Paris
    val b = S2.cellId(48.8570, 2.3530, 10)  // ~50 m away
    val c = S2.cellId(-33.8688, 151.2093, 10) // Sydney
    assert(a === b)
    assert(a !== c)
    // distinct at fine level
    assert(S2.cellId(48.8566, 2.3522, 30) !== S2.cellId(48.8570, 2.3530, 30))
  }

  test("six faces partition the sphere: face ids valid and all hit") {
    val faces = (0 until 2000).map { i =>
      val (lat, lon) = randLatLon(i + 5000)
      (S2.leafCellId(lat, lon) >>> 61).toInt
    }.toSet
    assert(faces.subsetOf((0 to 5).toSet))
    assert(faces.size >= 5) // poles are small; 5-6 faces expected from uniform draws
  }

  test("range nesting: child ranges partition parent range") {
    val id = S2.cellId(40.0, -3.7, 8)
    val lo = S2.rangeMin(id); val hi = S2.rangeMax(id)
    assert(lo <= id && id <= hi)
    val childLsb = S2.lsb(id) >> 2
    // four children at level 9: ids lo+childLsb-1 + 2*childLsb*k
    val children = (0 until 4).map(k => lo + childLsb - 1 + 2 * childLsb * k)
    children.foreach(c => assert(S2.contains(id, c)))
  }
}

class HexGridSpec extends AnyFunSuite {
  test("round-trip: cell center maps back to the cell") {
    for (i <- 0 until 500) {
      val lon = Rng.uniform(9L, i.toLong, 1L) * 360.0 - 180.0
      val lat = Rng.uniform(9L, i.toLong, 2L) * 170.0 - 85.0
      val res = i % (HexGrid.MaxRes + 1)
      val id = HexGrid.cell(lon, lat, res)
      val (clon, clat) = HexGrid.center(id)
      assert(HexGrid.cell(clon, clat, res) === id, s"res=$res lon=$lon lat=$lat")
    }
  }

  test("kRing sizes are 1+3k(k+1) and rings are disjoint") {
    val id = HexGrid.cell(2.35, 48.86, 6)
    for (k <- 0 to 4) {
      val kr = HexGrid.kRing(id, k)
      assert(kr.length === 1 + 3 * k * (k + 1))
      assert(kr.distinct.length === kr.length)
    }
    assert(HexGrid.ring(id, 3).forall(c => HexGrid.gridDistance(id, c) === 3))
  }

  test("parent-child closure: every child's parent is the cell; ~7 children") {
    for (i <- 0 until 50) {
      val lon = Rng.uniform(11L, i.toLong, 1L) * 300.0 - 150.0
      val lat = Rng.uniform(11L, i.toLong, 2L) * 120.0 - 60.0
      val res = 2 + i % 8
      val id = HexGrid.cell(lon, lat, res)
      val kids = HexGrid.children(id)
      assert(kids.length >= 5 && kids.length <= 9, s"got ${kids.length}")
      kids.foreach(k => assert(HexGrid.parent(k) === id))
    }
  }

  test("point's cell at res r is (usually) a descendant chain: parent of point-cell at r+1 near point-cell at r") {
    // aperture-7 is only approximately nested; assert grid distance ≤ 1
    for (i <- 0 until 200) {
      val lon = Rng.uniform(13L, i.toLong, 1L) * 300.0 - 150.0
      val lat = Rng.uniform(13L, i.toLong, 2L) * 120.0 - 60.0
      val res = 1 + i % 10
      val fine = HexGrid.cell(lon, lat, res)
      val coarse = HexGrid.cell(lon, lat, res - 1)
      assert(HexGrid.gridDistance(HexGrid.parent(fine), coarse) <= 1)
    }
  }

  test("boundary is a closed hexagon containing the center") {
    val id = HexGrid.cell(-74.0, 40.7, 5)
    val b = HexGrid.boundary(id)
    assert(b.length === 7)
    assert(b.head === b.last)
    val (clon, clat) = HexGrid.center(id)
    val xs = b.map(_._1); val ys = b.map(_._2)
    assert(GeoKernels.pointInRing(xs, ys, clon, clat))
  }
}

class WebMercatorSpec extends AnyFunSuite {
  test("known tile assignments (slippy-map reference points)") {
    // (0,0) at zoom 0/1; Greenwich at z1 → tile (1,0)|x, y in northern half
    assert(WebMercator.tileX(0.0, 0) === 0L)
    assert(WebMercator.tileY(0.0, 0) === 0L)
    assert(WebMercator.tileX(0.1, 1) === 1L)
    assert(WebMercator.tileY(0.1, 1) === 0L)
    assert(WebMercator.tileY(-0.1, 1) === 1L)
    // Paris z10: lon 2.3522 → x=518 (floor((2.3522+180)/360*1024))
    assert(WebMercator.tileX(2.3522, 10) === 518L)
    assert(WebMercator.tileY(48.8566, 10) === 352L)
  }

  test("tileId pack/unpack round-trip") {
    for (z <- 0 to 16; _ <- 0 to 3) {
      val x = (Rng.mix(3L, z.toLong, 1L) >>> 40) % (1L << z)
      val y = (Rng.mix(3L, z.toLong, 2L) >>> 40) % (1L << z)
      val id = WebMercator.tileId(z, x, y)
      assert(WebMercator.tileIdZoom(id) === z)
      assert(WebMercator.tileIdX(id) === x)
      assert(WebMercator.tileIdY(id) === y)
    }
  }

  test("tileBounds invert tile assignment") {
    val z = 9
    val (x, y) = (WebMercator.tileX(13.4, z), WebMercator.tileY(52.5, z))
    val (lonMin, latMin, lonMax, latMax) = WebMercator.tileBounds(z, x, y)
    assert(lonMin <= 13.4 && 13.4 < lonMax)
    assert(latMin <= 52.5 && 52.5 < latMax)
  }

  test("local coords are within extent inside the tile") {
    val z = 12; val lon = -0.1276; val lat = 51.5072
    val tx = WebMercator.tileX(lon, z); val ty = WebMercator.tileY(lat, z)
    val lx = WebMercator.localX(lon, z, tx)
    val ly = WebMercator.localY(lat, z, ty)
    assert(lx >= 0 && lx <= WebMercator.Extent)
    assert(ly >= 0 && ly <= WebMercator.Extent)
  }
}

class MvtEncoderSpec extends AnyFunSuite {
  import MvtEncoder._

  test("geometry command stream matches MVT 2.1 spec examples") {
    // spec §4.3.5.1: point (25,17) → [9, 50, 34]
    assert(encodeGeometry(GeomPoint, Array(Array((25, 17)))).toSeq === Seq(9L, 50L, 34L))
    // spec polygon example: MoveTo(3,6) LineTo(8,12) LineTo(20,34) Close
    assert(encodeGeometry(GeomPolygon, Array(Array((3, 6), (8, 12), (20, 34)))).toSeq
      === Seq(9L, 6L, 12L, 18L, 10L, 12L, 24L, 44L, 15L))
    // linestring (2,2)→(2,10)→(10,10): [9,4,4,18,0,16,16,0]
    assert(encodeGeometry(GeomLine, Array(Array((2, 2), (2, 10), (10, 10)))).toSeq
      === Seq(9L, 4L, 4L, 18L, 0L, 16L, 16L, 0L))
  }

  test("zigzag") {
    assert(zigzag(0) === 0L); assert(zigzag(-1) === 1L)
    assert(zigzag(1) === 2L); assert(zigzag(-2) === 3L)
  }

  test("signedArea2 orientation: y-down CW exterior is positive") {
    // square drawn clockwise on screen (y down)
    val cw = Array((0, 0), (10, 0), (10, 10), (0, 10))
    assert(signedArea2(cw) > 0)
    assert(signedArea2(cw.reverse) < 0)
  }

  test("layer bytes are deterministic and parse as protobuf structure") {
    val f = Feature(7L, GeomPoint, Array(Array((100, 200))),
      Seq("name" -> SVal("paris"), "rank" -> IVal(3)))
    val b1 = encodeLayer("pois", Seq(f))
    val b2 = encodeLayer("pois", Seq(f))
    assert(b1.toSeq === b2.toSeq)
    // minimal structural parse: first field must be version (15, varint, 2)
    assert((b1(0) & 0xff) === ((15 << 3) | 0)) // tag 0x78
    assert(b1(1) === 2)
    val tile = encodeTile(Seq("pois" -> Seq(f)))
    assert((tile(0) & 0xff) === ((3 << 3) | 2)) // layers field, len-delim
  }

  test("encodePointTile is byte-identical to the generic path (randomized)") {
    // the fast path must reproduce the generic encoder EXACTLY — ids
    // 1..n, kind tag only when non-null, name tag only when nonempty,
    // shared key/value tables in first-appearance order
    val kinds = Array("labeled", "geouri", "pair", "gazetteer", "point", null)
    val names = Array("", "paris", "berlin", "", "rio", "paris", "labeled")
    val rng = new java.util.Random(7)
    for (trial <- 0 until 50) {
      val n = trial match {
        case 0 => 0 // empty tile: no features, no key/value tables
        case 1 => 1
        case _ => 1 + rng.nextInt(40)
      }
      val xs = Array.fill(n)(rng.nextInt(4096))
      val ys = Array.fill(n)(rng.nextInt(4096))
      val ks = Array.fill(n)(kinds(rng.nextInt(kinds.length)))
      val ns = Array.fill(n)(names(rng.nextInt(names.length)))
      val generic = encodeTile(Seq("features" -> (0 until n).map { i =>
        Feature(i.toLong + 1, GeomPoint, Array(Array((xs(i), ys(i)))),
          (if (ks(i) != null) Seq("kind" -> SVal(ks(i))) else Nil) ++
            (if (ns(i).nonEmpty) Seq("name" -> SVal(ns(i))) else Nil))
      }))
      val fast = encodePointTile("features", xs, ys, ks, ns)
      assert(fast.toSeq === generic.toSeq, s"trial $trial n=$n")
    }
  }
}

class TextExtractSpec extends AnyFunSuite {
  test("pinned byte-level fixtures (the extraction rule is frozen here)") {
    assert(TextExtract.extractString("<p>hello &amp; goodbye</p>") === "hello & goodbye")
    assert(TextExtract.extractString(
      "<html><head><style>p{}</style><script>x<y</script></head>" +
        "<body><h1>Title</h1><p>a  b</p><p>c</p></body></html>")
      === "Title\na b\nc")
    assert(TextExtract.extractString("a<br/>b") === "a\nb")
    assert(TextExtract.extractString("<!-- hidden -->shown") === "shown")
    assert(TextExtract.extractString("x &#65; &#x42; &nbsp; y") === "x A B y")
    assert(TextExtract.extractString("  lead <div> mid </div> trail  ") === "lead mid\ntrail")
    assert(TextExtract.extractString("<ul><li>a</li><li>b</li></ul>") === "a\nb")
    assert(TextExtract.extractString("&unknown; stays") === "&unknown; stays")
  }

  test("whitespace rule: never 3+ newlines, no double spaces, trimmed") {
    val t = TextExtract.extractString(
      "<div><p>a</p></div><div><p>b</p></div><p>   c\t\td  </p>")
    assert(!t.contains("\n\n\n"))
    assert(!t.contains("  "))
    assert(t === t.trim)
    assert(t === "a\n\nb\n\nc d")
  }
}

class GeoparseSpec extends AnyFunSuite {
  test("labeled / geouri / bare-pair extraction") {
    val ms = Geoparse.parse(
      "lat: 48.8566, lon: 2.3522 then geo:40.71,-74.01 and (51.507200, -0.127600)")
    val kinds = ms.map(_.kind).sorted
    assert(kinds === Seq("geouri", "labeled", "pair"))
    assert(ms.exists(m => m.kind == "labeled" && math.abs(m.lat - 48.8566) < 1e-9))
    assert(ms.exists(m => m.kind == "geouri" && math.abs(m.lon + 74.01) < 1e-9))
  }

  test("gazetteer n-gram matching with word boundaries") {
    val ms = Geoparse.parse("We flew from New York to paris; Singaporean food.")
    val names = ms.filter(_.kind == "gazetteer").map(_.name).sorted
    assert(names === Seq("new york", "paris")) // NOT 'singapore' inside 'singaporean'
  }

  test("out-of-range coordinates rejected") {
    assert(Geoparse.parse("lat: 91.0001, lon: 10.0001").isEmpty)
  }

  private def names(text: String): Seq[String] =
    Geoparse.parse(text).filter(_.kind == "gazetteer").map(_.name)

  test("gazetteer names match in any ASCII case") {
    assert(names("NEW YORK and PARIS") === Seq("paris", "new york"))
  }

  test("labeled pattern has no leading word boundary") {
    assert(Geoparse.parse("xlat: 1.5, lon: 2.5") === Seq(Geoparse.Mention(1.5, 2.5, "labeled", "")))
  }

  test("names match on the Locale.ROOT lowering of non-ASCII text") {
    // İ lowers to i + U+0307, which splits the token
    assert(names("\u0130stanbul") === Nil)
    // the Kelvin sign lowers to k
    assert(names("\u212Aarachi") === Seq("karachi"))
  }

  test("adjacent geo URIs are two mentions") {
    assert(Geoparse.parse("geo:1,2geo:3,4").map(m => (m.lat, m.lon, m.kind)) ===
      Seq((1.0, 2.0, "geouri"), (3.0, 4.0, "geouri")))
  }

  test("output order: labeled, geo URI, pair, then 1-, 2- and 3-word names") {
    val ms = Geoparse.parse("rio de janeiro, new york, tokyo; paris (10.123, 20.456) " +
      "geo:3,4 lat: 1.5, lon: 2.5 and lat=5.5;lng=6.5 then lima")
    assert(ms.map(m => (m.kind, m.name)) === Seq(
      ("labeled", ""), ("labeled", ""), ("geouri", ""), ("pair", ""),
      ("gazetteer", "tokyo"), ("gazetteer", "paris"), ("gazetteer", "lima"),
      ("gazetteer", "new york"), ("gazetteer", "rio de janeiro")))
    assert(ms.take(4).map(m => (m.lat, m.lon)) ===
      Seq((1.5, 2.5), (5.5, 6.5), (3.0, 4.0), (10.123, 20.456)))
  }
}

class UnicodeNormSpec extends AnyFunSuite {
  import SharedSpark._
  import org.apache.spark.sql.functions.col

  test("NFC kernel composes decomposed sequences; expression stays codegen'd") {
    import spark.implicits._
    val decomposed = "caf" + "é" + " Å " + "ö"
    val precomposed = "café Å ö"
    assert(graft.core.UnicodeNorm.nfc(decomposed) === precomposed)
    assert(graft.core.UnicodeNorm.nfc(precomposed) eq precomposed) // fast path
    // both spellings fingerprint identically after normalization — the
    // property dedup needs
    val df = Seq((1L, decomposed), (2L, precomposed)).toDF("id", "t")
      .select(col("id"), graft.functions.text.fingerprint64(
        graft.functions.text.nfc_normalize(col("t"))).as("fp"))
    val fps = df.collect().map(_.getLong(1))
    assert(fps(0) === fps(1))
    // kernel parity with the expression path on corpus text
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
    val got = docs.select(col("doc_id"),
        graft.functions.text.nfc_normalize(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      assert(got(r.getLong(0)) === graft.core.UnicodeNorm.nfc(r.getString(1)))
    }
    // whole-stage codegen: the projection carries the codegen marker
    spark.catalog.clearCache()
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(graft.functions.text.nfc_normalize(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(600))
  }
}

class TextHashSpec extends AnyFunSuite {
  test("fingerprint/simhash determinism and discrimination") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "the quick brown fox jumps over the lazy cat"
    assert(TextHash.fingerprint64(a) === TextHash.fingerprint64(a))
    assert(TextHash.fingerprint64(a) !== TextHash.fingerprint64(b))
    // near-dup texts: small hamming; unrelated: large
    val h = TextHash.hamming64(TextHash.simhash64(a), TextHash.simhash64(b))
    val far = TextHash.hamming64(TextHash.simhash64(a),
      TextHash.simhash64("completely unrelated words appear here instead entirely"))
    assert(h < far)
  }

  test("minhash approximates jaccard") {
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val b = ((1 to 45).map(i => s"w$i") ++ (100 to 115).map(i => s"w$i")).mkString(" ")
    val ja = TextHash.jaccardShingles(a, b, 1)
    val sa = TextHash.minhash(a, 128, 1); val sb = TextHash.minhash(b, 128, 1)
    val est = sa.zip(sb).count { case (x, y) => x == y } / 128.0
    assert(math.abs(est - ja) < 0.15, s"est=$est true=$ja")
  }

  test("identical texts share every LSH band; disjoint texts share none") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val sa = TextHash.minhash(a, 32, 2)
    val sb = TextHash.minhash(a, 32, 2)
    assert((0 until 8).forall(b => TextHash.bandKey(sa, b, 4) == TextHash.bandKey(sb, b, 4)))
  }
}

class GeoKernelsSpec extends AnyFunSuite {
  test("pointInRing agrees with JTS on random convex polygons") {
    import org.locationtech.jts.geom.{Coordinate, GeometryFactory}
    val gf = new GeometryFactory()
    for (i <- 0 until 100) {
      val cx = Rng.uniform(21L, i.toLong, 1L) * 300.0 - 150.0
      val cy = Rng.uniform(21L, i.toLong, 2L) * 120.0 - 60.0
      val nv = 6
      val pts = (0 until nv).map { k =>
        val ang = 2 * math.Pi * k / nv
        val r = 1.0 + Rng.uniform(21L, i.toLong, 10L + k) * 2.0
        (cx + r * math.cos(ang), cy + r * math.sin(ang))
      }
      val xs = (pts :+ pts.head).map(_._1).toArray
      val ys = (pts :+ pts.head).map(_._2).toArray
      val jts = gf.createPolygon(xs.indices.map(j => new Coordinate(xs(j), ys(j))).toArray)
      for (j <- 0 until 30) {
        val px = cx + (Rng.uniform(22L, (i * 100 + j).toLong, 1L) - 0.5) * 8.0
        val py = cy + (Rng.uniform(22L, (i * 100 + j).toLong, 2L) - 0.5) * 8.0
        val mine = GeoKernels.pointInRing(xs, ys, px, py)
        val jtsAns = jts.covers(gf.createPoint(new Coordinate(px, py)))
        assert(mine === jtsAns, s"i=$i j=$j p=($px,$py)")
      }
    }
  }
}

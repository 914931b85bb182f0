package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.functions.{geo, geodesic, geoparse, text, url, vec}
import graft.sources.{PolyRegistry, SynthPages}

/** Every column function in `graft.functions` against the direct
  * `core/` call on the same seeded inputs, bit for bit (doubles and
  * floats by raw bits), under whole-stage codegen and interpreted. The
  * input carries null strings, binaries and arrays, null ring elements
  * and NaN ring vertices, and is read through a shuffle: over a local
  * relation the optimizer would evaluate the projection while planning,
  * and neither execution mode would run.
  */
class KernelParitySpec extends AnyFunSuite {
  import SharedSpark._
  import KernelParitySpec.In

  private val inputs: Seq[In] = {
    val rnd = new scala.util.Random(12)
    def convex(): (Array[java.lang.Double], Array[java.lang.Double]) = {
      val (cx, cy) = (rnd.nextDouble() * 4, rnd.nextDouble() * 4)
      val r = 0.5 + rnd.nextDouble() * 1.5
      val angs = Array.fill(3 + rnd.nextInt(5))(rnd.nextDouble() * 2 * math.Pi).sorted
      (angs.map(a => java.lang.Double.valueOf(cx + r * math.cos(a))),
        angs.map(a => java.lang.Double.valueOf(cy + r * math.sin(a))))
    }
    def emb(): Array[Float] = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    def poke(a: Array[java.lang.Double], v: java.lang.Double) =
      a.updated(rnd.nextInt(a.length), v)
    val nan = java.lang.Double.valueOf(Double.NaN)
    (0 until 240).map { i =>
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 170 - 85
      val res = rnd.nextInt(11)
      val page = SynthPages.genPage(42L, i.toLong)
      val (ax, ay) = convex(); val (bx, by) = convex()
      val in = In(i, lon, lat, 1 + rnd.nextInt(25), res, rnd.nextInt(17),
        1 + rnd.nextInt(10), rnd.nextInt(4), HexGrid.cell(lon, lat, res),
        page.text, SynthPages.genPage(42L, i / 2).text, page.html,
        page.url + (if (i % 3 == 0) "?utm_source=x&b=2&a=1" else ""),
        emb(), emb(), ax, ay, bx, by)
      i % 12 match {
        case 1 => in.copy(text = null, text2 = null, html = null, url = null, emb = null)
        case 2 => in.copy(ax = null)
        case 3 => in.copy(ax = poke(ax, nan))
        case 4 => in.copy(bx = poke(bx, null))
        case 5 => in.copy(by = poke(by, nan))
        case 6 => in.copy(emb2 = null, by = null)
        case 7 => in.copy(text2 = null)
        case _ => in
      }
    }
  }

  private val schema = StructType(
    Seq("id" -> IntegerType, "lon" -> DoubleType, "lat" -> DoubleType,
      "lvl" -> IntegerType, "res" -> IntegerType, "zoom" -> IntegerType,
      "prec" -> IntegerType, "k" -> IntegerType, "cell" -> LongType)
      .map { case (n, t) => StructField(n, t, nullable = false) } ++
    Seq("text" -> StringType, "text2" -> StringType, "html" -> BinaryType,
      "url" -> StringType,
      "emb" -> ArrayType(FloatType, false), "emb2" -> ArrayType(FloatType, false),
      "ax" -> ArrayType(DoubleType, false), "ay" -> ArrayType(DoubleType, false),
      "bx" -> ArrayType(DoubleType, true), "by" -> ArrayType(DoubleType, true))
      .map { case (n, t) => StructField(n, t, nullable = true) })

  private def frame = {
    def seq[A](a: Array[A]): Seq[A] = if (a == null) null else a.toSeq
    val rows = inputs.map(in => Row(in.id, in.lon, in.lat, in.lvl, in.res,
      in.zoom, in.prec, in.k, in.cell, in.text, in.text2, in.html, in.url,
      seq(in.emb), seq(in.emb2), seq(in.ax), seq(in.ay), seq(in.bx), seq(in.by)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .repartition(3)
  }

  private val centroids = Array.tabulate(6, 8)((i, j) => ((i * 7 + j * 3) % 11 - 5) / 5f)
  private val pcaMean = Array.tabulate(8)(j => j * 0.01 - 0.03)
  private val pcaBasis = Array.tabulate(3, 8)((i, j) => math.sin(i * 8 + j))
  private val refs = Array.tabulate(20)(i => Array(i.toDouble, i * 17.0 - 170, i * 8.0 - 80))

  /** null when any argument is, as Spark's null propagation gives. */
  private def nn(args: AnyRef*)(f: => Any): Any = if (args.contains(null)) null else f
  private def ad(a: Array[Float]): ArrayData = ArrayData.toArrayData(a)
  private def ring(a: Array[java.lang.Double]): Array[Double] =
    if (a == null || a.exists(v => v == null || v.isNaN)) null else a.map(_.doubleValue)
  private def rings(in: In)(f: (Array[Double], Array[Double], Array[Double], Array[Double]) => Any): Any = {
    val rs = Seq(in.ax, in.ay, in.bx, in.by).map(ring)
    if (rs.contains(null)) null else f(rs(0), rs(1), rs(2), rs(3))
  }

  /** (column, pinned name, type, nullable, direct core call). */
  private val cases: Seq[(Column, String, DataType, Boolean, In => Any)] = {
    val (lon, lat) = (col("lon"), col("lat"))
    val longs = ArrayType(LongType, false)
    val doubles = ArrayType(DoubleType, false)
    Seq(
      (geo.s2_cell(lat, lon, col("lvl")), "s2_cell(lat, lon, lvl)", LongType, false,
        in => S2.cellId(in.lat, in.lon, in.lvl)),
      (geo.hex_cell(lon, lat, col("res")), "hex_cell(lon, lat, res)", LongType, false,
        in => HexGrid.cell(in.lon, in.lat, in.res)),
      (geo.tile_id(lon, lat, col("zoom")), "tile_id(lon, lat, zoom)", LongType, false,
        in => WebMercator.tileId(in.zoom, WebMercator.tileX(in.lon, in.zoom),
          WebMercator.tileY(in.lat, in.zoom))),
      (geo.hex_wkt(col("cell")), "hex_wkt(cell)", StringType, false,
        in => HexGrid.boundaryWkt(in.cell)),
      (geo.geohash(lon, lat, col("prec")), "geohash(lon, lat, prec)", StringType, false,
        in => Geohash.encode(in.lon, in.lat, in.prec)),
      (geo.hex_kring(col("cell"), col("k")), "hex_kring(cell, k)", longs, false,
        in => HexGrid.kRing(in.cell, in.k)),
      (geo.pip_query(geo.hex_cell(lon, lat, lit(3)), lon, lat, PolyRegistry.Admin, 3, -1),
        "pip_query(hex_cell(lon, lat, 3), lon, lat)", longs, false,
        in => PolyRegistry.queryTree(PolyRegistry.Admin, 3, -1,
          HexGrid.cell(in.lon, in.lat, 3), in.lon, in.lat)),
      (geo.ring_stats(col("ax"), col("ay")), "ring_stats(ax, ay)", doubles, true,
        in => nn(in.ax, in.ay)(GeoKernels.ringStats(in.ax.map(_.doubleValue),
          in.ay.map(_.doubleValue)))),
      (geo.clip_area(col("ax"), col("ay"), col("bx"), col("by")),
        "clip_area(ax, ay, bx, by)", DoubleType, true,
        in => rings(in)(ConvexClip.intersectionArea)),
      (geo.convex_sat(col("ax"), col("ay"), col("bx"), col("by")),
        "convex_sat(ax, ay, bx, by)", BooleanType, true,
        in => rings(in)(ConvexSat.intersects)),
      (geodesic.nearest_ref(lon, lat, refs), "nearest_ref(lon, lat)", doubles, false,
        in => GeoKernels.nearestRef(in.lon, in.lat, refs)),
      (geoparse.geoparse_mentions(col("text")), "geoparse_mentions(text)",
        ArrayType(graft.functions.Kernels.mentionType, false), true,
        in => nn(in.text)(Geoparse.parse(in.text).map(m =>
          Seq(m.lat, m.lon, m.kind, m.name)))),
      (text.fingerprint64(col("text")), "fingerprint64(text)", LongType, true,
        in => nn(in.text)(TextHash.fingerprint64(in.text))),
      (text.nfc_normalize(col("text")), "nfc_normalize(text)", StringType, true,
        in => nn(in.text)(UnicodeNorm.nfc(in.text))),
      (text.simhash64(col("text")), "simhash64(text)", LongType, true,
        in => nn(in.text)(TextHash.simhash64(in.text))),
      (text.minhash_bands(col("text"), 64, 16, 3), "minhash_bands(text)", longs, true,
        in => nn(in.text)(TextHash.minhashBandKeys(in.text, 64, 16, 3))),
      (text.extract_text(col("html")), "extract_text(html)", StringType, true,
        in => nn(in.html)(TextExtract.extract(in.html))),
      (text.word_ngrams(col("text"), 2), "word_ngrams(text)",
        ArrayType(StringType, false), true,
        in => nn(in.text)(TextHash.wordNgrams(in.text, 2))),
      (text.repetition_stats(col("text")), "repetition_stats(text)", doubles, true,
        in => nn(in.text)(TextStats.repetition(in.text))),
      (text.gopher_stats(col("text")), "gopher_stats(text)", doubles, true,
        in => nn(in.text)(TextStats.gopher(in.text))),
      (text.char_window_hashes(col("text"), 20), "char_window_hashes(text)", longs, true,
        in => nn(in.text)(TextHash.charWindowHashes(in.text, 20))),
      (text.jaccard_shingles(col("text"), col("text2"), 3),
        "jaccard_shingles(text, text2)", DoubleType, true,
        in => nn(in.text, in.text2)(TextHash.jaccardShingles(in.text, in.text2, 3))),
      (url.canonicalize(col("url")), "url_canonicalize(url)", StringType, true,
        in => nn(in.url)(UrlOps.canonicalize(in.url))),
      (url.host(col("url")), "url_host(url)", StringType, true,
        in => nn(in.url)(UrlOps.host(in.url))),
      (url.domain(col("url")), "url_domain(url)", StringType, true,
        in => nn(in.url)(UrlOps.domain(UrlOps.host(in.url)))),
      (vec.cosine_sim(col("emb"), col("emb2")), "cosine_sim(emb, emb2)", DoubleType, true,
        in => nn(in.emb, in.emb2)(VecKernels.cosineF(ad(in.emb), ad(in.emb2)))),
      (vec.rp_signature(col("emb"), 16, 7L), "rp_signature(emb)", LongType, true,
        in => nn(in.emb)(VecKernels.rpSignature(ad(in.emb), 16, 7L))),
      (vec.nearest_centroid(col("emb"), centroids), "nearest_centroid(emb)",
        IntegerType, true,
        in => nn(in.emb)(VecKernels.nearestCentroid(ad(in.emb), centroids))),
      (vec.nearest_centroids(col("emb"), centroids, 3), "nearest_centroids(emb)",
        ArrayType(IntegerType, false), true,
        in => nn(in.emb)(VecKernels.nearestCentroids(ad(in.emb), centroids, 3))),
      (vec.pca_project(col("emb"), pcaMean, pcaBasis), "pca_project(emb)",
        ArrayType(FloatType, false), true,
        in => nn(in.emb)(PcaKernel.project(ad(in.emb), pcaMean, pcaBasis))))
  }

  /** Comparable form: doubles and floats by raw bits, arrays and rows as
    * sequences.
    */
  private def canon(v: Any): Any = v match {
    case d: Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: Float => "f" + java.lang.Float.floatToRawIntBits(f)
    case r: Row => r.toSeq.map(canon)
    case a: Array[_] => a.toSeq.map(canon)
    case s: scala.collection.Seq[_] => s.toSeq.map(canon)
    case other => other
  }

  test("every kernel function: pinned column name, type and nullability") {
    val df = frame
    cases.foreach { case (c, name, dt, nullable, _) =>
      val f = df.select(c).schema.head
      assert((f.name, f.dataType, f.nullable) === ((name, dt, nullable)))
    }
  }

  Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
    case (mode, wholeStage) =>
      test(s"every kernel function equals its direct core call, bit for bit ($mode)") {
        withConf("spark.sql.codegen.factoryMode" -> mode,
            "spark.sql.codegen.wholeStage" -> wholeStage) {
          val byId = inputs.map(in => in.id -> in).toMap
          var nonNull = 0
          cases.foreach { case (c, name, _, _, expect) =>
            val out = frame.select(col("id"), c)
            val got = out.collect()
            // read after the run: adaptive execution plans the codegen
            // stages when it runs the query
            val plan = out.queryExecution.executedPlan.toString
            assert(plan.contains("*(") === (wholeStage == "true"), s"$name: $plan")
            assert(got.length === inputs.length, name)
            got.foreach { r =>
              val in = byId(r.getInt(0))
              val want = expect(in)
              assert(canon(r.get(1)) === canon(want), s"$name row ${in.id}")
              if (want != null) nonNull += 1
            }
          }
          // the null paths are exercised without starving the value paths
          assert(nonNull > cases.length * inputs.length * 3 / 4, nonNull)
        }
      }
  }

  test("geoparse_mentions equals Geoparse.parse on edge-case and non-ASCII text, bit for bit") {
    val rnd = new scala.util.Random(16)
    val names = Gazetteer.entries.map(_._1)
    val odd = Array("\u0130", "\u212A", "\u00DF", "\u0130stanbul", "\u212Aarachi",
      "stra\u00DFe", "\u00E9", " ", ", ", "-", "\n", "(", ")", "lat: ", "geo:", ", lon: ")
    def num(): String = f"${rnd.nextDouble() * 100 - 50}%.4f"
    def piece(): String = rnd.nextInt(4) match {
      case 0 =>
        val n = names(rnd.nextInt(names.length))
        if (rnd.nextBoolean()) n else n.toUpperCase(java.util.Locale.ROOT)
      case 1 => rnd.nextInt(3) match {
        case 0 => s"lat: ${num()}, lon: ${num()}"
        case 1 => s"geo:${num()},${num()}"
        case _ => s"(${num()}, ${num()})"
      }
      case _ => odd(rnd.nextInt(odd.length))
    }
    val fuzz = Seq.fill(1000)(Seq.fill(1 + rnd.nextInt(16))(piece()).mkString(" "))
    val texts = (GeoparseParitySpec.edgeTexts ++ fuzz).toIndexedSeq
    // the fuzz takes the non-ASCII path with name and coordinate hits
    val nonAscii = fuzz.filter(_.exists(_ >= 0x80)).map(Geoparse.parse)
    assert(nonAscii.count(_.exists(_.kind == "gazetteer")) > 300)
    assert(nonAscii.count(_.exists(_.kind != "gazetteer")) > 300)
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      texts.indices.map(i => Row(i, texts(i))), 2), schema).repartition(3)
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach { case (mode, wholeStage) =>
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val out = df.select(col("id"), geoparse.geoparse_mentions(col("text")))
        val got = out.collect()
        val plan = out.queryExecution.executedPlan.toString
        assert(plan.contains("*(") === (wholeStage == "true"), s"$mode: $plan")
        assert(got.length === texts.length, mode)
        got.foreach { r =>
          val want = Geoparse.parse(texts(r.getInt(0))).map(m => Seq(m.lat, m.lon, m.kind, m.name))
          assert(canon(r.get(1)) === canon(want), s"$mode row ${r.getInt(0)}")
        }
      }
    }
  }

  test("inputs reach every kernel branch: hits, nulls and NaN rings") {
    val pip = inputs.map(in => PolyRegistry.queryTree(PolyRegistry.Admin, 3, -1,
      HexGrid.cell(in.lon, in.lat, 3), in.lon, in.lat))
    assert(pip.count(_.nonEmpty) > 20)
    assert(inputs.count(in => rings(in)((a, b, c, d) => ConvexSat.intersects(a, b, c, d)) == true) > 20)
    assert(inputs.count(in => rings(in)((a, b, c, d) => 0) == null) >= 60)
    assert(inputs.count(in => in.text != null && Geoparse.parse(in.text).nonEmpty) > 20)
  }
}

object KernelParitySpec {
  final case class In(id: Int, lon: Double, lat: Double, lvl: Int,
      res: Int, zoom: Int, prec: Int, k: Int, cell: Long, text: String,
      text2: String, html: Array[Byte], url: String, emb: Array[Float],
      emb2: Array[Float], ax: Array[java.lang.Double], ay: Array[java.lang.Double],
      bx: Array[java.lang.Double], by: Array[java.lang.Double])
}

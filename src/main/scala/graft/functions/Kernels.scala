package graft.functions

import graft.core._
import graft.sources.PolyRegistry
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import KernelCall.{arrayOf, call, Doubles, Longs}

/** Entry points for the kernels whose `core/` signature does not take
  * the column values as they come. Each carries its SQL name, so the
  * executed plan's `staticinvoke` still names the kernel. A standalone
  * object, never an expression's companion: scalac drops the static
  * forwarder of a companion method named like an inherited one, and
  * `StaticInvoke` calls through the forwarders (PLANS.md "Kernel calls").
  */
object Kernels {
  def tile_id(lon: Double, lat: Double, zoom: Int): Long =
    WebMercator.tileId(zoom, WebMercator.tileX(lon, zoom),
      WebMercator.tileY(lat, zoom))

  def url_domain(url: String): String = UrlOps.domain(UrlOps.host(url))

  def pip_query(cell: Long, lon: Double, lat: Double,
                registry: Int, res: Int, level: Int): Array[Long] =
    PolyRegistry.queryTree(registry, res, level, cell, lon, lat)

  def ring_stats(xs: ArrayData, ys: ArrayData): Array[Double] =
    GeoKernels.ringStats(xs.toDoubleArray(), ys.toDoubleArray())

  /** A ring of [[clip_area]] and [[convex_sat]] with a null or NaN
    * element reads as null, so the kernel yields null instead of reading
    * a null slot as 0.0 or letting NaN (which fails every comparison)
    * make every SAT pair intersect.
    */
  private def ring(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getDouble(i)
      if (java.lang.Double.isNaN(v)) return null
      out(i) = v
      i += 1
    }
    out
  }

  def clip_area(axs: ArrayData, ays: ArrayData,
                bxs: ArrayData, bys: ArrayData): java.lang.Double = {
    val (ax, ay, bx, by) = (ring(axs), ring(ays), ring(bxs), ring(bys))
    if (ax == null || ay == null || bx == null || by == null) null
    else ConvexClip.intersectionArea(ax, ay, bx, by)
  }

  def convex_sat(axs: ArrayData, ays: ArrayData,
                 bxs: ArrayData, bys: ArrayData): java.lang.Boolean = {
    val (ax, ay, bx, by) = (ring(axs), ring(ays), ring(bxs), ring(bys))
    if (ax == null || ay == null || bx == null || by == null) null
    else ConvexSat.intersects(ax, ay, bx, by)
  }

  def word_ngrams(text: String, n: Int): ArrayData =
    new GenericArrayData(
      TextHash.wordNgrams(text, n).map(g => UTF8String.fromString(g): Any))

  val mentionType: StructType = StructType(Seq(
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("name", StringType, nullable = false)))

  /** Every kind tag and gazetteer name, encoded once. */
  private val utf8: java.util.HashMap[String, UTF8String] = {
    val m = new java.util.HashMap[String, UTF8String]
    (Seq("labeled", "geouri", "pair", "gazetteer", "") ++
        Gazetteer.entries.map(_._1))
      .foreach(s => m.put(s, UTF8String.fromString(s)))
    m
  }

  private def utf8Of(s: String): UTF8String = {
    val u = utf8.get(s)
    if (u != null) u else UTF8String.fromString(s)
  }

  /** Rows of [[mentionType]], one per `Geoparse.parse` mention in order:
    * parity with the scalar parser holds by construction.
    */
  def geoparse_mentions(text: String): ArrayData = {
    val ms = Geoparse.parse(text)
    val rows = new Array[Any](ms.length)
    val it = ms.iterator
    var i = 0
    while (it.hasNext) {
      val m = it.next()
      rows(i) = InternalRow(m.lat, m.lon, utf8Of(m.kind), utf8Of(m.name))
      i += 1
    }
    new GenericArrayData(rows)
  }
}

/** Cell, tile and ring kernels (SURVEY.md §4.2): `s2_cell`, `hex_cell`
  * (H3-style aperture-7), `tile_id` (packed zoom/x/y), `geohash`,
  * `hex_wkt`, `hex_kring`, `pip_query` (the per-cell candidate lookup +
  * exact ray-cast behind the broadcast-free PIP join), `ring_stats`
  * ([signed_area, centroid_x, centroid_y, perimeter]) and the convex-ring
  * pair kernels `clip_area` / `convex_sat` (null or NaN ring → null).
  */
object geo {
  def s2_cell(lat: Column, lon: Column, level: Column): Column =
    call("s2_cell", S2, "cellId", LongType, Seq(lat, lon, level))
  def hex_cell(lon: Column, lat: Column, res: Column): Column =
    call("hex_cell", HexGrid, "cell", LongType, Seq(lon, lat, res))
  def tile_id(lon: Column, lat: Column, zoom: Column): Column =
    call("tile_id", Kernels, "tile_id", LongType, Seq(lon, lat, zoom))
  def hex_wkt(cell: Column): Column =
    call("hex_wkt", HexGrid, "boundaryWkt", StringType, Seq(cell))
  def geohash(lon: Column, lat: Column, precision: Column): Column =
    call("geohash", Geohash, "encode", StringType, Seq(lon, lat, precision))
  def hex_kring(cell: Column, k: Column): Column =
    call("hex_kring", HexGrid, "kRing", Longs, Seq(cell, k))
  def pip_query(cell: Column, lon: Column, lat: Column,
                registry: Int, res: Int, level: Int): Column =
    call("pip_query", Kernels, "pip_query", Longs, Seq(cell, lon, lat),
      Seq(Literal(registry), Literal(res), Literal(level)))
  def ring_stats(xs: Column, ys: Column): Column =
    call("ring_stats", Kernels, "ring_stats", Doubles, Seq(xs, ys))
  def clip_area(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    call("clip_area", Kernels, "clip_area", DoubleType,
      Seq(axs, ays, bxs, bys), returnNullable = true)
  def convex_sat(axs: Column, ays: Column, bxs: Column, bys: Column): Column =
    call("convex_sat", Kernels, "convex_sat", BooleanType,
      Seq(axs, ays, bxs, bys), returnNullable = true)
}

/** Broadcast nearest-reference assignment, the geodesic sibling of
  * `nearest_centroid`: the reference table ships inside the serialized
  * plan, so assignment is a zero-shuffle map.
  */
object geodesic {
  /** nearest_ref(lon, lat) → [ref_id, dist_m]. */
  def nearest_ref(lon: Column, lat: Column, refs: Array[Array[Double]]): Column =
    call("nearest_ref", GeoKernels, "nearestRef", Doubles, Seq(lon, lat),
      Seq(Literal.fromObject(refs)))
}

object geoparse {
  /** geoparse_mentions(text) → array<struct<lat, lon, kind, name>>. */
  def geoparse_mentions(text: Column): Column =
    call("geoparse_mentions", Kernels, "geoparse_mentions",
      arrayOf(Kernels.mentionType), Seq(text))
}

/** Text kernels: fingerprints, LSH band keys, shingles, the Gopher/C4
  * repetition metrics, rolling window hashes and NFC normalization (the
  * mC4/CCNet step; DuckDB's nfc_normalize() is q81's oracle).
  */
object text {
  def fingerprint64(c: Column): Column =
    call("fingerprint64", TextHash, "fingerprint64", LongType, Seq(c))
  def nfc_normalize(c: Column): Column =
    call("nfc_normalize", UnicodeNorm, "nfc", StringType, Seq(c))
  def simhash64(c: Column): Column =
    call("simhash64", TextHash, "simhash64", LongType, Seq(c))
  /** LSH band keys: signature and banding in one call, so the banded
    * join explodes a small long array.
    */
  def minhash_bands(c: Column, k: Int, bands: Int, shingle: Int): Column =
    call("minhash_bands", TextHash, "minhashBandKeys", Longs, Seq(c),
      Seq(Literal(k), Literal(bands), Literal(shingle)))
  /** HTML bytes → text through the frozen TextExtract rule. */
  def extract_text(c: Column): Column =
    call("extract_text", TextExtract, "extract", StringType, Seq(c))
  /** Distinct word n-gram shingles in first-occurrence order. */
  def word_ngrams(c: Column, n: Int): Column =
    call("word_ngrams", Kernels, "word_ngrams", arrayOf(StringType), Seq(c),
      Seq(Literal(n)))
  /** [n_words, distinct_word_frac, dup_2gram_frac, top_word_frac,
    * top_2gram_frac] in one pass.
    */
  def repetition_stats(c: Column): Column =
    call("repetition_stats", TextStats, "repetition", Doubles, Seq(c))
  /** [n_words, mean_word_len, n_stopwords, top_word_frac,
    * dup_2gram_frac]: every scalar of the Gopher quality gate (Rae et al.
    * 2021 §A1.1) in one token pass.
    */
  def gopher_stats(c: Column): Column =
    call("gopher_stats", TextStats, "gopher", Doubles, Seq(c))
  /** Rabin-Karp hash of every length-`win` character window: 8 bytes per
    * window through the exact-substring explode, never the substring.
    */
  def char_window_hashes(c: Column, win: Int): Column =
    call("char_window_hashes", TextHash, "charWindowHashes", Longs, Seq(c),
      Seq(Literal(win)))
  /** Exact word-`n`-gram Jaccard. */
  def jaccard_shingles(a: Column, b: Column, n: Int): Column =
    call("jaccard_shingles", TextHash, "jaccardShingles", DoubleType,
      Seq(a, b), Seq(Literal(n)))
}

object url {
  def canonicalize(c: Column): Column =
    call("url_canonicalize", UrlOps, "canonicalize", StringType, Seq(c))
  def host(c: Column): Column =
    call("url_host", UrlOps, "host", StringType, Seq(c))
  def domain(c: Column): Column =
    call("url_domain", Kernels, "url_domain", StringType, Seq(c))
}

/** Float-embedding kernels. The IVF centroids and the PCA model ride the
  * serialized plan as object literals: every executor gets them with the
  * task, so assignment and projection are zero-shuffle maps.
  */
object vec {
  def cosine_sim(a: Column, b: Column): Column =
    call("cosine_sim", VecKernels, "cosineF", DoubleType, Seq(a, b))
  /** Random-hyperplane LSH signature. */
  def rp_signature(a: Column, nBits: Int, seed: Long): Column =
    call("rp_signature", VecKernels, "rpSignature", LongType, Seq(a),
      Seq(Literal(nBits), Literal(seed)))
  /** Argmax-cosine centroid id. */
  def nearest_centroid(a: Column, centroids: Array[Array[Float]]): Column =
    call("nearest_centroid", VecKernels, "nearestCentroid", IntegerType,
      Seq(a), Seq(Literal.fromObject(centroids)))
  /** Top-`k` probe list per query. */
  def nearest_centroids(a: Column, centroids: Array[Array[Float]], k: Int): Column =
    call("nearest_centroids", VecKernels, "nearestCentroids",
      arrayOf(IntegerType), Seq(a), Seq(Literal.fromObject(centroids), Literal(k)))
  /** Center on `mean`, project onto the `basis` rows. */
  def pca_project(a: Column, mean: Array[Double], basis: Array[Array[Double]]): Column =
    call("pca_project", PcaKernel, "project", arrayOf(FloatType), Seq(a),
      Seq(Literal.fromObject(mean), Literal.fromObject(basis)))
}

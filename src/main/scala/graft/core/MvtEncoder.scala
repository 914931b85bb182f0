package graft.core

import scala.collection.mutable

/** Mapbox Vector Tile 2.1 encoder — hand-rolled protobuf wire format
  * (varints, zigzag, command integers) since no protobuf-java ships in the
  * offline env (SURVEY.md §7.2). This is the target analog of the
  * reference's fit-and-persist stage (reference: mvt/fitlines.py +
  * mvt/saveio.py:30-38 — a compact, deterministic summary artifact per
  * group).
  *
  * Wire schema (MVT 2.1 spec, public):
  *   Tile: repeated Layer = 3
  *   Layer: version=15(uint,=2), name=1(string), features=2(repeated),
  *          keys=3(repeated string), values=4(repeated Value),
  *          extent=5(uint)
  *   Feature: id=1(uint), tags=2(packed uint), type=3(enum),
  *            geometry=4(packed uint)
  *   Value: string=1 | float=2 | double=3 | int64=4 | uint64=5 |
  *          sint64=6 | bool=7
  *   Geometry: MoveTo=1 LineTo=2 ClosePath=7;
  *             cmdInt = (id & 7) | (count << 3); params zigzag deltas.
  */
object MvtEncoder {
  val GeomPoint = 1
  val GeomLine = 2
  val GeomPolygon = 3

  /** Tag value — a small tagged union mirroring MVT's Value message. */
  sealed trait TagValue
  final case class SVal(v: String) extends TagValue
  final case class DVal(v: Double) extends TagValue
  final case class IVal(v: Long) extends TagValue
  final case class BVal(v: Boolean) extends TagValue

  /** One feature: geometry type, rings (each ring = array of (x,y) local
    * coords; points: one "ring" of points), attributes.
    */
  final case class Feature(
      id: Long,
      geomType: Int,
      rings: Array[Array[(Int, Int)]],
      tags: Seq[(String, TagValue)])

  final class ByteBuf(initial: Int = 256) {
    private var arr = new Array[Byte](initial)
    private var len = 0
    def size: Int = len
    /** Rewind for reuse (the hot-loop scratch pattern — no reallocation). */
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        var cap = arr.length * 2
        while (cap < len + n) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    def writeByte(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }
    def writeVarint(v0: Long): Unit = {
      var v = v0
      ensure(10)
      while ((v & ~0x7fL) != 0) { arr(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      arr(len) = (v & 0x7f).toByte; len += 1
    }
    def writeBytes(b: Array[Byte]): Unit = { ensure(b.length); System.arraycopy(b, 0, arr, len, b.length); len += b.length }
    def writeTag(field: Int, wireType: Int): Unit = writeVarint((field << 3) | wireType)
    def writeLenDelim(field: Int, payload: Array[Byte]): Unit = {
      writeTag(field, 2); writeVarint(payload.length.toLong); writeBytes(payload)
    }
    /** Length-delimited copy straight from another buffer — the scratch
      * pattern's exit path, no intermediate toArray allocation.
      */
    def writeLenDelim(field: Int, src: ByteBuf): Unit = {
      writeTag(field, 2); writeVarint(src.len.toLong)
      ensure(src.len); System.arraycopy(src.arr, 0, arr, len, src.len); len += src.len
    }
    def writeUInt(field: Int, v: Long): Unit = { writeTag(field, 0); writeVarint(v) }
    def toArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  @inline def zigzag(n: Int): Long = ((n << 1) ^ (n >> 31)).toLong & 0xffffffffL
  @inline def cmdInt(id: Int, count: Int): Long = ((id & 0x7) | (count << 3)).toLong

  /** Encode the geometry command stream for one feature. */
  def encodeGeometry(geomType: Int, rings: Array[Array[(Int, Int)]]): Array[Long] = {
    val out = mutable.ArrayBuffer.empty[Long]
    var cx = 0; var cy = 0
    geomType match {
      case GeomPoint =>
        val pts = rings.flatten
        out += cmdInt(1, pts.length)
        pts.foreach { case (x, y) =>
          out += zigzag(x - cx); out += zigzag(y - cy); cx = x; cy = y
        }
      case GeomLine =>
        rings.foreach { ring =>
          require(ring.length >= 2, "linestring needs >= 2 points")
          out += cmdInt(1, 1)
          out += zigzag(ring(0)._1 - cx); out += zigzag(ring(0)._2 - cy)
          cx = ring(0)._1; cy = ring(0)._2
          out += cmdInt(2, ring.length - 1)
          var i = 1
          while (i < ring.length) {
            out += zigzag(ring(i)._1 - cx); out += zigzag(ring(i)._2 - cy)
            cx = ring(i)._1; cy = ring(i)._2; i += 1
          }
        }
      case GeomPolygon =>
        rings.foreach { ring0 =>
          // drop an explicit closing point if present; ClosePath implies it
          val ring = if (ring0.length > 1 && ring0.head == ring0.last) ring0.dropRight(1) else ring0
          require(ring.length >= 3, "polygon ring needs >= 3 points")
          out += cmdInt(1, 1)
          out += zigzag(ring(0)._1 - cx); out += zigzag(ring(0)._2 - cy)
          cx = ring(0)._1; cy = ring(0)._2
          out += cmdInt(2, ring.length - 1)
          var i = 1
          while (i < ring.length) {
            out += zigzag(ring(i)._1 - cx); out += zigzag(ring(i)._2 - cy)
            cx = ring(i)._1; cy = ring(i)._2; i += 1
          }
          out += cmdInt(7, 1)
        }
      case other => throw new IllegalArgumentException(s"geomType $other")
    }
    out.toArray
  }

  /** Signed area ×2 of a ring in tile coords (y down): positive = CW on
    * screen = MVT exterior ring.
    */
  def signedArea2(ring: Array[(Int, Int)]): Long = {
    var s = 0L
    var i = 0
    val n = ring.length
    while (i < n) {
      val (x1, y1) = ring(i)
      val (x2, y2) = ring((i + 1) % n)
      s += x1.toLong * y2 - x2.toLong * y1
      i += 1
    }
    // Numerically-positive shoelace on y-down tile coords = clockwise on
    // screen = MVT exterior ring; no sign flip needed.
    s
  }

  private def encodeValue(v: TagValue): Array[Byte] = {
    val b = new ByteBuf(16)
    v match {
      case SVal(s) => b.writeLenDelim(1, s.getBytes("UTF-8"))
      case DVal(d) => b.writeTag(3, 1); // double: wire type 1 (64-bit)
        val bits = java.lang.Double.doubleToLongBits(d)
        var i = 0; var x = bits
        while (i < 8) { b.writeByte((x & 0xff).toInt); x >>>= 8; i += 1 }
      case IVal(i) => b.writeTag(4, 0); b.writeVarint(i)
      case BVal(x) => b.writeTag(7, 0); b.writeVarint(if (x) 1 else 0)
    }
    b.toArray
  }

  private def encodeFeature(f: Feature, keyIdx: Map[String, Int],
                            valIdx: Map[TagValue, Int]): Array[Byte] = {
    val b = new ByteBuf(64)
    if (f.id >= 0) b.writeUInt(1, f.id)
    if (f.tags.nonEmpty) {
      val tagBuf = new ByteBuf(16)
      f.tags.foreach { case (k, v) =>
        tagBuf.writeVarint(keyIdx(k).toLong); tagBuf.writeVarint(valIdx(v).toLong)
      }
      b.writeLenDelim(2, tagBuf.toArray)
    }
    b.writeUInt(3, f.geomType.toLong)
    val geom = encodeGeometry(f.geomType, f.rings)
    val gb = new ByteBuf(geom.length * 2)
    geom.foreach(gb.writeVarint)
    b.writeLenDelim(4, gb.toArray)
    b.toArray
  }

  /** Encode one layer. Key/value tables are built in first-appearance
    * order — deterministic given feature order.
    */
  def encodeLayer(name: String, features: Seq[Feature],
                  extent: Int = WebMercator.Extent): Array[Byte] = {
    val keys = mutable.LinkedHashMap.empty[String, Int]
    val vals = mutable.LinkedHashMap.empty[TagValue, Int]
    features.foreach(_.tags.foreach { case (k, v) =>
      if (!keys.contains(k)) keys(k) = keys.size
      if (!vals.contains(v)) vals(v) = vals.size
    })
    val b = new ByteBuf(1024)
    b.writeUInt(15, 2L) // version
    b.writeLenDelim(1, name.getBytes("UTF-8"))
    val kIdx = keys.toMap; val vIdx = vals.toMap
    features.foreach(f => b.writeLenDelim(2, encodeFeature(f, kIdx, vIdx)))
    keys.keysIterator.foreach(k => b.writeLenDelim(3, k.getBytes("UTF-8")))
    vals.keysIterator.foreach(v => b.writeLenDelim(4, encodeValue(v)))
    b.writeUInt(5, extent.toLong)
    b.toArray
  }

  /** Encode a whole tile from (layerName → features). */
  def encodeTile(layers: Seq[(String, Seq[Feature])],
                 extent: Int = WebMercator.Extent): Array[Byte] = {
    val b = new ByteBuf(1024)
    layers.foreach { case (name, fs) => b.writeLenDelim(3, encodeLayer(name, fs, extent)) }
    b.toArray
  }

  /** HOT-LOOP fast path for a single-layer all-POINTS tile — the shape
    * every pipeline tile has. Byte-for-byte identical to
    * `encodeTile(Seq(name → features))` with one GeomPoint feature per
    * (x, y, kind, name) row, ids 1..n, tags `kind` when non-null plus
    * `name` when nonempty (a null name counts as empty; parity pinned in
    * MvtEncoderSpec), but with none of the
    * generic path's per-feature allocation: no Feature/TagValue objects,
    * no boxed geometry buffers, two scratch ByteBufs reused across the
    * whole tile. This stage is the single largest pipeline cost (the
    * stage split: MVT encode ≈ 2× the top-cap aggregation), so the
    * constant factor here is headline throughput.
    */
  def encodePointTile(layerName: String,
                      xs: Array[Int], ys: Array[Int],
                      kinds: Array[String], names: Array[String],
                      extent: Int = WebMercator.Extent): Array[Byte] = {
    val n = xs.length
    // key/value tables in first-appearance order — same order the
    // generic path's LinkedHashMap produces (values shared across kind
    // and name strings, exactly like the SVal-keyed table)
    val keyIdx = new java.util.LinkedHashMap[String, Integer]()
    val valIdx = new java.util.LinkedHashMap[String, Integer]()
    var i = 0
    while (i < n) {
      if (kinds(i) != null) {
        if (!keyIdx.containsKey("kind")) keyIdx.put("kind", keyIdx.size)
        if (!valIdx.containsKey(kinds(i))) valIdx.put(kinds(i), valIdx.size)
      }
      if (names(i) != null && names(i).nonEmpty) {
        if (!keyIdx.containsKey("name")) keyIdx.put("name", keyIdx.size)
        if (!valIdx.containsKey(names(i))) valIdx.put(names(i), valIdx.size)
      }
      i += 1
    }
    val kindKey = keyIdx.getOrDefault("kind", -1).toLong
    val nameKey = keyIdx.getOrDefault("name", -1).toLong

    val layer = new ByteBuf(1024)
    layer.writeUInt(15, 2L) // version
    layer.writeLenDelim(1, layerName.getBytes("UTF-8"))
    val feat = new ByteBuf(64)
    val scratch = new ByteBuf(32)
    i = 0
    while (i < n) {
      feat.reset()
      feat.writeUInt(1, (i + 1).toLong) // id
      scratch.reset() // tags
      if (kinds(i) != null) {
        scratch.writeVarint(kindKey)
        scratch.writeVarint(valIdx.get(kinds(i)).toLong)
      }
      if (names(i) != null && names(i).nonEmpty) {
        scratch.writeVarint(nameKey)
        scratch.writeVarint(valIdx.get(names(i)).toLong)
      }
      if (scratch.size > 0) feat.writeLenDelim(2, scratch)
      feat.writeUInt(3, GeomPoint.toLong)
      scratch.reset() // geometry: MoveTo ×1 from (0,0)
      scratch.writeVarint(cmdInt(1, 1))
      scratch.writeVarint(zigzag(xs(i)))
      scratch.writeVarint(zigzag(ys(i)))
      feat.writeLenDelim(4, scratch)
      layer.writeLenDelim(2, feat)
      i += 1
    }
    val kIt = keyIdx.keySet().iterator()
    while (kIt.hasNext) layer.writeLenDelim(3, kIt.next().getBytes("UTF-8"))
    val vIt = valIdx.keySet().iterator()
    while (vIt.hasNext) {
      scratch.reset() // Value message: string = field 1
      scratch.writeLenDelim(1, vIt.next().getBytes("UTF-8"))
      layer.writeLenDelim(4, scratch)
    }
    layer.writeUInt(5, extent.toLong)

    val tile = new ByteBuf(layer.size + 8)
    tile.writeLenDelim(3, layer)
    tile.toArray
  }
}

package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** One tile feature (pre-encode). */
final case class Feat(fkey: Long, lon: Double, lat: Double,
                      kind: String, name: String)

/** Bounded top-K buffer: binary max-heap by (fkey, lon, lat) over parallel
  * arrays — O(log cap) insert; [[TopKTileAgg]] writes it to the shuffle in
  * its own binary layout. Storage GROWS
  * geometrically up to cap: the hash aggregate holds one buffer per
  * in-flight group, and most tiles carry only a few features — a
  * preallocated cap-sized buffer per group would multiply to tens of GB.
  */
final class TopKBuf(val cap: Int) extends Serializable {
  /** Group key (packed tile id), carried so eval() can encode without
    * seeing the grouping key. Long.MinValue = not set (0 is a valid
    * tile id: zoom 0).
    */
  var tileId: Long = Long.MinValue
  var n: Int = 0
  private var size0 = math.min(8, cap)
  var fkeys: Array[Long] = new Array[Long](size0)
  var lons: Array[Double] = new Array[Double](size0)
  var lats: Array[Double] = new Array[Double](size0)
  var kinds: Array[String] = new Array[String](size0)
  var names: Array[String] = new Array[String](size0)

  private def grow(): Unit = {
    val newSize = math.min(cap, math.max(8, fkeys.length * 2))
    fkeys = java.util.Arrays.copyOf(fkeys, newSize)
    lons = java.util.Arrays.copyOf(lons, newSize)
    lats = java.util.Arrays.copyOf(lats, newSize)
    kinds = java.util.Arrays.copyOf(kinds, newSize)
    names = java.util.Arrays.copyOf(names, newSize)
  }

  /** true if element i ranks after (greater than) element j. */
  @inline private def gt(i: Int, j: Int): Boolean = {
    if (fkeys(i) != fkeys(j)) fkeys(i) > fkeys(j)
    else if (lons(i) != lons(j)) lons(i) > lons(j)
    else lats(i) > lats(j)
  }

  @inline private def gtv(fk: Long, lo: Double, la: Double, j: Int): Boolean = {
    if (fk != fkeys(j)) fk > fkeys(j)
    else if (lo != lons(j)) lo > lons(j)
    else la > lats(j)
  }

  private def swap(i: Int, j: Int): Unit = {
    val f = fkeys(i); fkeys(i) = fkeys(j); fkeys(j) = f
    val lo = lons(i); lons(i) = lons(j); lons(j) = lo
    val la = lats(i); lats(i) = lats(j); lats(j) = la
    val k = kinds(i); kinds(i) = kinds(j); kinds(j) = k
    val nm = names(i); names(i) = names(j); names(j) = nm
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && gt(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < n && gt(l, m)) m = l
      if (r < n && gt(r, m)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def offer(fk: Long, lo: Double, la: Double, kind: String, name: String): Unit = {
    if (n < cap) {
      if (n == fkeys.length) grow()
      fkeys(n) = fk; lons(n) = lo; lats(n) = la; kinds(n) = kind; names(n) = name
      n += 1; siftUp(n - 1)
    } else if (!gtv(fk, lo, la, 0)) { // smaller than current max → replace root
      fkeys(0) = fk; lons(0) = lo; lats(0) = la; kinds(0) = kind; names(0) = name
      siftDown(0)
    }
  }

  def mergeFrom(o: TopKBuf): TopKBuf = {
    var i = 0
    while (i < o.n) { offer(o.fkeys(i), o.lons(i), o.lats(i), o.kinds(i), o.names(i)); i += 1 }
    this
  }

  /** Ascending (fkey, lon, lat) order. */
  def toSorted: Array[Feat] = {
    val out = Array.tabulate(n)(i => Feat(fkeys(i), lons(i), lats(i), kinds(i), names(i)))
    scala.util.Sorting.stableSort(out,
      (a: Feat, b: Feat) => a.fkey < b.fkey ||
        (a.fkey == b.fkey && (a.lon < b.lon || (a.lon == b.lon && a.lat < b.lat))))
    out
  }
}

/** The per-tile top-cap + MVT encode as one Catalyst aggregate over
  * `children` = (tile_id, fkey, lon, lat, kind, name), used as
  * `groupBy(tile_id).agg(...)`: exact deterministic top-`cap` features per
  * tile with MAP-SIDE PARTIAL AGGREGATION — every input partition
  * pre-reduces a hot tile to ≤cap rows before the shuffle, so dense urban
  * tiles cannot create shuffle stragglers (the BASELINE.json skew gate,
  * expressed as a combiner instead of explicit salting; AQE remains the
  * backstop).
  *
  * Rows are read straight from the input InternalRow (no key lambda, no
  * per-row object decode); strings are decoded to fresh Strings, so the
  * buffer never points into a reused UnsafeRow. The shuffled partial
  * buffer is tile id, n, then per heap slot fkey, lon bits, lat bits and
  * the UTF-8 kind/name, each length-prefixed (-1 = null); deserialize
  * restores the heap slots in order, so merges see the same heap as the
  * writer. eval() encodes the sorted buffer once ([[Tiler.encodeOne]]) and
  * returns a TileRow struct, or a TileRowF struct that also keeps the
  * sorted buffer as `feats` when `keepFeatures`.
  */
case class TopKTileAgg(children: Seq[Expression], cap: Int, layerName: String,
                       keepFeatures: Boolean, mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] {
  private[this] val cols = children.toArray

  override def nullable: Boolean = true
  override def dataType: DataType =
    if (keepFeatures) TopKTileAgg.tileFType else TopKTileAgg.tileType
  override def prettyName: String = "topk_tile"

  override def createAggregationBuffer(): TopKBuf = new TopKBuf(cap)

  private def str(i: Int, row: InternalRow): String = {
    val s = cols(i).eval(row)
    if (s == null) null else s.toString
  }

  override def update(b: TopKBuf, row: InternalRow): TopKBuf = {
    val tid = cols(0).eval(row); val fk = cols(1).eval(row)
    val lo = cols(2).eval(row); val la = cols(3).eval(row)
    if (tid == null || fk == null || lo == null || la == null)
      throw new IllegalArgumentException("topk_tile: null tile_id, fkey, lon or lat")
    b.tileId = tid.asInstanceOf[Long]
    b.offer(fk.asInstanceOf[Long], lo.asInstanceOf[Double], la.asInstanceOf[Double],
      str(4, row), str(5, row))
    b
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = {
    if (b1.tileId == Long.MinValue) b1.tileId = b2.tileId
    b1.mergeFrom(b2)
  }

  override def eval(b: TopKBuf): Any = {
    val fs = b.toSorted
    val t = Tiler.encodeOne(b.tileId, fs, layerName)
    if (!keepFeatures) InternalRow(t.zoom, t.x, t.y, t.n_features, t.mvt_bytes)
    else InternalRow(t.zoom, t.x, t.y, t.n_features, t.mvt_bytes,
      new GenericArrayData(fs.map(f => InternalRow(f.fkey, f.lon, f.lat,
        UTF8String.fromString(f.kind), UTF8String.fromString(f.name)): Any)))
  }

  override def serialize(b: TopKBuf): Array[Byte] = {
    val strs = new Array[Array[Byte]](2 * b.n)
    var size = 12 + 32 * b.n
    var i = 0
    while (i < 2 * b.n) {
      val s = if (i % 2 == 0) b.kinds(i / 2) else b.names(i / 2)
      if (s != null) { strs(i) = s.getBytes(UTF_8); size += strs(i).length }
      i += 1
    }
    val out = ByteBuffer.allocate(size).putLong(b.tileId).putInt(b.n)
    i = 0
    while (i < b.n) {
      out.putLong(b.fkeys(i)).putLong(java.lang.Double.doubleToRawLongBits(b.lons(i)))
        .putLong(java.lang.Double.doubleToRawLongBits(b.lats(i)))
      TopKTileAgg.putStr(out, strs(2 * i)); TopKTileAgg.putStr(out, strs(2 * i + 1))
      i += 1
    }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val in = ByteBuffer.wrap(bytes)
    val b = new TopKBuf(cap)
    b.tileId = in.getLong(); val n = in.getInt()
    b.fkeys = new Array[Long](n); b.lons = new Array[Double](n)
    b.lats = new Array[Double](n)
    b.kinds = new Array[String](n); b.names = new Array[String](n)
    var i = 0
    while (i < n) {
      b.fkeys(i) = in.getLong()
      b.lons(i) = java.lang.Double.longBitsToDouble(in.getLong())
      b.lats(i) = java.lang.Double.longBitsToDouble(in.getLong())
      b.kinds(i) = TopKTileAgg.getStr(in); b.names(i) = TopKTileAgg.getStr(in)
      i += 1
    }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKTileAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKTileAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKTileAgg = copy(children = newChildren)
}

object TopKTileAgg {
  private val tileType = Encoders.product[TileRow].schema
  private val tileFType = Encoders.product[TileRowF].schema

  private def putStr(out: ByteBuffer, s: Array[Byte]): Unit =
    if (s == null) out.putInt(-1) else out.putInt(s.length).put(s)

  private def getStr(in: ByteBuffer): String = {
    val len = in.getInt()
    if (len < 0) null
    else { val s = new String(in.array(), in.position(), len, UTF_8); in.position(in.position() + len); s }
  }
}

package graft.core

/** Geohash (public spec: Niemeyer 2008; base32 alphabet
  * "0123456789bcdefghjkmnpqrstuvwxyz", longitude-first bit
  * interleaving). Third cell index next to exact S2 (core/S2) and the
  * aperture-7 hex grid (core/HexGrid): the prefix property (truncating
  * a geohash yields the containing coarser cell) makes it the natural
  * key for prefix-range scans over lexicographically sorted storage.
  */
object Geohash {
  val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
  private val Decode: Array[Int] = {
    val a = Array.fill(128)(-1)
    Alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Encode to `precision` base32 characters (5 bits each). */
  def encode(lon: Double, lat: Double, precision: Int): String = {
    require(precision >= 1 && precision <= 12)
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    val sb = new java.lang.StringBuilder(precision)
    var evenBit = true // longitude first
    var bit = 0
    var ch = 0
    while (sb.length < precision) {
      if (evenBit) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      evenBit = !evenBit
      bit += 1
      if (bit == 5) { sb.append(Alphabet.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  /** Decode to the cell's bounding box (lonLo, latLo, lonHi, latHi). */
  def decodeBbox(gh: String): (Double, Double, Double, Double) = {
    var lonLo = -180.0; var lonHi = 180.0
    var latLo = -90.0; var latHi = 90.0
    var evenBit = true
    var i = 0
    while (i < gh.length) {
      val cd = Decode(gh.charAt(i).toInt)
      require(cd >= 0, s"bad geohash char ${gh.charAt(i)}")
      var b = 4
      while (b >= 0) {
        val bitSet = ((cd >> b) & 1) == 1
        if (evenBit) {
          val mid = (lonLo + lonHi) / 2
          if (bitSet) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bitSet) latLo = mid else latHi = mid
        }
        evenBit = !evenBit
        b -= 1
      }
      i += 1
    }
    (lonLo, latLo, lonHi, latHi)
  }
}

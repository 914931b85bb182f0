package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S2 cell-union compaction — `S2CellUnion::Normalize` semantics from the
  * published S2 geometry library: in a set of cells, every complete
  * quadruple of siblings is replaced by its parent, cascading upward until
  * no complete quadruple remains. The workhorse for storing polygon /
  * region covers compactly (a country cover of millions of fine cells
  * compacts to thousands of mixed-level cells) and for shrinking the
  * broadcast side of cover-based spatial joins.
  *
  * Everything here is pure 64-bit ID arithmetic on the canonical S2 cell
  * layout (graft.core.S2: Hilbert position + lsb level marker) — level,
  * parent, and child ids are shift/and/or expressions, so the whole
  * operator stays inside whole-stage codegen and is replayable in ANSI
  * SQL (the q59 oracle re-derives the full cascade with the same
  * arithmetic).
  *
  * Scale shape: one superstep per cascade level (≤ 30, data-bounded by
  * the deepest level present). Each superstep shuffles ONLY the 8-byte
  * ids at the level being compacted, grouped by parent id — cells at
  * other levels ride a filter, not the shuffle. Lineage is truncated
  * every few supersteps (same production note as
  * Dedup.connectedComponents: swap localCheckpoint for durable
  * checkpoint on preemptible clusters).
  */
object CellCompact {
  /** lsb(cell): the level-marker bit (sign-agnostic, works for face ≥ 4
    * ids whose bit 63 is set).
    */
  private def lsbOf(c: Column): Column = c.bitwiseAND(-c)

  /** S2 level (0–30) of a cell id: 30 − trailingZeros/2. */
  def levelOf(c: Column): Column =
    (lit(30) - (bit_count(lsbOf(c) - 1) / 2).cast("int")).cast("int")

  /** Parent one level up: (id & −4·lsb) | 4·lsb (graft.core.S2.parentAtLevel). */
  def parentOf(c: Column): Column = {
    val nl = shiftleft(lsbOf(c), 2)
    c.bitwiseAND(-nl).bitwiseOR(nl)
  }

  /** Compact a cell set: distinct, NON-OVERLAPPING input cells (any mix
    * of levels — a cover, by construction non-overlapping), every
    * complete sibling quadruple replaced by its parent, cascading to the
    * fixpoint. `groupCols` scopes compaction (e.g. one cover per region
    * id); sets in different groups never interact.
    *
    * ALL levels compact in the same superstep: a parent id encodes its
    * level in the lsb marker, so grouping every cell by `parentOf(cell)`
    * can never collide across levels, and supersteps = cascade DEPTH
    * (how many levels a completion chain climbs), not the number of
    * distinct levels present. Each superstep is one hash aggregation +
    * one anti join over 8-byte ids; the running set is eagerly
    * localCheckpoint'ed — the plan branches 3× per step
    * (kept/parents/level-0 all re-reference it), and lazy evaluation
    * makes recompute exponential in the cascade depth.
    */
  def compact(cells: DataFrame, cellCol: String,
              groupCols: Seq[String] = Nil,
              collectMax: Long = Dedup.DriverCollectMax): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val g = groupCols.map(col)
    val distinctCells = cells
      .select((g :+ col(cellCol).cast("long").as("cell")): _*).distinct()
    // Scale-adaptive fast path (the Dedup.connectedComponents shape): a
    // distinct cover of at most `collectMax` cells resolves its whole
    // cascade in one driver pass instead of ~3 jobs per cascade level —
    // the superstep chain's fixed latency dominates whenever the cover
    // is small. One bounded collect decides; above the bound the
    // superstep path runs, so planet-scale fine-level covers never touch
    // the driver (tests pass 0 to force it). Grouped compaction stays
    // on the generic path (group columns are arbitrary types).
    val small =
      if (groupCols.isEmpty) Dedup.collectAtMost(distinctCells.as[Long], collectMax)
      else None
    if (small.isDefined) {
      val set = new java.util.HashSet[java.lang.Long]()
      small.get.foreach(set.add(_))
      // cascade to the fixpoint: a quadruple completes iff all four
      // siblings are present — same predicate as the distributed
      // count-4 aggregation, applied level-by-level bottom-up
      var moved = true
      while (moved) {
        moved = false
        val it = set.toArray(new Array[java.lang.Long](set.size()))
        // group by parent, count siblings
        val byParent = new java.util.HashMap[java.lang.Long, Integer]()
        it.foreach { c =>
          val lsb = c & -c
          if (lsb != (1L << 60)) { // level > 0
            val nl = lsb << 2
            val p = (c & -nl) | nl
            byParent.merge(p, 1, (a, b) => a + b)
          }
        }
        val e = byParent.entrySet().iterator()
        while (e.hasNext) {
          val ent = e.next()
          if (ent.getValue == 4) {
            val p = ent.getKey.longValue()
            val lsbP = p & -p
            val lsbC = lsbP >> 2
            var k = 0L
            while (k < 4L) { set.remove(p - lsbP + lsbC + 2 * k * lsbC); k += 1 }
            set.add(p)
            moved = true
          }
        }
      }
      val out = set.toArray(new Array[java.lang.Long](set.size()))
        .map(_.longValue())
      return spark.createDataset(out.toIndexedSeq).toDF("cell")
    }
    var cur = distinctCells.localCheckpoint(true)
    var changed = true
    while (changed) {
      val splittable = cur.filter(levelOf(col("cell")) > 0)
        .withColumn("__parent", parentOf(col("cell")))
      val lvl0 = cur.filter(levelOf(col("cell")) === 0)
      // input is distinct, so count(*) per parent == distinct siblings
      val complete = splittable
        .groupBy((g :+ col("__parent")): _*)
        .agg(count(lit(1)).as("__n"))
        .filter(col("__n") === 4)
        .drop("__n")
        .localCheckpoint(true) // small: one row per completed quadruple
      if (complete.isEmpty) changed = false
      else {
        val kept = splittable
          .join(complete, groupCols :+ "__parent", "left_anti")
          .drop("__parent")
        val parents = complete.withColumnRenamed("__parent", "cell")
          .select((g :+ col("cell")): _*)
        cur = lvl0.unionByName(kept).unionByName(parents)
          .localCheckpoint(true)
      }
    }
    cur
  }

  /** Expand every cell to its descendants at `level` (inverse of compact
    * for sets already at one level). Child k of a cell with marker lsb,
    * at target marker lsbT: id − lsb + lsbT + 2k·lsbT, k ∈ [0, 4^Δ).
    * Fan-out is 4^Δ per row — callers keep Δ small (a cover expand), the
    * generator is a codegen'd explode, no shuffle.
    */
  def uncompact(cells: DataFrame, cellCol: String, level: Int,
                groupCols: Seq[String] = Nil): DataFrame = {
    require(level >= 0 && level <= 30, "level must be in [0,30]")
    val g = groupCols.map(col)
    val cc = col("__cell")
    val lsbT = lit(1L << (2 * (30 - level)))
    // 4^Δ = lsb(cell)/lsbT (exact: both powers of two); clamp too-deep
    // rows to one child so the guard below fires instead of a giant
    // descending sequence
    val nKids = when(levelOf(cc) <= level,
      (lsbOf(cc) / lsbT).cast("long")).otherwise(lit(1L))
    val child = cc - lsbOf(cc) + lsbT + col("__k") * lsbT * 2
    // a cell deeper than the target level has no descendants there — fail
    // loudly (guard lives inside the output expression so pruning can't
    // drop it; a too-deep cell makes the sequence run descending, and its
    // rows land in the error branch)
    val checked = when(levelOf(cc) <= level, child)
      .otherwise(raise_error(
        lit(s"uncompact: input cell deeper than target level $level")))
    cells
      .select((g :+ col(cellCol).cast("long").as("__cell")): _*)
      .withColumn("__k", explode(sequence(lit(0L), nKids - 1)))
      .select((g :+ checked.as(cellCol)): _*)
  }
}

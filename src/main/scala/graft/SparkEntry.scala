package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dbscan.momentMean

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), with a DuckDB-runnable oracle in `oracleSql` wherever
  * the operator is SQL-expressible. Column names are aliased identically
  * on both sides (driver hashes by sorted column name).
  */
object SparkEntry {
  /** DECOMPOSED combining sequences (e+ACUTE, A+RING, o+DIAERESIS) used
    * by q81; defined once so the Spark query and the SQL oracle carry
    * byte-identical input — NFC must compose all three (length −3).
    */
  private val NfcSuffix = " caf" + "é" + " Å" + " ö"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ---- synthetic inputs: each formula is ONE SQL expression text that
  //      the engine evaluates through expr/selectExpr and the DuckDB
  //      oracle interpolates, so both engines run the same arithmetic.
  //      Every non-integer literal is CAST to DOUBLE: both engines parse
  //      a bare non-integer literal as DECIMAL, DuckDB would then derive
  //      the whole cloud in exact decimal arithmetic (ULPs away from
  //      binary doubles — enough to flip a floor in the q96 oracle) and
  //      Spark runs floor(..) * 360.0 as decimal(25,1). Integer division
  //      is the one operator the dialects spell differently (Spark `div`,
  //      DuckDB `//`), so formulas take such terms as arguments ----

  /** `(lon, lat)` of the derived point cloud over integer id column `id`
    * (`doc_id` of `documents`, `event_id` in q102/q118): a fixed
    * irrational-looking stride wrapped into [-180, 180) × [-85, 85).
    */
  private[graft] def derivedLonLatSql(id: String): (String, String) = {
    def wrap(stride: String, span: String, half: String) = {
      val x = s"$id * CAST($stride AS DOUBLE)"
      s"$x - floor($x / CAST($span AS DOUBLE)) * CAST($span AS DOUBLE) - CAST($half AS DOUBLE)"
    }
    (wrap("17.000170000017", "360.0", "180.0"),
      wrap("7.000070000007", "170.0", "85.0"))
  }

  /** Select list `id, lon, lat`: the derived point over `id`. */
  private def derivedPointCols(id: String): Seq[String] = {
    val (lon, lat) = derivedLonLatSql(id)
    Seq(id, s"$lon AS lon", s"$lat AS lat")
  }

  /** The derived point cloud (doc_id, lon, lat) of `documents`. */
  private def derivedPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").selectExpr(derivedPointCols("doc_id"): _*)

  private val derivedPointsSql =
    s"SELECT ${derivedPointCols("doc_id").mkString(", ")} FROM documents"

  /** The grid-DBSCAN (q104) replay as a reusable CTE chain ending in
    * `lab(doc_id, role, cluster_id)` — weighted floor-cell reps, Σw core
    * condition, recursive closure, point inheritance. Parameterized over
    * the point source and the (cellDeg, eps, minPts) triple so the q104
    * labeling oracle (uniform lattice) and the q117 dispersion oracle
    * (8-blob input) share it. Callers open with `WITH RECURSIVE`.
    */
  private def gridDbscanLabelsCte(ptsSql: String, cellDeg: Double,
                                  eps: Double, minPts: Int): String =
    s"""pts AS ($ptsSql),
      |cells AS MATERIALIZED (
      |  SELECT CAST(floor((lon + 180.0) / $cellDeg) AS BIGINT) AS cx,
      |    CAST(floor((lat + 90.0) / $cellDeg) AS BIGINT) AS cy,
      |    count(*) AS w
      |  FROM pts GROUP BY 1, 2),
      |reps AS MATERIALIZED (
      |  SELECT cx * 100000 + cy AS rep,
      |    (CAST(cx AS DOUBLE) + 0.5) * $cellDeg - 180.0 AS rlon,
      |    (CAST(cy AS DOUBLE) + 0.5) * $cellDeg - 90.0 AS rlat, w
      |  FROM cells),
      |d AS MATERIALIZED (
      |  SELECT a.rep AS qa, b.rep AS qb, b.w AS wb
      |  FROM reps a JOIN reps b
      |    ON (a.rlon - b.rlon) * (a.rlon - b.rlon)
      |     + (a.rlat - b.rlat) * (a.rlat - b.rlat) <= $eps * $eps),
      |cores AS MATERIALIZED (
      |  SELECT qa AS id FROM d GROUP BY qa HAVING sum(wb) >= $minPts),
      |edges AS MATERIALIZED (
      |  SELECT d.qa AS src, d.qb AS dst FROM d
      |  JOIN cores c1 ON d.qa = c1.id JOIN cores c2 ON d.qb = c2.id),
      |reach(a, b) AS (
      |  SELECT id, id FROM cores
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |cc AS MATERIALIZED (
      |  SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
      |border AS MATERIALIZED (
      |  SELECT d.qa AS id, min(cc.cluster_id) AS cluster_id
      |  FROM d JOIN cc ON d.qb = cc.id
      |  WHERE d.qa NOT IN (SELECT id FROM cores)
      |  GROUP BY d.qa),
      |prep AS (
      |  SELECT doc_id,
      |    CAST(floor((lon + 180.0) / $cellDeg) AS BIGINT) * 100000
      |      + CAST(floor((lat + 90.0) / $cellDeg) AS BIGINT) AS rep
      |  FROM pts),
      |lab AS MATERIALIZED (
      |  SELECT p.doc_id,
      |    CASE WHEN cc.id IS NOT NULL THEN 'core'
      |         WHEN bo.id IS NOT NULL THEN 'border'
      |         ELSE 'noise' END AS role,
      |    coalesce(cc.cluster_id, bo.cluster_id, -1) AS cluster_id
      |  FROM prep p
      |  LEFT JOIN cc ON p.rep = cc.id
      |  LEFT JOIN border bo ON p.rep = bo.id)""".stripMargin

  /** The 8-blob transform of the derived points (doc_id, lon, lat) — the
    * q103/q106 anchored blobs: anchor = doc_id % 8, the input point scaled to
    * ±9°/±4.5° jitter around it. Genuinely clustered input for the
    * DBSCAN-family queries (the quasi-uniform lattice percolates into one
    * giant component at any eps). Select list `doc_id, lon, lat`.
    */
  private[graft] val blobPointCols: Seq[String] = Seq("doc_id",
    "CAST(doc_id % 8 AS DOUBLE) * CAST(45.0 AS DOUBLE) - CAST(157.5 AS DOUBLE)" +
      " + lon * CAST(0.05 AS DOUBLE) AS lon",
    "CAST(doc_id % 8 AS DOUBLE) * CAST(20.0 AS DOUBLE) - CAST(70.0 AS DOUBLE)" +
      " + lat * CAST(0.05 AS DOUBLE) AS lat")

  private def blobPoints(s: SparkSession, dir: String): DataFrame =
    derivedPoints(s, dir).selectExpr(blobPointCols: _*)

  private val blobPointsSql =
    s"SELECT ${blobPointCols.mkString(", ")} FROM ($derivedPointsSql)"

  /** q104-style grid-DBSCAN labels of the 8-blob input `pts` — the
    * clusters of q106, q107, q111, q117 and q119.
    */
  private def blobGridLabels(pts: DataFrame): DataFrame =
    graft.operators.Dbscan.clusterGrid(pts, "doc_id",
      epsDeg = 5.0, minPts = 8, cellDeg = 0.25, res = 1)

  /** Grid-DBSCAN hulls of the 8-blob input (q106), also the hull side of
    * the q107/q111 overlays.
    */
  private def blobGridHulls(s: SparkSession, dir: String): DataFrame = {
    val pts = blobPoints(s, dir)
    graft.operators.Dbscan.hulls(pts, "doc_id", blobGridLabels(pts))
  }

  /** [[graft.operators.Dbscan.clusterMoments]] of the 8-blob clusters
    * (q117, q119).
    */
  private def blobMoments(s: SparkSession, dir: String): DataFrame = {
    val pts = blobPoints(s, dir)
    graft.operators.Dbscan.clusterMoments(pts, "doc_id", blobGridLabels(pts))
  }

  /** The oracle triangles as overlay-join rings (b_id, bx, by); the
    * registry stores closed 4-entry rings, the join takes them unclosed.
    */
  private def adminTriangles(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.sources.PolyRegistry.oracleTriangles
      .map(p => (p.adminId, p.xs.take(3), p.ys.take(3)))
      .toDF("b_id", "bx", "by")
  }

  /** The oracle triangles as flat vertex rows (`id`, bx1, by1, …, by3):
    * the polygon side of q112 and q114.
    */
  private def triangleRows(s: SparkSession, id: String): DataFrame = {
    import s.implicits._
    graft.sources.PolyRegistry.oracleTriangles.map { p =>
      (p.adminId, p.xs(0), p.ys(0), p.xs(1), p.ys(1), p.xs(2), p.ys(2))
    }.toDF(id, "bx1", "by1", "bx2", "by2", "bx3", "by3")
  }

  /** [[triangleRows]] as a DuckDB VALUES list for the oracles. */
  private def triangleValuesSql: String =
    graft.sources.PolyRegistry.oracleTriangles.map { p =>
      (0 until 3).flatMap(i => Seq(p.xs(i), p.ys(i)))
        .map(v => s"CAST($v AS DOUBLE)").mkString(s"(${p.adminId}, ", ", ", ")")
    }.mkString(",\n  ")

  /** `(lon, lat)` of the zigzag tracks over `user_id` and an integer
    * track position `step` (`seq` in q113/q114, `seq` div 5 for the
    * slowed tracks of q115/q116): pure INTEGER triangle-waves, because
    * sin() is not oracle-portable — libm sin differs between engines in
    * the last ULP, integer modular arithmetic is exact everywhere.
    */
  private[graft] def zigzagLonLatSql(step: String): (String, String) = (
    s"CAST(abs((user_id * 13 + $step * 17) % 336 - 168) AS DOUBLE) - CAST(84.0 AS DOUBLE)",
    s"CAST(abs((user_id * 7 + $step * 11) % 164 - 82) AS DOUBLE) - CAST(41.0 AS DOUBLE)")

  /** Planar `deg`-degree grid cell id of (lon, lat): x * 1000 + y. */
  private[graft] def gridCellSql(deg: String): String =
    s"CAST(floor(lon / CAST($deg AS DOUBLE)) AS BIGINT) * 1000 + " +
      s"CAST(floor(lat / CAST($deg AS DOUBLE)) AS BIGINT)"

  /** Per-track order of the `events` tracks. */
  private val byTrack = org.apache.spark.sql.expressions.Window
    .partitionBy("user_id").orderBy("event_id")

  /** `df` with `lon`/`lat` columns evaluated from a `(lon, lat)` pair. */
  private def withLonLat(df: DataFrame, lonLat: (String, String)): DataFrame =
    df.withColumn("lon", expr(lonLat._1)).withColumn("lat", expr(lonLat._2))

  /** Zigzag tracks from `events`: per-user consecutive segments
    * (user_id, seq, ax1, ay1, ax2, ay2), one row per segment.
    */
  private def zigzagSegs(s: SparkSession, dir: String): DataFrame = {
    val coords = withLonLat(t(s, dir, "events")
      .select(col("user_id").cast("long").as("user_id"), col("event_id"))
      .withColumn("seq", row_number().over(byTrack).cast("long")),
      zigzagLonLatSql("seq"))
    coords
      .withColumn("ax2", lead(col("lon"), 1).over(byTrack))
      .withColumn("ay2", lead(col("lat"), 1).over(byTrack))
      .filter(col("ax2").isNotNull)
      .select(col("user_id"), col("seq"),
        col("lon").as("ax1"), col("lat").as("ay1"),
        col("ax2"), col("ay2"))
  }

  /** The slowed zigzag tracks of q115/q116 over `ev` (user_id,
    * event_id, …): the position advances every 5 events. Adds seq,
    * step, lon, lat and the 10-degree `cell`.
    */
  private def slowZigzagCells(ev: DataFrame): DataFrame =
    withLonLat(ev.withColumn("seq", row_number().over(byTrack).cast("long"))
        .withColumn("step", expr("seq div 5")), zigzagLonLatSql("step"))
      .withColumn("cell", expr(gridCellSql("10.0")))

  /** The oracle twin of [[slowZigzagCells]]: CTEs pts → coords → cells
    * (user_id, seq, tus, cell), the step taken with DuckDB's `//`.
    */
  private val slowZigzagCellsSql = {
    val (lon, lat) = zigzagLonLatSql("(seq // 5)")
    s"""pts AS (
      |  SELECT CAST(user_id AS BIGINT) AS user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS seq,
      |    epoch_us(ts) AS tus
      |  FROM events),
      |coords AS MATERIALIZED (
      |  SELECT user_id, seq, tus, $lon AS lon, $lat AS lat
      |  FROM pts),
      |cells AS MATERIALIZED (
      |  SELECT user_id, seq, tus, ${gridCellSql("10.0")} AS cell
      |  FROM coords)""".stripMargin
  }

  /** The zigzag-track CTE chain (pts → coords → segs) of the q113/q114
    * oracles; `segs` rows with NULL ax2 (the last point of each track)
    * are filtered by the consumers.
    */
  private val zigzagSegsSql = {
    val (lon, lat) = zigzagLonLatSql("seq")
    s"""pts AS (
      |  SELECT CAST(user_id AS BIGINT) AS user_id,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS seq
      |  FROM events),
      |coords AS MATERIALIZED (
      |  SELECT user_id, seq, $lon AS lon, $lat AS lat
      |  FROM pts),
      |segs AS MATERIALIZED (
      |  SELECT user_id, seq, lon AS ax1, lat AS ay1,
      |    lead(lon) OVER (PARTITION BY user_id ORDER BY seq) AS ax2,
      |    lead(lat) OVER (PARTITION BY user_id ORDER BY seq) AS ay2
      |  FROM coords)""".stripMargin
  }

  /** Vertex lists `(x, y)` of the two disjoint overlay sets over the
    * derived points: set A on even doc_ids anchored at (lon, lat), set B
    * on odd doc_ids anchored at (lon+1, lat+1). Every offset is an
    * exactly-representable double.
    */
  private type OverlaySets = (Seq[(String, String)], Seq[(String, String)])

  private val One = "CAST(1.0 AS DOUBLE)"

  /** Edge length 2 + doc_id % m. */
  private def leg(m: Int): String =
    s"(CAST(2.0 AS DOUBLE) + CAST(doc_id % $m AS DOUBLE))"

  /** q98's right triangles: A has legs 2+id%5 / 2+id%7, B 2+id%6 / 2+id%4. */
  private[graft] val overlayTriangleVerts: OverlaySets = {
    val (bx, by) = (s"lon + $One", s"lat + $One")
    (Seq(("lon", "lat"), (s"lon + ${leg(5)}", "lat"), ("lon", s"lat + ${leg(7)}")),
      Seq((bx, by), (s"$bx + ${leg(6)}", by), (bx, s"$by + ${leg(4)}")))
  }

  /** q105/q110's convex n-gons: A are CCW PENTAGONS — a (2+id%5) ×
    * (2+id%7) rectangle with the top-left corner chamfered by 1 — and B
    * CCW HEXAGONS — a (2+id%6) × (2+id%4) rectangle chamfered at
    * bottom-right AND top-left.
    */
  private[graft] val overlayPolygonVerts: OverlaySets = {
    val (ax, ay) = (s"lon + ${leg(5)}", s"lat + ${leg(7)}")
    val (bx, by) = (s"lon + $One", s"lat + $One")
    val (bw, bh) = (s"$bx + ${leg(6)}", s"$by + ${leg(4)}")
    (Seq(("lon", "lat"), (ax, "lat"), (ax, ay), (s"lon + $One", ay),
        ("lon", s"$ay - $One")),
      Seq((bx, by), (s"$bw - $One", by), (bw, s"$by + $One"), (bw, bh),
        (s"$bx + $One", bh), (bx, s"$bh - $One")))
  }

  /** The overlay sets as join inputs (a_id, ax, ay) and (b_id, bx, by). */
  private[graft] def overlaySets(pts: DataFrame, v: OverlaySets): (DataFrame, DataFrame) = {
    def side(p: String, parity: Int, vs: Seq[(String, String)]) =
      pts.filter(s"doc_id % 2 = $parity").selectExpr(s"doc_id AS ${p}_id",
        vs.map(_._1).mkString("array(", ", ", s") AS ${p}x"),
        vs.map(_._2).mkString("array(", ", ", s") AS ${p}y"))
    (side("a", 0, v._1), side("b", 1, v._2))
  }

  /** The q98/q105 oracle: the [[overlaySets]] vertices as columns
    * (a_id, ax1, ay1, …) and (b_id, bx1, by1, …), brute-force cross join
    * + the generated SAT twin — the cover/dedup machinery is invisible
    * to closed-intersection semantics.
    */
  private def overlayIntersectsSql(v: OverlaySets): String = {
    def cols(p: String, n: Int) = (1 to n).map(i => (s"${p}x$i", s"${p}y$i"))
    def side(p: String, parity: Int, vs: Seq[(String, String)]) =
      vs.zip(cols(p, vs.size)).map { case ((x, y), (cx, cy)) =>
        s"$x AS $cx, $y AS $cy"
      }.mkString(s"SELECT doc_id AS ${p}_id, ", ", ",
        s" FROM pts WHERE doc_id % 2 = $parity")
    s"""WITH pts AS ($derivedPointsSql),
      |a AS MATERIALIZED (${side("a", 0, v._1)}),
      |b AS MATERIALIZED (${side("b", 1, v._2)})
      |SELECT a_id, b_id FROM a CROSS JOIN b
      |WHERE ${convexSatSql(cols("a", v._1.size), cols("b", v._2.size))}""".stripMargin
  }

  /** SQL twin of [[graft.core.ConvexSat]] — the same separating-axis
    * structure generated over coordinate column names. The interior-side
    * reference is the left-associated SUM of the polygon's own vertex
    * orientations (edge endpoints contribute exact FP zeros), matching
    * the kernel's summation order term for term.
    */
  private def convexSatSql(a: Seq[(String, String)],
                           b: Seq[(String, String)]): String = {
    def orient(p: (String, String), q: (String, String),
               r: (String, String)): String =
      s"((${q._1} - ${p._1}) * (${r._2} - ${p._2}) - " +
        s"(${q._2} - ${p._2}) * (${r._1} - ${p._1}))"
    def sep(t: Seq[(String, String)], o: Seq[(String, String)]): String =
      t.indices.map { i =>
        val (p, q) = (t(i), t((i + 1) % t.size))
        val os = t.map(v => orient(p, q, v)).mkString("(", " + ", ")")
        val ov = o.map(v => orient(p, q, v))
        s"(($os > 0 AND ${ov.map(_ + " < 0").mkString(" AND ")}) OR " +
          s"($os < 0 AND ${ov.map(_ + " > 0").mkString(" AND ")}))"
      }.mkString(" OR ")
    s"NOT ((${sep(a, b)}) OR (${sep(b, a)}))"
  }

  /** Flagship: end-to-end geoparse → cell encode → tile pipeline on a
    * small synthetic page table.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.sources.SynthPages.pagesDF(spark, 2000)
    graft.operators.GeoPipeline.pagesToFeatures(spark, pages)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan, filter, agg, join, window) ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q02_revenue_by_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("n_name")
    }),
    "q03_top_orders_per_customer" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .withColumn("rn", col("rn").cast("long"))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    }),
    // ---- semi join: orders with at least one high-value line ----
    "q04_semi_join" -> ((s, dir) => {
      val hot = t(s, dir, "lineitem")
        .filter(col("l_extendedprice") > 4000.0)
        .select(col("l_orderkey").as("o_orderkey"))
      t(s, dir, "orders")
        .join(hot, Seq("o_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 4).as("sum_price"))
    }),
    // ---- anti join: customers with no big-ticket order ----
    "q05_anti_join" -> ((s, dir) => {
      val custs = t(s, dir, "customer")
      val bigSpenders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 250000.0)
        .select(col("o_custkey").as("c_custkey"))
      custs.join(bigSpenders, Seq("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
    }),
    // ---- geospatial: tile assignment (WebMercator, SQL-parity form) ----
    "q10_tile_assign" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      def tx(z: Int) = floor((col("lon") + 180.0) / 360.0 * (1 << z)).cast("long")
      def ty(z: Int) = floor((lit(1.0) -
        log(tan(lit(math.Pi / 4.0) + radians(col("lat")) / 2.0)) / math.Pi) / 2.0 * (1 << z))
        .cast("long")
      pts.select(col("doc_id"),
          round(col("lon"), 6).as("lon_r"), round(col("lat"), 6).as("lat_r"),
          tx(8).as("x8"), ty(8).as("y8"), tx(12).as("x12"), ty(12).as("y12"))
    }),
    "q11_tile_counts" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      pts.select(
          floor((col("lon") + 180.0) / 360.0 * 64.0).cast("long").as("x6"),
          floor((lit(1.0) - log(tan(lit(math.Pi / 4.0) + radians(col("lat")) / 2.0))
            / math.Pi) / 2.0 * 64.0).cast("long").as("y6"))
        .groupBy("x6", "y6").agg(count(lit(1)).as("n_points"))
    }),
    // ---- text analysis (training-data ops; pure Catalyst columns) ----
    "q20_text_stats" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      t(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        charCount(col("text")).cast("long").as("n_chars_calc"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(meanWordLen(col("text")), 6).as("mean_word_len"))
    }),
    "q21_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies", "text")
    }),
    "q22_langid" -> ((s, dir) => {
      import graft.operators.TextAnalysis._
      t(s, dir, "documents")
        .select(col("doc_id"), langId(col("text")).as("lang_pred"))
    }),
    // ---- fingerprint / simhash (custom codegen'd exprs; rows-only check) ----
    "q23_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        graft.functions.text.fingerprint64(col("text")).as("fp64"),
        graft.functions.text.simhash64(col("text")).as("simhash"))
    }),
    // ---- spatial join: per-cell hex-cover PIP (oracle: half-plane SQL) ----
    "q12_pip_triangles" -> ((s, dir) => {
      import graft.sources.PolyRegistry
      graft.operators.SpatialJoin.pipJoinRtree(derivedPoints(s, dir),
          registry = PolyRegistry.OracleTri)
        .select(col("doc_id"), col("admin_id").as("tri_id"))
    }),
    // ---- kNN via hex cell-ring expansion (exact; oracle: brute force) ----
    "q13_knn" -> ((s, dir) => {
      import s.implicits._
      val qs = knnQueryPoints.toDF("q_id", "q_lon", "q_lat")
      val pts = derivedPoints(s, dir)
        .select(col("doc_id").as("p_id"), col("lon"), col("lat"))
      graft.operators.KnnJoin.knn(qs, pts, k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ---- full tiler path (assign→cap→group→MVT encode); oracle: counts.
    //      cap is explicit Int.MaxValue: the oracle counts ALL points per
    //      tile, so the capped variant would silently diverge at a scale
    //      factor where a hot tile exceeds the default cap ----
    "q14_tile_counts_via_tiler" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
        .select(col("lon"), col("lat"), col("doc_id").cast("string").as("name"))
      graft.operators.Tiler.buildTilesPyramid(pts, Seq(4, 6), cap = Int.MaxValue).toDF()
        .select(col("zoom").cast("long").as("zoom"), col("x"), col("y"),
          col("n_features").cast("long").as("n_features"))
    }),
    // ---- k-anonymity cell suppression (geo-privacy governance): drop
    //      every z4-tile cell with fewer than 3 points; SQL-exact tile
    //      math so the oracle re-derives the suppression independently ----
    "q53_k_anonymize" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      graft.operators.SpatialJoin.kAnonymizeCells(pts,
        graft.functions.geo.tile_id(col("lon"), col("lat"), lit(4)), k = 3)
        .select(col("doc_id"), col("cell"), col("cell_n"))
    }),
    // ---- geohash cell encode (third index next to S2/hex; fixture-
    //      pinned like every custom encoding, semantics in GeohashSpec) ----
    "q52_geohash" -> ((s, dir) => {
      derivedPoints(s, dir).select(col("doc_id"),
        graft.functions.geo.geohash(col("lon"), col("lat"), lit(5)).as("gh5"),
        graft.functions.geo.geohash(col("lon"), col("lat"), lit(9)).as("gh9"))
    }),
    // ---- cell encodes exposed (rows-only: custom 64-bit IDs) ----
    "q15_cell_encode" -> ((s, dir) => {
      import graft.functions.geo
      derivedPoints(s, dir).select(
        col("doc_id"),
        geo.s2_cell(col("lat"), col("lon"), lit(10)).as("s2_10"),
        geo.hex_cell(col("lon"), col("lat"), lit(6)).as("hex_6"))
    }),
    // ---- dedup: MinHash LSH near-dup pairs (rows-only; LSH hashes) ----
    "q24_minhash_pairs" -> ((s, dir) => {
      graft.operators.Dedup.minhashPairs(t(s, dir, "documents"),
        "text", "doc_id", k = 64, bands = 16, shingle = 3, threshold = 0.25)
    }),
    // ---- dedup: SimHash near-dup pairs (rows-only) ----
    "q25_simhash_pairs" -> ((s, dir) => {
      graft.operators.Dedup.simhashPairs(t(s, dir, "documents"),
        "text", "doc_id", maxHamming = 3)
    }),
    // ---- dedup: exact n-gram Jaccard pairs (oracle: shingle join SQL) ----
    "q26_ngram_jaccard" -> ((s, dir) => {
      graft.operators.Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        "text", "doc_id", n = 3, threshold = 0.25, blockCol = Some("source"))
    }),
    // ---- benchmark decontamination: n-gram containment of every doc
    //      against an eval subset (doc_id % 50 == 0) ----
    "q54_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Dedup.decontaminate(
        d, d.filter(pmod(col("doc_id"), lit(50)) === 0),
        "text", "doc_id", n = 3, threshold = 0.2)
    }),
    // ---- similarity: brute-force cosine top-k (oracle: double-cast SQL) ----
    "q27_ann_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      graft.operators.Similarity.bruteForceTopK(qs, e, k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ---- similarity: IVF ANN top-k (deterministic stride-seeded Lloyd;
    //      zero-shuffle codegen'd assign; oracle: pinned fixture) ----
    "q29_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(pmod(col("vec_id"), lit(100)) === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val cents = graft.operators.Similarity.trainCentroids(e, nCentroids = 16,
        iters = 2)
      graft.operators.Similarity.ivfTopK(qs, e, cents, k = 10, nProbe = 4)
        .withColumn("rank", col("rank").cast("long"))
    }),
    // ---- similarity: embedding near-dup pairs via RP-LSH (rows-only) ----
    "q28_embedding_pairs" -> ((s, dir) => {
      graft.operators.Dedup.embeddingPairs(t(s, dir, "embeddings"),
        "embedding", "vec_id", threshold = 0.35)
    }),
    // ---- as-of / nearest-timestamp join with tolerance ----
    "q30_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.operators.AsofJoin.nearest(
          ev.filter(col("event_type") === "error"),
          ev.filter(col("event_type") === "purchase"),
          "event_id", "ts", "event_id", "ts", tolUs = 600000000L)
        .select(col("l_id").as("event_id"), col("r_id").as("match_id"),
          col("dt_us"))
    }),
    // ---- event-time tumbling-window aggregation (same code path serves
    //      Structured Streaming — graft.streaming.EventStream) ----
    "q31_window_agg" -> ((s, dir) => {
      // epoch micros instead of a timestamp column: parquet writes ts as
      // int96/us while pandas reads ns — micros are unit-exact everywhere
      graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
        .withColumn("win_start",
          unix_micros(col("win_start").cast("timestamp")))
    }),
    // ---- rasterize: per-tile pixel-grid counts (oracle: SQL binning) ----
    "q16_rasterize" -> ((s, dir) => {
      graft.operators.Raster.rasterize(derivedPoints(s, dir), zoom = 3,
        gridSize = 64)
    }),
    // ---- raster → vector iso-contours: marching squares over the q16
    //      pixel grid — bounded ×4 corner explode, ONE mask agg, 16-row
    //      broadcast case table (shared verbatim with the oracle) ----
    "q108_contour_segments" -> ((s, dir) => {
      val grid = graft.operators.Raster.globalCells(
        graft.operators.Raster.rasterize(derivedPoints(s, dir), zoom = 3,
          gridSize = 64), gridSize = 64)
      graft.operators.Raster.contourSegments(grid, threshold = 1L)
    }),
    // ---- raster → vector regions: 4-connected polygonize via shifted
    //      self equi joins + pointer-jumping CC (closure stays in the
    //      oracle, the engine never goes quadratic) ----
    "q109_polygonize" -> ((s, dir) => {
      val grid = graft.operators.Raster.globalCells(
        graft.operators.Raster.rasterize(derivedPoints(s, dir), zoom = 3,
          gridSize = 64), gridSize = 64)
      graft.operators.Raster.polygonize(grid, threshold = 1L,
        yDim = 1L << 22)
    }),
    // ---- polygon tiling: cover→clip→DP-simplify→MVT encode (rows-only) ----
    "q17_polygon_tiles" -> ((s, dir) => {
      graft.operators.PolyTiler.buildPolygonTiles(s, Seq(2, 4)).toDF()
        .select(col("zoom").cast("long").as("zoom"), col("x"), col("y"),
          col("n_features").cast("long").as("n_features"),
          length(col("mvt_bytes")).cast("long").as("byte_len"))
    }),
    // ---- vectorize: hex-cell counts back to WKT polygons (rows-only) ----
    "q18_vectorize" -> ((s, dir) => {
      graft.operators.Raster.vectorize(
        graft.operators.Raster.cellCounts(derivedPoints(s, dir), res = 3))
    }),
    // ---- model fitting: closed-form OLS / robust stats / robust stack ----
    "q32_linear_fit" -> ((s, dir) => {
      graft.operators.Fitting.linearFit(
        t(s, dir, "events"), Seq("event_type"),
        col("user_id").cast("double"), col("value"))
    }),
    "q33_robust_stats" -> ((s, dir) => {
      graft.operators.Fitting.robustStats(
        t(s, dir, "events"), Seq("event_type"), col("value"))
    }),
    "q34_robust_stack" -> ((s, dir) => {
      graft.operators.Fitting.robustStack(
        t(s, dir, "events"), Seq("event_type"), col("value"), minValid = 50)
    }),
    // ---- per-group NONLINEAR Gaussian fit (Gauss–Newton per group);
    //      samples derived from events by SQL-expressible math so the
    //      oracle can refit independently via log-quadratic closed form ----
    "q36_gauss_fit" -> ((s, dir) => {
      val g = pmod(col("event_id"), lit(5)).cast("double")
      val x = (pmod(col("event_id"), lit(81)).cast("double") - 40.0) / 10.0
      val amp = lit(2.0) + g
      val mu = (g - 2.0) * 0.5
      val sg = lit(0.8) + g * 0.1
      val y = amp * exp(-((x - mu) * (x - mu)) / (lit(2.0) * sg * sg))
      val samples = t(s, dir, "events")
        .select(pmod(col("event_id"), lit(5)).cast("long").as("grp"),
          x.as("x"), y.as("y"))
      graft.operators.Fitting.gaussianFit(samples, Seq("grp"), col("x"), col("y"))
        .withColumn("grp", col("grp").cast("long"))
    }),
    // ---- Huber IRLS robust regression (fixed-iteration; SQL-replicable) ----
    "q37_huber_fit" -> ((s, dir) => {
      graft.operators.Fitting.huberFit(t(s, dir, "events"), Seq("event_type"),
        col("user_id").cast("double"), col("value"), iters = 3)
    }),
    // ---- per-group trapezoid integral (EW integral analog) ----
    "q38_trapezoid" -> ((s, dir) => {
      graft.operators.Fitting.trapezoidIntegral(t(s, dir, "events"),
        Seq("event_type"),
        (pmod(col("event_id"), lit(10000)).cast("double") / 100.0), col("value"))
    }),
    // ---- support-driven auto-shrink stack (grid retry as column logic) ----
    "q39_auto_shrink" -> ((s, dir) => {
      graft.operators.Fitting.autoShrinkStack(t(s, dir, "events"),
        Seq("event_type"), col("value"), binWidth = 2.0, shrink = 2,
        minPerBin = 20, minFracFine = 0.3, minFracCoarse = 0.2, minBins = 5)
    }),
    // ---- TF-IDF (smoothed): top term per document ----
    "q50_tfidf" -> ((s, dir) => {
      graft.operators.TextAnalysis.tfidfTop(
        t(s, dir, "documents"), "text", "doc_id")
    }),
    // ---- PCA dimensionality reduction: one-pass covariance train,
    //      zero-shuffle codegen'd projection (fixture-pinned: eigen
    //      basis is not SQL-derivable; semantics in PcaSpec) ----
    "q49_pca_project" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m = graft.operators.Similarity.pcaTrain(e, k = 4)
      val p = graft.functions.vec.pca_project(col("embedding"), m.mean, m.basis)
      e.filter(pmod(col("vec_id"), lit(10)) === 0)
        .withColumn("__p", p)
        .select(col("vec_id"),
          round(element_at(col("__p"), 1).cast("double"), 5).as("pc1"),
          round(element_at(col("__p"), 2).cast("double"), 5).as("pc2"),
          round(element_at(col("__p"), 3).cast("double"), 5).as("pc3"),
          round(element_at(col("__p"), 4).cast("double"), 5).as("pc4"))
    }),
    // ---- per-language top words (heavy hitters): partial hash agg
    //      pre-reduces hot words map-side; Spark 4 plans the rank filter
    //      as WindowGroupLimit (partial top-k before the final window) ----
    "q48_top_words" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
        .filter(length(col("word")) > 0)
      val counts = toks.groupBy("lang", "word").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n").desc, col("word").asc)
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
    }),
    // ---- PII scrubbing (C4 step): counts + redaction. The corpus has
    //      no PII, so it is injected deterministically in-query (SQL-
    //      replicable) — detect-and-redact is then oracle-checkable ----
    "q46_pii_redact" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val withPii = t(s, dir, "documents").withColumn("text2",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com now")))
          .when(pmod(col("doc_id"), lit(7)) === 0,
            concat(col("text"), lit(" call +1 (555) 010-23"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")))
          .otherwise(col("text")))
      withPii.select(col("doc_id"),
        TextAnalysis.emailCount(col("text2")).cast("long").as("n_emails"),
        TextAnalysis.phoneCount(col("text2")).cast("long").as("n_phones"),
        TextAnalysis.redactPii(col("text2")).as("redacted"))
    }),
    // ---- dedup end-to-end: cluster (q42 edge rule), keep the longest
    //      doc per family (the standard C4 keep policy) ----
    "q47_dedup_keep" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val star = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") - pmod(col("doc_id"), lit(7))).as("id_b"))
      val bridge = d.filter(pmod(col("doc_id"), lit(14)) === 0 && col("doc_id") >= 7)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 7).as("id_b"))
      val clusters = graft.operators.Dedup.connectedComponents(
        star.unionByName(bridge))
      clusters.join(d.select(col("doc_id").as("id"), col("n_chars")), "id")
        .groupBy("cluster_id")
        .agg(graft.operators.Dedup.keeper(-col("n_chars"), col("id")).as("keep_id"),
          count(lit(1)).as("n_docs"),
          max(col("n_chars")).cast("long").as("max_chars"))
    }),
    // ---- bucketed range join: errors inside ±5-minute purchase windows
    //      (equi-join on time buckets instead of the O(N·M) BETWEEN
    //      nested loop; exact containment filter kept) ----
    "q45_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      graft.operators.RangeJoin.pointInInterval(
        errors, col("event_id"), col("us"),
        purchases, col("event_id"),
        col("us") - 300000000L, col("us") + 300000000L,
        bucketWidth = 600000000L)
        .select(col("interval_id").as("purchase_id"),
          col("point_id").as("error_id"),
          (col("t") - (col("lo") + 300000000L)).as("lag_us"))
    }),
    // ---- geodesic nearest-reference assignment (zero-shuffle map; the
    //      reference table rides the serialized plan like nearest_centroid;
    //      haversine formula mirrored 1:1 in the oracle SQL) ----
    "q44_nearest_city" -> ((s, dir) => {
      import graft.functions.geodesic
      val refs = knnQueryPoints.map { case (i, lo, la) =>
        Array(i.toDouble, lo, la) }.toArray
      val nr = geodesic.nearest_ref(col("lon"), col("lat"), refs)
      derivedPoints(s, dir)
        .withColumn("__nr", nr)
        .select(col("doc_id"),
          col("__nr").getItem(0).cast("long").as("city_id"),
          round(col("__nr").getItem(1), 2).as("dist_m"))
    }),
    // ---- deterministic sampling: per-language stratified rates, then a
    //      5-doc deterministic reservoir per source. Coin flips derive
    //      from row content (portable LCG) so the sample is identical at
    //      any parallelism AND re-derivable by the DuckDB oracle ----
    "q43_sampling" -> ((s, dir) => {
      import graft.operators.Sampling
      val d = t(s, dir, "documents")
      val u = Sampling.portableUniform(col("doc_id"))
      val strat = Sampling.stratifiedSample(d, col("lang"), u,
        rates = Map("en" -> 0.5), defaultRate = 0.9)
      Sampling.reservoirPerKey(strat, col("source"), u, col("doc_id"), n = 5)
        .select(col("doc_id"), col("lang"), col("source"))
    }),
    // ---- dedup clusters: connected components over a pair list.
    //      Edge list derived from doc_ids by pure integer math (stars of
    //      7 bridged in pairs) so DuckDB re-derives the clustering via a
    //      recursive-CTE transitive closure; production feeds the LSH
    //      pair outputs (q24/q25/q28) into the same operator ----
    "q42_dedup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val star = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") - pmod(col("doc_id"), lit(7))).as("id_b"))
      val bridge = d.filter(pmod(col("doc_id"), lit(14)) === 0 && col("doc_id") >= 7)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 7).as("id_b"))
      graft.operators.Dedup.connectedComponents(star.unionByName(bridge))
    }),
    // ---- Gopher/C4 repetition quality metrics (one codegen'd pass) ----
    "q41_repetition" -> ((s, dir) => {
      graft.operators.TextAnalysis.repetitionStats(
        t(s, dir, "documents"), "text", "doc_id")
    }),
    // ---- injection-recovery depth sweep with bootstrap CI (reference
    //      injection.py:8-21 + saveio.py:40-52); profiles derived from
    //      events by pure integer math so the oracle replays it in SQL ----
    "q40_injection_sweep" -> ((s, dir) => {
      graft.operators.Injection.depthSweep(
        graft.operators.Injection.profilesFromEvents(t(s, dir, "events")),
        depths = Seq(0.0, 0.01, 0.02, 0.05, 0.10, 0.20),
        sigma = 1.0, halfWindow = 1.5, nBoot = 64)
    }),
    // ---- bootstrap envelope (counter-RNG resampling; rows-only) ----
    "q35_bootstrap" -> ((s, dir) => {
      graft.operators.Bootstrap.medianEnvelope(
        t(s, dir, "events"), Seq("event_type"), col("value"), nBoot = 100)
    }),
    // ---- multimodal: real binary decode (P6/WAV/Y4M codecs in
    //      Multimodal.decode) + resize/frame-sample plans ----
    "q51_multimodal" -> ((s, dir) => {
      val media = graft.operators.Multimodal.synthMedia(s,
        graft.sources.SynthPages.countForSfDir(dir) / 10)
      val dec = graft.operators.Multimodal.decode(media).toDF()
      graft.operators.Multimodal.withFrameSample(
          graft.operators.Multimodal.withResizePlan(dec, maxSide = 512),
          stride = 10, maxFrames = 16)
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("out_width"), col("out_height"), size(col("sampled_frames"))
            .cast("long").as("n_sampled"))
    }),
    // ---- URL canonicalization dedup (crawl-side dedup key): synthesized
    //      messy URLs (case noise, default/odd ports, tracking params,
    //      fragments, trailing slashes) collapse to canonical keys; the
    //      oracle re-derives the whole rule in SQL (regex split + list
    //      filter/sort) ----
    "q55_url_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.url.canonicalize(synthUrl).as("url_canon"))
        .groupBy("url_canon")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
    }),
    // ---- corpus-wide paragraph-level dedup (CCNet shape): keep only the
    //      globally-first occurrence of every paragraph, reassemble docs.
    //      Paragraph granularity here: fixed 8-word chunks (the corpus
    //      text is single-line word soup; real prose would split on
    //      blank lines) ----
    "q56_paragraph_dedup" -> ((s, dir) => {
      val w = split(col("text"), " ")
      val nChunks = floor((size(w) - lit(1)) / lit(8)).cast("int")
      val paras = transform(sequence(lit(0), nChunks),
        i => array_join(slice(w, i * lit(8) + lit(1), lit(8)), " "))
      graft.operators.Dedup.paragraphDedup(
        t(s, dir, "documents"), "doc_id", paras, sep = " ")
    }),
    // ---- Gopher quality gate (published thresholds; line-structure
    //      rules n/a on single-line docs) ----
    "q58_gopher_filters" -> ((s, dir) => {
      graft.operators.TextAnalysis.gopherFilters(
        t(s, dir, "documents"), "text", "doc_id", minWords = 30)
    }),
    // ---- S2 cell-union compaction (S2CellUnion::Normalize): complete
    //      sibling quadruples collapse to their parent, cascading to the
    //      fixpoint. Input cells are synthesized with pure ID arithmetic
    //      (face 2, level 12, position = doc_id — the hierarchy is prefix
    //      structure, geography-independent) so the oracle replays the
    //      whole cascade in SQL. 500 contiguous positions compact 12→8:
    //      8 mixed-level cells out ----
    "q59_cell_compact" -> ((s, dir) => {
      val shift = 2 * (30 - 12) // level-12 marker bit position
      val cells = t(s, dir, "documents").select(
        shiftleft(lit(2L), 61)
          .bitwiseOR(shiftleft(col("doc_id") % 1024, shift + 1))
          .bitwiseOR(lit(1L << shift)).as("cell"))
      val out = graft.operators.CellCompact.compact(cells, "cell")
      out.select(col("cell"),
        graft.operators.CellCompact.levelOf(col("cell")).cast("long").as("level"))
    }),
    // ---- bbox filter via geohash-cover pushdown (coarse OR-of-prefix
    //      + exact refine — result provably equals the naive filter,
    //      which is exactly what the oracle computes) ----
    "q60_bbox_filter" -> ((s, dir) => {
      val bbox = graft.operators.SpatialFilter.Bbox(-30.0, 10.0, 20.0, 50.0)
      graft.operators.SpatialFilter
        .bboxFilter(derivedPoints(s, dir), "lon", "lat", bbox)
        .select(col("doc_id"), round(col("lon"), 6).as("lon_r"),
          round(col("lat"), 6).as("lat_r"))
    }),
    // ---- sequence packing (concat-and-chunk): context-window bin from
    //      the exclusive token prefix sum, computed as a distributed
    //      prefix sum (per-bucket windows + driver offset scan) instead
    //      of a single-partition global window ----
    "q61_seq_packing" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tok"))
      graft.operators.Packing.contiguousPack(docs, "doc_id", "n_tok",
        capacity = 2048L)
    }),
    // ---- Getis-Ord G* hotspot z-scores over zoom-6 tile counts (the
    //      "find the dense urban cells" analytic feeding skew handling):
    //      bounded window explode → one hash agg on the shifted key →
    //      key join back; global stats ride a 1-row broadcast ----
    "q62_hotspot" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      val tiles = pts.select(
          floor((col("lon") + 180.0) / 360.0 * 64.0).cast("long").as("x6"),
          floor((lit(1.0) - log(tan(lit(math.Pi / 4.0)
            + radians(col("lat")) / 2.0)) / math.Pi) / 2.0 * 64.0)
            .cast("long").as("y6"))
        .groupBy("x6", "y6").agg(count(lit(1)).as("n"))
      graft.operators.CellSmooth.gridHotspot(tiles, "x6", "y6", "n")
        .select(col("x6"), col("y6"), col("n"),
          col("ring_sum"), col("ring_n"), col("z"))
    }),
    // ---- distributed quality classifier: logistic regression trained
    //      on the Gopher metrics to predict the gate verdict. Newton
    //      iterations are single passes aggregating (d+1)-dim gradient +
    //      Hessian partials (the pcaTrain shape — zero shuffle); scoring
    //      is a pure codegen'd projection. Labels are an AND of bands
    //      (not linearly separable), so the optimum is finite and the
    //      fixture partitioning-stable ----
    "q63_quality_classifier" -> ((s, dir) => {
      val feats = graft.operators.TextAnalysis.gopherFilters(
          t(s, dir, "documents"), "text", "doc_id", minWords = 30)
        .select(col("doc_id"),
          (least(col("n_words"), lit(1000L)).cast("double") / 1000.0).as("f_n"),
          col("mean_wl").as("f_wl"),
          (least(col("n_stop"), lit(100L)).cast("double") / 100.0).as("f_stop"),
          col("top_word_frac").as("f_top"),
          col("keep").cast("long").as("y"))
      val fs = Seq("f_n", "f_wl", "f_stop", "f_top")
      val m = graft.operators.Classifier.logisticTrain(feats, fs, "y")
      feats.select(col("doc_id"),
        round(graft.operators.Classifier.logisticScore(m, fs), 4).as("score"),
        (graft.operators.Classifier.logisticScore(m, fs) > 0.5).as("pred"),
        (col("y") === 1).as("keep"))
    }),
    // ---- incremental crawl dedup: admit new docs absent from the
    //      standing corpus fingerprint table AND unique in-batch. The
    //      corpus here is the doc_id%3==0 slice's fingerprints; the
    //      oracle expresses the same admission by direct text comparison
    //      (fingerprint64 is deterministic; 64-bit collisions on this
    //      fixed corpus would be a one-in-2^35 event) ----
    "q64_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
        .select(graft.functions.text.fingerprint64(col("text")).as("text_fp"))
      graft.operators.Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 3 =!= 0), corpus, "text", "doc_id")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    }),
    // ---- exact duplicated-substring analysis (Lee et al. hash-window
    //      form): per-doc duplicated 20-char-window count + exact char
    //      coverage of their union. Oracle groups the substrings
    //      themselves; Spark groups rolling hashes (collision odds on
    //      this fixed corpus ~1e-8, and deterministic) ----
    "q65_dup_spans" -> ((s, dir) => {
      graft.operators.Dedup.duplicatedSpans(
        t(s, dir, "documents"), "text", "doc_id", minLen = 20)
    }),
    // ---- gap-based sessionization (batch counterpart of the streaming
    //      mapGroupsWithState sessionizer): lag → boundary flag → running
    //      sum, every window keyed by user — one shuffle, no global
    //      order. RANGE-default cumulative sum makes tied timestamps
    //      deterministic ----
    "q66_sessionize" -> ((s, dir) => {
      graft.operators.Sessions.sessionStats(
        t(s, dir, "events"), "user_id", "ts", gapSec = 1800L)
    }),
    // ---- corpus-trained bigram-LM perplexity (the CCNet "KenLM
    //      perplexity" quality signal): model = two hash aggregations;
    //      scoring joins per-doc DISTINCT bigrams (weighted by count)
    //      against the model tables ----
    "q67_perplexity" -> ((s, dir) => {
      graft.operators.LangModel.bigramPerplexity(
        t(s, dir, "documents"), "text", "doc_id")
    }),
    // ---- DSIR importance scoring: log-weight = avg bigram logprob
    //      under the lang='en' target model minus under the corpus
    //      model; selection by threshold (no global order) ----
    "q68_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.LangModel.importanceWeights(
        docs, docs.filter(col("lang") === "en"), "text", "doc_id")
    }),
    // ---- polygon geometry stats: shoelace area, area-weighted centroid,
    //      perimeter, orientation — one codegen'd ring_stats pass per
    //      polygon row (vertex-order summation so the SQL lead-window
    //      recomputation reproduces the floats) ----
    "q69_polygon_stats" -> ((s, dir) => {
      import s.implicits._
      val df = graft.sources.AdminPolygons.all
        .map(p => (p.adminId, p.name, p.xs.toSeq, p.ys.toSeq))
        .toDF("admin_id", "name", "xs", "ys")
      val r = graft.functions.geo.ring_stats(col("xs"), col("ys"))
      df.select(col("admin_id"), col("name"),
        round(abs(r.getItem(0)), 6).as("area"),
        round(r.getItem(1), 6).as("cx"),
        round(r.getItem(2), 6).as("cy"),
        round(r.getItem(3), 6).as("perimeter"),
        (r.getItem(0) > 0).as("is_ccw"))
    }),
    // ---- per-domain governance rollup (blocklists / crawl budgets):
    //      host extraction + per-host doc count and char volume ----
    "q57_domain_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.functions.url.host(synthUrl).as("host"),
          col("n_chars"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
    }),
    // ---- distributed BPE merge training (Sennrich et al.): the merge
    //      table learned from the corpus word-type dictionary — each
    //      iteration is one pair-count aggregation + one merge map over
    //      the vocabulary-sized dict; deterministic lexicographic
    //      tie-break (fixture-pinned: iterative, not SQL-expressible) ----
    "q75_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      graft.operators.BpeTrain
        .trainMerges(t(s, dir, "documents"), "text", nMerges = 8)
        .zipWithIndex
        .map { case ((a, b), i) => (i.toLong, a, b) }
        .toDF("ord", "left", "right")
    }),
    // ---- host-graph PageRank (crawl authority signal): deterministic
    //      synthetic link graph from doc-id arithmetic (50 hosts, two
    //      out-edges per doc), 3 fixed power iterations — superstep
    //      join+agg per iteration, replayed by an unrolled SQL oracle ----
    "q88_pagerank" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val edges = d.select(pmod(col("doc_id"), lit(50)).as("src"),
          pmod(col("doc_id") * 7, lit(50)).as("dst"))
        .unionAll(d.select(pmod(col("doc_id"), lit(50)).as("src"),
          pmod(col("doc_id") * 13, lit(50)).as("dst")))
      graft.operators.LinkGraph.pageRank(edges, iters = 3)
    }),
    // ---- multimodal nearest-neighbor (media dedup's ranking core):
    //      decode → 16-dim feature vectors → per-media nearest non-self
    //      cosine neighbor through the IVF candidate path (ivfSelfTopK:
    //      zero-shuffle centroid assign + probe fan-out meeting in ONE
    //      centroid-keyed equi join — no all-pairs crossJoin, no
    //      corpus-sized broadcast; cluster count scales ~√N so the
    //      per-list quadratic stays bounded as the corpus grows).
    //      Decode is not SQL-expressible → pinned fixture; recall vs
    //      brute force + the no-cartesian plan gate are pinned in
    //      MultimodalCodecSpec ----
    "q87_media_nn" -> ((s, dir) => {
      val media = graft.operators.Multimodal.synthMedia(s,
        graft.sources.SynthPages.countForSfDir(dir) / 10)
      val f = graft.operators.Multimodal.decode(media).toDF()
        .select(col("media_id").cast("long").as("vec_id"),
          col("features").as("embedding"))
        .localCheckpoint(true) // feeds centroid training AND both join sides
      val n = f.count()
      val cents = graft.operators.Similarity.trainCentroids(f,
        nCentroids = math.max(4, math.sqrt(n.toDouble).toInt), iters = 2)
      graft.operators.Similarity.ivfSelfTopK(f, cents, k = 1, nProbe = 4)
        .select(col("q_id").as("media_id"), col("vec_id").as("nn_id"),
          col("cosine"))
    }),
    // ---- C4 banned-word document filter: drop any doc containing a
    //      listed word as a whole word (case-insensitive) — one
    //      codegen'd regex predicate, zero shuffle. The stand-in list
    //      uses corpus-frequent tokens so the filter provably bites ----
    "q86_word_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(graft.operators.TextAnalysis.containsNoBlockedWord(
          col("text"), Seq("slow", "spill")))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),
    // ---- latest-revision dedup (re-crawl supersedes): one row per
    //      CANONICAL url keeping the newest fetch — the url-keyed
    //      companion of content dedup (q21/q64). Canonicalization folds
    //      tracking-param/case/port variants first, so revisions of the
    //      same page compete even when fetched under different raw urls;
    //      one window over the canonical key ----
    "q85_latest_revision" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // deterministic fetch time synthesized from doc_id (SQL-replicable)
      val d = t(s, dir, "documents").select(col("doc_id"),
        synthUrl.as("url"),
        (lit(1700000000L) + pmod(col("doc_id") * 37L, lit(86400L * 30))
          * 1000L).as("fetch_ms"))
      val canon = graft.functions.url.canonicalize(col("url"))
      val w = Window.partitionBy("canon")
        .orderBy(col("fetch_ms").desc, col("doc_id").asc)
      d.withColumn("canon", canon)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("canon"), col("doc_id"), col("fetch_ms"))
    }),
    // ---- domain blocklist (crawl admission): drop blocked domains and
    //      their subdomains — a zero-shuffle codegen'd filter ----
    "q83_blocklist" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
      graft.operators.UrlGovernance
        .filterBlockedHosts(d, col("url"), Seq("example.org"))
        .select(col("doc_id"),
          graft.functions.url.host(col("url")).as("host"))
    }),
    // ---- per-host crawl budget: deterministic reservoir of ≤20 docs
    //      per canonical host (content-keyed coin, replayable) ----
    "q84_host_budget" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
      graft.operators.UrlGovernance.perHostCap(d, col("url"), n = 20,
          u = graft.operators.Sampling.portableUniform(col("doc_id")),
          tiebreak = col("doc_id"))
        .select(col("doc_id"),
          graft.functions.url.host(col("url")).as("host"))
    }),
    // ---- soft dedup (frequency DOWNWEIGHTING, not dropping): every doc
    //      keeps weight 1/n_copies so each distinct content carries unit
    //      training mass — text-keyed here so the oracle replays the
    //      grouping bit-for-bit (production key: the 64-bit content fp,
    //      same operator) ----
    "q89_soft_dedup" -> ((s, dir) => {
      graft.operators.Dedup.softDedupWeights(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("text"), "doc_id")
        .select(col("doc_id"), col("n_copies"), col("weight"))
    }),
    // ---- token-window chunking (context-window prep): whitespace
    //      tokens in overlapping windows of 32 at stride 24 — pure
    //      per-row column math, zero shuffle ----
    "q90_token_chunks" -> ((s, dir) => {
      graft.operators.Packing.chunkTokens(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id", k = 32, stride = 24)
    }),
    // ---- token-balanced export sharding (the shard manifest a training
    //      run reads): 8 contiguous runs of near-equal token mass via
    //      the distributed prefix sum — integer arithmetic end-to-end,
    //      replayed exactly by a SQL window ----
    "q91_token_shards" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long").as("n_tok"))
      graft.operators.Packing.shardByTokens(docs, "doc_id", "n_tok",
        numShards = 8)
    }),
    // ---- intra-document unit dedup (CCNet's within-doc step; word-
    //      granularity here because the synth corpus is single-line —
    //      same code path as line/paragraph granularity): first
    //      occurrence kept, order preserved, zero shuffle ----
    "q92_intradoc_dedup" -> ((s, dir) => {
      graft.operators.Dedup.dedupUnitsWithin(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", sep = " ")
        .select(col("doc_id"), col("n_units"), col("n_kept"),
          col("dedup_text"))
    }),
    // ---- global Moran's I over zoom-6 tile counts (the one-number
    //      "does density cluster → pre-salt the tiler" diagnostic,
    //      complementing q62's local G*): neighbor pairs via the same
    //      offset-explode equi join; every distributed aggregate an
    //      exact integer sum, the statistic one fixed-order double
    //      expression ----
    // ---- kernel density surface (quartic kernel, hard cutoff) at
    //      occupied 6°-grid cell centers: ring-cover candidates → one
    //      equi join; per-pair kernel quantized to the 1e-12 grid and
    //      summed as LONGs (order-insensitive — the q88 discipline) ----
    "q96_kde_density" -> ((s, dir) => {
      graft.operators.CellSmooth.kdeSurface(
        derivedPoints(s, dir).select(col("lon"), col("lat")),
        "lon", "lat", cellDeg = 6.0, radiusDeg = 6.0)
    }),
    // ---- inverse-distance-weighted interpolation of a per-doc value
    //      at the same grid centers: numerator/denominator as exact
    //      integer sums, the surface one final ratio over two longs ----
    "q97_idw_grid" -> ((s, dir) => {
      graft.operators.CellSmooth.idwGrid(
        derivedPoints(s, dir)
          .withColumn("v", (col("doc_id") % 97).cast("double")),
        "lon", "lat", "v", cellDeg = 6.0, radiusDeg = 6.0)
    }),
    // ---- ST-DBSCAN (Birant & Kut): events cluster only when close in
    //      space AND time — the time predicate rides the same candidate
    //      pairs as q101 (ids join back to 8-byte epoch-micro columns,
    //      exact integer-valued doubles); sampled event stream so the
    //      query stays bench-scale at every sf ----
    "q102_st_dbscan" -> ((s, dir) => {
      val ev = withLonLat(t(s, dir, "events")
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).cast("double").as("t_us")),
        derivedLonLatSql("event_id"))
      graft.operators.Dbscan.clusterST(ev, "event_id", epsDeg = 25.0,
        minPts = 5, res = 0, timeEps = Some(("t_us", 3.0 * 86400e6)))
    }),
    // ---- grid (weighted) DBSCAN — the dense-blob remedy: points
    //      collapse to floor-cell reps with weights, the core condition
    //      is Σw ≥ minPts over rep pairs, labels inherit through the
    //      rep; pair count bounded by occupied-cell geometry ----
    "q104_grid_dbscan" -> ((s, dir) => {
      graft.operators.Dbscan.clusterGrid(derivedPoints(s, dir), "doc_id",
        epsDeg = 20.0, minPts = 10, cellDeg = 4.0, res = 0)
    }),
    // ---- cluster dispersion (mean center + standard distance): the
    //      classic spatial-statistics profile of each q104 cluster from
    //      ONE aggregate pass — E[x²]−E[x]² over per-row 1e-9-quantized
    //      longs, so the distributed sums are order-insensitive and the
    //      final doubles evaluate identically in both engines ----
    "q117_cluster_dispersion" -> ((s, dir) => {
      val (mx, my) = (momentMean(col("sx")), momentMean(col("sy")))
      blobMoments(s, dir).select(col("cluster_id"), col("n_pts"),
        round(mx, 6).as("cen_lon"),
        round(my, 6).as("cen_lat"),
        round(sqrt(greatest(lit(0.0),
          momentMean(col("sx2")) - mx * mx +
            (momentMean(col("sy2")) - my * my))), 6)
          .as("std_dist"))
    }),
    // ---- cluster anisotropy (standard deviational ellipse semi-axes):
    //      the q117 moments extended with E[xy] — the covariance
    //      eigenvalues need only +−×÷ and sqrt, all portable, so the
    //      full ellipse-axis formula ships in the oracle (orientation
    //      would need atan2, which is libm-dependent — omitted) ----
    "q119_cluster_anisotropy" -> ((s, dir) => {
      val (mx, my) = (momentMean(col("sx")), momentMean(col("sy")))
      val vx = momentMean(col("sx2")) - mx * mx
      val vy = momentMean(col("sy2")) - my * my
      val cv = momentMean(col("sxy")) - mx * my
      val half = (vx + vy) / lit(2.0)
      val disc = sqrt((vx - vy) / lit(2.0) * ((vx - vy) / lit(2.0)) + cv * cv)
      blobMoments(s, dir).select(col("cluster_id"), col("n_pts"),
        round(sqrt(greatest(lit(0.0), half + disc)), 6).as("axis_major"),
        round(sqrt(greatest(lit(0.0), half - disc)), 6).as("axis_minor"),
        round(cv, 6).as("cov"))
    }),
    // ---- hot-region polygons: convex hull per DBSCAN cluster (core+
    //      border members) — registry-sized output regardless of member
    //      count; the polygon layer a tile map draws over the density ----
    "q103_cluster_hulls" -> ((s, dir) => {
      val pts = blobPoints(s, dir)
      graft.operators.Dbscan.hulls(pts, "doc_id",
          graft.operators.Dbscan.cluster(pts, "doc_id", epsDeg = 5.0,
            minPts = 8, res = 1))
        .select("cluster_id", "n_pts", "n_hull", "area", "wkt")
    }),
    // ---- hot-region polygons on the SCALE path: grid (weighted)
    //      DBSCAN labels + full-point-resolution hulls — the product
    //      default of Main --hulls, over the same 8-blob input as q103
    //      (cellDeg ≪ ε keeps cell-resolution labels near-exact) ----
    "q106_grid_hulls" -> ((s, dir) => {
      blobGridHulls(s, dir)
        .select("cluster_id", "n_pts", "n_hull", "area", "wkt")
    }),
    // ---- geometry the engine itself PRODUCES joined against the admin
    //      registry: grid-DBSCAN hull polygons × the oracle triangles
    //      through the convex overlay join — the hull vertex arrays go
    //      straight to the SAT kernel ----
    "q107_hull_admin_overlay" -> ((s, dir) => {
      val a = blobGridHulls(s, dir).filter(col("n_hull") >= 3)
        .select(col("cluster_id").as("a_id"), col("xs").as("ax"),
          col("ys").as("ay"))
      // validate=false on purpose: hull vertices are quantized to 6 dp,
      // which can turn a strict-but-tiny convex turn collinear or
      // faintly negative; the SAT stays a deterministic closed-
      // intersection test on the perturbed ring
      graft.operators.Overlay.convexIntersectsJoin(a, adminTriangles(s),
          cellDeg = 45.0, validate = false)
        .select(col("a_id").as("cluster_id"), col("b_id").as("admin_id"))
    }),
    // ---- areal interpolation (the classic polygon-overlay population
    //      estimate): per admin polygon, the overlap area with every
    //      intersecting hot-region hull and the hull-point mass
    //      apportioned by area fraction — q110's measure in use. Per-row
    //      doubles quantized to a 1e-9 integer grid before the sum so
    //      the aggregate is order-insensitive (the q88 discipline) ----
    "q111_zonal_overlap" -> ((s, dir) => {
      val a = blobGridHulls(s, dir).filter(col("n_hull") >= 3)
        .select(col("cluster_id").as("a_id"), col("xs").as("ax"),
          col("ys").as("ay"), col("n_pts"), col("area").as("hull_area"))
      graft.operators.Overlay.clipAreaJoin(a, adminTriangles(s),
          cellDeg = 45.0, validate = false)
        .select(col("b_id").as("admin_id"),
          floor(col("area") * lit(1e9) + lit(0.5)).cast("long").as("ov_e9"),
          floor(col("n_pts").cast("double") * (col("area") / col("hull_area"))
            * lit(1e9) + lit(0.5)).cast("long").as("est_e9"))
        .groupBy("admin_id")
        .agg(count(lit(1)).as("n_hulls"),
          round(sum(col("ov_e9")).cast("double") / lit(1e9), 6)
            .as("overlap_area"),
          round(sum(col("est_e9")).cast("double") / lit(1e9), 6)
            .as("est_pts"))
    }),
    // ---- nearest-polygon join (proximity companion of PIP): closest
    //      registry triangle within 15°, exact point-to-triangle
    //      distance² whose SQL text is shared VERBATIM between engine
    //      (expr) and oracle — bit-identical doubles by construction ----
    "q112_nearest_polygon" -> ((s, dir) => {
      graft.operators.SpatialJoin.nearestPolygonWithin(derivedPoints(s, dir),
        triangleRows(s, "b_id"), radiusDeg = 15.0, cellDeg = 15.0)
    }),
    // ---- border-crossing detection: zigzag tracks (pure integer
    //      triangle-waves — portable, unlike sin) × admin boundary
    //      edges through the PROPER segment-crossing join; predicate
    //      text shared verbatim with the oracle (q112 discipline) ----
    "q113_border_crossings" -> ((s, dir) => {
      import s.implicits._
      val edges = graft.sources.PolyRegistry.oracleTriangles.flatMap { p =>
        (0 until 3).map { e =>
          (p.adminId, e.toLong, p.xs(e), p.ys(e),
            p.xs((e + 1) % 3), p.ys((e + 1) % 3))
        }
      }.toDF("admin_id", "edge_id", "bx1", "by1", "bx2", "by2")
      graft.operators.Overlay.segmentCrossJoin(zigzagSegs(s, dir), edges,
          cellDeg = 20.0)
        .select("user_id", "seq", "admin_id", "edge_id")
    }),
    // ---- emerging-hotspot analysis: per cell, event counts in the
    //      early vs late half of the time range (midpoint = integer div
    //      of min+max epoch-micros — a 1-row broadcast stats anchor),
    //      classified emerging / declining / stable on exact integer
    //      ratios; the temporal trend layer over the density map ----
    "q118_emerging_hotspots" -> ((s, dir) => {
      val pts = withLonLat(t(s, dir, "events")
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus")),
        derivedLonLatSql("event_id"))
        .withColumn("cell", expr(gridCellSql("15.0")))
      val mid = pts.agg(
        expr("(min(tus) + max(tus)) div 2").as("mid"))
      pts.crossJoin(broadcast(mid))
        .groupBy("cell")
        .agg(sum(when(col("tus") <= col("mid"), 1L).otherwise(0L))
            .as("n_early"),
          sum(when(col("tus") > col("mid"), 1L).otherwise(0L))
            .as("n_late"))
        .filter(col("n_early") + col("n_late") >= 3)
        .withColumn("trend",
          when(col("n_late") >= col("n_early") * 2, lit("emerging"))
            .when(col("n_early") >= col("n_late") * 2, lit("declining"))
            .otherwise(lit("stable")))
    }),
    // ---- dwell episodes (stay points at cell resolution): slowed
    //      zigzag tracks (position advances every 5 events), maximal
    //      same-cell runs via gaps-and-islands, gated on points and
    //      event-time span — ONE window + ONE agg, both portable ----
    "q115_dwell_episodes" -> ((s, dir) => {
      val pts = slowZigzagCells(t(s, dir, "events")
        .select(col("user_id").cast("long").as("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus")))
      graft.operators.Trajectory.dwellEpisodes(pts, "user_id", "seq",
        "cell", "tus", minPts = 4, minDurUs = 1L)
    }),
    // ---- origin–destination flow matrix: per (origin cell, dest cell)
    //      transition counts + distinct movers from consecutive track
    //      points — ONE track-keyed window + ONE hash agg (the standard
    //      mobility rollup; same slowed-zigzag cells as q115) ----
    "q116_od_flows" -> ((s, dir) => {
      val pts = slowZigzagCells(t(s, dir, "events")
        .select(col("user_id").cast("long").as("user_id"), col("event_id")))
      pts.withColumn("dest", lead(col("cell"), 1).over(byTrack))
        .filter(col("dest").isNotNull && col("dest") =!= col("cell"))
        .groupBy(col("cell").as("o_cell"), col("dest").as("d_cell"))
        .agg(count(lit(1)).as("n_trips"),
          countDistinct(col("user_id")).as("n_users"))
    }),
    // ---- region exposure: total in-polygon track length per (track,
    //      admin region) — parametric half-plane interval clip per
    //      candidate pair (shared-text kernel), lengths quantized to a
    //      1e-9 integer grid before the per-group sum ----
    "q114_region_exposure" -> ((s, dir) => {
      graft.operators.Trajectory.regionExposure(zigzagSegs(s, dir),
        triangleRows(s, "admin_id"), cellDeg = 30.0)
    }),
    // ---- exact DBSCAN density clustering: ε-pairs via cell-ring
    //      candidates → core-point count agg → connected components
    //      over core-core edges → min-cluster border assign; the
    //      oracle replays the closure as a recursive CTE (the ENGINE
    //      never does — label propagation stays linear) ----
    "q101_dbscan" -> ((s, dir) => {
      graft.operators.Dbscan.cluster(derivedPoints(s, dir), "doc_id",
        epsDeg = 20.0, minPts = 8, res = 0)
    }),
    // ---- per-track Douglas-Peucker simplification (the polygon
    //      tiler's simplify stage, standalone over ordered event
    //      tracks): one track-keyed shuffle, per-group linear kernel;
    //      smooth synthetic paths with sub-tolerance wiggle so the
    //      simplification is observable (n_kept << n_in) ----
    "q100_track_simplify" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("event_id")
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"))
        .withColumn("seq", row_number().over(w).cast("double"))
        .withColumn("ph", col("user_id").cast("double"))
        .withColumn("lon",
          lit(120.0) * sin(col("seq") * lit(0.15) + col("ph")) +
            lit(2.0) * sin(col("seq") * lit(0.93)))
        .withColumn("lat",
          lit(60.0) * sin(col("seq") * lit(0.11) + col("ph")) +
            lit(1.0) * sin(col("seq") * lit(0.77)))
      graft.operators.Trajectory.simplifyTracks(ev, "user_id", "event_id",
        "lon", "lat", tolDeg = 5.0)
    }),
    // ---- zonal statistics: per-containing-polygon count/sum/mean of a
    //      point field — per-cell PIP + ONE hash agg; mean
    //      is a final ratio over exact longs ----
    "q99_zonal_stats" -> ((s, dir) => {
      import graft.sources.PolyRegistry
      graft.operators.SpatialJoin.zonalStats(
          derivedPoints(s, dir).withColumn("v", col("doc_id") % 97),
          "v", registry = PolyRegistry.OracleTri)
        .withColumnRenamed("admin_id", "tri_id")
    }),
    // ---- polygon–polygon spatial overlay (intersects join): two
    //      data-derived triangle sets meet in a bbox-cover cell equi
    //      join with reference-point dedup (pair tested ONCE, no
    //      distinct), exact SAT predicate — the join a naive
    //      intersects(a,b) would plan as a nested-loop cartesian ----
    "q98_tri_overlay" -> ((s, dir) => {
      val (a, b) = overlaySets(derivedPoints(s, dir), overlayTriangleVerts)
      graft.operators.Overlay.convexIntersectsJoin(a, b, cellDeg = 8.0,
          validate = false)
        .select(col("a_id"), col("b_id"))
    }),
    // ---- convex n-gon overlay (intersects join): pentagons × hexagons
    //      through the SAME bbox-cover + reference-point-dedup + SAT
    //      machinery as q98, with the interior side taken from the
    //      orientation SUM; convexity guard on ----
    "q105_convex_overlay" -> ((s, dir) => {
      val (a, b) = overlaySets(derivedPoints(s, dir), overlayPolygonVerts)
      graft.operators.Overlay.convexIntersectsJoin(a, b, cellDeg = 8.0)
        .select(col("a_id"), col("b_id"))
    }),
    // ---- overlay as a MEASURE: q105's intersecting pairs with their
    //      Sutherland–Hodgman intersection area (codegen'd kernel, one
    //      clip per SAT-surviving pair); pinned fixture oracle — S-H is
    //      not SQL-derivable — real verification in ConvexClipSpec ----
    "q110_clip_area" -> ((s, dir) => {
      val (a, b) = overlaySets(derivedPoints(s, dir), overlayPolygonVerts)
      graft.operators.Overlay.clipAreaJoin(a, b, cellDeg = 8.0)
        .select(col("a_id"), col("b_id"), round(col("area"), 6).as("area"))
    }),
    // ---- site-level boilerplate removal (RefinedWeb's repeated-line
    //      drop, scoped per source): units in ≥20 distinct docs of a
    //      source are template chrome, removed everywhere with order
    //      preserved; word granularity on the single-line synth corpus ----
    "q95_host_boilerplate" -> ((s, dir) => {
      graft.operators.Dedup.removeHostBoilerplate(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("text")),
          "text", "doc_id", "source", sep = " ", minDocs = 20)
        .select(col("doc_id"), col("n_units"), col("n_kept"),
          col("clean_text"))
    }),
    // ---- distance-band (DWithin) self-join: all point pairs within 8
    //      planar degrees via cell-ring candidates — the join a naive
    //      dist<=r predicate would plan as a nested-loop cartesian;
    //      each unordered pair reported once ----
    "q94_dwithin" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      val qs = pts.select(col("doc_id").as("q_id"),
        col("lon").as("q_lon"), col("lat").as("q_lat"))
      val ps = pts.select(col("doc_id").as("p_id"), col("lon"), col("lat"))
      graft.operators.KnnJoin.withinRadius(qs, ps, radiusDeg = 8.0, res = 1)
        .filter(col("q_id") < col("p_id"))
    }),
    "q93_morans_i" -> ((s, dir) => {
      val pts = derivedPoints(s, dir)
      val tiles = pts.select(
          floor((col("lon") + 180.0) / 360.0 * 64.0).cast("long").as("x6"),
          floor((lit(1.0) - log(tan(lit(math.Pi / 4.0)
            + radians(col("lat")) / 2.0)) / math.Pi) / 2.0 * 64.0)
            .cast("long").as("y6"))
        .groupBy("x6", "y6").agg(count(lit(1)).as("n"))
      graft.operators.CellSmooth.gridMoransI(tiles, "x6", "y6", "n")
    }),
    // ---- corpus report card (the dataset datasheet a release ships):
    //      per language — doc/word volume, length percentiles, quality
    //      keep rate. One gopher projection + one hash agg; every
    //      number independently recomputed by the oracle ----
    "q82_corpus_report" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val g = graft.operators.TextAnalysis
        .gopherFilters(d, "text", "doc_id", minWords = 30)
        .select(col("doc_id"), col("n_words"), col("keep"))
      d.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(g, Seq("doc_id"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_words").as("total_words"),
          round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 6).as("p90_chars"),
          round(avg(when(col("keep"), 1.0).otherwise(0.0)), 6).as("keep_rate"))
    }),
    // ---- Unicode NFC normalization (mC4/CCNet step): decomposed
    //      combining sequences are injected in-query (SQL-replicable),
    //      composed by the codegen'd nfc_normalize kernel; DuckDB's
    //      nfc_normalize is the independent oracle ----
    "q81_nfc_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), lit(NfcSuffix)).as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_raw"),
          graft.functions.text.nfc_normalize(col("raw")).as("nfc"))
        .withColumn("n_nfc", length(col("nfc")).cast("long"))
    }),
    // ---- cluster-balanced sampling (topic balancing): seed-assign
    //      the embedding space (q76's clustering), then thin every
    //      cluster to UNIFORM output shares with maximal retention
    //      (q77's mixture math over cluster ids). Both building blocks
    //      are SQL-replayable, so the composition is too ----
    "q80_cluster_balance" -> ((s, dir) => {
      val assigned = graft.operators.Similarity
        .seedAssign(t(s, dir, "embeddings"), seedStride = 37L)
      graft.operators.Sampling.balanceByKey(assigned, col("cluster_id"),
          graft.operators.Sampling.portableUniform(col("vec_id")))
        .select(col("vec_id"), col("cluster_id"))
    }),
    // ---- the COMPOSED curation pass (Main --curate's operator chain)
    //      verified end-to-end by one SQL replay: normalize → exact
    //      dedup (min-url keeper; oracle groups by content where the
    //      engine groups by its 64-bit fp) → paragraph dedup (8-word
    //      chunks, q56's construction) → duplicated-span coverage →
    //      Gopher gate. Urls are zero-padded doc ids so string order
    //      matches numeric order on both sides ----
    "q79_curate" -> ((s, dir) => {
      val pages = t(s, dir, "documents")
        .select(lpad(col("doc_id").cast("string"), 8, "0").as("url"),
          col("text"))
      def paras(txt: org.apache.spark.sql.Column) = {
        val w = split(txt, " ")
        val nChunks = floor((size(w) - lit(1)) / lit(8)).cast("int")
        transform(sequence(lit(0), nChunks),
          i => array_join(slice(w, i * lit(8) + lit(1), lit(8)), " "))
      }
      graft.operators.Curate.curate(pages, minWords = 20,
          parasOf = paras, paraSep = " ")
        .select(col("url"), col("text_curated"), col("byte_len"),
          col("n_paras"), col("n_kept"), col("dup_char_frac"),
          col("n_words"))
    }),
    // ---- duplicated-span REMOVAL (Lee et al. ExactSubstr rewrite):
    //      cut every later occurrence of a corpus-repeated ≥20-char
    //      window, keeping the globally first copy; hash windows
    //      shuffle, substrings never do ----
    "q78_remove_spans" -> ((s, dir) => {
      graft.operators.Dedup
        .removeDuplicatedSpans(t(s, dir, "documents"), "text", "doc_id")
        .withColumn("doc_id", col("doc_id").cast("long"))
    }),
    // ---- deterministic mixture resampling (the data-mixing step):
    //      thin each language to hit target output shares with maximal
    //      retention — a pure content-keyed filter after one bounded
    //      count agg; the portable LCG coin makes the selected row set
    //      SQL-replayable exactly ----
    "q77_mixture_sample" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.operators.Sampling.toMixture(d, col("lang"),
        graft.operators.Sampling.portableUniform(col("doc_id")),
        Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.3))
        .select(col("doc_id"), col("lang"))
    }),
    // ---- SemDeDup (Abbas et al. 2023): seed-assigned embedding
    //      clusters → in-cluster cosine ≥ τ duplicate pairs → component
    //      groups → keep the member FARTHEST from its centroid. Seed
    //      clustering (not Lloyd) keeps the whole operator — clustering
    //      included — replayable by the SQL oracle ----
    "q76_semdedup" -> ((s, dir) => {
      graft.operators.Similarity
        .semDedup(t(s, dir, "embeddings"), seedStride = 37L, tau = 0.4)
        .withColumn("cos_centroid", col("cos_centroid") + lit(0.0))
    }),
    // ---- recency-weighted activity rollup (crawl scheduling): per
    //      event type, events weighted by exponential decay from the
    //      corpus max timestamp (τ = 7 days). One hash aggregation;
    //      the anchor rides a 1-row broadcast, not a driver collect ----
    "q74_recency_rollup" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val ts = col("ts").cast("timestamp")
      val anchor = ev.agg(max(unix_micros(ts)).as("__t0"))
      val tau = 7.0 * 86400.0 * 1e6
      ev.crossJoin(broadcast(anchor))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value") *
            exp(-(col("__t0") - unix_micros(ts)) / tau)), 4)
            .as("decayed_value"),
          round(sum(exp(-(col("__t0") - unix_micros(ts)) / tau)), 4)
            .as("decayed_count"))
    }),
    // ---- incremental NEAR-dup admission vs the standing corpus band
    //      table (LSH stage of the crawl-dedup pair with q64): band
    //      collision → exact-jaccard verify → reject. Oracle does the
    //      exact all-pairs jaccard; parity holds when LSH recall is
    //      total on this corpus's near-dup pairs (deterministic) ----
    "q73_incremental_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val incoming = docs.filter(col("doc_id") % 3 =!= 0)
      val bandTable = graft.operators.Dedup.minhashBandTable(
        corpus, "text", "doc_id")
      graft.operators.Dedup.incrementalNearDup(
          incoming, bandTable, corpus, "text", "doc_id")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    }),
    // ---- C4-style text normalization (control-char fold + whitespace
    //      collapse + trim) over deterministically-injected noise; the
    //      canonical pass before dedup keys ----
    "q71_normalize" -> ((s, dir) => {
      val messy = concat(lit("\t "),
        when(col("doc_id") % 5 === 0,
          regexp_replace(col("text"), " ", "  ")).otherwise(col("text")),
        when(col("doc_id") % 2 === 0, lit("\r\n tail  end")).otherwise(lit(" ")))
      t(s, dir, "documents")
        .select(col("doc_id"), messy.as("messy"))
        .select(col("doc_id"),
          length(col("messy")).cast("long").as("n_raw"),
          graft.operators.TextAnalysis.normalizeText(col("messy")).as("norm"))
        .withColumn("n_norm", length(col("norm")).cast("long"))
    }),
    // ---- trailing time-window anomaly score: per event, the 1-hour
    //      RANGE window over event time (peers included) gives count /
    //      mean / population std; z flags outliers. Partitioned by
    //      event_type — at planetary volume a hot type gets sub-salted
    //      by time bucket with one-window overlap (same decomposition
    //      as the range join) ----
    "q72_window_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ts = col("ts").cast("timestamp")
      val w = Window.partitionBy("event_type")
        .orderBy(unix_micros(ts))
        .rangeBetween(-3600L * 1000000L, 0L)
      t(s, dir, "events")
        .withColumn("n_window", count(lit(1)).over(w))
        .withColumn("__mu", avg(col("value")).over(w))
        .withColumn("__sd", stddev_pop(col("value")).over(w))
        .select(col("event_id"), col("event_type"), col("n_window"),
          round(col("__mu"), 6).as("win_mean"),
          round(when(col("__sd") > 0,
            (col("value") - col("__mu")) / col("__sd"))
            .otherwise(lit(0.0)), 6).as("z"))
    }),
    // ---- per-domain unique-URL counting via HLL sketches (the scale
    //      answer to COUNT(DISTINCT): fixed-size mergeable sketches,
    //      map-side partials, no per-key value shuffle). Exact distinct
    //      rides along for the accuracy report; the fixture pins the
    //      deterministic sketch estimates ----
    "q70_hll_distinct" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(graft.functions.url.host(synthUrl).as("host"),
          synthUrl.as("url"))
        .groupBy("host")
        .agg(approx_count_distinct(col("url"), 0.02).as("approx_urls"),
          countDistinct(col("url")).as("exact_urls"))
        .withColumn("rel_err", round(
          abs(col("approx_urls") - col("exact_urls")).cast("double")
            / col("exact_urls"), 6))
    })
  )

  /** Deterministic messy-URL synthesizer over `doc_id`, one text for
    * the engine and the DuckDB oracle: exercises every branch of the
    * canonicalization rule — mixed-case scheme/host, www., default ports
    * (:80/:443 → stripped), a non-default :8080 (→ kept), tracking
    * params, unsorted params, trailing slash, fragment.
    */
  private[graft] val synthUrlSql: String =
    """'HTTP' || CASE WHEN doc_id % 2 = 0 THEN 'S' ELSE '' END || '://' ||
      |      CASE doc_id % 3 WHEN 0 THEN 'WWW.Example.COM' WHEN 1 THEN 'news.example.com' ELSE 'Blog.Example.org' END ||
      |      CASE doc_id % 8 WHEN 0 THEN ':443' WHEN 1 THEN ':80' WHEN 2 THEN ':8080' ELSE '' END ||
      |      '/Articles/item-' || CAST(doc_id % 25 AS STRING) ||
      |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
      |      CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 10 AS STRING) || '&b=2'
      |           ELSE '?id=' || CAST(doc_id % 10 AS STRING) END ||
      |      CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END""".stripMargin

  private def synthUrl: Column = expr(synthUrlSql)

  /** Unrolled S2 compaction cascade for the q59 oracle: one CTE step per
    * level from 12 down to 1 (complete sibling quadruples → parent; the
    * same pure bit arithmetic as CellCompact, so DuckDB replays the
    * operator exactly; steps at levels with no complete quads are no-ops).
    */
  private def compactCascadeSql: String = {
    val steps = (12 to 1 by -1).zipWithIndex.map { case (l, i) =>
      val lsb = 1L << (2 * (30 - l))
      val nl = 4 * lsb
      val prev = s"c$i"
      val parent = s"((cell & ${-nl}) | $nl)"
      s"""c${i + 1} AS MATERIALIZED (
         |  SELECT cell FROM $prev WHERE (cell & -cell) <> $lsb
         |  UNION ALL
         |  SELECT $parent AS cell FROM $prev WHERE (cell & -cell) = $lsb
         |    GROUP BY 1 HAVING count(*) = 4
         |  UNION ALL
         |  SELECT cell FROM $prev WHERE (cell & -cell) = $lsb
         |    AND $parent NOT IN (
         |      SELECT $parent FROM $prev WHERE (cell & -cell) = $lsb
         |        GROUP BY 1 HAVING count(*) = 4))""".stripMargin
    }
    s"""WITH c0 AS MATERIALIZED (
       |  SELECT DISTINCT ((CAST(2 AS BIGINT) << 61)
       |    | ((doc_id % 1024) << 37) | (CAST(1 AS BIGINT) << 36)) AS cell
       |  FROM documents),
       |${steps.mkString(",\n")}
       |SELECT cell,
       |  30 - CAST(bit_count((cell & -cell) - 1) / 2 AS BIGINT) AS level
       |FROM c${steps.size}""".stripMargin
  }

  /** Admin-polygon vertices as SQL literals (registry constants, like the
    * kNN query points): one row per (polygon, vertex index).
    */
  private def polygonVerticesSql: String =
    graft.sources.AdminPolygons.all.flatMap { p =>
      val nm = p.name.replace("'", "''")
      p.xs.indices.map { i =>
        s"(${p.adminId}, '$nm', $i, ${p.xs(i)}, ${p.ys(i)})"
      }
    }.mkString(",\n    ")

  /** Fixed kNN query points (mirrored as literals in the SQL oracle). */
  private val knnQueryPoints: Seq[(Long, Double, Double)] = Seq(
    (0L, 10.5, 20.5), (1L, -100.25, 40.75), (2L, 150.0, -30.5),
    (3L, -60.5, -10.25), (4L, 0.125, 51.5), (5L, 139.75, 35.5),
    (6L, -122.5, 37.75), (7L, 77.25, 28.5), (8L, -43.25, -22.875),
    (9L, 30.5, -1.875), (10L, 170.5, 65.25), (11L, -179.5, -84.5))

  private def knnQueryValuesSql: String =
    knnQueryPoints.map { case (i, lo, la) => s"($i, $lo, $la)" }.mkString(", ")

  /** SQL-derivable oracles below; queries whose outputs are custom 64-bit
    * hashes / LSH pair lists / MVT bytes get pinned VALUES fixtures from
    * graft.OracleFixtures (generated at sf0.01 — the driver's correctness
    * scale; real verification is the ScalaTest parity/property suite).
    */
  def oracleSql: Map[String, String] = OracleFixtures.sql ++ Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice), 4) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q04_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        |  round(sum(o_totalprice), 4) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_extendedprice > 4000.0)
        |GROUP BY o_orderstatus""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_nationkey, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 250000.0)
        |GROUP BY c_nationkey""".stripMargin,
    "q10_tile_assign" ->
      s"""WITH pts AS ($derivedPointsSql)
         |SELECT doc_id, round(lon, 6) AS lon_r, round(lat, 6) AS lat_r,
         |  CAST(floor((lon + 180.0) / 360.0 * 256.0) AS BIGINT) AS x8,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 256.0) AS BIGINT) AS y8,
         |  CAST(floor((lon + 180.0) / 360.0 * 4096.0) AS BIGINT) AS x12,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 4096.0) AS BIGINT) AS y12
         |FROM pts""".stripMargin,
    "q11_tile_counts" ->
      s"""WITH pts AS ($derivedPointsSql)
         |SELECT CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x6,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 64.0) AS BIGINT) AS y6,
         |  count(*) AS n_points
         |FROM pts GROUP BY 1, 2""".stripMargin,
    "q20_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe_tokens,
        |  length(text) AS n_chars_calc,
        |  round(CASE WHEN length(text) = 0 THEN 0.0
        |    ELSE (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio,
        |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','on','for','with','as','by','at'))) * 1.0
        |      / len(regexp_split_to_array(lower(trim(text)), '\s+')) END, 6) AS stop_ratio,
        |  round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |    ELSE list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> length(t))) * 1.0
        |      / len(regexp_split_to_array(trim(text), '\s+')) END, 6) AS mean_word_len
        |FROM documents""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies, text
        |FROM documents GROUP BY text""".stripMargin,
    "q22_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN de_n = gm AND gm > 0 THEN 'de'
        |    WHEN en_n = gm AND gm > 0 THEN 'en'
        |    WHEN es_n = gm AND gm > 0 THEN 'es'
        |    WHEN fr_n = gm AND gm > 0 THEN 'fr'
        |    ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('die','und','mit','das','durch','viele'))) AS de_n,
        |    len(list_filter(toks, t -> t IN ('the','and','with','from','who','about'))) AS en_n,
        |    len(list_filter(toks, t -> t IN ('el','los','con','por','una','sus'))) AS es_n,
        |    len(list_filter(toks, t -> t IN ('la','les','avec','dans','une','leurs'))) AS fr_n,
        |    greatest(
        |      len(list_filter(toks, t -> t IN ('die','und','mit','das','durch','viele'))),
        |      len(list_filter(toks, t -> t IN ('the','and','with','from','who','about'))),
        |      len(list_filter(toks, t -> t IN ('el','los','con','por','una','sus'))),
        |      len(list_filter(toks, t -> t IN ('la','les','avec','dans','une','leurs')))) AS gm
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        |        FROM documents))""".stripMargin,
    "q12_pip_triangles" -> {
      import graft.sources.PolyRegistry
      val branches = PolyRegistry.oracleTriangles.map { p =>
        s"SELECT doc_id, CAST(${p.adminId} AS BIGINT) AS tri_id FROM pts WHERE " +
          PolyRegistry.halfPlaneSql(p, "lon", "lat")
      }.mkString("\nUNION ALL\n")
      s"WITH pts AS ($derivedPointsSql)\n$branches"
    },
    "q13_knn" ->
      s"""WITH pts AS ($derivedPointsSql),
         |qs AS (SELECT * FROM (VALUES $knnQueryValuesSql) AS t(q_id, q_lon, q_lat))
         |SELECT CAST(q_id AS BIGINT) AS q_id, p_id, round(d2, 9) AS dist2,
         |  CAST(rn AS BIGINT) AS rank
         |FROM (
         |  SELECT qs.q_id, pts.doc_id AS p_id,
         |    (qs.q_lon - pts.lon) * (qs.q_lon - pts.lon)
         |      + (qs.q_lat - pts.lat) * (qs.q_lat - pts.lat) AS d2,
         |    row_number() OVER (PARTITION BY qs.q_id ORDER BY
         |      (qs.q_lon - pts.lon) * (qs.q_lon - pts.lon)
         |        + (qs.q_lat - pts.lat) * (qs.q_lat - pts.lat) ASC,
         |      pts.doc_id ASC) AS rn
         |  FROM qs CROSS JOIN pts)
         |WHERE rn <= 5""".stripMargin,
    "q14_tile_counts_via_tiler" ->
      s"""WITH pts AS ($derivedPointsSql)
         |SELECT CAST(4 AS BIGINT) AS zoom,
         |  CAST(floor((lon + 180.0) / 360.0 * 16.0) AS BIGINT) AS x,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 16.0) AS BIGINT) AS y,
         |  count(*) AS n_features
         |FROM pts GROUP BY 2, 3
         |UNION ALL
         |SELECT CAST(6 AS BIGINT) AS zoom,
         |  CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 64.0) AS BIGINT) AS y,
         |  count(*) AS n_features
         |FROM pts GROUP BY 2, 3""".stripMargin,
    "q54_decontaminate" ->
      // same distinct-gram construction as q26; containment via semi join
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1), i ->
        |        concat(t[i], ' ', t[i+1], ' ', t[i+2])) END) AS g
        |  FROM toks),
        |ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
        |bset AS (SELECT DISTINCT gram FROM ex WHERE doc_id % 50 = 0),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY doc_id),
        |mat AS (SELECT doc_id, count(*) AS n_matched FROM ex
        |        WHERE gram IN (SELECT gram FROM bset) GROUP BY doc_id)
        |SELECT t.doc_id, t.n_grams,
        |  coalesce(m.n_matched, 0) AS n_matched,
        |  round(coalesce(m.n_matched, 0) * 1.0 / t.n_grams, 6) AS contaminated_frac,
        |  coalesce(m.n_matched, 0) * 1.0 / t.n_grams >= 0.2 AS is_contaminated
        |FROM tot t LEFT JOIN mat m ON t.doc_id = m.doc_id""".stripMargin,
    "q26_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1), i ->
        |        concat(t[i], ' ', t[i+1], ' ', t[i+2])) END) AS g
        |  FROM toks),
        |ex AS (SELECT doc_id, source, len(g) AS ng, unnest(g) AS gram FROM grams)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(count(*) * 1.0 / (any_value(a.ng) + any_value(b.ng) - count(*)), 6) AS jaccard
        |FROM ex a JOIN ex b ON a.gram = b.gram AND a.source = b.source
        |  AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |HAVING count(*) * 1.0 / (any_value(a.ng) + any_value(b.ng) - count(*)) >= 0.25""".stripMargin,
    "q27_ann_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec
        |           FROM embeddings WHERE vec_id % 100 = 0)
        |SELECT q_id, vec_id, round(cos, 6) AS cosine, CAST(rn AS BIGINT) AS rank
        |FROM (
        |  SELECT q.q_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos,
        |    row_number() OVER (PARTITION BY q.q_id ORDER BY
        |      list_sum(list_transform(range(1, len(e.embedding) + 1),
        |        i -> CAST(q.q_vec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(q.q_vec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |      e.vec_id ASC) AS rn
        |  FROM embeddings e CROSS JOIN q)
        |WHERE rn <= 10""".stripMargin,
    "q30_asof_nearest" ->
      """WITH l AS (SELECT event_id AS l_id, epoch_us(ts) AS l_us
        |           FROM events WHERE event_type = 'error'),
        |r AS (SELECT event_id AS r_id, epoch_us(ts) AS r_us,
        |        CAST(floor(epoch_us(ts) / 600000000) AS BIGINT) AS b
        |      FROM events WHERE event_type = 'purchase'),
        |lb AS (SELECT l_id, l_us, unnest([
        |         CAST(floor(l_us / 600000000) AS BIGINT) - 1,
        |         CAST(floor(l_us / 600000000) AS BIGINT),
        |         CAST(floor(l_us / 600000000) AS BIGINT) + 1]) AS b FROM l)
        |SELECT l_id AS event_id, r_id AS match_id,
        |  CAST(abs(l_us - r_us) AS BIGINT) AS dt_us
        |FROM (
        |  SELECT l_id, r_id, l_us, r_us,
        |    row_number() OVER (PARTITION BY l_id
        |      ORDER BY abs(l_us - r_us) ASC, r_id ASC) AS rn
        |  FROM lb JOIN r USING (b)
        |  WHERE abs(l_us - r_us) <= 600000000) WHERE rn = 1""".stripMargin,
    "q31_window_agg" ->
      """SELECT epoch_us(time_bucket(INTERVAL '10 minutes', ts)) AS win_start,
        |  event_type, count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q16_rasterize" ->
      s"""WITH pts AS ($derivedPointsSql)
         |SELECT CAST(3 AS BIGINT) AS zoom,
         |  CAST(floor((lon + 180.0) / 360.0 * 8.0) AS BIGINT) AS x,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 8.0) AS BIGINT) AS y,
         |  CAST(floor((lon + 180.0) / 360.0 * 8.0 * 64.0) AS BIGINT)
         |    - CAST(floor((lon + 180.0) / 360.0 * 8.0) AS BIGINT) * 64 AS px,
         |  CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 8.0 * 64.0) AS BIGINT)
         |    - CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 8.0) AS BIGINT) * 64 AS py,
         |  count(*) AS n
         |FROM pts GROUP BY 2, 3, 4, 5""".stripMargin,
    "q108_contour_segments" -> {
      // the same 16-case segment table, rendered from Raster.SegTable so
      // the two texts cannot drift; grid = q16's binning with global
      // pixel coords (floor of the full-resolution mercator product)
      val segVals = graft.operators.Raster.SegTable.map {
        case (m, sg, dx1, dy1, dx2, dy2) =>
          s"($m, $sg, $dx1, $dy1, $dx2, $dy2)"
      }.mkString(",\n  ")
      s"""WITH pts AS ($derivedPointsSql),
        |grid AS MATERIALIZED (
        |  SELECT CAST(floor((lon + 180.0) / 360.0 * 8.0 * 64.0) AS BIGINT) AS gx,
        |    CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 8.0 * 64.0) AS BIGINT) AS gy
        |  FROM pts GROUP BY 1, 2 HAVING count(*) >= 1),
        |segtab(mask, seg, dx1, dy1, dx2, dy2) AS (VALUES
        |  $segVals),
        |corners AS MATERIALIZED (
        |  SELECT gx AS mx, gy AS my, 1 AS bit FROM grid
        |  UNION ALL SELECT gx - 1, gy, 2 FROM grid
        |  UNION ALL SELECT gx - 1, gy - 1, 4 FROM grid
        |  UNION ALL SELECT gx, gy - 1, 8 FROM grid),
        |masks AS MATERIALIZED (
        |  SELECT mx, my, CAST(sum(bit) AS BIGINT) AS mask FROM corners
        |  GROUP BY 1, 2 HAVING sum(bit) <> 15)
        |SELECT m.mx, m.my, m.mask, CAST(t.seg AS BIGINT) AS seg,
        |  CAST(m.mx AS DOUBLE) + CAST(t.dx1 AS DOUBLE) AS x1,
        |  CAST(m.my AS DOUBLE) + CAST(t.dy1 AS DOUBLE) AS y1,
        |  CAST(m.mx AS DOUBLE) + CAST(t.dx2 AS DOUBLE) AS x2,
        |  CAST(m.my AS DOUBLE) + CAST(t.dy2 AS DOUBLE) AS y2
        |FROM masks m JOIN segtab t ON m.mask = t.mask""".stripMargin
    },
    "q113_border_crossings" -> {
      // the IDENTICAL proper-crossing predicate text (one Scala string
      // feeds both engines); the edge table is VALUES from the same
      // registry source; the track derivation is pure integer
      // arithmetic replayed verbatim
      val pred = graft.operators.Overlay.segCrossSql(
        "s.ax1", "s.ay1", "s.ax2", "s.ay2",
        "e.bx1", "e.by1", "e.bx2", "e.by2")
      val vals = graft.sources.PolyRegistry.oracleTriangles.flatMap { p =>
        (0 until 3).map { e =>
          s"(${p.adminId}, $e, CAST(${p.xs(e)} AS DOUBLE), " +
            s"CAST(${p.ys(e)} AS DOUBLE), CAST(${p.xs((e + 1) % 3)} AS DOUBLE), " +
            s"CAST(${p.ys((e + 1) % 3)} AS DOUBLE))"
        }
      }.mkString(",\n  ")
      s"""WITH $zigzagSegsSql,
        |edges(admin_id, edge_id, bx1, by1, bx2, by2) AS (VALUES
        |  $vals)
        |SELECT s.user_id, s.seq, CAST(e.admin_id AS BIGINT) AS admin_id,
        |  CAST(e.edge_id AS BIGINT) AS edge_id
        |FROM segs s CROSS JOIN edges e
        |WHERE s.ax2 IS NOT NULL AND $pred""".stripMargin
    },
    "q118_emerging_hotspots" ->
      // identical derived coordinates + 15° cells; midpoint via integer
      // //; exact integer counts and ratio thresholds — no doubles in
      // any compared value
      s"""WITH pts AS (
        |  SELECT epoch_us(ts) AS tus, ${derivedPointCols("event_id").mkString(", ")}
        |  FROM events),
        |cells AS MATERIALIZED (
        |  SELECT tus, ${gridCellSql("15.0")} AS cell
        |  FROM pts),
        |stats AS (SELECT (min(tus) + max(tus)) // 2 AS mid FROM cells),
        |agg AS MATERIALIZED (
        |  SELECT cell,
        |    CAST(sum(CASE WHEN c.tus <= s.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
        |    CAST(sum(CASE WHEN c.tus > s.mid THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM cells c CROSS JOIN stats s GROUP BY cell)
        |SELECT cell, n_early, n_late,
        |  CASE WHEN n_late >= n_early * 2 THEN 'emerging'
        |       WHEN n_early >= n_late * 2 THEN 'declining'
        |       ELSE 'stable' END AS trend
        |FROM agg WHERE n_early + n_late >= 3""".stripMargin,
    "q116_od_flows" ->
      // identical cell derivation + lead window; counts are exact longs
      s"""WITH $slowZigzagCellsSql,
        |hops AS MATERIALIZED (
        |  SELECT user_id, cell,
        |    lead(cell) OVER (PARTITION BY user_id ORDER BY seq) AS dest
        |  FROM cells)
        |SELECT cell AS o_cell, dest AS d_cell,
        |  CAST(count(*) AS BIGINT) AS n_trips,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM hops WHERE dest IS NOT NULL AND dest <> cell
        |GROUP BY 1, 2""".stripMargin,
    "q115_dwell_episodes" ->
      // gaps-and-islands replay: identical slowed-zigzag coordinates
      // (integer `//` division), identical run-id construction, same
      // (n_pts, dur) gates; epoch_us mirrors unix_micros
      s"""WITH $slowZigzagCellsSql,
        |runs AS MATERIALIZED (
        |  SELECT user_id, seq, tus, cell,
        |    seq - row_number() OVER (PARTITION BY user_id, cell ORDER BY seq) AS grp
        |  FROM cells)
        |SELECT user_id, cell, min(seq) AS start_seq,
        |  CAST(count(*) AS BIGINT) AS n_pts,
        |  max(tus) - min(tus) AS dur_us
        |FROM runs GROUP BY user_id, cell, grp
        |HAVING count(*) >= 4 AND max(tus) - min(tus) >= 1""".stripMargin,
    "q114_region_exposure" -> {
      // identical clip-length text; quantize-then-sum replayed with the
      // same 1e-9 grid; len > 0 filter matches the engine's
      val len = graft.operators.Overlay.segTriClipLenSql(
        "s.ax1", "s.ay1", "s.ax2", "s.ay2",
        Seq(("t.bx1", "t.by1"), ("t.bx2", "t.by2"), ("t.bx3", "t.by3")))
      s"""WITH $zigzagSegsSql,
        |tris(admin_id, bx1, by1, bx2, by2, bx3, by3) AS (VALUES
        |  $triangleValuesSql),
        |pair AS MATERIALIZED (
        |  SELECT s.user_id, t.admin_id, $len AS len
        |  FROM segs s CROSS JOIN tris t WHERE s.ax2 IS NOT NULL)
        |SELECT user_id, CAST(admin_id AS BIGINT) AS admin_id,
        |  CAST(count(*) AS BIGINT) AS n_segs,
        |  round(CAST(sum(CAST(floor(len * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE) / 1e9, 6) AS len_deg
        |FROM pair WHERE len > 0 GROUP BY 1, 2""".stripMargin
    },
    "q112_nearest_polygon" -> {
      val bv = Seq(("bx1", "by1"), ("bx2", "by2"), ("bx3", "by3"))
      // brute-force replay: cross join + the IDENTICAL distance text
      // (one Scala string feeds both engines), filter BEFORE rounding,
      // argmin window ordered (d2, b_id) — deterministic because the
      // doubles are bit-identical
      s"""WITH pts AS ($derivedPointsSql),
        |tris(b_id, bx1, by1, bx2, by2, bx3, by3) AS (VALUES
        |  $triangleValuesSql),
        |cand AS MATERIALIZED (
        |  SELECT p.doc_id, t.b_id,
        |    ${graft.operators.SpatialJoin.pointTriDist2Sql("lon", "lat", bv)} AS d2
        |  FROM pts p CROSS JOIN tris t),
        |hit AS (
        |  SELECT doc_id, b_id, d2,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY d2 ASC, b_id ASC) AS rn
        |  FROM cand WHERE d2 <= CAST(225.0 AS DOUBLE))
        |SELECT doc_id, CAST(b_id AS BIGINT) AS admin_id, round(d2, 9) AS dist2
        |FROM hit WHERE rn = 1""".stripMargin
    },
    "q109_polygonize" ->
      // 4-adjacency transitive closure as a recursive CTE (the q101
      // discipline: the ORACLE does the quadratic closure, the engine
      // never does); region id = min pixel key, key = gx·2²² + gy
      s"""WITH RECURSIVE pts AS ($derivedPointsSql),
        |grid AS MATERIALIZED (
        |  SELECT CAST(floor((lon + 180.0) / 360.0 * 8.0 * 64.0) AS BIGINT) AS gx,
        |    CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 8.0 * 64.0) AS BIGINT) AS gy,
        |    count(*) AS n
        |  FROM pts GROUP BY 1, 2),
        |occ AS MATERIALIZED (
        |  SELECT gx, gy, n, gx * 4194304 + gy AS id FROM grid WHERE n >= 1),
        |edges AS MATERIALIZED (
        |  SELECT a.id AS src, b.id AS dst FROM occ a JOIN occ b
        |    ON abs(a.gx - b.gx) + abs(a.gy - b.gy) = 1),
        |reach(a, b) AS (
        |  SELECT id, id FROM occ
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |cc AS MATERIALIZED (
        |  SELECT a AS id, min(b) AS region_id FROM reach GROUP BY a)
        |SELECT cc.region_id, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(o.n) AS BIGINT) AS sum_n,
        |  min(o.gx) AS min_gx, max(o.gx) AS max_gx,
        |  min(o.gy) AS min_gy, max(o.gy) AS max_gy
        |FROM occ o JOIN cc ON o.id = cc.id GROUP BY 1""".stripMargin,
    "q32_linear_fit" ->
      """SELECT event_type,
        |  round(covar_pop(CAST(user_id AS DOUBLE), value) / var_pop(CAST(user_id AS DOUBLE)), 6) AS slope,
        |  round(avg(value) - covar_pop(CAST(user_id AS DOUBLE), value) / var_pop(CAST(user_id AS DOUBLE)) * avg(CAST(user_id AS DOUBLE)), 6) AS intercept,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    "q33_robust_stats" ->
      """WITH med AS (
        |  SELECT event_type, median(value) AS med FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |  round(any_value(med.med), 6) AS median,
        |  round(median(abs(e.value - med.med)) * 1.4826, 6) AS mad_sigma,
        |  count(*) AS n
        |FROM events e JOIN med ON e.event_type = med.event_type
        |GROUP BY e.event_type""".stripMargin,
    // Independent oracle for the Gauss–Newton fit: on noise-free samples,
    // ln y is exactly quadratic in x, so a closed-form quadratic LS fit of
    // (x, ln y) — Cramer's rule over moment sums — recovers the same
    // (amp, mu, sigma) the nonlinear optimizer converges to.
    "q36_gauss_fit" ->
      """WITH samples AS (
        |  SELECT event_id % 5 AS grp,
        |    (CAST(event_id % 81 AS DOUBLE) - 40.0) / 10.0 AS x,
        |    (2.0 + CAST(event_id % 5 AS DOUBLE)) *
        |      exp(-(((CAST(event_id % 81 AS DOUBLE) - 40.0) / 10.0
        |              - (CAST(event_id % 5 AS DOUBLE) - 2.0) * 0.5)
        |            * ((CAST(event_id % 81 AS DOUBLE) - 40.0) / 10.0
        |              - (CAST(event_id % 5 AS DOUBLE) - 2.0) * 0.5))
        |          / (2.0 * (0.8 + CAST(event_id % 5 AS DOUBLE) * 0.1)
        |                 * (0.8 + CAST(event_id % 5 AS DOUBLE) * 0.1))) AS y
        |  FROM events),
        |m AS (
        |  SELECT grp, count(*) AS n,
        |    sum(1.0) AS s0, sum(x) AS s1, sum(x*x) AS s2,
        |    sum(x*x*x) AS s3, sum(x*x*x*x) AS s4,
        |    sum(ln(y)) AS t0, sum(x*ln(y)) AS t1, sum(x*x*ln(y)) AS t2
        |  FROM samples GROUP BY grp),
        |c AS (
        |  SELECT grp, n,
        |    (s0*(s2*s4-s3*s3) - s1*(s1*s4-s3*s2) + s2*(s1*s3-s2*s2)) AS det,
        |    (t0*(s2*s4-s3*s3) - s1*(t1*s4-s3*t2) + s2*(t1*s3-s2*t2)) AS d0,
        |    (s0*(t1*s4-t2*s3) - t0*(s1*s4-s3*s2) + s2*(s1*t2-s2*t1)) AS d1,
        |    (s0*(s2*t2-s3*t1) - s1*(s1*t2-s2*t1) + t0*(s1*s3-s2*s2)) AS d2
        |  FROM m)
        |SELECT CAST(grp AS BIGINT) AS grp,
        |  round(exp(d0/det - (d1/det)*(d1/det)/(4.0*(d2/det))), 6) + 0.0 AS amp,
        |  round(-(d1/det)/(2.0*(d2/det)), 6) + 0.0 AS mu,
        |  round(sqrt(-1.0/(2.0*(d2/det))), 6) + 0.0 AS sigma,
        |  n
        |FROM c""".stripMargin,
    // Exact replication of the fixed-iteration IRLS: OLS init, fixed scale
    // s = 1.4826·median|r0|, then 3 Huber-weighted closed-form passes.
    "q37_huber_fit" -> {
      val k = "1.345"
      def iterCte(prev: String, name: String) =
        s"""$name AS (
           |  SELECT g,
           |    (swy - (sw*swxy - swx*swy)/(sw*swxx - swx*swx)*swx)/sw AS b0,
           |    (sw*swxy - swx*swy)/(sw*swxx - swx*swx) AS b1, s, n FROM (
           |    SELECT w0.g AS g, any_value(s) AS s, count(*) AS n,
           |      sum(w) AS sw, sum(w*x) AS swx, sum(w*y) AS swy,
           |      sum(w*x*x) AS swxx, sum(w*x*y) AS swxy
           |    FROM (
           |      SELECT base.g, x, y, s,
           |        CASE WHEN s <= 0 OR abs(y-(b0+b1*x)) <= $k*s THEN 1.0
           |             ELSE $k*s/abs(y-(b0+b1*x)) END AS w
           |      FROM base JOIN $prev ON base.g = $prev.g) w0
           |    GROUP BY w0.g))""".stripMargin
      s"""WITH base AS (
         |  SELECT event_type AS g, CAST(user_id AS DOUBLE) AS x, value AS y
         |  FROM events),
         |ols AS (
         |  SELECT g, covar_pop(x,y)/var_pop(x) AS b1,
         |    avg(y) - covar_pop(x,y)/var_pop(x)*avg(x) AS b0
         |  FROM base GROUP BY g),
         |p0 AS (
         |  SELECT base.g AS g, any_value(b0) AS b0, any_value(b1) AS b1,
         |    median(abs(y - (b0 + b1*x))) * 1.4826 AS s
         |  FROM base JOIN ols ON base.g = ols.g GROUP BY base.g),
         |${iterCte("p0", "p1")},
         |${iterCte("p1", "p2")},
         |${iterCte("p2", "p3")}
         |SELECT g AS event_type, round(b0, 6) AS intercept,
         |  round(b1, 6) AS slope, round(s, 6) AS scale, n
         |FROM p3""".stripMargin
    },
    "q38_trapezoid" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(event_id % 10000 AS DOUBLE) / 100.0 AS x, value AS y
        |  FROM events),
        |l AS (
        |  SELECT event_type, x, y,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY x ASC, y ASC) AS xp,
        |    lag(y) OVER (PARTITION BY event_type ORDER BY x ASC, y ASC) AS yp
        |  FROM b)
        |SELECT event_type, round(sum((x-xp)*(y+yp)/2.0), 6) AS integral,
        |  count(*) AS n
        |FROM l GROUP BY event_type""".stripMargin,
    "q39_auto_shrink" ->
      """WITH e AS (SELECT event_type, value AS v FROM events),
        |fc AS (SELECT event_type, count(*) AS nb,
        |         sum(CASE WHEN c >= 20 THEN 1 ELSE 0 END) AS nv
        |       FROM (SELECT event_type, floor(v/2.0) AS b, count(*) AS c
        |             FROM e GROUP BY 1, 2) GROUP BY event_type),
        |cc AS (SELECT event_type, count(*) AS nb,
        |         sum(CASE WHEN c >= 20 THEN 1 ELSE 0 END) AS nv
        |       FROM (SELECT event_type, floor(v/4.0) AS b, count(*) AS c
        |             FROM e GROUP BY 1, 2) GROUP BY event_type),
        |ch AS (SELECT fc.event_type,
        |         CASE WHEN fc.nv >= 5 AND fc.nv*1.0/fc.nb >= 0.3 THEN 'fine'
        |              WHEN cc.nv >= 5 AND cc.nv*1.0/cc.nb >= 0.2 THEN 'coarse'
        |              ELSE 'fail' END AS grid,
        |         fc.nv AS nv_f, cc.nv AS nv_c
        |       FROM fc JOIN cc ON fc.event_type = cc.event_type),
        |mf AS (SELECT e.event_type, median(v) AS med FROM e
        |       JOIN (SELECT event_type, floor(v/2.0) AS b, count(*) AS c
        |             FROM e GROUP BY 1, 2) t
        |         ON e.event_type = t.event_type AND floor(e.v/2.0) = t.b
        |       WHERE t.c >= 20 GROUP BY e.event_type),
        |mc AS (SELECT e.event_type, median(v) AS med FROM e
        |       JOIN (SELECT event_type, floor(v/4.0) AS b, count(*) AS c
        |             FROM e GROUP BY 1, 2) t
        |         ON e.event_type = t.event_type AND floor(e.v/4.0) = t.b
        |       WHERE t.c >= 20 GROUP BY e.event_type)
        |SELECT ch.event_type, grid,
        |  CAST(CASE WHEN grid = 'fine' THEN nv_f
        |            WHEN grid = 'coarse' THEN nv_c END AS BIGINT) AS n_valid_bins,
        |  round(CASE WHEN grid = 'fine' THEN mf.med
        |             WHEN grid = 'coarse' THEN mc.med END, 6) AS med
        |FROM ch
        |LEFT JOIN mf ON ch.event_type = mf.event_type
        |LEFT JOIN mc ON ch.event_type = mc.event_type""".stripMargin,
    "q34_robust_stack" ->
      """SELECT event_type, count(value) AS n_valid,
        |  round(CASE WHEN count(value) >= 50 THEN median(value) END, 6) AS med,
        |  round(CASE WHEN count(value) >= 50 THEN quantile_cont(value, 0.16) END, 6) AS p16,
        |  round(CASE WHEN count(value) >= 50 THEN quantile_cont(value, 0.84) END, 6) AS p84
        |FROM events GROUP BY event_type""".stripMargin,
    "q53_k_anonymize" ->
      // same z4 tile math (proven exact in q10/q11) + the same packing
      // as Tiler.tilesWithStats: (z << 58) | (x << 29) | y
      s"""WITH pts AS ($derivedPointsSql),
         |cells AS (
         |  SELECT doc_id,
         |    (CAST(4 AS BIGINT) << 58)
         |      | (CAST(floor((lon + 180.0) / 360.0 * 16.0) AS BIGINT) << 29)
         |      | CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 16.0) AS BIGINT)
         |      AS cell
         |  FROM pts),
         |crowds AS (SELECT cell, count(*) AS cell_n FROM cells
         |           GROUP BY cell HAVING count(*) >= 3)
         |SELECT c.doc_id, c.cell, crowds.cell_n
         |FROM cells c JOIN crowds ON c.cell = crowds.cell""".stripMargin,
    "q50_tfidf" ->
      // same smoothed-idf formula text: ln((N+1)/(df+1)) + 1
      """WITH toks AS (
        |  SELECT doc_id AS id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT id, term, count(*) AS tc,
        |    sum(count(*)) OVER (PARTITION BY id) AS nw
        |  FROM toks WHERE length(term) > 0 GROUP BY id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT tf.id, tf.term,
        |    (CAST(tc AS DOUBLE) / nw) *
        |      (ln((CAST((SELECT n FROM nd) AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0) AS tfidf
        |  FROM tf JOIN dfq ON tf.term = dfq.term)
        |SELECT id AS doc_id, term AS top_term, round(tfidf, 6) AS tfidf
        |FROM (SELECT *, row_number() OVER (PARTITION BY id
        |        ORDER BY tfidf DESC, term ASC) AS rn FROM scored)
        |WHERE rn = 1""".stripMargin,
    "q48_top_words" ->
      """SELECT lang, word, n, rank FROM (
        |  SELECT lang, word, count(*) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, word ASC) AS rank
        |  FROM (SELECT lang, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |        FROM documents)
        |  WHERE length(word) > 0
        |  GROUP BY lang, word)
        |WHERE rank <= 10""".stripMargin,
    "q46_pii_redact" ->
      // same injection rule + same RE2-compatible patterns
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |           text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |         WHEN doc_id % 7 = 0 THEN
        |           text || ' call +1 (555) 010-23' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |         ELSE text END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text2, '\+?\d[\d\s().-]{7,}\d')) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS redacted
        |FROM w""".stripMargin,
    "q47_dedup_keep" ->
      // clusters re-derived by recursive CTE; keep-longest re-ranked in SQL
      """WITH RECURSIVE
        |e0 AS (
        |  SELECT doc_id AS src, doc_id - (doc_id % 7) AS dst
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id - 7 AS dst
        |  FROM documents WHERE doc_id % 14 = 0 AND doc_id >= 7),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |reach(id, lbl) AS (
        |  SELECT src AS id, src AS lbl FROM e
        |  UNION
        |  SELECT e.src AS id, r.lbl FROM e JOIN reach r ON e.dst = r.id),
        |cl AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        |j AS (SELECT cl.cluster_id, cl.id, d.n_chars,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY d.n_chars DESC, cl.id ASC) AS rn
        |      FROM cl JOIN documents d ON d.doc_id = cl.id)
        |SELECT cluster_id, min(CASE WHEN rn = 1 THEN id END) AS keep_id,
        |  count(*) AS n_docs, CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM j GROUP BY cluster_id""".stripMargin,
    "q45_range_join" ->
      // independent recomputation: the naive BETWEEN join (exact spec)
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events
        |           WHERE event_type = 'error'),
        |p AS (SELECT event_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, e.event_id AS error_id,
        |  e.us - p.us AS lag_us
        |FROM p JOIN e
        |  ON e.us >= p.us - 300000000 AND e.us <= p.us + 300000000""".stripMargin,
    "q44_nearest_city" ->
      // same haversine text: radians inline, sin half-angles squared,
      // asin(sqrt(h)), R = 6371008.8
      s"""WITH pts AS ($derivedPointsSql),
         |cities AS (SELECT * FROM (VALUES $knnQueryValuesSql) AS t(city_id, c_lon, c_lat)),
         |d AS (
         |  SELECT pts.doc_id, cities.city_id,
         |    2.0 * 6371008.8 * asin(sqrt(
         |      sin((cities.c_lat - pts.lat) * pi() / 180.0 / 2.0)
         |        * sin((cities.c_lat - pts.lat) * pi() / 180.0 / 2.0)
         |      + cos(pts.lat * pi() / 180.0) * cos(cities.c_lat * pi() / 180.0)
         |        * sin((cities.c_lon - pts.lon) * pi() / 180.0 / 2.0)
         |        * sin((cities.c_lon - pts.lon) * pi() / 180.0 / 2.0))) AS dist_m
         |  FROM pts CROSS JOIN cities),
         |r AS (SELECT doc_id, city_id, dist_m,
         |        row_number() OVER (PARTITION BY doc_id
         |          ORDER BY dist_m ASC, city_id ASC) AS rn FROM d)
         |SELECT doc_id, CAST(city_id AS BIGINT) AS city_id,
         |  round(dist_m, 2) AS dist_m
         |FROM r WHERE rn = 1""".stripMargin,
    "q43_sampling" ->
      // same portable LCG coin flips, recomputed independently
      """WITH u AS (
        |  SELECT doc_id, lang, source,
        |    (((1103515245 * (doc_id % 2147483647) + 12345) % 2147483647) * 1.0)
        |      / 2147483647.0 AS u
        |  FROM documents),
        |strat AS (
        |  SELECT * FROM u
        |  WHERE u < CASE WHEN lang = 'en' THEN 0.5 ELSE 0.9 END),
        |ranked AS (
        |  SELECT doc_id, lang, source,
        |    row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC) AS rn
        |  FROM strat)
        |SELECT doc_id, lang, source FROM ranked WHERE rn <= 5""".stripMargin,
    "q42_dedup_clusters" ->
      // independent recomputation: recursive-CTE transitive closure +
      // min reachable label (no label propagation, no supersteps)
      """WITH RECURSIVE
        |e0 AS (
        |  SELECT doc_id AS src, doc_id - (doc_id % 7) AS dst
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id - 7 AS dst
        |  FROM documents WHERE doc_id % 14 = 0 AND doc_id >= 7),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |reach(id, lbl) AS (
        |  SELECT src AS id, src AS lbl FROM e
        |  UNION
        |  SELECT e.src AS id, r.lbl FROM e JOIN reach r ON e.dst = r.id)
        |SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id""".stripMargin,
    "q41_repetition" ->
      // independent recomputation: list ops over the token array (the
      // Spark side is a single hash-map pass; only the RESULTS must match)
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n,
        |    tk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, n,
        |    len(list_distinct(tk)) AS ndist,
        |    CASE WHEN n < 2 THEN 0 ELSE len(list_distinct(bg)) END AS nbig,
        |    CASE WHEN n = 0 THEN 0 ELSE
        |      list_max(list_transform(list_distinct(tk),
        |        w -> len(list_filter(tk, t -> t = w)))) END AS topw,
        |    CASE WHEN n < 2 THEN 0 ELSE
        |      list_max(list_transform(list_distinct(bg),
        |        w -> len(list_filter(bg, t -> t = w)))) END AS topb
        |  FROM base)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE ndist * 1.0 / n END, 6) AS distinct_word_frac,
        |  round(CASE WHEN n < 2 THEN 0.0 ELSE 1.0 - nbig * 1.0 / (n - 1) END, 6) AS dup_2gram_frac,
        |  round(CASE WHEN n = 0 THEN 0.0 ELSE topw * 1.0 / n END, 6) AS top_word_frac,
        |  round(CASE WHEN n < 2 THEN 0.0 ELSE topb * 1.0 / (n - 1) END, 6) AS top_2gram_frac
        |FROM agg""".stripMargin,
    "q88_pagerank" ->
      // unrolled power iteration. Per-term double ops are identical on
      // both engines; the per-node SUM is made order-insensitive by
      // rounding each contribution onto an exact 1e-15 integer grid and
      // summing BIGINTs (LinkGraph does the same) — parity no longer
      // depends on both engines accumulating doubles in the same order.
      // DISTINCT non-loop edges; dangling mass dropped on both sides
      """WITH e0 AS (
        |  SELECT doc_id % 50 AS src, (doc_id * 7) % 50 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id % 50 AS src, (doc_id * 13) % 50 AS dst FROM documents),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |od AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        |p0 AS MATERIALIZED (
        |  SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS MATERIALIZED (
        |  SELECT nodes.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |      + CAST(0.85 AS DOUBLE) * (CAST(coalesce(s.inc, 0) AS DOUBLE) / 1e15) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(CAST(floor(p.pr / od.outdeg * 1e15 + 0.5) AS BIGINT)) AS inc
        |    FROM e JOIN p0 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY e.dst) s ON s.node = nodes.node),
        |p2 AS MATERIALIZED (
        |  SELECT nodes.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |      + CAST(0.85 AS DOUBLE) * (CAST(coalesce(s.inc, 0) AS DOUBLE) / 1e15) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(CAST(floor(p.pr / od.outdeg * 1e15 + 0.5) AS BIGINT)) AS inc
        |    FROM e JOIN p1 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY e.dst) s ON s.node = nodes.node),
        |p3 AS MATERIALIZED (
        |  SELECT nodes.node,
        |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |      + CAST(0.85 AS DOUBLE) * (CAST(coalesce(s.inc, 0) AS DOUBLE) / 1e15) AS pr
        |  FROM nodes CROSS JOIN nn LEFT JOIN (
        |    SELECT e.dst AS node, sum(CAST(floor(p.pr / od.outdeg * 1e15 + 0.5) AS BIGINT)) AS inc
        |    FROM e JOIN p2 p ON e.src = p.node JOIN od ON od.src = e.src
        |    GROUP BY e.dst) s ON s.node = nodes.node)
        |SELECT node, round(pr, 6) AS pagerank FROM p3""".stripMargin,
    "q86_word_filter" ->
      // same whole-word rule with case spelled as per-letter classes —
      // java.regex (?i) is ASCII-only while RE2's folds Unicode, so the
      // flag would diverge between engines; explicit classes cannot
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE NOT regexp_matches(text,
        |  '(^|[^a-zA-Z0-9''])([sS][lL][oO][wW]|[sS][pP][iI][lL][lL])($|[^a-zA-Z0-9''])')""".stripMargin,
    "q85_latest_revision" ->
      // q55's canonicalization replay + a newest-fetch window; fetch_ms
      // synthesized with the same integer arithmetic
      s"""WITH synth AS (
        |  SELECT doc_id, $synthUrlSql AS url,
        |    1700000000 + ((doc_id * 37) % 2592000) * 1000 AS fetch_ms
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]*[^?#]*\\?([^#]*)', 1) AS query0
        |  FROM synth),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
        |           ELSE hostport END,
        |      '^www\\.', '') AS host,
        |    CASE WHEN path0 = '' THEN '/'
        |         WHEN length(path0) > 1 AND path0 LIKE '%/' THEN substr(path0, 1, length(path0) - 1)
        |         ELSE path0 END AS path,
        |    array_to_string(list_sort(list_filter(string_split(query0, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS query
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id, scheme || '://' || host || path ||
        |    CASE WHEN query <> '' THEN '?' || query ELSE '' END AS canon
        |  FROM norm)
        |SELECT canon, doc_id, fetch_ms FROM (
        |  SELECT c.canon, c.doc_id, s.fetch_ms,
        |    row_number() OVER (PARTITION BY c.canon
        |      ORDER BY s.fetch_ms DESC, c.doc_id ASC) AS rn
        |  FROM canon c JOIN synth s USING (doc_id))
        |WHERE rn = 1""".stripMargin,
    "q83_blocklist" ->
      // same canonical-host rule as q57's oracle + suffix-match filter
      s"""WITH synth AS (
         |  SELECT doc_id, $synthUrlSql AS url FROM documents),
         |hosts AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(
         |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
         |      ':[0-9]+$$', ''), '^www\\.', '') AS host
         |  FROM synth)
         |SELECT doc_id, host FROM hosts
         |WHERE NOT (host = 'example.org' OR host LIKE '%.example.org')""".stripMargin,
    "q84_host_budget" ->
      // reservoir replay: the same LCG coin ranks per host; keep 20
      s"""WITH synth AS (
         |  SELECT doc_id, $synthUrlSql AS url FROM documents),
         |hosts AS (
         |  SELECT doc_id,
         |    regexp_replace(regexp_replace(
         |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
         |      ':[0-9]+$$', ''), '^www\\.', '') AS host,
         |    CAST((1103515245 * (doc_id % 2147483647) + 12345) % 2147483647
         |         AS DOUBLE) / 2147483647.0 AS u
         |  FROM synth)
         |SELECT doc_id, host FROM (
         |  SELECT doc_id, host,
         |    row_number() OVER (PARTITION BY host ORDER BY u, doc_id) AS rn
         |  FROM hosts)
         |WHERE rn <= 20""".stripMargin,
    "q89_soft_dedup" ->
      // frequency downweighting replayed on the raw text grouping key
      """WITH c AS MATERIALIZED (
        |  SELECT text, count(*) AS n_copies FROM documents GROUP BY text)
        |SELECT d.doc_id, c.n_copies,
        |  round(CAST(1.0 AS DOUBLE) / c.n_copies, 6) AS weight
        |FROM documents d JOIN c USING (text)""".stripMargin,
    "q90_token_chunks" ->
      // overlapping 32-token windows at stride 24; slice bounds replayed
      // 1-based-inclusive on both engines; chunk count
      // 1 + max(0, ceil((n-32)/24)) via the same float-floor formula
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS MATERIALIZED (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS MATERIALIZED (
        |  SELECT doc_id, toks,
        |    1 + greatest(0, CAST(floor(CAST(n - 32 + 24 - 1 AS DOUBLE) / 24)
        |                         AS BIGINT)) AS n_chunks
        |  FROM s),
        |e AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(toks[(chunk_id*24+1):(chunk_id*24+32)]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[(chunk_id*24+1):(chunk_id*24+32)], ' ') AS text_chunk
        |FROM e""".stripMargin,
    "q91_token_shards" ->
      // shard = floor(exclusive_prefix * 8 / total) clamped to 7 —
      // integer division on both engines, token count as in q61
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM d),
        |p AS (
        |  SELECT doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS prefix
        |  FROM d)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(least(7, (prefix * 8) // total) AS BIGINT) AS shard
        |FROM p CROSS JOIN tot""".stripMargin,
    "q92_intradoc_dedup" ->
      // first-occurrence-kept unit dedup: position = min ordinal per
      // (doc, unit), reassembled in position order
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |u AS MATERIALIZED (
        |  SELECT doc_id, unnest(toks) AS unit,
        |    unnest(range(len(toks))) AS pos
        |  FROM t),
        |f AS MATERIALIZED (
        |  SELECT doc_id, unit, min(pos) AS pos FROM u GROUP BY doc_id, unit),
        |g AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(unit, ' ' ORDER BY pos) AS dedup_text
        |  FROM f GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_units,
        |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(g.dedup_text, '') AS dedup_text
        |FROM t LEFT JOIN g USING (doc_id)""".stripMargin,
    "q95_host_boilerplate" ->
      // boilerplate = (source, unit) in >=20 distinct docs; rebuild each
      // doc from its surviving positions in order
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |  FROM documents),
        |u AS MATERIALIZED (
        |  SELECT doc_id, source, unnest(toks) AS unit,
        |    unnest(range(len(toks))) AS pos
        |  FROM t),
        |b AS MATERIALIZED (
        |  SELECT source, unit FROM (
        |    SELECT source, unit, count(DISTINCT doc_id) AS nd
        |    FROM u GROUP BY 1, 2)
        |  WHERE nd >= 20),
        |k AS MATERIALIZED (
        |  SELECT u.doc_id, u.unit, u.pos
        |  FROM u LEFT JOIN b ON u.source = b.source AND u.unit = b.unit
        |  WHERE b.unit IS NULL),
        |g AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(unit, ' ' ORDER BY pos) AS clean_text
        |  FROM k GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_units,
        |  CAST(coalesce(g.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(g.clean_text, '') AS clean_text
        |FROM t LEFT JOIN g USING (doc_id)""".stripMargin,
    "q96_kde_density" ->
      // brute-force replay of the hard-cutoff KDE: centers = occupied
      // 6°-grid cells, identical dist²/kernel formula text (center side
      // first), per-pair floor(x+0.5)→BIGINT (binary-double quantize —
      // engine-portable, unlike round()) then exact integer sum
      s"""WITH pts AS ($derivedPointsSql),
        |cells AS MATERIALIZED (
        |  SELECT CAST(floor((lon + 180.0) / 6.0) AS BIGINT) AS cx,
        |    CAST(floor((lat + 90.0) / 6.0) AS BIGINT) AS cy
        |  FROM pts GROUP BY 1, 2),
        |centers AS MATERIALIZED (
        |  SELECT cx, cy,
        |    (CAST(cx AS DOUBLE) + 0.5) * 6.0 - 180.0 AS lonc,
        |    (CAST(cy AS DOUBLE) + 0.5) * 6.0 - 90.0 AS latc
        |  FROM cells)
        |SELECT c.cx, c.cy, CAST(count(*) AS BIGINT) AS n_within,
        |  CAST(sum(CAST(floor(
        |    (1.0 - ((c.lonc - p.lon) * (c.lonc - p.lon)
        |          + (c.latc - p.lat) * (c.latc - p.lat)) / 36.0)
        |    * (1.0 - ((c.lonc - p.lon) * (c.lonc - p.lon)
        |             + (c.latc - p.lat) * (c.latc - p.lat)) / 36.0)
        |    * 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS density_q
        |FROM centers c JOIN pts p
        |  ON (c.lonc - p.lon) * (c.lonc - p.lon)
        |   + (c.latc - p.lat) * (c.latc - p.lat) <= 36.0
        |GROUP BY 1, 2""".stripMargin,
    "q97_idw_grid" ->
      // IDW replay: same centers, weight = 1e9/(1+d²) floor(x+0.5)-
      // quantized per pair, exact integer num/den sums, one final ratio
      s"""WITH pts AS (
        |  SELECT doc_id, CAST(doc_id % 97 AS DOUBLE) AS v, lon, lat
        |  FROM ($derivedPointsSql)),
        |cells AS MATERIALIZED (
        |  SELECT CAST(floor((lon + 180.0) / 6.0) AS BIGINT) AS cx,
        |    CAST(floor((lat + 90.0) / 6.0) AS BIGINT) AS cy
        |  FROM pts GROUP BY 1, 2),
        |centers AS MATERIALIZED (
        |  SELECT cx, cy,
        |    (CAST(cx AS DOUBLE) + 0.5) * 6.0 - 180.0 AS lonc,
        |    (CAST(cy AS DOUBLE) + 0.5) * 6.0 - 90.0 AS latc
        |  FROM cells),
        |agg AS (
        |  SELECT c.cx, c.cy, CAST(count(*) AS BIGINT) AS n_within,
        |    CAST(sum(CAST(floor(p.v * (1000000000.0
        |      / (1.0 + ((c.lonc - p.lon) * (c.lonc - p.lon)
        |               + (c.latc - p.lat) * (c.latc - p.lat)))) + 0.5)
        |      AS BIGINT)) AS BIGINT) AS num_q,
        |    CAST(sum(CAST(floor(1000000000.0
        |      / (1.0 + ((c.lonc - p.lon) * (c.lonc - p.lon)
        |               + (c.latc - p.lat) * (c.latc - p.lat))) + 0.5)
        |      AS BIGINT)) AS BIGINT) AS den_q
        |  FROM centers c JOIN pts p
        |    ON (c.lonc - p.lon) * (c.lonc - p.lon)
        |     + (c.latc - p.lat) * (c.latc - p.lat) <= 36.0
        |  GROUP BY 1, 2)
        |SELECT cx, cy, n_within, num_q, den_q,
        |  round(CAST(num_q AS DOUBLE) / CAST(den_q AS DOUBLE), 6) AS idw
        |FROM agg""".stripMargin,
    "q104_grid_dbscan" ->
      // weighted-rep replay: floor-cell reps (exact integer ids +
      // center-coordinate formula text), Σw core condition, recursive
      // closure over rep edges, points inherit via the same floor rep
      s"""WITH RECURSIVE ${gridDbscanLabelsCte(derivedPointsSql, 4.0, 20.0, 10)}
        |SELECT doc_id, role, cluster_id FROM lab""".stripMargin,
    "q119_cluster_anisotropy" -> {
      // q117's quantized moments + E[xy]; the eigenvalue formula uses
      // only +−×÷ and sqrt, every subexpression tree mirrored verbatim
      def mm(c: String) = s"CAST($c AS DOUBLE) / 1e9 / n_pts"
      val vx = s"(${mm("sx2")} - (${mm("sx")}) * (${mm("sx")}))"
      val vy = s"(${mm("sy2")} - (${mm("sy")}) * (${mm("sy")}))"
      val cv = s"(${mm("sxy")} - (${mm("sx")}) * (${mm("sy")}))"
      val half = s"(($vx + $vy) / 2.0)"
      val disc =
        s"(sqrt(($vx - $vy) / 2.0 * (($vx - $vy) / 2.0) + $cv * $cv))"
      s"""WITH RECURSIVE ${gridDbscanLabelsCte(blobPointsSql, 0.25, 5.0, 8)},
        |q AS MATERIALIZED (
        |  SELECT l.cluster_id,
        |    CAST(floor(p.lon * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xl,
        |    CAST(floor(p.lon * p.lon * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xl2,
        |    CAST(floor(p.lat * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yl,
        |    CAST(floor(p.lat * p.lat * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yl2,
        |    CAST(floor(p.lon * p.lat * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xyl
        |  FROM lab l JOIN pts p ON l.doc_id = p.doc_id
        |  WHERE l.role <> 'noise'),
        |a AS MATERIALIZED (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pts,
        |    CAST(sum(xl) AS BIGINT) AS sx, CAST(sum(xl2) AS BIGINT) AS sx2,
        |    CAST(sum(yl) AS BIGINT) AS sy, CAST(sum(yl2) AS BIGINT) AS sy2,
        |    CAST(sum(xyl) AS BIGINT) AS sxy
        |  FROM q GROUP BY 1)
        |SELECT cluster_id, n_pts,
        |  round(sqrt(greatest(CAST(0.0 AS DOUBLE), $half + $disc)), 6) AS axis_major,
        |  round(sqrt(greatest(CAST(0.0 AS DOUBLE), $half - $disc)), 6) AS axis_minor,
        |  round($cv, 6) AS cov
        |FROM a""".stripMargin
    },
    "q117_cluster_dispersion" ->
      // the q104 label CTE over the 8-BLOB input + one aggregate pass:
      // per-row 1e-9-quantized longs make the distributed sums
      // order-insensitive; the final double expressions mirror the
      // engine's tree term for term
      s"""WITH RECURSIVE ${gridDbscanLabelsCte(blobPointsSql, 0.25, 5.0, 8)},
        |q AS MATERIALIZED (
        |  SELECT l.cluster_id,
        |    CAST(floor(p.lon * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xl,
        |    CAST(floor(p.lon * p.lon * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS xl2,
        |    CAST(floor(p.lat * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yl,
        |    CAST(floor(p.lat * p.lat * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS yl2
        |  FROM lab l JOIN pts p ON l.doc_id = p.doc_id
        |  WHERE l.role <> 'noise'),
        |a AS MATERIALIZED (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_pts,
        |    CAST(sum(xl) AS BIGINT) AS sx, CAST(sum(xl2) AS BIGINT) AS sx2,
        |    CAST(sum(yl) AS BIGINT) AS sy, CAST(sum(yl2) AS BIGINT) AS sy2
        |  FROM q GROUP BY 1)
        |SELECT cluster_id, n_pts,
        |  round(CAST(sx AS DOUBLE) / 1e9 / n_pts, 6) AS cen_lon,
        |  round(CAST(sy AS DOUBLE) / 1e9 / n_pts, 6) AS cen_lat,
        |  round(sqrt(greatest(CAST(0.0 AS DOUBLE),
        |    CAST(sx2 AS DOUBLE) / 1e9 / n_pts
        |      - (CAST(sx AS DOUBLE) / 1e9 / n_pts) * (CAST(sx AS DOUBLE) / 1e9 / n_pts)
        |      + (CAST(sy2 AS DOUBLE) / 1e9 / n_pts
        |        - (CAST(sy AS DOUBLE) / 1e9 / n_pts) * (CAST(sy AS DOUBLE) / 1e9 / n_pts)))), 6) AS std_dist
        |FROM a""".stripMargin,
    "q102_st_dbscan" ->
      // q101's recursive-CTE replay with the spatio-temporal pair
      // predicate; 3.0 * 86400e6 µs = the 3-day εt, exact in double
      s"""WITH RECURSIVE pts AS (
        |  SELECT ${derivedPointCols("event_id").mkString(", ")},
        |    CAST(epoch_us(ts) AS DOUBLE) AS t_us
        |  FROM events WHERE event_id % 10 = 0),
        |d AS MATERIALIZED (
        |  SELECT a.event_id AS qa, b.event_id AS qb
        |  FROM pts a JOIN pts b
        |    ON (a.lon - b.lon) * (a.lon - b.lon)
        |     + (a.lat - b.lat) * (a.lat - b.lat) <= 25.0 * 25.0
        |   AND abs(a.t_us - b.t_us) <= 259200000000.0),
        |cores AS MATERIALIZED (
        |  SELECT qa AS id FROM d GROUP BY qa HAVING count(*) >= 5),
        |edges AS MATERIALIZED (
        |  SELECT d.qa AS src, d.qb AS dst FROM d
        |  JOIN cores c1 ON d.qa = c1.id JOIN cores c2 ON d.qb = c2.id),
        |reach(a, b) AS (
        |  SELECT id, id FROM cores
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |cc AS MATERIALIZED (
        |  SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
        |border AS MATERIALIZED (
        |  SELECT d.qa AS id, min(cc.cluster_id) AS cluster_id
        |  FROM d JOIN cc ON d.qb = cc.id
        |  WHERE d.qa NOT IN (SELECT id FROM cores)
        |  GROUP BY d.qa)
        |SELECT id AS event_id, 'core' AS role, cluster_id FROM cc
        |UNION ALL
        |SELECT id AS event_id, 'border' AS role, cluster_id FROM border
        |UNION ALL
        |SELECT p.event_id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster_id
        |FROM pts p
        |WHERE p.event_id NOT IN (SELECT id FROM cc)
        |  AND p.event_id NOT IN (SELECT id FROM border)""".stripMargin,
    "q101_dbscan" ->
      // full DBSCAN replay: brute-force ε-pairs (self included), core
      // HAVING-count, transitive closure as a RECURSIVE CTE (min-label
      // per component = the engine's cluster_id), border = min cluster
      // of neighboring cores, rest noise
      s"""WITH RECURSIVE pts AS ($derivedPointsSql),
        |d AS MATERIALIZED (
        |  SELECT a.doc_id AS qa, b.doc_id AS qb
        |  FROM pts a JOIN pts b
        |    ON (a.lon - b.lon) * (a.lon - b.lon)
        |     + (a.lat - b.lat) * (a.lat - b.lat) <= 20.0 * 20.0),
        |cores AS MATERIALIZED (
        |  SELECT qa AS id FROM d GROUP BY qa HAVING count(*) >= 8),
        |edges AS MATERIALIZED (
        |  SELECT d.qa AS src, d.qb AS dst FROM d
        |  JOIN cores c1 ON d.qa = c1.id JOIN cores c2 ON d.qb = c2.id),
        |reach(a, b) AS (
        |  SELECT id, id FROM cores
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |cc AS MATERIALIZED (
        |  SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
        |border AS MATERIALIZED (
        |  SELECT d.qa AS id, min(cc.cluster_id) AS cluster_id
        |  FROM d JOIN cc ON d.qb = cc.id
        |  WHERE d.qa NOT IN (SELECT id FROM cores)
        |  GROUP BY d.qa)
        |SELECT id AS doc_id, 'core' AS role, cluster_id FROM cc
        |UNION ALL
        |SELECT id AS doc_id, 'border' AS role, cluster_id FROM border
        |UNION ALL
        |SELECT p.doc_id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster_id
        |FROM pts p
        |WHERE p.doc_id NOT IN (SELECT id FROM cc)
        |  AND p.doc_id NOT IN (SELECT id FROM border)""".stripMargin,
    "q99_zonal_stats" -> {
      import graft.sources.PolyRegistry
      val branches = PolyRegistry.oracleTriangles.map { p =>
        s"SELECT doc_id, CAST(${p.adminId} AS BIGINT) AS tri_id FROM pts WHERE " +
          PolyRegistry.halfPlaneSql(p, "lon", "lat")
      }.mkString("\nUNION ALL\n")
      // q12's half-plane containment branches + one exact-integer agg
      s"""WITH pts AS ($derivedPointsSql),
        |hits AS ($branches)
        |SELECT tri_id, CAST(count(*) AS BIGINT) AS n_pts,
        |  CAST(sum(doc_id % 97) AS BIGINT) AS sum_v,
        |  round(CAST(sum(doc_id % 97) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS mean_v
        |FROM hits GROUP BY 1""".stripMargin
    },
    "q98_tri_overlay" -> overlayIntersectsSql(overlayTriangleVerts),
    "q105_convex_overlay" -> overlayIntersectsSql(overlayPolygonVerts),
    "q94_dwithin" ->
      // brute-force replay of the distance band: identical d2 formula
      // (query side first), filter BEFORE the 9-dp rounding
      s"""WITH pts AS ($derivedPointsSql)
        |SELECT a.doc_id AS q_id, b.doc_id AS p_id,
        |  round((a.lon - b.lon) * (a.lon - b.lon)
        |    + (a.lat - b.lat) * (a.lat - b.lat), 9) AS dist2
        |FROM pts a CROSS JOIN pts b
        |WHERE a.doc_id < b.doc_id
        |  AND (a.lon - b.lon) * (a.lon - b.lon)
        |    + (a.lat - b.lat) * (a.lat - b.lat) <= 8.0 * 8.0""".stripMargin,
    "q93_morans_i" ->
      // queen-contiguity Moran's I from exact integer aggregates
      // (P, Q, W, S, SS, N) and one fixed-order double expression
      s"""WITH pts AS ($derivedPointsSql),
        |cells AS MATERIALIZED (
        |  SELECT CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x6,
        |    CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 64.0) AS BIGINT) AS y6,
        |    count(*) AS n
        |  FROM pts GROUP BY 1, 2),
        |offs AS (
        |  SELECT dx.d AS dx, dy.d AS dy
        |  FROM (SELECT unnest(range(-1, 2)) AS d) dx,
        |       (SELECT unnest(range(-1, 2)) AS d) dy
        |  WHERE NOT (dx.d = 0 AND dy.d = 0)),
        |contrib AS (
        |  SELECT c.x6 + o.dx AS x, c.y6 + o.dy AS y, c.n AS vs
        |  FROM cells c, offs o),
        |pairs AS (
        |  SELECT count(*) AS w_pairs,
        |    CAST(coalesce(sum(ct.vs * c.n), 0) AS BIGINT) AS p,
        |    CAST(coalesce(sum(ct.vs + c.n), 0) AS BIGINT) AS q
        |  FROM contrib ct JOIN cells c ON ct.x = c.x6 AND ct.y = c.y6),
        |stats AS (
        |  SELECT count(*) AS n_cells,
        |    CAST(coalesce(sum(n), 0) AS BIGINT) AS s,
        |    CAST(coalesce(sum(n * n), 0) AS BIGINT) AS ss
        |  FROM cells)
        |SELECT CAST(n_cells AS BIGINT) AS n_cells,
        |  CAST(w_pairs AS BIGINT) AS w_pairs,
        |  round(CASE WHEN n_cells > 0
        |    THEN CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)
        |    ELSE 0.0 END, 6) AS mean_val,
        |  round(CASE WHEN w_pairs > 0 AND
        |      CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)) > 0
        |    THEN CAST(n_cells AS DOUBLE) / CAST(w_pairs AS DOUBLE)
        |      * (CAST(p AS DOUBLE)
        |         - (CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)) * CAST(q AS DOUBLE)
        |         + CAST(w_pairs AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)))
        |      / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * (CAST(s AS DOUBLE) / CAST(n_cells AS DOUBLE)))
        |    ELSE 0.0 END, 6) AS moran_i,
        |  round(CASE WHEN n_cells > 1
        |    THEN -1.0 / (CAST(n_cells AS DOUBLE) - 1.0)
        |    ELSE 0.0 END, 6) AS e_i
        |FROM stats CROSS JOIN pairs""".stripMargin,
    "q82_corpus_report" ->
      // per-language datasheet re-derived: q58's gopher keep formula at
      // minWords=30, continuous percentiles, word totals
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltk
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n,
        |    tk, ltk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, lang, n_chars, n,
        |    round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |      ELSE list_sum(list_transform(tk, t -> length(t))) * 1.0 / len(tk) END, 6) AS mean_wl,
        |    len(list_filter(ltk, t -> t IN ('the','a','an','and','or','of','to',
        |      'in','is','it','on','for','with','as','by','at'))) AS nstop,
        |    round(CASE WHEN n = 0 THEN 0.0 ELSE
        |      list_max(list_transform(list_distinct(tk),
        |        w -> len(list_filter(tk, t -> t = w)))) * 1.0 / n END, 6) AS top_word_frac,
        |    round(CASE WHEN n < 2 THEN 0.0
        |      ELSE 1.0 - len(list_distinct(bg)) * 1.0 / (n - 1) END, 6) AS dup_2gram_frac
        |  FROM base),
        |flags AS (
        |  SELECT lang, n_chars, n,
        |    (n >= 30 AND n <= 100000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
        |      AND nstop >= 2 AND top_word_frac <= 0.2
        |      AND dup_2gram_frac <= 0.2) AS keep
        |  FROM agg)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_words,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
        |  round(avg(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
        |FROM flags GROUP BY lang""".stripMargin,
    "q81_nfc_normalize" ->
      // same decomposed suffix literal (interpolated from the one
      // Scala constant, so both sides carry byte-identical combining
      // sequences); DuckDB nfc_normalize recomposes independently
      s"""WITH raw AS (
        |  SELECT doc_id, text || '$NfcSuffix' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(raw) AS BIGINT) AS n_raw,
        |  nfc_normalize(raw) AS nfc,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc
        |FROM raw""".stripMargin,
    "q80_cluster_balance" ->
      // q76's seed-assignment CTEs + q77's mixture arithmetic over
      // cluster ids with uniform targets w = 1/k; identical double
      // operation order and the same LCG coin → identical row set
      """WITH v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |seeds AS MATERIALIZED (
        |  SELECT vec_id AS sid, embedding AS svec FROM v WHERE vec_id % 37 = 0),
        |asg0 AS (
        |  SELECT v.vec_id, s.sid,
        |    round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |        i -> CAST(v.embedding[i] AS DOUBLE) * CAST(s.svec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(v.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(s.svec,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS c
        |  FROM v CROSS JOIN seeds s),
        |assigned AS MATERIALIZED (
        |  SELECT vec_id, sid AS cluster_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY c DESC, sid ASC) AS rn FROM asg0)
        |  WHERE rn = 1),
        |k AS (SELECT count(DISTINCT cluster_id) AS k FROM assigned),
        |c AS MATERIALIZED (
        |  SELECT cluster_id, count(*) AS n FROM assigned GROUP BY 1),
        |w AS MATERIALIZED (
        |  SELECT c.cluster_id, CAST(1.0 AS DOUBLE) / k.k AS wt
        |  FROM c CROSS JOIN k),
        |sc AS (SELECT min(c.n / w.wt) AS s FROM c JOIN w USING (cluster_id)),
        |r AS (SELECT w.cluster_id, w.wt / c.n * sc.s AS rate
        |      FROM w JOIN c USING (cluster_id) CROSS JOIN sc),
        |u AS (SELECT vec_id, cluster_id,
        |  CAST((1103515245 * (vec_id % 2147483647) + 12345) % 2147483647
        |       AS DOUBLE) / 2147483647.0 AS u
        |  FROM assigned)
        |SELECT u.vec_id, CAST(u.cluster_id AS BIGINT) AS cluster_id
        |FROM u JOIN r USING (cluster_id)
        |WHERE u.u < r.rate""".stripMargin,
    "q79_curate" ->
      // the whole curation chain replayed: exact dedup by CONTENT
      // (engine: by 64-bit fp — equivalent minus hash collisions),
      // q56's paragraph chunking, q65's span coverage on the REWRITTEN
      // text, q58's gopher formulas at minWords=20, final keep filter
      """WITH d0 AS MATERIALIZED (
        |  SELECT lpad(CAST(doc_id AS VARCHAR), 8, '0') AS url,
        |    trim(regexp_replace(regexp_replace(text,
        |      '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |d1 AS MATERIALIZED (
        |  SELECT url, t FROM (
        |    SELECT url, t, row_number() OVER (PARTITION BY t ORDER BY url) AS rn
        |    FROM d0 WHERE length(t) > 0)
        |  WHERE rn = 1),
        |paras AS MATERIALIZED (
        |  SELECT url, u.i AS pos, array_to_string(w[u.i*8+1 : u.i*8+8], ' ') AS para
        |  FROM (SELECT url, string_split(t, ' ') AS w FROM d1) s,
        |       unnest(generate_series(0, CAST(floor((len(w)-1)/8.0) AS BIGINT))) AS u(i)),
        |ranked AS (
        |  SELECT url, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY url, pos) AS rn
        |  FROM paras),
        |pd AS MATERIALIZED (
        |  SELECT url, count(*) AS n_paras,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(CASE WHEN rn = 1 THEN para END, ' '
        |      ORDER BY pos), '') AS tc
        |  FROM ranked GROUP BY url),
        |sw AS MATERIALIZED (
        |  SELECT url, i.i AS pos, substr(tc, i.i, 20) AS s
        |  FROM (SELECT url, tc, length(tc) AS n FROM pd) p,
        |       LATERAL (SELECT unnest(range(1, n - 20 + 2)) AS i) i),
        |sdup AS (SELECT s FROM sw GROUP BY s HAVING count(*) >= 2),
        |sdw AS (SELECT url, pos FROM sw WHERE s IN (SELECT s FROM sdup)),
        |smarked AS (
        |  SELECT url, pos,
        |    max(pos + 19) OVER (PARTITION BY url ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM sdw),
        |sisl AS (
        |  SELECT url, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY url ORDER BY pos) AS island
        |  FROM smarked),
        |scov AS (
        |  SELECT url, island, max(pos) + 19 - min(pos) + 1 AS len
        |  FROM sisl GROUP BY 1, 2),
        |sper AS (SELECT url, sum(len) AS dup_chars FROM scov GROUP BY 1),
        |spans AS MATERIALIZED (
        |  SELECT p.url,
        |    round(CASE WHEN length(p.tc) = 0 THEN 0.0
        |      ELSE coalesce(sp.dup_chars, 0) * 1.0 / length(p.tc) END, 6)
        |      AS dup_char_frac
        |  FROM pd p LEFT JOIN sper sp USING (url)),
        |gt AS (
        |  SELECT url, tc, regexp_split_to_array(trim(tc), '\s+') AS tk,
        |    regexp_split_to_array(lower(trim(tc)), '\s+') AS ltk
        |  FROM pd),
        |gb AS (
        |  SELECT url, tc,
        |    CASE WHEN length(trim(tc)) = 0 THEN 0 ELSE len(tk) END AS n, tk, ltk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |  FROM gt),
        |ga AS MATERIALIZED (
        |  SELECT url, n,
        |    round(CASE WHEN length(trim(tc)) = 0 THEN 0.0
        |      ELSE list_sum(list_transform(tk, t -> length(t))) * 1.0 / len(tk) END, 6) AS mean_wl,
        |    len(list_filter(ltk, t -> t IN ('the','a','an','and','or','of','to',
        |      'in','is','it','on','for','with','as','by','at'))) AS nstop,
        |    round(CASE WHEN n = 0 THEN 0.0 ELSE
        |      list_max(list_transform(list_distinct(tk),
        |        w -> len(list_filter(tk, t -> t = w)))) * 1.0 / n END, 6) AS top_word_frac,
        |    round(CASE WHEN n < 2 THEN 0.0
        |      ELSE 1.0 - len(list_distinct(bg)) * 1.0 / (n - 1) END, 6) AS dup_2gram_frac
        |  FROM gb)
        |SELECT p.url, p.tc AS text_curated,
        |  CAST(length(p.tc) AS BIGINT) AS byte_len,
        |  p.n_paras, p.n_kept, s.dup_char_frac, CAST(g.n AS BIGINT) AS n_words
        |FROM pd p JOIN spans s USING (url) JOIN ga g USING (url)
        |WHERE g.n >= 20 AND g.n <= 100000 AND g.mean_wl >= 3.0
        |  AND g.mean_wl <= 10.0 AND g.nstop >= 2 AND g.top_word_frac <= 0.2
        |  AND g.dup_2gram_frac <= 0.2 AND s.dup_char_frac <= 0.98""".stripMargin,
    "q78_remove_spans" ->
      // independent replay via substring EQUALITY (no hashes): windows
      // ranked by (doc, pos) within identical content; later occurrences
      // merge to islands; the rewrite stitches the kept segments with
      // ordered string_agg. BMP text ⇒ char positions agree with Spark's
      // UTF-16 positions (corpus contract, as in q65).
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, text, length(text) AS n FROM documents),
        |w AS MATERIALIZED (
        |  SELECT doc_id, i.i AS pos, substr(text, i.i, 20) AS s
        |  FROM d, LATERAL (SELECT unnest(range(1, n - 20 + 2)) AS i) i),
        |later AS MATERIALIZED (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY s
        |      ORDER BY doc_id, pos) AS rn FROM w)
        |  WHERE rn >= 2),
        |marked AS (
        |  SELECT doc_id, pos,
        |    max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM later),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM marked),
        |cov AS MATERIALIZED (
        |  SELECT doc_id, island, min(pos) AS s, max(pos) + 19 AS e
        |  FROM isl GROUP BY 1, 2),
        |ord AS (
        |  SELECT doc_id, s, e,
        |    lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS pe,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s) AS k
        |  FROM cov),
        |segs AS (
        |  SELECT o.doc_id, o.k, substr(d.text, o.pe + 1, o.s - o.pe - 1) AS seg
        |  FROM ord o JOIN d USING (doc_id)
        |  UNION ALL
        |  SELECT t.doc_id, 2147483647 AS k, substr(d.text, t.me + 1, d.n - t.me) AS seg
        |  FROM (SELECT doc_id, max(e) AS me FROM cov GROUP BY 1) t
        |  JOIN d USING (doc_id)),
        |rew AS MATERIALIZED (
        |  SELECT doc_id, string_agg(seg, '' ORDER BY k) AS text_rewritten
        |  FROM segs GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(r.text_rewritten, d.text) AS text_rewritten,
        |  CAST(d.n AS BIGINT) AS n_chars,
        |  CAST(d.n - length(coalesce(r.text_rewritten, d.text)) AS BIGINT)
        |    AS removed_chars
        |FROM d LEFT JOIN rew r USING (doc_id)""".stripMargin,
    "q77_mixture_sample" ->
      // exact replay: same per-domain counts → scale s = min(n/w) →
      // rate (w/n)·s, same 31-bit LCG coin; all arithmetic in DOUBLE
      // with identical operation order so the < comparison agrees
      """WITH c AS MATERIALIZED (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w(lang, wt) AS (VALUES ('en', CAST(0.4 AS DOUBLE)),
        |                       ('de', CAST(0.3 AS DOUBLE)),
        |                       ('fr', CAST(0.3 AS DOUBLE))),
        |sc AS (SELECT min(c.n / w.wt) AS s FROM c JOIN w USING (lang)),
        |r AS (SELECT w.lang, w.wt / c.n * sc.s AS rate
        |      FROM w JOIN c USING (lang) CROSS JOIN sc),
        |u AS (SELECT doc_id, lang,
        |  CAST((1103515245 * (doc_id % 2147483647) + 12345) % 2147483647
        |       AS DOUBLE) / 2147483647.0 AS u
        |  FROM documents)
        |SELECT u.doc_id, u.lang FROM u JOIN r USING (lang)
        |WHERE u.u < r.rate""".stripMargin,
    "q76_semdedup" ->
      // independent SemDeDup replay: seed assignment (argmax rounded
      // cosine, smaller seed on ties), in-cluster pair threshold on the
      // SAME rounded cosine, recursive-CTE component closure, per-group
      // keeper = min (cos_centroid, vec_id). Heavily-reused CTEs are
      // MATERIALIZED (plain CTEs inline exponentially in DuckDB).
      """WITH RECURSIVE
        |v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |seeds AS MATERIALIZED (
        |  SELECT vec_id AS sid, embedding AS svec FROM v WHERE vec_id % 37 = 0),
        |asg0 AS (
        |  SELECT v.vec_id, s.sid,
        |    round(list_sum(list_transform(range(1, len(v.embedding) + 1),
        |        i -> CAST(v.embedding[i] AS DOUBLE) * CAST(s.svec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(v.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(s.svec,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS c
        |  FROM v CROSS JOIN seeds s),
        |assigned AS MATERIALIZED (
        |  SELECT vec_id, sid AS cluster_id, c AS cos_centroid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY c DESC, sid ASC) AS rn FROM asg0)
        |  WHERE rn = 1),
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assigned a JOIN assigned b
        |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id
        |  WHERE round(list_sum(list_transform(range(1, len(va.embedding) + 1),
        |        i -> CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(va.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(vb.embedding,
        |            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) >= 0.4),
        |e AS MATERIALIZED (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION SELECT id_b AS src, id_a AS dst FROM pairs),
        |reach(id, lbl) AS (
        |  SELECT src AS id, src AS lbl FROM e
        |  UNION
        |  SELECT e.src AS id, r.lbl FROM e JOIN reach r ON e.dst = r.id),
        |comp AS MATERIALIZED (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
        |keepers AS MATERIALIZED (
        |  SELECT comp, vec_id AS keep_id FROM (
        |    SELECT c.comp, a.vec_id, row_number() OVER (PARTITION BY c.comp
        |      ORDER BY a.cos_centroid ASC, a.vec_id ASC) AS rn
        |    FROM comp c JOIN assigned a ON a.vec_id = c.id)
        |  WHERE rn = 1)
        |SELECT a.vec_id, CAST(a.cluster_id AS BIGINT) AS cluster_id,
        |  a.cos_centroid + 0.0 AS cos_centroid,
        |  (c.id IS NULL OR a.vec_id = k.keep_id) AS keep
        |FROM assigned a
        |LEFT JOIN comp c ON c.id = a.vec_id
        |LEFT JOIN keepers k ON k.comp = c.comp""".stripMargin,
    "q40_injection_sweep" ->
      // mirrors Injection.depthSweep exactly: same LCG picks (31-bit safe
      // arithmetic), same median stack, same p16/p84 envelope
      """WITH prof AS (
        |  SELECT event_id // 81 AS exp,
        |    (CAST(event_id % 81 AS DOUBLE) - 40.0) / 10.0 AS x,
        |    (CAST(((event_id // 81) * 31 + (event_id % 81) * 17) % 13 AS DOUBLE) - 6.0) / 100.0 AS y
        |  FROM events
        |  WHERE event_id < 810 AND (event_id // 81) % 3 > 0),
        |depths AS (SELECT * FROM (VALUES (0.0),(0.01),(0.02),(0.05),(0.10),(0.20)) AS d(depth)),
        |inj AS (SELECT d.depth, p.exp, p.x,
        |          p.y - d.depth * exp(-0.5 * p.x * p.x) AS y_inj
        |        FROM prof p CROSS JOIN depths d),
        |stacked AS (SELECT depth, x, median(y_inj) AS med FROM inj GROUP BY 1, 2),
        |rec AS (SELECT depth, -min(med) AS rec FROM stacked
        |        WHERE abs(x) <= 1.5 GROUP BY 1),
        |exps AS (SELECT exp, row_number() OVER (ORDER BY exp) - 1 AS it_idx
        |         FROM (SELECT DISTINCT exp FROM prof)),
        |n AS (SELECT count(*) AS n_it FROM exps),
        |picks AS (SELECT b.boot, e.it_idx AS slot,
        |            ((1103515245 * (b.boot * 131071 + e.it_idx) + 12345) % 2147483647)
        |              % (SELECT n_it FROM n) AS pick
        |          FROM exps e
        |          CROSS JOIN (SELECT unnest(range(64)) AS boot) b),
        |bprof AS (SELECT i.depth, pk.boot, pk.slot, i.x, i.y_inj
        |          FROM picks pk
        |          JOIN exps e ON e.it_idx = pk.pick
        |          JOIN inj i ON i.exp = e.exp),
        |bstack AS (SELECT depth, boot, x, median(y_inj) AS med
        |           FROM bprof GROUP BY 1, 2, 3),
        |brec AS (SELECT depth, boot, -min(med) AS rec_b FROM bstack
        |         WHERE abs(x) <= 1.5 GROUP BY 1, 2),
        |ci AS (SELECT depth, quantile_cont(rec_b, 0.16) AS lo,
        |         quantile_cont(rec_b, 0.84) AS hi FROM brec GROUP BY 1)
        |SELECT round(r.depth * 100.0, 6) AS inj_depth_percent,
        |  round(r.rec * 100.0, 6) AS rec_depth_percent,
        |  round(ci.lo * 100.0, 6) AS rec_lo_percent,
        |  round(ci.hi * 100.0, 6) AS rec_hi_percent
        |FROM rec r JOIN ci USING (depth)""".stripMargin,
    "q58_gopher_filters" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS tk,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS ltk
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n,
        |    tk, ltk,
        |    list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, n,
        |    round(CASE WHEN length(trim(text)) = 0 THEN 0.0
        |      ELSE list_sum(list_transform(tk, t -> length(t))) * 1.0 / len(tk) END, 6) AS mean_wl,
        |    len(list_filter(ltk, t -> t IN ('the','a','an','and','or','of','to',
        |      'in','is','it','on','for','with','as','by','at'))) AS nstop,
        |    round(CASE WHEN n = 0 THEN 0.0 ELSE
        |      list_max(list_transform(list_distinct(tk),
        |        w -> len(list_filter(tk, t -> t = w)))) * 1.0 / n END, 6) AS top_word_frac,
        |    round(CASE WHEN n < 2 THEN 0.0
        |      ELSE 1.0 - len(list_distinct(bg)) * 1.0 / (n - 1) END, 6) AS dup_2gram_frac
        |  FROM base)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_words, mean_wl,
        |  CAST(nstop AS BIGINT) AS n_stop, top_word_frac, dup_2gram_frac,
        |  (n >= 30 AND n <= 100000) AS flag_n_words,
        |  (mean_wl >= 3.0 AND mean_wl <= 10.0) AS flag_word_len,
        |  (nstop >= 2) AS flag_stopwords,
        |  (top_word_frac <= 0.2 AND dup_2gram_frac <= 0.2) AS flag_repetition,
        |  (n >= 30 AND n <= 100000 AND mean_wl >= 3.0 AND mean_wl <= 10.0
        |    AND nstop >= 2 AND top_word_frac <= 0.2 AND dup_2gram_frac <= 0.2) AS keep
        |FROM agg""".stripMargin,
    "q59_cell_compact" -> compactCascadeSql,
    "q74_recency_rollup" ->
      """WITH t0 AS (SELECT max(epoch_us(ts)) AS t0 FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  round(sum(value * exp(-(t0.t0 - epoch_us(ts))
        |    / (7.0 * 86400.0 * 1e6))), 4) AS decayed_value,
        |  round(sum(exp(-(t0.t0 - epoch_us(ts))
        |    / (7.0 * 86400.0 * 1e6))), 4) AS decayed_count
        |FROM events CROSS JOIN t0
        |GROUP BY event_type""".stripMargin,
    "q73_incremental_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, n_chars,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, n_chars,
        |    list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |      ELSE list_transform(range(1, len(t) - 1), i ->
        |        concat(t[i], ' ', t[i+1], ' ', t[i+2])) END) AS g
        |  FROM toks),
        |inc AS (SELECT * FROM grams WHERE doc_id % 3 <> 0),
        |cor AS (SELECT * FROM grams WHERE doc_id % 3 = 0),
        |rejected AS (
        |  SELECT DISTINCT i.doc_id
        |  FROM inc i JOIN cor c ON
        |    len(list_intersect(i.g, c.g)) * 1.0
        |      / (len(i.g) + len(c.g) - len(list_intersect(i.g, c.g))) >= 0.7)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM inc WHERE doc_id NOT IN (SELECT doc_id FROM rejected)""".stripMargin,
    "q72_window_anomaly" ->
      """WITH w AS (
        |  SELECT event_id, event_type, value,
        |    count(*) OVER tw AS n_window,
        |    avg(value) OVER tw AS mu,
        |    stddev_pop(value) OVER tw AS sd
        |  FROM events
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
        |SELECT event_id, event_type, n_window,
        |  round(mu, 6) AS win_mean,
        |  round(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 6) AS z
        |FROM w""".stripMargin,
    "q71_normalize" ->
      """WITH messy AS (
        |  SELECT doc_id,
        |    chr(9) || ' ' ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN regexp_replace(text, ' ', '  ', 'g') ELSE text END ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN chr(13) || chr(10) || ' tail  end' ELSE ' ' END AS m
        |  FROM documents)
        |SELECT doc_id, CAST(length(m) AS BIGINT) AS n_raw,
        |  trim(regexp_replace(regexp_replace(m,
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g')) AS norm,
        |  CAST(length(trim(regexp_replace(regexp_replace(m,
        |    '[\x00-\x1f\x7f]', ' ', 'g'), '\s+', ' ', 'g'))) AS BIGINT) AS n_norm
        |FROM messy""".stripMargin,
    "q69_polygon_stats" ->
      s"""WITH v(admin_id, name, i, x, y) AS (VALUES
        |    $polygonVerticesSql),
    |vd AS (
        |  SELECT CAST(admin_id AS BIGINT) AS admin_id, name, i,
        |    CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y FROM v),
        |seg AS (
        |  SELECT admin_id, name, x, y,
        |    lead(x) OVER (PARTITION BY admin_id ORDER BY i) AS nx,
        |    lead(y) OVER (PARTITION BY admin_id ORDER BY i) AS ny
        |  FROM vd),
        |s AS (
        |  SELECT admin_id, name,
        |    sum(x * ny - nx * y) AS twoa,
        |    sum((x + nx) * (x * ny - nx * y)) AS sx,
        |    sum((y + ny) * (x * ny - nx * y)) AS sy,
        |    sum(sqrt((nx - x) * (nx - x) + (ny - y) * (ny - y))) AS per
        |  FROM seg WHERE nx IS NOT NULL GROUP BY 1, 2)
        |SELECT admin_id, name,
        |  round(abs(twoa / 2), 6) AS area,
        |  round(sx / (3 * twoa), 6) AS cx,
        |  round(sy / (3 * twoa), 6) AS cy,
        |  round(per, 6) AS perimeter,
        |  (twoa > 0) AS is_ccw
        |FROM s""".stripMargin,
    "q68_dsir_weights" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
        |  FROM documents),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, lang, b.w1, b.w2 FROM (
        |    SELECT doc_id, lang, unnest(CASE WHEN len(t) < 2 THEN []
        |      ELSE list_transform(range(1, len(t)),
        |        i -> {'w1': t[i], 'w2': t[i+1]}) END) AS b
        |    FROM base)),
        |uni_c AS MATERIALIZED (
        |  SELECT w1, count(*) AS uc FROM (
        |    SELECT unnest(t) AS w1 FROM base) GROUP BY 1),
        |v_c AS (SELECT count(*) AS vocab FROM uni_c),
        |bic_c AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS bc FROM bg GROUP BY 1, 2),
        |uni_t AS MATERIALIZED (
        |  SELECT w1, count(*) AS uc FROM (
        |    SELECT unnest(t) AS w1 FROM base WHERE lang = 'en') GROUP BY 1),
        |v_t AS (SELECT count(*) AS vocab FROM uni_t),
        |bic_t AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS bc FROM bg WHERE lang = 'en' GROUP BY 1, 2),
        |per_doc AS MATERIALIZED (
        |  SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT p.doc_id,
        |    CAST(sum(p.k) AS BIGINT) AS n_bigrams,
        |    sum(p.k * ln((coalesce(bt.bc, 0) + 0.5)
        |      / (coalesce(ut.uc, 0) + 0.5 * v_t.vocab))) AS slp_t,
        |    sum(p.k * ln((coalesce(bc2.bc, 0) + 0.5)
        |      / (coalesce(uc2.uc, 0) + 0.5 * v_c.vocab))) AS slp_c
        |  FROM per_doc p
        |  LEFT JOIN bic_t bt ON p.w1 = bt.w1 AND p.w2 = bt.w2
        |  LEFT JOIN uni_t ut ON p.w1 = ut.w1
        |  LEFT JOIN bic_c bc2 ON p.w1 = bc2.w1 AND p.w2 = bc2.w2
        |  LEFT JOIN uni_c uc2 ON p.w1 = uc2.w1
        |  CROSS JOIN v_t CROSS JOIN v_c
        |  GROUP BY 1),
        |rounded AS (
        |  SELECT d.doc_id,
        |    coalesce(s.n_bigrams, 0) AS n_bigrams,
        |    round(CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0
        |      ELSE s.slp_t / s.n_bigrams END, 6) AS lp_target,
        |    round(CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0
        |      ELSE s.slp_c / s.n_bigrams END, 6) AS lp_corpus
        |  FROM documents d LEFT JOIN sc s USING (doc_id))
        |SELECT doc_id, n_bigrams, lp_target, lp_corpus,
        |  round(lp_target - lp_corpus, 6) AS log_weight,
        |  (round(lp_target - lp_corpus, 6) >= 0) AS selected
        |FROM rounded""".stripMargin,
    "q67_perplexity" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
        |  FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT w1, count(*) AS uc FROM (
        |    SELECT unnest(t) AS w1 FROM base) GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, b.w1, b.w2 FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(t) < 2 THEN []
        |      ELSE list_transform(range(1, len(t)),
        |        i -> {'w1': t[i], 'w2': t[i+1]}) END) AS b
        |    FROM base)),
        |bic AS MATERIALIZED (
        |  SELECT w1, w2, count(*) AS bc FROM bg GROUP BY 1, 2),
        |per_doc AS (
        |  SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
        |scored AS (
        |  SELECT p.doc_id, CAST(sum(p.k) AS BIGINT) AS n_bigrams,
        |    sum(p.k * ln((bic.bc + 0.5) / (uni.uc + 0.5 * v.vocab))) AS slp
        |  FROM per_doc p
        |  JOIN bic ON p.w1 = bic.w1 AND p.w2 = bic.w2
        |  JOIN uni ON p.w1 = uni.w1
        |  CROSS JOIN v
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(s.n_bigrams, 0) AS n_bigrams,
        |  round(CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0
        |    ELSE s.slp / s.n_bigrams END, 6) AS avg_logprob,
        |  round(CASE WHEN coalesce(s.n_bigrams, 0) = 0 THEN 0.0
        |    ELSE exp(-(s.slp / s.n_bigrams)) END, 4) AS ppl
        |FROM documents d LEFT JOIN scored s USING (doc_id)""".stripMargin,
    "q66_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
        |      IS NULL OR epoch(ts) - lag(epoch(ts))
        |        OVER (PARTITION BY user_id ORDER BY ts) > 1800
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |assigned AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
        |FROM assigned
        |GROUP BY 1, 2""".stripMargin,
    "q65_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents),
        |w AS MATERIALIZED (
        |  SELECT doc_id, i.i AS pos, substr(text, i.i, 20) AS s
        |  FROM d, LATERAL (SELECT unnest(range(1, n - 20 + 2)) AS i) i),
        |dup AS MATERIALIZED (
        |  SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
        |dw AS (
        |  SELECT doc_id, pos FROM w WHERE s IN (SELECT s FROM dup)),
        |marked AS (
        |  SELECT doc_id, pos,
        |    max(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM dw),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(CASE WHEN prev_end IS NULL OR pos > prev_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM marked),
        |cov AS (
        |  SELECT doc_id, island,
        |    max(pos) + 19 - min(pos) + 1 AS len, count(*) AS nw
        |  FROM isl GROUP BY 1, 2),
        |per_doc AS (
        |  SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_chars,
        |    CAST(sum(nw) AS BIGINT) AS dup_windows
        |  FROM cov GROUP BY 1)
        |SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_chars,
        |  CAST(greatest(d.n - 20 + 1, 0) AS BIGINT) AS n_windows,
        |  coalesce(p.dup_windows, 0) AS dup_windows,
        |  coalesce(p.dup_chars, 0) AS dup_chars,
        |  round(CASE WHEN d.n = 0 THEN 0.0
        |    ELSE coalesce(p.dup_chars, 0) * 1.0 / d.n END, 6) AS dup_char_frac
        |FROM d LEFT JOIN per_doc p USING (doc_id)""".stripMargin,
    "q64_incremental_dedup" ->
      """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 3 = 0),
        |newdocs AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
        |novel AS (
        |  SELECT * FROM newdocs
        |  WHERE text NOT IN (SELECT text FROM corpus))
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM novel)
        |WHERE rn = 1""".stripMargin,
    "q62_hotspot" ->
      s"""WITH pts AS ($derivedPointsSql),
        |cells AS (
        |  SELECT CAST(floor((lon + 180.0) / 360.0 * 64.0) AS BIGINT) AS x6,
        |    CAST(floor((1.0 - ln(tan(pi() / 4.0 + radians(lat) / 2.0)) / pi()) / 2.0 * 64.0) AS BIGINT) AS y6,
        |    count(*) AS n
        |  FROM pts GROUP BY 1, 2),
        |offs AS (
        |  SELECT dx.d AS dx, dy.d AS dy
        |  FROM (SELECT unnest(range(-1, 2)) AS d) dx,
        |       (SELECT unnest(range(-1, 2)) AS d) dy),
        |contrib AS (
        |  SELECT c.x6 + o.dx AS x, c.y6 + o.dy AS y, c.n FROM cells c, offs o),
        |sums AS (
        |  SELECT x, y, CAST(sum(n) AS BIGINT) AS s, count(*) AS w
        |  FROM contrib GROUP BY 1, 2),
        |stats AS (
        |  SELECT avg(n * 1.0) AS mu, stddev_pop(n * 1.0) AS sd,
        |    count(*) AS nn FROM cells)
        |SELECT c.x6, c.y6, c.n, round(s * 1.0, 6) AS ring_sum, w AS ring_n,
        |  round(CASE WHEN nn > 1 AND sd > 0
        |    THEN (s - w * mu) / (sd * sqrt((nn * w * 1.0 - w * w) / (nn - 1)))
        |    ELSE 0.0 END, 6) AS z
        |FROM cells c
        |JOIN sums ON c.x6 = sums.x AND c.y6 = sums.y
        |CROSS JOIN stats""".stripMargin,
    "q61_seq_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tok
        |  FROM documents)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 2048.0) AS BIGINT) AS bin
        |FROM d""".stripMargin,
    "q60_bbox_filter" ->
      s"""WITH pts AS ($derivedPointsSql)
        |SELECT doc_id, round(lon, 6) AS lon_r, round(lat, 6) AS lat_r
        |FROM pts
        |WHERE lon BETWEEN -30.0 AND 20.0 AND lat BETWEEN 10.0 AND 50.0""".stripMargin,
    "q55_url_dedup" ->
      s"""WITH synth AS (
        |  SELECT doc_id,
        |      $synthUrlSql AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]*[^?#]*\\?([^#]*)', 1) AS query0
        |  FROM synth),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    regexp_replace(
        |      CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
        |           WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
        |           ELSE hostport END,
        |      '^www\\.', '') AS host,
        |    CASE WHEN path0 = '' THEN '/'
        |         WHEN length(path0) > 1 AND path0 LIKE '%/' THEN substr(path0, 1, length(path0) - 1)
        |         ELSE path0 END AS path,
        |    array_to_string(list_sort(list_filter(string_split(query0, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS query
        |  FROM parts)
        |SELECT scheme || '://' || host || path ||
        |    CASE WHEN query <> '' THEN '?' || query ELSE '' END AS url_canon,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM norm GROUP BY 1""".stripMargin,
    "q56_paragraph_dedup" ->
      """WITH paras AS (
        |  SELECT doc_id, u.i AS pos,
        |    array_to_string(w[u.i*8+1 : u.i*8+8], ' ') AS para
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
        |       unnest(generate_series(0, CAST(floor((len(w)-1)/8.0) AS BIGINT))) AS u(i)),
        |ranked AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
        |  FROM paras)
        |SELECT doc_id, count(*) AS n_paras,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN para END, ' ' ORDER BY pos), '') AS text_dedup
        |FROM ranked GROUP BY doc_id""".stripMargin,
    "q57_domain_stats" ->
      s"""WITH synth AS (
        |  SELECT doc_id, n_chars,
        |      $synthUrlSql AS url
        |  FROM documents),
        |hosts AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)),
        |      ':[0-9]+$$', ''), '^www\\.', '') AS host
        |  FROM synth)
        |SELECT host, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM hosts GROUP BY host""".stripMargin
    // rows-only (custom 64-bit hash/LSH/MVT bytes — not SQL-expressible):
    // q15_cell_encode, q17_polygon_tiles, q18_vectorize, q23_fingerprint,
    // q24_minhash_pairs, q25_simhash_pairs, q28_embedding_pairs,
    // q35_bootstrap, q51_multimodal
  )
}

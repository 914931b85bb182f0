package graft.tools

import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Regenerates graft.OracleFixtures from a Verify dump: for every query
  * whose output is not ANSI-SQL-derivable (custom 64-bit cell ids, LSH
  * pair lists, MVT byte lengths, bootstrap envelopes), the driver's
  * correctness gate gets a pinned DuckDB VALUES table of the sf0.01
  * result (VERDICT r1 item 4). The REAL verification of these operators
  * is the ScalaTest parity/property suite (brute-force recall, byte
  * round-trips, hamming/cosine re-checks); the fixture makes the pinned
  * result diff-detectable by the driver.
  *
  * Usage: runMain graft.tools.FixtureGen <verifyOutDir> [outFile]
  * (run Verify at sf0.01 first; rerun this after any operator change).
  */
object FixtureGen {
  val FixtureQueries: Seq[String] = Seq(
    "q15_cell_encode", "q17_polygon_tiles", "q18_vectorize",
    "q23_fingerprint", "q24_minhash_pairs", "q25_simhash_pairs",
    "q28_embedding_pairs", "q29_ivf_topk", "q35_bootstrap",
    "q49_pca_project", "q51_multimodal", "q52_geohash",
    "q63_quality_classifier", "q70_hll_distinct", "q75_bpe_merges",
    "q87_media_nn", "q100_track_simplify", "q103_cluster_hulls",
    "q106_grid_hulls", "q107_hull_admin_overlay", "q110_clip_area",
    "q111_zonal_overlap")

  private def duckType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case other => throw new IllegalArgumentException(s"fixture type $other")
  }

  private def sqlLit(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: Double =>
      if (d.isNaN) "CAST('nan' AS DOUBLE)"
      else String.format(Locale.ROOT, "%s", java.lang.Double.toString(d))
    case f: Float => java.lang.Float.toString(f)
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val verifyDir = args(0)
    val outFile = if (args.length > 1) args(1)
      else "src/main/scala/graft/OracleFixtures.scala"
    val spark = graft.Main.session()

    val entries = FixtureQueries.map { name =>
      val df = spark.read.parquet(s"$verifyDir/$name")
      val schema = df.schema
      val cols = schema.fields.zipWithIndex.map { case (f, i) =>
        s"CAST(c$i AS ${duckType(f.dataType)}) AS ${f.name}"
      }.mkString(", ")
      val names = schema.fields.indices.map(i => s"c$i").mkString(", ")
      // deterministic row order (cosmetic; the driver sorts before hashing)
      val rows = df.collect()
        .map(r => schema.fields.indices.map(i => sqlLit(r.get(i))).mkString("(", ", ", ")"))
        .sorted
      name -> (s"SELECT $cols FROM (VALUES\n  ", rows.toSeq, s") AS t($names)")
    }
    spark.stop()

    def scalaStr(s: String): String =
      "\"\"\"" + s.replace("\"\"\"", "\\\"\\\"\\\"") + "\"\"\""
    // JVM string constants cap at 64 KB — chunk the VALUES rows and
    // concatenate at class init
    def chunked(rows: Seq[String]): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val sb = new StringBuilder
      rows.foreach { r =>
        if (sb.nonEmpty && sb.length + r.length > 40000) {
          out += sb.toString; sb.clear()
        }
        if (sb.nonEmpty) sb.append(",\n  ")
        sb.append(r)
      }
      if (sb.nonEmpty) out += sb.toString
      out.toSeq
    }
    val body = entries.map { case (k, (head, rows, tail)) =>
      val chunks = chunked(rows).map(scalaStr).mkString(",\n      ")
      s"""    "$k" -> mk(${scalaStr(head)},\n      Seq($chunks),\n      ${scalaStr(tail)})"""
    }.mkString(",\n")
    val src =
      s"""package graft
         |
         |/** GENERATED by graft.tools.FixtureGen from a sf0.01 Verify dump —
         |  * do not edit by hand; regenerate after any operator change:
         |  *   runMain graft.Verify /root/testdata/sf0.01 /tmp/graft-verify
         |  *   runMain graft.tools.FixtureGen /tmp/graft-verify
         |  * Pinned DuckDB VALUES oracles for queries whose outputs are not
         |  * ANSI-SQL-derivable; real verification lives in the ScalaTest
         |  * parity/property suite. Valid for the sf0.01 tables only (the
         |  * driver's correctness scale).
         |  */
         |object OracleFixtures {
         |  private def mk(head: String, rowChunks: Seq[String], tail: String): String =
         |    head + rowChunks.mkString(",\\n  ") + tail
         |
         |  val sql: Map[String, String] = Map(
         |$body)
         |}
         |""".stripMargin
    Files.writeString(Paths.get(outFile), src)
    println(s"[fixturegen] wrote ${entries.length} fixtures to $outFile")
  }
}

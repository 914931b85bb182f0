package graft

import org.scalatest.funsuite.AnyFunSuite

/** `--stream` argument parsing: tile parameters must resolve through
  * the same parser as batch mode (the r3 parameter-drift gap).
  */
class StreamArgsSpec extends AnyFunSuite {
  test("legacy positional shape keeps working") {
    val (cfg, watch) = Main.parseStreamArgs(
      Array("--stream", "/tmp/t", "/tmp/t/in", "3,7"))
    assert(cfg.outDir === "/tmp/t")
    assert(watch === "/tmp/t/in")
    assert(cfg.zooms === Seq(3, 7))
    // unspecified tile parameters = the SAME defaults batch mode uses
    assert(cfg.tileCap === GraftConfig().tileCap)
    assert(cfg.s2Level === GraftConfig().s2Level)
  }

  test("--config carries every tile parameter into stream mode") {
    val f = java.nio.file.Files.createTempFile("graft-cfg", ".json")
    java.nio.file.Files.writeString(f,
      """{"outDir":"/tmp/cfged","zooms":[5,9],"tileCap":128,"s2Level":14,"hexRes":6,"coverRes":3}""")
    val (cfg, watch) = Main.parseStreamArgs(
      Array("--stream", "--config", f.toString))
    assert(cfg.outDir === "/tmp/cfged")
    assert(cfg.zooms === Seq(5, 9))
    assert(cfg.tileCap === 128 && cfg.s2Level === 14 && cfg.hexRes === 6)
    assert(watch === "/tmp/cfged/incoming")
    // an explicit watch dir rides as the positional next to --config
    val (_, w2) = Main.parseStreamArgs(
      Array("--stream", "--config", f.toString, "/elsewhere/in"))
    assert(w2 === "/elsewhere/in")
  }
}

/** `Main --e2e`: the full product story (pages → curated corpus → tiles)
  * as two committed lineage roots with healthy QA, idempotent under
  * `--resume` (curate's fp anti-join + the tile anti-join).
  */
class E2eSpec extends AnyFunSuite {
  import SharedSpark._
  import graft.plans.QaReport

  test("curate + tile roots commit and report healthy; resume rerun adds nothing") {
    val out = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val cfg = GraftConfig(outDir = out, nPages = 600, zooms = Seq(4, 8))
    val (c1, t1) = Main.e2e(spark, cfg)
    assert(c1.rows > 0 && t1.rows > 0)
    // curation bit: the synth corpus carries exact dups by construction
    assert(c1.rows < 600, s"curate kept ${c1.rows} of 600")
    val vsC = QaReport.verdicts(spark, s"$out/curated")
    assert(vsC.forall(_.ok), QaReport.summary(vsC))
    val vsT = QaReport.verdicts(spark, s"$out/tiles")
    assert(vsT.forall(_.ok), QaReport.summary(vsT))

    // identical input rerun with --resume: both stages commit ZERO new
    // rows (nothing re-curated, no tile re-encoded) and stay healthy
    val (c2, t2) = Main.e2e(spark, cfg.copy(resume = true))
    assert(c2.rows === 0L, s"resume re-curated ${c2.rows} docs")
    assert(t2.rows === 0L, s"resume re-encoded ${t2.rows} tiles")
    val vsC2 = QaReport.verdicts(spark, s"$out/curated")
    assert(vsC2.forall(_.ok), QaReport.summary(vsC2))
    val vsT2 = QaReport.verdicts(spark, s"$out/tiles")
    assert(vsT2.forall(_.ok), QaReport.summary(vsT2))
  }
}

/** `Main --export`: the committed curated table cut into token-balanced
  * shard directories with a manifest — q91's operator as the product's
  * last-mile surface.
  */
class ExportSpec extends AnyFunSuite {
  import SharedSpark._

  test("export shards balance token mass, conserve docs, rerun identically") {
    val out = java.nio.file.Files.createTempDirectory("graft-export").toString
    val root = s"$out/curated"
    val pages = graft.sources.SynthPages.pagesDF(spark, 500)
    val snap = graft.operators.Curate.run(pages, root, resume = false)
    val stats = graft.operators.Curate.exportShards(spark, root, s"$out/exp", 4)
    assert(stats.map(_.shard) === Seq(0L, 1L, 2L, 3L))
    assert(stats.map(_.docs).sum === snap.rows)
    // token balance: every shard within one max-document of ideal
    val toks = stats.map(_.tokens)
    val maxDoc = spark.read.parquet(s"$out/exp/data")
      .agg(org.apache.spark.sql.functions.max("n_tok")).head().getLong(0)
    val ideal = toks.sum.toDouble / 4
    toks.foreach(t => assert(math.abs(t - ideal) <= maxDoc, s"$t vs $ideal"))
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "exp", "manifest.json")))
    assert(mf.startsWith("""[{"shard":0,"""), mf.take(60))
    // deterministic content-fp assignment: a rerun exports identically
    val stats2 = graft.operators.Curate.exportShards(spark, root, s"$out/exp2", 4)
    assert(stats2 === stats)
  }
}

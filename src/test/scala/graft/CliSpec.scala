package graft

import java.nio.file.{Files, Path}

import graft.cli.Main

/** CLI surface tests: arg parsing (new + legacy shapes, cli.py:31-111) and
  * the full git-worktree diff lifecycle reproducing the reference's e2e
  * golden values (test_postgres_e2e.py:301-307). */
class CliSpec extends SparkTestBase {

  test("arg parsing covers the reference flag surface") {
    val a = Main.parseArgs(Seq("diff", "dim_customers", "--keys", "customer_id,name",
      "--base", "main", "--head", "feature/x", "--where", "id > 0",
      "--sample", "5", "--format", "json", "--keep-schemas"))
    assert(a.model == "dim_customers")
    assert(a.keys == Seq("customer_id", "name"))
    assert(a.baseRef == "main" && a.headRef == "feature/x")
    assert(a.where.contains("id > 0") && a.sample == 5)
    assert(a.format == "json" && a.keepSnapshots)
  }

  test("legacy invocation shape (no subcommand) still resolves to diff") {
    val a = Main.parseArgs(Seq("dim_customers", "--keys", "id"))
    assert(a.command == "diff" && a.model == "dim_customers" && a.keys == Seq("id"))
  }

  test("diff-tables parses paths; bad flags/formats rejected") {
    val a = Main.parseArgs(Seq("diff-tables", "/tmp/a", "/tmp/b", "--keys", "k"))
    assert(a.command == "diff-tables" && a.basePath == "/tmp/a" && a.headPath == "/tmp/b")
    intercept[IllegalArgumentException](Main.parseArgs(Seq("diff", "m", "--format", "xml")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("diff", "m", "--bogus")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("diff")))
  }

  test("--no-col-stats skips profile computation") {
    val a = Main.parseArgs(Seq("diff", "m", "--no-col-stats"))
    assert(!a.colStats)
    assert(Main.parseArgs(Seq("diff", "m", "--col-stats")).colStats)
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val r = graft.engine.DiffEngine.diff(df, df, keys = Seq("id"), computeProfiles = false)
    assert(r.columnProfiles.isEmpty)
    assert(r.rowcounts.base == 2 && r.rowDiff.get.changed == 0)
    // duplicate keys break the PK contract: the full-outer join multiplies
    // rows (2 base x 3 head = 6 joined for key 1), so the hash-count
    // shortcut must detect that and fall back to exact per-side counts
    val dupBase = Seq((1, "a"), (1, "a2"), (2, "b")).toDF("id", "v")
    val dupHead = Seq((1, "x"), (1, "y"), (1, "z")).toDF("id", "v")
    val rd = graft.engine.DiffEngine.diff(dupBase, dupHead, keys = Seq("id"),
      computeProfiles = false)
    assert(rd.rowcounts.base == 3 && rd.rowcounts.head == 3)
  }

  test("--drift computes per-value TV contributions and renders only when asked") {
    val a = Main.parseArgs(Seq("diff", "m", "--drift", "status,region"))
    assert(a.driftCols == Seq("status", "region"))
    import spark.implicits._
    val base = Seq((1, "a"), (2, "a"), (3, "a"), (4, "b")).toDF("id", "s")
    val head = Seq((1, "a"), (2, "b"), (3, "b"), (4, "c")).toDF("id", "s")
    val r = graft.engine.DiffEngine.diff(base, head, keys = Seq("id"))
      .copy(drift = Some(Seq("s" -> Seq(
        graft.model.DriftRow("a", 3, 1, 8), graft.model.DriftRow("b", 1, 2, 4)))))
    val json = graft.formatters.JsonFormatter.render(r)
    assert(json.contains("\"drift\"") && json.contains("\"tv_contrib\": 8"))
    assert(graft.formatters.ConsoleFormatter.render(r).contains("Value drift: s"))
    assert(graft.formatters.MarkdownFormatter.render(r).contains("## Value drift"))
    // absent when not requested — reference-shaped output stays byte-stable
    assert(!graft.formatters.JsonFormatter.render(r.copy(drift = None)).contains("drift"))
    // end-to-end through the engine-only entry point
    val dir = Files.createTempDirectory("graft_drift_")
    base.write.mode("overwrite").parquet(dir.resolve("b").toString)
    head.write.mode("overwrite").parquet(dir.resolve("h").toString)
    val res = Main.runDiffTables(spark, Main.parseArgs(Seq("diff-tables",
      dir.resolve("b").toString, dir.resolve("h").toString,
      "--keys", "id", "--drift", "s", "--format", "json")))
    val ds = res.drift.get.toMap.apply("s")
    assert(ds.find(_.value == "a").get == graft.model.DriftRow("a", 3, 1, 8))
    // --where filters the drift frames too, same as the diff itself
    val resW = Main.runDiffTables(spark, Main.parseArgs(Seq("diff-tables",
      dir.resolve("b").toString, dir.resolve("h").toString,
      "--keys", "id", "--drift", "s", "--where", "id <= 3", "--format", "json")))
    val dsW = resW.drift.get.toMap.apply("s") // base a:3; head a:1 b:2 -> Nb=3 Nh=3
    assert(dsW.find(_.value == "a").get == graft.model.DriftRow("a", 3, 1, 6))
    assert(dsW.find(_.value == "c").isEmpty) // id=4 row filtered out of head
  }

  test("--drift-numeric bins a numeric column and renders only when asked") {
    val a = Main.parseArgs(Seq("diff", "m", "--drift-numeric", "amount,qty"))
    assert(a.driftNumericCols == Seq("amount", "qty"))
    import spark.implicits._
    // range 0..19, 20 bins -> bin == value; head shifts mass from 0 to 19
    val base = Seq((1, 0L), (2, 0L), (3, 19L)).toDF("id", "v")
    val head = Seq((1, 0L), (2, 19L), (3, 19L)).toDF("id", "v")
    val dir = Files.createTempDirectory("graft_driftnum_")
    base.write.mode("overwrite").parquet(dir.resolve("b").toString)
    head.write.mode("overwrite").parquet(dir.resolve("h").toString)
    val res = Main.runDiffTables(spark, Main.parseArgs(Seq("diff-tables",
      dir.resolve("b").toString, dir.resolve("h").toString,
      "--keys", "id", "--drift-numeric", "v", "--format", "json")))
    val bins = res.driftNumeric.get.toMap.apply("v")
    // base 0:2 19:1, head 0:1 19:2, Nb=Nh=3 -> tv = |2*3-1*3| = 3 each
    assert(bins.find(_.value == "0").get == graft.model.DriftRow("0", 2, 1, 3))
    assert(bins.find(_.value == "19").get == graft.model.DriftRow("19", 1, 2, 3))
    val json = graft.formatters.JsonFormatter.render(res)
    assert(json.contains("\"drift_numeric\"") && json.contains("\"bin\": 0"))
    assert(graft.formatters.ConsoleFormatter.render(res).contains("Numeric drift: v"))
    assert(graft.formatters.MarkdownFormatter.render(res).contains("## Numeric drift (binned)"))
    // absent when not requested
    assert(!graft.formatters.JsonFormatter.render(res.copy(driftNumeric = None))
      .contains("drift_numeric"))
  }

  test("curate subcommand: parquet in, sharded jsonl out, one-line summary") {
    val a = Main.parseArgs(Seq("curate", "/in", "/out",
      "--min-words", "5", "--span-words", "3", "--max-span-docs", "1",
      "--budget", "32", "--shards", "2"))
    assert(a.command == "curate" && a.basePath == "/in" && a.headPath == "/out")
    assert(a.minWords == 5 && a.spanWords == 3 && a.maxSpanDocs == 1L &&
      a.budget == 32L && a.shards == 2)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_curate_")
    // docs: 1 and 2 differ only in their (unique) 3-word banners around a
    // shared 12-word body -> body repeated in 2 docs > maxSpanDocs=1 ->
    // scrubbed; both reduce to banners (3 tokens each, distinct -> both kept)
    val body = "the a common words repeated across both documents here now ok fine"
    val docs = Seq(
      (1L, s"one two three $body"),
      (2L, s"four five six $body"),
      (3L, "the a completely standalone document with its own original words")
    ).toDF("doc_id", "text")
    val in = dir.resolve("in").toString
    docs.write.mode("overwrite").parquet(in)
    val out = dir.resolve("out").toString
    Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out,
      "--min-words", "5", "--span-words", "3", "--max-span-docs", "1", "--budget", "8")))
    // re-read the export: three surviving docs with clean_text + bin layout
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("clean_text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("bin_id", org.apache.spark.sql.types.LongType)))
    val back = graft.engine.CorpusIO.partitionCorrupt(
      graft.engine.CorpusIO.readJsonl(spark, out, schema))._1
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(1L)._1 == "one two three" && back(1L)._2 == 3L)
    assert(back(2L)._1 == "four five six")
    assert(back(3L)._2 == 10L) // standalone doc unscathed
    // packing: starts 0,3,6 at budget 8 -> doc3 starts in bin 0, spills
    assert(back(1L)._3 == 0L && back(2L)._3 == 0L && back(3L)._3 == 0L)
  }

  test("curate --near-dup-mode auto: advisor verdict routes the path and lands in the summary JSON") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_neardup_")
    // parse surface
    val ap = Main.parseArgs(Seq("curate", "/in", "/out", "--near-dup-mode", "auto",
      "--near-dup-pct", "60"))
    assert(ap.nearDupMode == "auto" && ap.nearDupPct == 60)
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("curate", "/in", "/out", "--near-dup-mode", "fuzzy")))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("curate", "/in", "/out", "--near-dup-pct", "0")))
    // diverse corpus: advisor must route to the exact prefix-filter join.
    // Docs 1/2 share a 17-word body (with stopwords, so the Gopher gate
    // keeps them) plus 2 unique tail words each -> 17 trigrams/doc, 15
    // shared: Jaccard 15/19 = 78% >= 50% -> a genuine pair, min-id wins
    val body = "the quick brown fox and the lazy dog of the north went to the market in town"
    val docs = Seq(
      (1L, s"$body uniqoneaa uniqonebb"),
      (2L, s"$body uniqtwoaa uniqtwobb"),
      (3L, "a wholly different document with its very own twenty words of content " +
        "spread over several phrases to pass the gate")
    ).toDF("doc_id", "text")
    val in = dir.resolve("in").toString
    docs.write.mode("overwrite").parquet(in)
    val out1 = dir.resolve("out1").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out1,
        "--min-words", "3", "--span-words", "50", "--budget", "64",
        "--near-dup-mode", "auto", "--near-dup-pct", "50")))
    }
    val line = buf.toString("UTF-8").trim
    // golden shape: auto mode resolved to the exact path on this corpus,
    // exactly one doc removed (doc 2, the larger id of the near-dup pair)
    assert(line.contains(""""near_dup_mode": "auto""""), line)
    assert(line.contains(""""near_dup_path": "prefix_filter""""), line)
    assert(line.contains(""""near_dup_removed": 1"""), line)
    assert(line.contains(""""pair_budget": 300"""), line)
    assert(line.contains(""""in_docs": 3""") && line.contains(""""kept_docs": 2"""), line)
    // the removed doc is the LARGER id: doc 1 survives into the export
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))
    val ids = graft.engine.CorpusIO.partitionCorrupt(
      graft.engine.CorpusIO.readJsonl(spark, out1, schema))._1
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), s"doc 2 must be the near-dup casualty: $ids")
    // forced LSH on the same corpus: path pinned regardless of the verdict
    val out2 = dir.resolve("out2").toString
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out2,
        "--min-words", "3", "--span-words", "50", "--budget", "64",
        "--near-dup-mode", "lsh")))
    }
    assert(buf2.toString("UTF-8").contains(""""near_dup_path": "minhash_lsh""""))
    // the LSH leg's banding is derived from --near-dup-pct (r16) and the
    // resolved split is pinned in the summary: default pct 50 -> 4x2
    assert(buf2.toString("UTF-8").contains(""""lsh_bands": 4, "lsh_rows": 2"""),
      buf2.toString("UTF-8"))
    // a low threshold resolves to the wide-recall single-row banding
    val out2b = dir.resolve("out2b").toString
    val buf2b = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2b, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out2b,
        "--min-words", "3", "--span-words", "50", "--budget", "64",
        "--near-dup-mode", "lsh", "--near-dup-pct", "20")))
    }
    assert(buf2b.toString("UTF-8").contains(""""lsh_bands": 8, "lsh_rows": 1"""),
      buf2b.toString("UTF-8"))
    // exact path carries no lsh keys (the split only describes the leg
    // that ran)
    assert(!buf.toString("UTF-8").contains("lsh_bands"))
    // off (default): summary shape unchanged from pre-r15 — no near-dup keys
    val out3 = dir.resolve("out3").toString
    val buf3 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf3, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out3,
        "--min-words", "3", "--span-words", "50", "--budget", "64")))
    }
    assert(!buf3.toString("UTF-8").contains("near_dup"))
  }

  test("curate --dsir-targets: multi-domain resample enriches toward the target, shares in the summary") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dmix_cli_")
    // style A shares content words with the target; style B is disjoint
    def styleA(i: Int) = s"the quick stone river mountain of sky alpha$i"
    def styleB(i: Int) = s"zebra wombat parrot falcon otter of the nox$i"
    val docs = ((0 until 30).map(i => (i.toLong, styleA(i))) ++
      (30 until 60).map(i => (i.toLong, styleB(i)))).toDF("doc_id", "text")
    val in = dir.resolve("in").toString
    docs.write.parquet(in)
    val tgt = (0 until 20).map(i => (1000L + i, styleA(i + 100))).toDF("doc_id", "text")
    val tp = dir.resolve("tgtA").toString
    tgt.write.parquet(tp)
    // parse surface
    intercept[IllegalArgumentException](Main.parseArgs(Seq("curate", "/i", "/o",
      "--dsir-targets", "badname!", "--dsir-mix", "1000")))
    intercept[IllegalArgumentException](Main.parseArgs(Seq("curate", "/i", "/o",
      "--dsir-targets", s"a=$tp", "--dsir-mix", "600,400")))
    val out = dir.resolve("out").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out,
        "--min-words", "3", "--span-words", "50", "--budget", "100000",
        "--dsir-targets", s"lit=$tp", "--dsir-mix", "1000")))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.contains(""""dsir_targets": ["lit"]"""), line)
    assert(line.contains(""""dsir_mix": [1000]"""), line)
    assert(line.contains(""""dsir_kept": """) && line.contains(""""dsir_shares_x10000": {"lit": """), line)
    // enrichment THROUGH THE SHELL (the q333 pattern): the kept pool
    // skews hard toward the target's style
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType)))
    val ids = graft.engine.CorpusIO.partitionCorrupt(
      graft.engine.CorpusIO.readJsonl(spark, out, schema))._1
      .collect().map(_.getLong(0)).toSet
    val aKept = ids.count(_ < 30L)
    val bKept = ids.count(_ >= 30L)
    assert(aKept > bKept, s"style A kept $aKept vs style B $bKept: $ids")
    assert(aKept >= 15, s"most target-like docs must survive the resample ($aKept)")
    // without the flags the summary shape is unchanged
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      Main.runCurate(spark, Main.parseArgs(Seq("curate", in, dir.resolve("out2").toString,
        "--min-words", "3", "--span-words", "50", "--budget", "100000")))
    }
    assert(!buf2.toString("UTF-8").contains("dsir_targets"))
  }

  test("curate --work-dir/--resume: kill-and-resume golden — committed stages replay, stale fingerprints refuse (r17)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_resume_")
    val body = "the quick brown fox and the lazy dog of the north went to the market in town"
    val docs = Seq(
      (1L, s"$body uniqoneaa uniqonebb"),
      (2L, s"$body uniqtwoaa uniqtwobb"),
      (3L, "a wholly different document with its very own twenty words of content " +
        "spread over several phrases to pass the gate")
    ).toDF("doc_id", "text")
    val in = dir.resolve("in").toString
    docs.write.mode("overwrite").parquet(in)
    val tgt = Seq((1000L, s"$body target flavored")).toDF("doc_id", "text")
    val tp = dir.resolve("tgt").toString
    tgt.write.parquet(tp)
    val work = dir.resolve("work").toString
    def run(out: String, extra: String*): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.runCurate(spark, Main.parseArgs(Seq("curate", in, out,
          "--min-words", "3", "--span-words", "50", "--budget", "100000",
          "--near-dup-mode", "lsh", "--work-dir", work,
          "--dsir-targets", s"lit=$tp", "--dsir-mix", "1000") ++ extra))
      }
      buf.toString("UTF-8").trim
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def export(out: String): Set[(Long, String)] =
      graft.engine.CorpusIO.partitionCorrupt(
        graft.engine.CorpusIO.readJsonl(spark, out, schema))._1
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // --resume without --work-dir refused at entry
    intercept[IllegalArgumentException] {
      Main.runCurate(spark, Main.parseArgs(
        Seq("curate", in, dir.resolve("x").toString, "--resume")))
    }
    // 1. uninterrupted run: both stages commit under fingerprint dirs
    val line1 = run(dir.resolve("outA").toString)
    assert(line1.contains(""""near_dup_removed": 1""") && !line1.contains("resumed_stages"), line1)
    val workDirs = new java.io.File(work).listFiles().map(_.getName).toSet
    assert(workDirs.exists(_.startsWith("near_dup_")) && workDirs.exists(_.startsWith("dsir_")), workDirs)
    // r18 (#7): the quality gate and packing commit under the SAME chain
    assert(workDirs.exists(_.startsWith("quality_")) && workDirs.exists(_.startsWith("pack_")), workDirs)
    val ndDir = new java.io.File(work).listFiles().find(_.getName.startsWith("near_dup_")).get
    val qDir = new java.io.File(work).listFiles().find(_.getName.startsWith("quality_")).get
    assert(new java.io.File(ndDir, graft.engine.CurateResume.CommitMarker).exists())
    assert(new java.io.File(qDir, graft.engine.CurateResume.CommitMarker).exists())
    val golden = export(dir.resolve("outA").toString)
    // 2. kill-and-resume: the run died after the stages committed — the
    //    resumed run must produce the SAME export without re-running the
    //    pair join OR the quality-gate corpus scan. Proof of
    //    non-execution: sentinels planted in the committed metas flow to
    //    the summary verbatim (a recompute would regenerate the fragment
    //    without them).
    def plant(d: java.io.File, sentinel: String): Unit = {
      val mf = new java.io.File(d, "_meta.json")
      val meta = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
      java.nio.file.Files.write(mf.toPath, (meta + sentinel).getBytes("UTF-8"))
      // the raw edit bypasses Hadoop's checksummed local FS — drop the
      // stale .crc sidecar (test-only concern; real resumes never hand-edit)
      new java.io.File(d, "._meta.json.crc").delete()
    }
    plant(ndDir, """, "sentinel_replayed": 7""")
    plant(qDir, """, "sentinel_quality": 9""")
    val line2 = run(dir.resolve("outB").toString, "--resume")
    assert(line2.contains(""""resumed_stages": ["near_dup", "dsir", "quality", "pack"]"""), line2)
    assert(line2.contains(""""sentinel_replayed": 7"""), line2)
    assert(line2.contains(""""sentinel_quality": 9"""), line2)
    assert(export(dir.resolve("outB").toString) == golden)
    // 3. changed stage params -> different fingerprint -> stage recomputed
    //    (a near_dup change invalidates EVERY chained later stage)
    val line3 = run(dir.resolve("outC").toString, "--resume", "--near-dup-pct", "60")
    assert(line3.contains(""""resumed_stages": []"""), line3)
    assert(!line3.contains("sentinel_replayed") && !line3.contains("sentinel_quality"), line3)
    // 3b. a changed PACK budget recomputes only the pack stage — the
    //     expensive upstream three all replay (per-stage invalidation)
    val line3b = run(dir.resolve("outC2").toString, "--resume", "--budget", "90000")
    assert(line3b.contains(""""resumed_stages": ["near_dup", "dsir", "quality"]"""), line3b)
    assert(line3b.contains(""""sentinel_quality": 9"""), line3b)
    // 4. a torn commit (marker missing) is refused, not trusted — the
    //    recomputed near_dup is deterministic, so the param-chained
    //    quality/pack stages still replay
    assert(new java.io.File(ndDir, graft.engine.CurateResume.CommitMarker).delete())
    val line4 = run(dir.resolve("outD").toString, "--resume")
    assert(line4.contains(""""resumed_stages": ["dsir", "quality", "pack"]""")
      && !line4.contains("sentinel_replayed"), line4)
    assert(line4.contains(""""sentinel_quality": 9"""), line4)
    assert(export(dir.resolve("outD").toString) == golden)
    // the recompute re-committed the stage: marker is back
    assert(new java.io.File(ndDir, graft.engine.CurateResume.CommitMarker).exists())
    // 5. changed INPUT -> digest moves -> nothing resumes
    docs.unionByName(Seq((4L, "a brand new fourth document with plenty of its own words to pass " +
      "the quality gate easily today")).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(in)
    val line5 = run(dir.resolve("outE").toString, "--resume")
    assert(line5.contains(""""resumed_stages": []"""), line5)
  }

  test("mixture-plan subcommand: shares, Hamilton doc targets, token targets as one JSON line (r17b)") {
    import spark.implicits._
    // parse surface: a budget is mandatory, inPath is mandatory
    intercept[IllegalArgumentException](Main.parseArgs(Seq("mixture-plan", "/in")))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("mixture-plan", "--budget-docs", "10")))
    val ap = Main.parseArgs(Seq("mixture-plan", "/in", "--domain-col", "lang",
      "--budget-docs", "20", "--budget-tokens", "100"))
    assert(ap.command == "mixture-plan" && ap.domainCol == "lang" &&
      ap.budgetDocs == 20L && ap.budgetTokens == 100L)
    // 9/4/1 docs of 3 tokens each: every golden below is hand-derived
    val dir = Files.createTempDirectory("graft_mixplan_")
    val in = dir.resolve("docs").toString
    ((0 until 9).map(i => (i.toLong, "a", "t1 t2 t3")) ++
      (9 until 13).map(i => (i.toLong, "b", "t1 t2 t3")) ++
      Seq((13L, "c", "t1 t2 t3")))
      .toDF("doc_id", "lang", "text").write.parquet(in)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runMixturePlan(spark, Main.parseArgs(Seq("mixture-plan", in,
        "--domain-col", "lang", "--budget-docs", "20", "--budget-tokens", "100")))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.startsWith("""{"n_domains": 3, "budget_docs": 20, "budget_tokens": 100"""), line)
    // a: 9 docs, sqrt weight 3/6 -> temp 5000 bp (raw 6428, boost -1428);
    // Hamilton at 20: base 12 rem-rank wins +1 -> 13 = 1 full copy + 4
    assert(line.contains("""{"domain": "a", "n_docs": 9, "share_bp": 6428, """ +
      """"temp_share_bp": 5000, "boost_bp": -1428, "doc_target": 13, """ +
      """"full_copies": 1, "remainder": 4, "tokens_src": 27, "token_target": 50}"""), line)
    assert(line.contains("""{"domain": "b", "n_docs": 4, "share_bp": 2857, """ +
      """"temp_share_bp": 3333, "boost_bp": 476, "doc_target": 6, """ +
      """"full_copies": 1, "remainder": 2, "tokens_src": 12, "token_target": 33}"""), line)
    assert(line.contains("""{"domain": "c", "n_docs": 1, "share_bp": 714, """ +
      """"temp_share_bp": 1666, "boost_bp": 952, "doc_target": 1, """ +
      """"full_copies": 1, "remainder": 0, "tokens_src": 3, "token_target": 16}"""), line)
    // docs-only plan omits the token fields entirely
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      Main.runMixturePlan(spark, Main.parseArgs(Seq("mixture-plan", in,
        "--domain-col", "lang", "--budget-docs", "20")))
    }
    val line2 = buf2.toString("UTF-8").trim
    assert(!line2.contains("token_target") && line2.contains(""""doc_target": 13"""), line2)
    // token_target arithmetic is BigInt-exact (r18, r17 ADVICE 4): the Long
    // product budget*tempBp overflowed silently past ~9.2e14 tokens
    assert(Main.tokenTarget(2_000_000_000_000_000L, 9999L) == 1_999_800_000_000_000L)
    assert(Main.tokenTarget(Long.MaxValue, 10000L) == Long.MaxValue)
    assert(Main.tokenTarget(123L, 3333L) == 40L) // truncating, matches the small-budget path
  }

  test("embedding-datasheet subcommand: shape, pc1, storage recalls, self-drift identity (r17b)") {
    // parse surface
    intercept[IllegalArgumentException](Main.parseArgs(Seq("embedding-datasheet")))
    intercept[IllegalArgumentException](Main.parseArgs(
      Seq("embedding-datasheet", "/v", "--probe-mod", "0")))
    val vecs = "/root/testdata/sf0.001/embeddings.parquet"
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runEmbeddingDatasheet(spark, Main.parseArgs(Seq("embedding-datasheet",
        vecs, "--id-col", "vec_id", "--probe-mod", "100",
        "--base-vecs", vecs)))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.startsWith("""{"n_vecs": 500, "dims": 64"""), line)
    // the CLI's pc1 section must agree with the library certificate
    val pc = graft.operators.Similarity.pcaPowerCertificate(
        spark.read.parquet(vecs), "embedding", dims = 64, iters = 8)
      .orderBy("iter").collect().last
    assert(line.contains(s""""pc1": {"var_explained_bp": ${pc.getLong(1)}, """ +
      s""""top_dim": ${pc.getLong(2)}, "sign_lo": ${pc.getLong(3)}, """ +
      s""""sign_hi": ${pc.getLong(4)}}"""), line)
    assert(line.contains(""""n_probes": 5"""), line)
    // drift against ITSELF: exact identity — cos2 10000, nothing clamps,
    // stale params ARE fresh params
    assert(line.contains(""""cos2_x10k": 10000"""), line)
    assert(line.contains(""""clamped_vals": 0"""), line)
    val stale = """"stale_quant_recall_mean_pct": (\d+)""".r
      .findFirstMatchIn(line).get.group(1)
    val fresh = """"fresh_quant_recall_mean_pct": (\d+)""".r
      .findFirstMatchIn(line).get.group(1)
    assert(stale == fresh, line)
    // storage-tier recalls are percentages over the probe set
    val i8 = """"int8_recall": \{"mean_pct": (\d+), "min_pct": (\d+)\}""".r
      .findFirstMatchIn(line).get
    assert(i8.group(1).toLong <= 100L && i8.group(2).toLong <= i8.group(1).toLong, line)
  }

  test("neardup-maintain subcommand: flags, cap pricing, incremental clusters, prior loop (r17b)") {
    import spark.implicits._
    intercept[IllegalArgumentException](Main.parseArgs(Seq("neardup-maintain", "/c", "/b")))
    intercept[IllegalArgumentException](Main.parseArgs(
      Seq("neardup-maintain", "/c", "/b", "/o", "--max-hamming", "4")))
    val tDup = "shared boilerplate sentence with many common scaffold words " +
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tUniqC = "completely different corpus content about orbital mechanics " +
      "periapsis inclination eccentricity burn window transfer vector"
    val tUniqB = "unrelated batch arrival concerning sourdough hydration ratios " +
      "levain autolyse crumb oven spring scoring lame banneton"
    val dir = Files.createTempDirectory("graft_ndm_")
    val corpusPath = dir.resolve("corpus").toString
    val batchPath = dir.resolve("batch").toString
    val out = dir.resolve("night1").toString
    // corpus: 1 and 2 are exact dups (one prior cluster), 3 is unique
    Seq((1L, tDup), (2L, tDup), (3L, tUniqC))
      .toDF("doc_id", "text").write.parquet(corpusPath)
    // batch: 101 replays the dup text (flags to BOTH corpus dups at
    // hamming 0), 102 is unrelated (a new singleton)
    Seq((101L, tDup), (102L, tUniqB))
      .toDF("doc_id", "text").write.parquet(batchPath)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runNearDupMaintain(spark, Main.parseArgs(Seq("neardup-maintain",
        corpusPath, batchPath, out)))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.contains(""""n_corpus": 3, "n_batch": 2, "n_flags": 2, "flagged_batch_docs": 1"""), line)
    assert(line.contains(""""hamming_census": {"0": 2}"""), line)
    assert(line.contains(""""n_foregone_postings": 0, "exact": true"""), line)
    // nothing merged: the batch joined an existing cluster, none bridged
    assert(line.contains(""""rows_remapped": 0, "clusters_merged": 0, "n_clusters": 3"""), line)
    val clusters = spark.read.parquet(s"$out/clusters")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters == Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 0L)), 3L -> ((3L, 0L)),
      101L -> ((1L, 1L)), 102L -> ((102L, 1L))), clusters.toString)
    // the frozen-epoch loop: feeding the corpus slice of night 1's table
    // back as --prior reproduces the same answer without re-clustering
    val priorPath = dir.resolve("prior").toString
    spark.read.parquet(s"$out/clusters").filter($"is_new" === 0)
      .select("doc_id", "cluster").write.parquet(priorPath)
    val out2 = dir.resolve("night1b").toString
    Console.withOut(new java.io.PrintStream(new java.io.ByteArrayOutputStream(), true, "UTF-8")) {
      Main.runNearDupMaintain(spark, Main.parseArgs(Seq("neardup-maintain",
        corpusPath, batchPath, out2, "--prior", priorPath)))
    }
    val clusters2 = spark.read.parquet(s"$out2/clusters")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(clusters2 == clusters)
    // a CORRUPTED prior is REFUSED with the offending labels (r18, VERDICT
    // r17 #2): label 2 for doc 1 is not min (doc 1 < 2) and not a member
    // of cluster 2's true member set under this table — the one
    // silent-garbage mode the nightly loop had left
    val corruptPath = dir.resolve("prior_corrupt").toString
    Seq((1L, 2L), (2L, 2L), (3L, 3L))
      .toDF("doc_id", "cluster").write.parquet(corruptPath)
    val ex = intercept[IllegalArgumentException] {
      Main.runNearDupMaintain(spark, Main.parseArgs(Seq("neardup-maintain",
        corpusPath, batchPath, dir.resolve("night1c").toString,
        "--prior", corruptPath)))
    }
    assert(ex.getMessage.contains("min-id") && ex.getMessage.contains("2 (label_not_min"),
      ex.getMessage)
    // a prior that doesn't COVER the corpus is refused too (doc 3 missing)
    val partialPath = dir.resolve("prior_partial").toString
    Seq((1L, 1L), (2L, 1L))
      .toDF("doc_id", "cluster").write.parquet(partialPath)
    val ex2 = intercept[IllegalArgumentException] {
      Main.runNearDupMaintain(spark, Main.parseArgs(Seq("neardup-maintain",
        corpusPath, batchPath, dir.resolve("night1d").toString,
        "--prior", partialPath)))
    }
    assert(ex2.getMessage.contains("does not cover") && ex2.getMessage.contains("1 corpus docs"),
      ex2.getMessage)
    // a prior with DUPLICATE id rows fans out every maintenance join and
    // the per-label audit cannot see it — refused by the row-per-doc check
    val dupPath = dir.resolve("prior_dup").toString
    Seq((1L, 1L), (1L, 1L), (2L, 1L), (3L, 3L))
      .toDF("doc_id", "cluster").write.parquet(dupPath)
    val ex3 = intercept[IllegalArgumentException] {
      Main.runNearDupMaintain(spark, Main.parseArgs(Seq("neardup-maintain",
        corpusPath, batchPath, dir.resolve("night1e").toString,
        "--prior", dupPath)))
    }
    assert(ex3.getMessage.contains("1 duplicate doc_id rows"), ex3.getMessage)
  }

  test("graph-serve subcommand: external probes answered by the broadcast-index walk (r18)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    intercept[IllegalArgumentException](Main.parseArgs(Seq("graph-serve", "/c", "/p")))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("graph-serve", "/c", "/p", "/o", "--beam", "0")))
    val dir = Files.createTempDirectory("graft_gserve_")
    val corpusPath = "/root/testdata/sf0.001/embeddings.parquet"
    val e = spark.read.parquet(corpusPath)
    val probesPath = dir.resolve("probes").toString
    e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 9000L).as("vec_id"), col("embedding"))
      .write.parquet(probesPath)
    val out = dir.resolve("idx").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runGraphServe(spark, Main.parseArgs(Seq("graph-serve",
        corpusPath, probesPath, out, "--id-col", "vec_id",
        "--k", "4", "--beam", "3", "--bits", "3", "--kgraph", "4",
        "--n-entry", "3")))
    }
    val line = buf.toString("UTF-8").trim
    val nCorpus = e.count()
    val nProbes = spark.read.parquet(probesPath).count()
    assert(line.contains(s""""n_corpus": $nCorpus""") &&
      line.contains(s""""n_probes": $nProbes""") &&
      line.contains(""""k": 4, "beam": 3"""), line)
    // the written answers ARE the library serving gate's rows
    val g = graft.operators.Similarity.bucketMateGraph(e, "vec_id", "embedding",
      bits = 3, kGraph = 4)
    val idx = graft.streaming.StreamingSimilarity.buildServeIndex(
      e, "vec_id", "embedding", g, nEntry = 3)
    val direct = graft.streaming.StreamingSimilarity.graphServeGate(
        spark.read.parquet(probesPath)
          .select(col("vec_id").as("probe_id"), col("embedding").as("vec")),
        idx, k = 4, beam = 3, maxHops = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val written = spark.read.parquet(s"$out/answers")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(written == direct && written.nonEmpty)
    // the replica-memory refusal propagates through the CLI
    val ex = intercept[IllegalArgumentException] {
      Main.runGraphServe(spark, Main.parseArgs(Seq("graph-serve",
        corpusPath, probesPath, dir.resolve("idx2").toString,
        "--id-col", "vec_id", "--max-index-rows", "5")))
    }
    assert(ex.getMessage.contains("int8/binary"), ex.getMessage)
  }

  test("bpe-train subcommand: merges roundtrip == driver trainer, cap pricing, encode-out (r18)") {
    import spark.implicits._
    intercept[IllegalArgumentException](Main.parseArgs(Seq("bpe-train", "/d")))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("bpe-train", "/d", "/o", "--merges", "0")))
    val dir = Files.createTempDirectory("graft_bpetrain_")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the rat"),
      (3L, "a mat and a rat and a cat")).toDF("doc_id", "text")
    val in = dir.resolve("docs").toString
    docs.write.parquet(in)
    val out = dir.resolve("tok").toString
    val enc = dir.resolve("enc").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runBpeTrain(spark, Main.parseArgs(Seq("bpe-train", in, out,
        "--merges", "12", "--encode-out", enc)))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.contains(""""n_merges": 12""") && line.contains(""""cap_exact": true"""), line)
    // merges roundtrip: the BINARY columns decode to exactly the driver
    // trainer's table (byte-level tokens survive parquet byte-exact)
    val got = spark.read.parquet(s"$out/merges").orderBy("rank").collect()
      .map(r => (new String(r.getAs[Array[Byte]]("a"), "ISO-8859-1"),
        new String(r.getAs[Array[Byte]]("b"), "ISO-8859-1"))).toSeq
    val drv = graft.operators.Bpe.trainBytes(docs, "text", 12)
    assert(got == drv, s"merges diverged: $got vs $drv")
    // encode-out: one row per doc, counts == direct distributed encode
    val encDf = spark.read.parquet(enc)
    assert(encDf.count() == 3)
    val direct = graft.operators.Bpe.encodeBytes(docs, "doc_id", "text", drv)
      .select("doc_id", "n_bpe_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    encDf.collect().foreach(r =>
      assert(direct(r.getLong(0)) == r.getAs[Long]("n_bpe_tokens")))
    assert(line.contains(""""encoded_docs": 3"""), line)
    // a BINDING vocab cap prices itself: cap_exact false, foregone mass
    val buf2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf2, true, "UTF-8")) {
      Main.runBpeTrain(spark, Main.parseArgs(Seq("bpe-train", in,
        dir.resolve("tok2").toString, "--merges", "5", "--max-vocab", "3")))
    }
    val line2 = buf2.toString("UTF-8").trim
    assert(line2.contains(""""n_kept": 3""") && line2.contains(""""cap_exact": false"""), line2)
  }

  test("ann-maintain subcommand: drift check, partial refit, published index + certificate JSON (r17)") {
    import spark.implicits._
    // parse surface
    intercept[IllegalArgumentException](Main.parseArgs(Seq("ann-maintain", "/b", "/x")))
    intercept[IllegalArgumentException](Main.parseArgs(
      Seq("ann-maintain", "/b", "/x", "/o", "--nlist", "0")))
    val ap = Main.parseArgs(Seq("ann-maintain", "/b", "/x", "/o",
      "--id-col", "vec_id", "--vec-col", "v", "--nlist", "4", "--drift-x1m", "100000",
      "--probe-id", "40", "--k", "5", "--nprobe", "1"))
    assert(ap.command == "ann-maintain" && ap.outPath == "/o" &&
      ap.vecCol == "v" && ap.nlist == 4 && ap.driftX1m == 100000L &&
      ap.probeId == 40L && ap.annK == 5 && ap.nprobe == 1)
    // the q362 planted-drift fixture through the shell: base tiles dims
    // 0-3 / 4-7, the batch lands in untiled dims 8-11 — exactly one
    // region drifts, and the golden recalls are 20 (frozen) -> 80
    // (patched) on this deterministic corpus
    val dims = 16
    def vec(hot: Range, seed: Int) = Array.tabulate(dims)(d =>
      (if (hot.contains(d)) 1.0f else 0.0f) + 0.01f * (((seed * 31 + d * 7) % 10) - 5))
    val dir = Files.createTempDirectory("graft_annm_")
    val basePath = dir.resolve("base").toString
    val batchPath = dir.resolve("batch").toString
    val out = dir.resolve("idx").toString
    ((0 until 20).map(i => (i.toLong, vec(0 until 4, i))) ++
      (20 until 40).map(i => (i.toLong, vec(4 until 8, i))))
      .toDF("vec_id", "embedding").write.parquet(basePath)
    (40 until 60).map(i => (i.toLong, vec(8 until 12, i)))
      .toDF("vec_id", "embedding").write.parquet(batchPath)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runAnnMaintain(spark, Main.parseArgs(Seq("ann-maintain",
        basePath, batchPath, out, "--id-col", "vec_id", "--nlist", "4",
        "--drift-x1m", "100000", "--probe-id", "40", "--k", "5", "--nprobe", "1")))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.contains(""""n_union": 60, "n_tiles": 4, "n_tiles_refit": 1"""), line)
    assert(line.contains(""""recall_before_x100": 20"""), line)
    assert(line.contains(""""recall_after_x100": 80"""), line)
    assert(line.contains(""""n_touched": 20"""), line)
    // published index: 4 centroids, one assignment per union vector, and
    // quiet tiles' members untouched (ids 0-39 keep their frozen cid)
    val cents = spark.read.parquet(s"$out/centroids")
    assert(cents.count() == 4L && cents.columns.toSet == Set("cid", "centroid"))
    val asg = spark.read.parquet(s"$out/assignments")
    assert(asg.count() == 60L && asg.columns.toSet == Set("vec_id", "cid"))
    val frozen = graft.operators.Similarity.refineCentroids(
      spark.read.parquet(basePath), "vec_id", "embedding", nlist = 4, iters = 2)
    val frozenAsg = graft.operators.Similarity.assignToCentroids(
        spark.read.parquet(basePath).unionByName(spark.read.parquet(batchPath)),
        "embedding", frozen)
      .select("vec_id", "cid")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = asg.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cid")).toMap
    // the partial-refit invariant through the shell: every row that moved
    // off its frozen assignment belonged (frozen) to the ONE drifted tile
    // — summary says n_tiles_refit 1 and n_touched 20, so quiet tiles'
    // members are byte-identical by construction
    val moved = (0L until 60L).filter(id => got(id) != frozenAsg(id))
    assert(moved.nonEmpty, "the drifted tile must re-assign someone")
    val movedFrozenTiles = moved.map(frozenAsg).toSet
    assert(movedFrozenTiles.size == 1, s"moved rows span frozen tiles $movedFrozenTiles")
    assert(moved.size <= 20, s"only the drifted tile's 20 members may move, got ${moved.size}")
  }

  test("datasheet subcommand: sources, cross-source, filter order and lsh recall in one JSON line") {
    import spark.implicits._
    // parse surface
    intercept[IllegalArgumentException](Main.parseArgs(Seq("datasheet")))
    val ap = Main.parseArgs(Seq("datasheet", "/t", "--source-col", "feed", "--near-dup-pct", "40"))
    assert(ap.command == "datasheet" && ap.basePath == "/t" &&
      ap.sourceCol == "feed" && ap.nearDupPct == 40)
    val dir = Files.createTempDirectory("graft_datasheet_")
    val docs = Seq(
      (1L, "the cat sat on the mat today ok", "feedA"),
      (2L, "the cat sat on the mat today ok", "feedB"), // cross-source dup
      (3L, "unique words entirely different here now ok", "feedA"),
      (4L, "unique words entirely different here now ok", "feedA") // in-feed dup
    ).toDF("doc_id", "text", "source")
    val in = dir.resolve("t").toString
    docs.write.parquet(in)
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.runDatasheet(spark, Main.parseArgs(Seq("datasheet", in, "--min-words", "5")))
    }
    val line = buf.toString("UTF-8").trim
    assert(line.startsWith("{") && line.endsWith("}") && !line.contains("\n"), line)
    assert(line.contains(""""in_docs": 4"""), line)
    // per-source savings: feedA keeps 2 of 3 (one in-feed dup casualty)
    assert(line.contains(""""sources": [{"source": "feedA", "n_docs": 3, "n_kept": 2"""), line)
    // the cross-source matrix sees exactly the shared text
    assert(line.contains(""""cross_source": [{"src_a": "feedA", "src_b": "feedB", "n_shared_texts": 1, "cross_doc_pairs": 1}]"""), line)
    // per-source distribution divergence rides along (q364's row)
    assert(line.contains(""""source_divergence": [{"source": "feedA", "n_tokens": """), line)
    // four gates ranked 1..4
    assert(line.contains(""""filter_order": [{"filter": """), line)
    (1 to 4).foreach(p => assert(line.contains(s""""position": $p"""), line))
    // identical docs collide in every band: the certificate pins full
    // recall under the pct-derived 4x2 banding
    assert(line.contains(""""lsh_recall": {"pct": 50, "lsh_bands": 4, "lsh_rows": 2, "n_exact_pairs": 2, "n_lsh_pairs": 2, "n_common": 2, "recall_x1000": 1000}"""), line)
  }

  test("advise-layout subcommand: q204/q216/q232 trio as one golden JSON report") {
    // parse surface
    val a = Main.parseArgs(Seq("advise-layout", "/t", "--candidates", "status,id",
      "--value-col", "cents", "--bucket-rows", "500"))
    assert(a.command == "advise-layout" && a.basePath == "/t")
    assert(a.candidates == Seq("status", "id") && a.valueCol.contains("cents") &&
      a.bucketRows == 500)
    intercept[IllegalArgumentException](Main.parseArgs(Seq("advise-layout", "/t")))

    // fixture: 4000 rows, id-order natural layout; status cycles every row
    // (worst RLE case), cents = statusBand*10000 + id div 4 so the bands are
    // disjoint — sorting by status aligns bands exactly to 1000-row buckets.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_advise_")
    val df = (1 to 4000).map { id =>
      (id.toLong, s"s${id % 4}", (id % 4).toLong * 10000L + id / 4)
    }.toDF("id", "status", "cents")
    val in = dir.resolve("t").toString
    df.orderBy("id").coalesce(1).write.parquet(in)

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.runAdviseLayout(spark, Main.parseArgs(Seq("advise-layout", in,
        "--candidates", "status", "--value-col", "cents")))
    }
    val json = out.toString("UTF-8").trim
    // probe: exact IQR of cents — p25 interpolates 1000→10000 at .75 (7750),
    //        p75 interpolates 20999→30000 at .25 (ceil 23250)
    assert(json.contains(""""value_col": "cents""""))
    assert(json.contains(""""probe_lo": 7750"""))
    assert(json.contains(""""probe_hi": 23250"""))
    // encoding: status NDV 4 over 4000 rows = 10bp -> dictionary
    assert(json.contains(
      """{"column": "status", "ndv": 4, "ndv_bp": 10, "encoding": "dictionary"}"""))
    // natural: status flips every row -> 4000 runs; every bucket spans the
    // probe -> reads all 4000 rows for 2000 matches = 20000bp
    assert(json.contains("""{"layout": "natural", "total_runs": 4000, "n_buckets": 4, """ +
      """"buckets_scanned": 4, "rows_scanned": 4000, "rows_matching": 2000, """ +
      """"amplification_bp": 20000}"""))
    // sort:status: one run per bucket (4); only the s1/s2 band buckets
    // overlap the probe -> perfect pruning, 10000bp
    assert(json.contains("""{"layout": "sort:status", "total_runs": 4, "n_buckets": 4, """ +
      """"buckets_scanned": 2, "rows_scanned": 2000, "rows_matching": 2000, """ +
      """"amplification_bp": 10000}"""))
    assert(json.contains(""""recommended_sort": "sort:status""""))
  }

  test("compact-plan subcommand: real file listing, per-partition bins, conservation laws") {
    val a = Main.parseArgs(Seq("compact-plan", "/t",
      "--small-threshold", "1000000", "--target-size", "4000000"))
    assert(a.command == "compact-plan" && a.basePath == "/t" &&
      a.smallThreshold == 1000000L && a.targetSize == 4000000L)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact_").toString + "/t"
    (1 to 2000).map(i => (i.toLong, s"p${i % 2}", s"pad-$i-" + "x" * 50))
      .toDF("id", "pt", "payload")
      .repartition(6).write.partitionBy("pt").parquet(dir)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      // threshold far above the tiny fixture files: everything is small
      Main.runCompactPlan(spark, Main.parseArgs(Seq("compact-plan", dir,
        "--small-threshold", "10000000", "--target-size", "20000000")))
    }
    val json = out.toString("UTF-8").trim
    assert(json.startsWith("{") && json.contains(""""partitions": ["""))
    assert(json.contains(""""partition": "pt=p0"""") && json.contains(""""partition": "pt=p1""""))
    // 6 files per partition, all small, fitting one target bin each
    assert(json.contains(""""files_total": 6, "bytes_total""""))
    assert(json.contains(""""bins_planned": 1, "files_after": 1"""))
    assert(json.contains(""""files_total": 12, "files_after": 2"""))
    // threshold 0-ish: nothing qualifies, plan leaves the table alone
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2, true, "UTF-8")) {
      Main.runCompactPlan(spark, Main.parseArgs(Seq("compact-plan", dir,
        "--small-threshold", "1", "--target-size", "20000000")))
    }
    assert(out2.toString("UTF-8").contains(""""files_total": 12, "files_after": 12"""))
  }

  test("release-manifest subcommand: stage ladder golden on a handcrafted corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rel_").toString + "/docs"
    Seq(
      (0L, "held out eval document text here"),   // eval slice (id % 5 == 0)
      (1L, "held out eval document text here"),   // exact dup of the eval text
      (2L, "tiny"),                               // fails the quality floor
      (3L, "one two three four five six seven"),
      (4L, "eight nine ten eleven twelve thirteen fourteen"),
      (5L, "another eval only doc words here"),   // eval slice
      (6L, "plain good document with enough words here")
    ).toDF("doc_id", "text").write.parquet(dir)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.runReleaseManifest(spark, Main.parseArgs(Seq("release-manifest", dir,
        "--min-chars", "10", "--min-words", "3", "--eval-mod", "5")))
    }
    val json = out.toString("UTF-8").trim
    // raw 7 → dedup 6 (doc 1 folds into 0) → quality 5 (doc 2 out) →
    // decontam 3 (eval ids 0 and 5 out; nothing else shares their hashes)
    assert(json.contains(""""stage": "1_raw", "n_docs": 7"""))
    assert(json.contains(""""stage": "2_dedup", "n_docs": 6"""))
    assert(json.contains(""""stage": "3_quality", "n_docs": 5"""))
    assert(json.contains(""""stage": "4_decontam", "n_docs": 3"""))
    // the three splits partition the decontaminated set exactly
    val splitDocs = """"stage": "split:\w+", "n_docs": (\d+)""".r
      .findAllMatchIn(json).map(_.group(1).toLong).toSeq
    assert(splitDocs.sum == 3L)
  }

  test("--scope-partition diffs only changed partitions with identical row-diff counts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_scope_")
    val base = Seq(
      ("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "c"), ("d3", 4, "d")
    ).toDF("day", "id", "v")
    val head = Seq(
      ("d1", 1, "a"), ("d1", 2, "b"), ("d2", 3, "CHANGED"), ("d4", 9, "new")
    ).toDF("day", "id", "v")
    base.write.parquet(s"$dir/base"); head.write.parquet(s"$dir/head")
    val scoped = Main.runDiffTables(spark, Main.parseArgs(Seq("diff-tables",
      s"$dir/base", s"$dir/head", "--keys", "id", "--scope-partition", "day")))
    val full = Main.runDiffTables(spark, Main.parseArgs(Seq("diff-tables",
      s"$dir/base", s"$dir/head", "--keys", "id")))
    val (s1, f1) = (scoped.rowDiff.get, full.rowDiff.get)
    assert((s1.added, s1.removed, s1.changed) == ((f1.added, f1.removed, f1.changed)))
    assert(scoped.rowcounts.base == 2 && scoped.rowcounts.head == 2) // scope: d2/d3/d4 rows only
  }

  test("diff-tables runs the engine over two parquet paths") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dt_")
    val base = Seq((1, "Alice"), (2, "Bob"), (3, "Chandra")).toDF("customer_id", "name")
    val head = Seq((1, "Alice"), (2, "Bob"), (3, "Chandra"), (4, "Deepak")).toDF("customer_id", "name")
    base.write.parquet(s"$dir/base")
    head.write.parquet(s"$dir/head")
    val r = Main.runDiffTables(spark, Main.parseArgs(
      Seq("diff-tables", s"$dir/base", s"$dir/head", "--keys", "customer_id")))
    assert(r.rowcounts.base == 3 && r.rowcounts.head == 4)
    assert(r.rowDiff.get.added == 1 && r.rowDiff.get.removed == 0 && r.rowDiff.get.changed == 0)
  }

  test("diff-tables: a key missing from one side fails before any job, naming the side") {
    import spark.implicits._
    // catalog tables: their schema comes from the catalog, where a parquet
    // path's inference would itself run a job
    Seq((1L, "a")).toDF("customer_id", "name").write.mode("overwrite").saveAsTable("graft_badkey_base")
    Seq((1L, "a")).toDF("cust_id", "name").write.mode("overwrite").saveAsTable("graft_badkey_head")
    // job starts by job group; the bus delivers in order, so once a later
    // sentinel job's start arrives, every job the diff started has too
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    val a = Main.parseArgs(Seq("diff-tables", "graft_badkey_base", "graft_badkey_head",
      "--keys", "customer_id"))
    sc.addSparkListener(listener)
    val e = try {
      sc.setJobGroup("graft_badkey", "bad key")
      intercept[IllegalArgumentException](Main.runDiffTables(spark, a))
    } finally {
      sc.setJobGroup("graft_badkey_sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime + 30000000000L
      while (!groups.contains("graft_badkey_sentinel") && System.nanoTime < deadline) Thread.sleep(10)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      Seq("base", "head").foreach(s => spark.sql(s"DROP TABLE IF EXISTS graft_badkey_$s"))
    }
    assert(e.getMessage.contains("'customer_id' is not in the head side"), e.getMessage)
    assert(e.getMessage.contains("nearest columns: cust_id, name"), e.getMessage)
    assert(groups.contains("graft_badkey_sentinel"))
    assert(!groups.contains("graft_badkey"), "a Spark job ran before the key check")
  }

  test("diff-tables --format json: null-key warning on stderr, stdout is the report alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_nullkey_")
    Seq((Some(1L), "a"), (None, "b")).toDF("k", "v").write.parquet(s"$dir/base")
    Seq((Some(1L), "a"), (Some(2L), "c")).toDF("k", "v").write.parquet(s"$dir/head")
    val a = Main.parseArgs(Seq("diff-tables", s"$dir/base", s"$dir/head",
      "--keys", "k", "--format", "json"))
    val (out, err) = (new java.io.ByteArrayOutputStream(), new java.io.ByteArrayOutputStream())
    val r = Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
        val r = Main.runDiffTables(spark, a)
        println(Main.render(r, a.format))
        r
      }
    }
    val stdout = out.toString("UTF-8")
    assert(stdout.trim == Main.render(r, "json"), stdout)
    assert(org.json4s.jackson.JsonMethods.parse(stdout) != org.json4s.JNothing)
    assert(err.toString("UTF-8").contains("WARNING: null key values (base=1 head=0 rows)"),
      err.toString("UTF-8"))
  }

  test("diff-tables reads orc/csv/jsonl sources (sniffed and forced), same diff result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_fmt_")
    val base = Seq((1L, "Alice"), (2L, "Bob"), (3L, "Chandra")).toDF("customer_id", "name")
    val head = Seq((1L, "Alice"), (2L, "Bobby"), (4L, "Deepak")).toDF("customer_id", "name")
    // golden on this fixture: added 1 (key 4), removed 1 (key 3), changed 1 (key 2)
    def check(b: String, h: String, extra: Seq[String] = Nil): Unit = {
      val r = Main.runDiffTables(spark, Main.parseArgs(
        Seq("diff-tables", b, h, "--keys", "customer_id", "--format", "json") ++ extra))
      val rd = r.rowDiff.get
      assert((rd.added, rd.removed, rd.changed) == ((1L, 1L, 1L)), s"$b vs $h")
      assert(r.rowcounts.base == 3 && r.rowcounts.head == 3)
    }
    base.write.orc(s"$dir/base_orc"); head.write.orc(s"$dir/head_orc")
    check(s"$dir/base_orc", s"$dir/head_orc") // sniffed from the dir's files
    base.coalesce(1).write.option("header", "true").csv(s"$dir/base_csv")
    head.coalesce(1).write.option("header", "true").csv(s"$dir/head_csv")
    check(s"$dir/base_csv", s"$dir/head_csv", Seq("--in-format", "csv"))
    base.coalesce(1).write.json(s"$dir/base_jsonl")
    head.coalesce(1).write.json(s"$dir/head_jsonl")
    check(s"$dir/base_jsonl", s"$dir/head_jsonl") // sniffed .json part files
    // cross-format: csv base vs parquet head still agrees (inferSchema
    // lands the same long/string types this fixture uses)
    head.write.parquet(s"$dir/head_pq")
    check(s"$dir/base_csv", s"$dir/head_pq", Seq("--in-format", "auto"))
    intercept[IllegalArgumentException](
      Main.parseArgs(Seq("diff-tables", "a", "b", "--in-format", "avro")))
  }

  test("markdown golden: full render pinned, section order matches the reference PR-comment shape") {
    import graft.model._
    // hand-built result with every section populated — deterministic input,
    // so the WHOLE rendered document is a golden string: any formatter edit
    // that moves a section or renames a header fails this test, not a user's
    // pasted PR comment
    val r = DiffResult(
      meta = DiffMeta("dim_customers", "main", "feature", "FULL_DIFF", None,
        Seq("customer_id")),
      rowcounts = RowCounts(3, 4),
      schemaDiff = SchemaDiff(Seq("customer_id", "name"), Seq("email"), Nil),
      columnProfiles = Seq(ColumnProfile("customer_id",
        SideProfile(0, 3, 0.0, 100.0), SideProfile(0, 4, 0.0, 100.0))),
      rowDiff = Some(RowDiff(1, 0, 0, Seq(Map("customer_id" -> "4")),
        Set("customer_id"))))
    val md = graft.formatters.MarkdownFormatter.render(r)
    val golden =
      """# dbt-model-diff: dim_customers
        |
        |`main` → `feature` (mode: FULL_DIFF)
        |
        |## Row counts
        |
        || side | rows |
        || --- | --- |
        || base | 3 |
        || head | 4 |
        |
        |## Schema diff
        |
        || status | columns |
        || --- | --- |
        || common | customer_id, name |
        || only_in_head | email |
        || only_in_base |  |
        || type_changes |  |
        |
        |## Column profiles
        |
        || column | base_nulls | head_nulls | base_distinct | head_distinct | base_null_pct | head_null_pct | base_uniq_pct | head_uniq_pct |
        || --- | --- | --- | --- | --- | --- | --- | --- | --- |
        || customer_id | 0 | 0 | 3 | 4 | 0.00 | 0.00 | 100.00 | 100.00 |
        |
        |## Row diff
        |
        || metric | count |
        || --- | --- |
        || added | 1 |
        || removed | 0 |
        || changed | 0 |
        |
        |### Sample changed keys
        |
        || customer_id |
        || --- |
        || 4 |
        |""".stripMargin
    assert(md == golden, s"markdown drifted:\n$md")
    // section ORDER mirrors the reference's markdown_fmt.py:60-119 document:
    // title/meta → rowcounts → schema differences → column profile →
    // row-level diff → sample changed keys
    val order = Seq("# dbt-model-diff:", "## Row counts", "## Schema diff",
      "## Column profiles", "## Row diff", "### Sample changed keys")
      .map(md.indexOf)
    assert(order == order.sorted && order.forall(_ >= 0))
  }

  test("--salt-skew: planted hot key via CLI — warning fires, digest diff reports planted truth") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_skew_")
    // hot key 9 holds 400 of 402 rows (>20% share -> skewWarning) on both sides
    val hot = (1 to 400).map(i => (9, s"p$i"))
    val base = (hot ++ Seq((1, "a"), (2, "b"))).toDF("k", "v")
    val head = (hot.map { case (k, v) => (k, if (v == "p7") "Z" else v) } ++
      Seq((1, "a"), (3, "c"))).toDF("k", "v")
    base.write.parquet(s"$dir/base"); head.write.parquet(s"$dir/head")
    assert(Main.skewWarning(base, head, Seq("k"), minRows = 100)
      .exists(_.contains("--salt-skew")))
    val a = Main.parseArgs(Seq("diff-tables", s"$dir/base", s"$dir/head",
      "--keys", "k", "--salt-skew", "8", "--no-col-stats", "--format", "json"))
    assert(a.saltSkew.contains(8))
    // by-column needs row pairing - combining it with the digest path is
    // rejected at parse time, not silently dropped from the output
    val conflict = intercept[IllegalArgumentException](Main.parseArgs(
      Seq("diff-tables", "b", "h", "--keys", "k", "--salt-skew", "8", "--by-column")))
    assert(conflict.getMessage.contains("--by-column"))
    val r = Main.runDiffTables(spark, a)
    val rd = r.rowDiff.get
    // planted truth: key 3 added (1 row), key 2 removed (1 row), keys 9 changed
    assert(rd.added == 1 && rd.removed == 1 && rd.changed == 1 && rd.keysNotUnique)
    assert(r.rowcounts.base == 402 && r.rowcounts.head == 402)
  }

  private def git(cwd: Path, args: String*): String = {
    val pb = new ProcessBuilder(("git" +: args): _*)
    pb.directory(cwd.toFile)
    pb.environment().put("GIT_AUTHOR_NAME", "t"); pb.environment().put("GIT_AUTHOR_EMAIL", "t@t")
    pb.environment().put("GIT_COMMITTER_NAME", "t"); pb.environment().put("GIT_COMMITTER_EMAIL", "t@t")
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    assert(p.waitFor() == 0, s"git ${args.mkString(" ")}: $out")
    out.trim
  }

  test("worktree diff detects schema drift between refs") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    val repo = Files.createTempDirectory("graft_drift_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val seeds = repo.resolve("seeds"); Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("customers.csv"),
      "id,name,city\n1,Alice,Oslo\n2,Bob,Lima\n")
    git(repo, "init", "-b", "main")
    Files.writeString(models.resolve("dim.sql"),
      "select id, name, city from {{ ref('customers') }}")
    git(repo, "add", "."); git(repo, "commit", "-m", "base")
    git(repo, "checkout", "-b", "feature/drift")
    Files.writeString(models.resolve("dim.sql"),
      "select id, upper(name) as name, concat(name, '!') as greeting from {{ ref('customers') }}")
    git(repo, "add", "."); git(repo, "commit", "-m", "head drops city, adds greeting, changes name")

    val r = Main.runDiff(spark, Main.parseArgs(Seq("diff", "dim", "--keys", "id",
      "--base", "main", "--head", "feature/drift",
      "--project-dir", repo.toString, "--format", "json")))
    assert(r.schemaDiff.common == Seq("id", "name"))
    assert(r.schemaDiff.onlyInHead == Seq("greeting"))
    assert(r.schemaDiff.onlyInBase == Seq("city"))
    // hash over common non-key columns only: both names changed by upper()
    assert(r.rowDiff.get.changed == 2 && r.rowDiff.get.added == 0 && r.rowDiff.get.removed == 0)

    // rich mode prints the reference's staged progress lines
    // (diff_flow.py:107-122: per-side build lines, then the compare stage);
    // json mode above kept stdout clean for machines
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Main.runDiff(spark, Main.parseArgs(Seq("diff", "dim", "--keys", "id",
        "--base", "main", "--head", "feature/drift",
        "--project-dir", repo.toString, "--format", "rich")))
    }
    val rich = out.toString("UTF-8")
    Seq("creating worktrees", "build (base: main)",
      "build (head: feature/drift)", "comparing snapshots")
      .foreach(stage => assert(rich.contains(stage), s"missing staged line: $stage"))
  }

  test("worktree diff: a head model failing in its snapshot raises its own error and cleans up") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    val repo = Files.createTempDirectory("graft_boom_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val seeds = repo.resolve("seeds"); Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("customers.csv"), "id,name\n1,Alice\n2,Bob\n3,Chandra\n")
    git(repo, "init", "-b", "main")
    // base's snapshot sleeps 1 s a row, so it is still running when head fails
    Files.writeString(models.resolve("boomdim.sql"), "select id, name from {{ ref('customers') }} " +
      "where length(reflect('java.lang.Thread', 'sleep', cast(1000 as bigint))) > 0")
    git(repo, "add", "."); git(repo, "commit", "-m", "base")
    git(repo, "checkout", "-b", "f")
    // fails only when the head snapshot write evaluates row 2
    Files.writeString(models.resolve("boomdim.sql"),
      "select id, case when id = 2 then raise_error('boom') else name end as name " +
        "from {{ ref('customers') }}")
    git(repo, "add", "."); git(repo, "commit", "-m", "head raises")
    val e = intercept[Exception](Main.runDiff(spark, Main.parseArgs(Seq("diff", "boomdim",
      "--keys", "id", "--base", "main", "--head", "f",
      "--project-dir", repo.toString, "--format", "json"))))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("boom")), e)
    assert(!chain.exists(t => String.valueOf(t.getMessage).toLowerCase.contains("cancel")), e)
    assert(git(repo, "worktree", "list").linesIterator.size == 1)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.contains("boomdim") && (n.endsWith("__base") || n.endsWith("__head")))
    assert(left.isEmpty, left.mkString(", "))
  }

  test("--build-mode dbt: macro model builds via external dbt + manifest alias resolution") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    import spark.implicits._
    // the relations "dbt" builds, pre-created in the session catalog under a
    // custom schema with ALIASED names (filename-based resolution would fail).
    // In-memory catalogs forget tables across JVMs but leave warehouse files —
    // clear both before creating.
    spark.sql("DROP DATABASE IF EXISTS graft_dbt_e2e CASCADE")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "graft_dbt_e2e.db"))
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_dbt_e2e")
    Seq((1, "Alice"), (2, "Bob"), (3, "Chandra")).toDF("customer_id", "name")
      .write.mode("overwrite").saveAsTable("graft_dbt_e2e.rel_base")
    Seq((1, "Alice"), (2, "Bob"), (3, "Chandra"), (4, "Deepak")).toDF("customer_id", "name")
      .write.mode("overwrite").saveAsTable("graft_dbt_e2e.rel_head")

    val repo = Files.createTempDirectory("graft_dbtmode_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val target = repo.resolve("target"); Files.createDirectories(target)
    Files.writeString(repo.resolve("dbt_project.yml"), "name: graft_e2e\nversion: '1.0'\n")
    // a model the NATIVE parser cannot handle (macro + var()) — only real
    // dbt jinja rendering could build it
    Files.writeString(models.resolve("dim_customers.sql"),
      "{% set lim = var('limit', 3) %}\nselect * from {{ ref('customers') }} where id <= {{ lim }}")
    def manifest(alias: String): String =
      s"""{"nodes": {"model.graft_e2e.dim_customers": {
         |  "resource_type": "model", "name": "dim_customers", "alias": "$alias",
         |  "schema": "graft_dbt_e2e", "unique_id": "model.graft_e2e.dim_customers"}}}""".stripMargin
    git(repo, "init", "-b", "main")
    Files.writeString(target.resolve("manifest.json"), manifest("rel_base"))
    git(repo, "add", "."); git(repo, "commit", "-m", "base")
    git(repo, "checkout", "-b", "feature/dbt")
    Files.writeString(target.resolve("manifest.json"), manifest("rel_head"))
    git(repo, "add", "."); git(repo, "commit", "-m", "head")

    // stub dbt executable: the warehouse relations already exist (exit 0);
    // it records its argv so flag forwarding is assertable
    val fakeDbt = repo.resolve("fake_dbt.sh")
    val argLog = Files.createTempFile("graft_dbt_args_", ".txt")
    Files.writeString(fakeDbt, s"#!/bin/sh\necho \"$$@\" >> $argLog\nexit 0\n")
    fakeDbt.toFile.setExecutable(true)
    sys.props("graft.dbt.bin") = fakeDbt.toString
    try {
      // --keep-schemas: the physical snapshot dir must be announced (stderr
      // for machine formats, so stdout stays parseable JSON)
      val errBuf = new java.io.ByteArrayOutputStream()
      val r = Console.withErr(errBuf) {
        Main.runDiff(spark, Main.parseArgs(Seq("diff", "dim_customers",
          "--keys", "customer_id", "--base", "main", "--head", "feature/dbt",
          "--project-dir", repo.toString, "--build-mode", "dbt", "--format", "json",
          "--vars", "limit=5", "--keep-schemas")))
      }
      assert(r.rowcounts.base == 3 && r.rowcounts.head == 4)
      // --vars forwards to the external dbt as its YAML-dict form
      val dbtArgs = Files.readString(argLog)
      assert(dbtArgs.contains("--vars {limit: \"5\"}"), s"vars not forwarded: $dbtArgs")
      val rd = r.rowDiff.get
      assert(rd.added == 1 && rd.removed == 0 && rd.changed == 0)
      val kept = errBuf.toString
      assert(kept.contains("snapshots kept at "), s"no kept-path line in: $kept")
      val keptDir = kept.split("snapshots kept at ")(1).split(" ")(0)
      assert(Files.exists(java.nio.file.Paths.get(keptDir)), s"announced path $keptDir missing")
    } finally {
      sys.props.remove("graft.dbt.bin")
      spark.sql("DROP DATABASE IF EXISTS graft_dbt_e2e CASCADE")
    }
  }

  test("--build-mode dbt: profile/catalog mismatch fails with an actionable error") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    // dbt "succeeds" (exit 0) but its manifest resolves to a schema this
    // session's catalog has never seen — the shape of a profile pointing at
    // a different warehouse. Must be a hard, named error, not a stale read.
    val repo = Files.createTempDirectory("graft_dbtmiss_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val target = repo.resolve("target"); Files.createDirectories(target)
    Files.writeString(repo.resolve("dbt_project.yml"), "name: p\nversion: '1.0'\n")
    Files.writeString(models.resolve("dim.sql"), "{% macro m() %}{% endmacro %}select 1")
    Files.writeString(target.resolve("manifest.json"),
      """{"nodes": {"model.p.dim": {"resource_type": "model", "name": "dim",
        |  "alias": "dim", "schema": "graft_no_such_warehouse_schema",
        |  "unique_id": "model.p.dim"}}}""".stripMargin)
    git(repo, "init", "-b", "main")
    git(repo, "add", "."); git(repo, "commit", "-m", "base")
    git(repo, "checkout", "-b", "f"); git(repo, "commit", "--allow-empty", "-m", "head")
    val fakeDbt = repo.resolve("fake_dbt.sh")
    Files.writeString(fakeDbt, "#!/bin/sh\nexit 0\n")
    fakeDbt.toFile.setExecutable(true)
    sys.props("graft.dbt.bin") = fakeDbt.toString
    try {
      val e = intercept[IllegalStateException] {
        Main.runDiff(spark, Main.parseArgs(Seq("diff", "dim", "--keys", "id",
          "--base", "main", "--head", "f",
          "--project-dir", repo.toString, "--build-mode", "dbt", "--format", "json")))
      }
      assert(e.getMessage.contains("not in this Spark session's catalog"))
      assert(e.getMessage.contains("graft_no_such_warehouse_schema"))
      assert(e.getMessage.contains("--build-mode native"))
    } finally sys.props.remove("graft.dbt.bin")
  }

  test("--build-mode dbt falls back to the native runner when dbt is absent") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    val repo = Files.createTempDirectory("graft_dbtfall_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val seeds = repo.resolve("seeds"); Files.createDirectories(seeds)
    Files.writeString(repo.resolve("dbt_project.yml"), "name: p\nversion: '1.0'\n")
    Files.writeString(seeds.resolve("customers.csv"), "id,name\n1,Alice\n2,Bob\n")
    git(repo, "init", "-b", "main")
    Files.writeString(models.resolve("dim.sql"), "select id, name from {{ ref('customers') }}")
    git(repo, "add", "."); git(repo, "commit", "-m", "base")
    git(repo, "checkout", "-b", "f"); git(repo, "commit", "--allow-empty", "-m", "head")
    sys.props("graft.dbt.bin") = "/nonexistent/graft-no-such-dbt"
    try {
      val r = Main.runDiff(spark, Main.parseArgs(Seq("diff", "dim", "--keys", "id",
        "--base", "main", "--head", "f",
        "--project-dir", repo.toString, "--build-mode", "dbt", "--format", "json")))
      assert(r.rowcounts.base == 2 && r.rowcounts.head == 2)
      assert(r.rowDiff.get.changed == 0)
    } finally sys.props.remove("graft.dbt.bin")
  }

  test("manifest resolution: alias/relation_name/schema precedence") {
    import graft.modelrun.DbtBuild
    val dir = Files.createTempDirectory("graft_manifest_")
    Files.createDirectories(dir.resolve("target"))
    Files.writeString(dir.resolve("target/manifest.json"),
      """{"nodes": {
        |  "model.p.a": {"resource_type": "model", "name": "a", "alias": "a_aliased", "schema": "s1"},
        |  "model.p.b": {"resource_type": "model", "name": "b", "schema": "s2",
        |                "relation_name": "\"db\".\"custom\".\"b_rel\""},
        |  "seed.p.a":  {"resource_type": "seed", "name": "a", "schema": "seeds"}
        |}}""".stripMargin)
    val a = DbtBuild.modelNode(dir.toString, "a") // seed with same name must be skipped
    assert(a.alias == "a_aliased" && a.schema == "s1")
    assert(DbtBuild.relation(a) == (("s1", "a_aliased")))
    val b = DbtBuild.modelNode(dir.toString, "b")
    assert(DbtBuild.relation(b) == (("custom", "b_rel"))) // relation_name wins
    intercept[IllegalArgumentException](DbtBuild.modelNode(dir.toString, "missing"))
  }

  test("profiles.yml spark target configures the session; postgres target routes to JDBC source") {
    import graft.modelrun.Profiles
    val dir = Files.createTempDirectory("graft_prof_")
    Files.writeString(dir.resolve("profiles.yml"),
      """graft:
        |  target: dev
        |  outputs:
        |    dev:
        |      type: spark
        |      host: local[8]
        |      schema: analytics
        |      dbname: /tmp/graft_wh
        |    prod:
        |      type: postgres
        |      host: db.example.com
        |      user: u
        |      dbname: warehouse
        |""".stripMargin)
    val sparkConn = Profiles.load(dir.resolve("profiles.yml").toString, Some("graft"), Some("dev"))
    val (master, wh, db) = Main.sessionTarget(Some(sparkConn))
    assert(master.contains("local[8]") && wh.contains("/tmp/graft_wh") && db.contains("analytics"))
    // a postgres target is a data SOURCE (read over JDBC, compared on this
    // Spark session) — it contributes no session overrides and is no longer
    // a hard error (JdbcSourceSpec covers the live-read path)
    val pgConn = Profiles.load(dir.resolve("profiles.yml").toString, Some("graft"), Some("prod"))
    assert(graft.sources.JdbcSource.isJdbc(pgConn))
    assert(Main.sessionTarget(Some(pgConn)) == ((None, None, None)))
    assert(Main.sessionTarget(None) == ((None, None, None)))
  }

  test("keyed CLI snapshots bucket by default and the diff join plans exchange-free") {
    val a = Main.parseArgs(Seq("diff", "m", "--keys", "k"))
    assert(a.bucketSnapshots)
    assert(!Main.parseArgs(Seq("diff", "m", "--keys", "k", "--no-bucket-by-keys")).bucketSnapshots)
    // the CLI's snapshot helper with keys -> bucketed tables -> zero-Exchange diff
    val dir = Files.createTempDirectory("graft_cli_bucket_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "cli_bucket")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val base = Main.snapshotForDiff(store, orders, "m__base", Seq("o_orderkey"), bucket = true, buckets = 4)
    val head = Main.snapshotForDiff(store,
      orders.filter(org.apache.spark.sql.functions.col("o_orderkey") % 7 =!= 0),
      "m__head", Seq("o_orderkey"), bucket = true, buckets = 4)
    try {
      val joined = graft.engine.DiffEngine.rowDiffFrame(base, head,
        Seq("o_orderkey"), Seq("o_orderstatus"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, plan:\n$plan")
      // opting out yields plain parquet snapshots (no catalog table)
      val plain = Main.snapshotForDiff(store, orders, "m__plain", Seq("o_orderkey"), bucket = false)
      assert(plain.count() == orders.count())
    } finally { store.dropTable("m__base"); store.dropTable("m__head"); store.drop() }
  }

  test("skewed diff keys trigger a warning naming the hot value and the salting recipe") {
    import spark.implicits._
    // hot key: 1500 of 2000 base rows share custkey 42
    val base = ((1 to 1500).map(i => (42L, i.toLong)) ++ (1 to 500).map(i => (i.toLong + 100000, i.toLong)))
      .toDF("custkey", "v")
    val head = (1 to 2000).map(i => (i.toLong, i.toLong)).toDF("custkey", "v") // uniform
    val w = Main.skewWarning(base, head, Seq("custkey"))
    assert(w.isDefined)
    assert(w.get.contains("base key 42") && w.get.contains("75%") && w.get.contains("salt"))
    // uniform sides: silent
    assert(Main.skewWarning(head, head, Seq("custkey")).isEmpty)
    // tiny tables never warn even at 100% share (skew is a scale problem)
    val tiny = Seq((1L, 1L), (1L, 2L)).toDF("custkey", "v")
    assert(Main.skewWarning(tiny, tiny, Seq("custkey")).isEmpty)
    // multi-column keys report the struct value; null keys count as a group
    val nulls = ((1 to 1500).map(_ => (null.asInstanceOf[java.lang.Long], 1L)) ++
      (1 to 500).map(i => (java.lang.Long.valueOf(i.toLong), 1L))).toDF("custkey", "v")
    val wn = Main.skewWarning(nulls, head, Seq("custkey", "v"))
    assert(wn.exists(_.contains("base key [null,1] holds 1500 rows (75% of the side)")), wn)
    // a tie between two equally hot keys names the smaller one
    // (skewReport's order: count desc, then key asc nulls first)
    val tie = ((1 to 1000).map(i => (77L, i.toLong)) ++ (1 to 1000).map(i => (7L, i.toLong)) ++
      (1 to 500).map(i => (i.toLong + 100000, i.toLong))).toDF("custkey", "v")
    val wt = Main.skewWarning(tie, head, Seq("custkey"))
    assert(wt.exists(_.contains("base key 7 holds 1000 rows (40% of the side)")), wt)
    val nullTie = ((1 to 1000).map(_ => (null.asInstanceOf[java.lang.Long], 1L)) ++
      (1 to 1000).map(_ => (java.lang.Long.valueOf(3L), 1L))).toDF("custkey", "v")
    assert(Main.skewWarning(nullTie, head, Seq("custkey"))
      .exists(_.contains("base key null holds 1000 rows")))
    assert(Main.skewWarning(base, head, Nil).isEmpty) // STATS_ONLY: no keys, no scan
  }

  test("full worktree diff lifecycle hits the reference e2e golden 3/4/1/0/0") {
    assume(new ProcessBuilder("git", "--version").start().waitFor() == 0, "git unavailable")
    val repo = Files.createTempDirectory("graft_e2e_repo_")
    val models = repo.resolve("models"); Files.createDirectories(models)
    val seeds = repo.resolve("seeds"); Files.createDirectories(seeds)
    Files.writeString(seeds.resolve("customers.csv"),
      "id,name\n1,Alice\n2,Bob\n3,Chandra\n4,Deepak\n")
    git(repo, "init", "-b", "main")
    Files.writeString(models.resolve("dim_customers.sql"),
      "select id as customer_id, name from {{ ref('customers') }} where id <= 3 order by id")
    git(repo, "add", "."); git(repo, "commit", "-m", "base model")
    git(repo, "checkout", "-b", "feature/include-4")
    Files.writeString(models.resolve("dim_customers.sql"),
      "select id as customer_id, name from {{ ref('customers') }} where id <= 4 order by id")
    git(repo, "add", "."); git(repo, "commit", "-m", "head model")

    val a = Main.parseArgs(Seq("diff", "dim_customers", "--keys", "customer_id",
      "--base", "main", "--head", "feature/include-4",
      "--project-dir", repo.toString, "--format", "json"))
    val r = Main.runDiff(spark, a)
    assert(r.rowcounts.base == 3 && r.rowcounts.head == 4)
    val rd = r.rowDiff.get
    assert(rd.added == 1 && rd.removed == 0 && rd.changed == 0)
    val json = Main.render(r, "json")
    assert(json.contains("\"added\": 1") && json.contains("\"mode\": \"FULL_DIFF\""))
  }
}

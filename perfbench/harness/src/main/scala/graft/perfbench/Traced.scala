package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}

import graft.cli.Main
import graft.engine.{CorpusIO, DiffEngine, SnapshotStore}
import graft.modelrun.ModelRunner
import graft.operators.{Dedup, Packing, Pipelines, TextAnalysis}

/** Spans of one traced run, kept in memory until the run ends. Each span
  * also sets its name as the Spark job-group label, so the listener can
  * attribute the jobs a layer call starts to that layer. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val name: String, val parent: Int, val start: Double) {
    var end = 0.0
    val counts = mutable.LinkedHashMap.empty[String, Long]
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile var current = ""

  def isLabel(label: String): Boolean = synchronized(spans.exists(_.name == label))

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), Clock.now())
      spans += s
      s
    }
    enter(s :: stack)
    try body
    finally {
      s.end = Clock.now()
      enter(stack.tail)
    }
  }

  /** Adds `n` to a named count on the innermost open span. */
  def count(key: String, n: Long): Unit =
    stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0L) + n)

  private def enter(next: List[Span]): Unit = {
    stack = next
    next.headOption match {
      case Some(s) =>
        sc.setJobGroup(s.name, s.name, interruptOnCancel = false)
        current = s.name
      case None =>
        sc.clearJobGroup()
        current = ""
    }
  }

  def json: String = synchronized(spans.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
      s""""start": ${s.start}, "end": ${s.end}, "counts": $counts}"""
  }.mkString("[", ",\n", "]"))
}

/** Benchmark-owned listener: aggregates jobs, stages, tasks, task I/O and
  * pinned RDD blocks per job-group label. Jobs without one of the tracer's
  * labels go to the span open when they start. */
final class LayerListener(tracer: Tracer) extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inBytes, inRows, shuffleWrite, spill, outBytes = 0L
    var pinnedPeak = 0L
  }

  val groups = mutable.LinkedHashMap.empty[String, Agg]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  var pinned, pinnedPeak = 0L

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(tracer.isLabel(_)).getOrElse(tracer.current)
    jobGroup(e.jobId) = label
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = label)
    val a = agg(label)
    a.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobGroup.getOrElse(e.jobId, ""), jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    a.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val bytes = b.memSize + b.diskSize
      pinned += bytes - rddBlocks.getOrElse(key, 0L)
      if (bytes > 0) rddBlocks(key) = bytes else rddBlocks.remove(key)
      pinnedPeak = math.max(pinnedPeak, pinned)
      val a = agg(tracer.current)
      a.pinnedPeak = math.max(a.pinnedPeak, pinned)
    }
  }

  def json: String = synchronized {
    val gs = groups.map { case (g, a) =>
      s""""$g": {"jobs": ${a.jobs}, "stages": ${a.stages}, "tasks": ${a.tasks}, """ +
        s""""executor_run_s": ${a.runMs / 1e3}, "executor_cpu_s": ${a.cpuNs / 1e9}, """ +
        s""""gc_s": ${a.gcMs / 1e3}, "input_bytes": ${a.inBytes}, "input_rows": ${a.inRows}, """ +
        s""""shuffle_write_bytes": ${a.shuffleWrite}, "spill_bytes": ${a.spill}, """ +
        s""""output_bytes": ${a.outBytes}, "pinned_peak_bytes": ${a.pinnedPeak}}"""
    }.mkString("{", ",\n", "}")
    val js = jobs.map { case (id, g, s, e) =>
      s"""{"id": $id, "group": "$g", "start": ${s / 1e3}, "end": ${e / 1e3}}"""
    }.mkString("[", ",\n", "]")
    s""""groups": $gs, "jobs": $js, "pinned_peak_bytes": $pinnedPeak"""
  }
}

/** Traced invocation: calls the same public layer functions the CLI calls,
  * one at a time and in the CLI's order, each under a span. Supports the
  * flag sets the benchmark's workloads use (keyed native `diff`, and
  * `curate --near-dup-mode auto`); anything else is refused. Launch it
  * with the same `spark.extraListeners` as [[Cli]].
  *
  * Usage: `graft.perfbench.Traced <trace.json> <CLI arguments...>` */
object Traced {
  def main(args: Array[String]): Unit = {
    val a = Main.parseArgs(args.drop(1).toSeq)
    require(a.profilesDir.isEmpty, "the traced driver builds sessions without a profile only")
    val spark = mainSession()
    val tracer = new Tracer(spark.sparkContext)
    val listener = new LayerListener(tracer)
    spark.sparkContext.addSparkListener(listener)
    val text = a.command match {
      case "curate" => curate(spark, a, tracer)
      case "diff" =>
        val r = diff(spark, a, tracer)
        tracer.span("formatters.render")(Main.render(r, a.format))
    }
    println(text)
    Console.out.flush()
    val output = Clock.now()
    val endBlocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    spark.stop() // drains the listener bus: every event has been delivered
    // stamped by ReadyProbe, as in an untraced invocation, so the two walls compare
    Files.writeString(Paths.get(args(0)),
      s"""{"ready": ${ReadyProbe.ready}, "output": $output, "end": ${Clock.now()}, """ +
        s""""pinned_end_blocks": $endBlocks, ${listener.json},
"spans": ${tracer.json}}""")
  }

  /** A session with the settings `Main.main` gives its own. The CLI entry
    * point runs on a curate whose input does not exist: it builds its
    * session, fails at the first read and stops the session. A new session
    * then starts from the configuration the ReadyProbe saw, less the values
    * Spark assigns to each context it starts. */
  private def mainSession(): SparkSession = {
    val missing = Files.createTempDirectory("graft_session_").resolve("missing").toString
    try Main.main(Array("curate", missing, missing)) catch { case _: Exception => }
    val conf = ReadyProbe.conf.getOrElse(sys.error("Main.main started no session")).clone
    Seq("spark.driver.port", "spark.driver.host", "spark.app.id", "spark.app.startTime",
      "spark.app.submitTime", "spark.executor.id").foreach(conf.remove)
    ReadyProbe.ready = 0.0
    SparkSession.builder().config(conf).getOrCreate()
  }

  private def git(cwd: String, args: String*): String = {
    val pb = new ProcessBuilder(("git" +: args): _*)
    pb.directory(new java.io.File(cwd))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"git ${args.mkString(" ")} failed:\n$out")
    out.trim
  }

  /** `Main.runDiff`'s lifecycle, with the rendering step done by the caller
    * as `Main.main` does. */
  private def diff(spark: SparkSession, a: Main.Args, t: Tracer): graft.model.DiffResult = {
    require(a.buildMode == "native" && a.scopePartition.isEmpty && a.driftCols.isEmpty &&
      a.driftNumericCols.isEmpty && a.profilesDir.isEmpty && !a.keepSnapshots,
      "the traced driver mirrors keyed native diffs only")
    val (repoRoot, baseWt, headWt, store, runId) = t.span("cli.worktree") {
      val repoRoot = git(a.projectDir, "rev-parse", "--show-toplevel")
      val runId = SnapshotStore.sanitize(
        s"${a.model}_${a.baseRef}_${a.headRef}_${System.currentTimeMillis()}")
      val tmp = Files.createTempDirectory("graft_diff_").toString
      val store = new SnapshotStore(spark, tmp, runId)
      git(repoRoot, "worktree", "add", "--detach", s"$tmp/wt_base", a.baseRef)
      git(repoRoot, "worktree", "add", "--detach", s"$tmp/wt_head", a.headRef)
      (repoRoot, s"$tmp/wt_base", s"$tmp/wt_head", store, runId)
    }
    val projRel = Paths.get(repoRoot)
      .relativize(Paths.get(a.projectDir).toAbsolutePath.normalize).toString
    def side(wt: String, label: String): DataFrame = {
      val dir = Paths.get(wt, projRel).toString
      val df = t.span("modelrun") {
        ModelRunner.loadSeeds(spark, dir)
        val models = ModelRunner.loadProject(dir, a.vars)
        t.count("models", models.size.toLong)
        ModelRunner.run(spark, models)(a.model)
      }
      t.span("engine.snapshot") {
        Main.snapshotForDiff(store, df, s"${a.model}__$label", a.keys, a.bucketSnapshots)
      }
    }
    try {
      val baseSnap = side(baseWt, "base")
      val headSnap = side(headWt, "head")
      t.span("engine.precheck") {
        if (a.keys.nonEmpty) {
          DiffEngine.nullKeyCounts(baseSnap, headSnap, a.keys)
          Main.skewWarning(baseSnap, headSnap, a.keys)
        }
      }
      val res = t.span("engine.diff") {
        DiffEngine.diff(baseSnap, headSnap, a.keys, a.where, a.sample,
          approxDistinct = a.approxDistinct, computeProfiles = a.colStats,
          computeByColumn = a.byColumn, model = a.model, baseRef = a.baseRef,
          headRef = a.headRef, saltSkewBuckets = a.saltSkew)
      }
      res.copy(meta = res.meta.copy(
        diffSchema = Some("dbt_model_diff__" + SnapshotStore.sanitize(runId)),
        tables = Some((SnapshotStore.sanitize(s"${a.model}__base"),
          SnapshotStore.sanitize(s"${a.model}__head")))))
    } finally t.span("cli.cleanup") {
      try git(repoRoot, "worktree", "remove", "--force", baseWt) catch { case _: Throwable => }
      try git(repoRoot, "worktree", "remove", "--force", headWt) catch { case _: Throwable => }
      store.dropTable(s"${a.model}__base")
      store.dropTable(s"${a.model}__head")
      store.drop()
    }
  }

  /** `Main.runCurate` for parquet input with `--near-dup-mode auto`, no DSIR
    * targets and no work dir; returns its one-line summary. */
  private def curate(spark: SparkSession, a: Main.Args, t: Tracer): String = {
    require(a.nearDupMode == "auto" && !a.jsonlIn && a.dsirTargets.isEmpty && a.workDir.isEmpty,
      "the traced driver mirrors curate --near-dup-mode auto on parquet input only")
    val (df, inDocs) = t.span("engine.corpusio_read") {
      val df = spark.read.parquet(a.basePath)
      (df, df.count())
    }
    val (nearDupJson, deduped) = t.span("operators.neardup") {
      val adv = Dedup.similarityJoinAdvisor(
        df, "doc_id", "text", minJaccardPct = a.nearDupPct, shingleWords = 3).head()
      val path = adv.getAs[String]("verdict")
      val lshParams =
        if (path == "minhash_lsh") Some(Dedup.lshParamsForThreshold(a.nearDupPct)) else None
      val pairs = path match {
        case "prefix_filter" =>
          Dedup.prefixFilterPairs(df, "doc_id", "text", a.nearDupPct, shingleWords = 3)
        case _ =>
          val (bands, rows) = lshParams.get
          Dedup.minHashLshVerifiedPairs(df, "doc_id", "text", a.nearDupPct,
            numHashes = bands * rows, bandSize = rows)
      }
      val drops = pairs.select(col("b_doc_id").as("doc_id")).distinct().localCheckpoint()
      val removed = drops.count()
      t.count("removed", removed)
      val lshJson = lshParams.map { case (bands, rows) =>
        s""", "lsh_bands": $bands, "lsh_rows": $rows""" }.getOrElse("")
      (s""", "near_dup_mode": "${a.nearDupMode}", "near_dup_path": "$path"""" +
        s""", "pred_pairs_prefix": "${adv.getAs[String]("pred_pairs_prefix")}"""" +
        s""", "pair_budget": ${adv.getAs[Long]("pair_budget")}""" + lshJson +
        s""", "near_dup_removed": $removed""",
        df.join(drops, Seq("doc_id"), "left_anti"))
    }
    // one layer: curateClean only plans, and its quality gate executes inside
    // packByTokenBudget's range sampling and checkpoint
    val packed = t.span("operators.quality_pack") {
      val cleaned = Pipelines.curateClean(deduped, "doc_id", "text",
        TextAnalysis.DefaultStopwords, minWords = a.minWords, spanWords = a.spanWords,
        maxSpanDocs = a.maxSpanDocs, keepText = true)
      Packing.packByTokenBudget(cleaned, "doc_id", "n_tokens", a.budget)
    }
    val curated = packed.persist()
    try {
      val (kept, bins) = t.span("cli.curate_materialize") {
        val kept = curated.count()
        (kept, if (kept == 0) 0L else curated.agg(max("bin_id")).head().getLong(0) + 1)
      }
      t.span("engine.corpusio_write") {
        CorpusIO.writeJsonl(curated, a.headPath, "doc_id", a.shards)
      }
      s"""{"in_docs": $inDocs, "kept_docs": $kept, "bins": $bins, "budget": ${a.budget}""" +
        nearDupJson +
        s""", "quality_gate": {"min_words": ${a.minWords}, "span_words": ${a.spanWords}, """ +
        s""""max_span_docs": ${a.maxSpanDocs}}, "pack_budget": ${a.budget}, "out": "${a.headPath}"}"""
    } finally { curated.unpersist(); () }
  }
}

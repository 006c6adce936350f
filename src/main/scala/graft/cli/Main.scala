package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{DiffEngine, SnapshotStore}
import graft.formatters.{ConsoleFormatter, JsonFormatter, MarkdownFormatter}
import graft.model.{DiffResult, DriftRow}
import graft.modelrun.{DbtBuild, ModelRunner, Profiles}
import graft.sources.JdbcSource

/** CLI with the reference's flag surface (cli.py:31-111):
  *
  *   diff <model> [--keys k1,k2] [--base REF] [--head REF]
  *        [--project-dir DIR] [--profiles-dir DIR] [--profile P] [--target T]
  *        [--where SQL] [--sample N] [--keep-snapshots] [--format rich|json|markdown]
  *
  *   diff-tables <basePath> <headPath> [--keys ...] [--where ...] [--sample N]
  *        [--format ...]              (engine-only: parquet paths, no git/dbt)
  *
  * `diff` follows the reference lifecycle (diff_flow.py:21-277): two git
  * worktrees at base/head refs, model DAG built in each (ModelRunner replaces
  * `dbt build`), snapshots into a run-scoped store, compare, render, clean
  * up. STATS_ONLY when --keys is omitted (diff_flow.py:177-178); stdout stays
  * clean for machine formats (cli.py:134 `verbose = fmt == "rich"`).
  */
object Main {

  final case class Args(
      command: String = "",
      model: String = "",
      basePath: String = "",
      headPath: String = "",
      keys: Seq[String] = Nil,
      baseRef: String = "main",
      headRef: String = "HEAD",
      projectDir: String = ".",
      profilesDir: Option[String] = None,
      profile: Option[String] = None,
      target: Option[String] = None,
      where: Option[String] = None,
      sample: Int = 20, // reference default (cli.py sample=20)
      keepSnapshots: Boolean = false,
      format: String = "rich",
      approxDistinct: Boolean = false,
      colStats: Boolean = true,
      buildMode: String = "native", // native | dbt (external `dbt build`)
      byColumn: Boolean = false,
      scopePartition: Option[String] = None,
      driftCols: Seq[String] = Nil,
      driftNumericCols: Seq[String] = Nil,
      // JDBC-source reads: split the warehouse scan into parallel
      // range-bounded queries on this column
      jdbcPartitionCol: Option[String] = None,
      jdbcPartitions: Int = 8,
      // append the one-row diff summary to this warehouse table after a
      // JDBC-sourced run (the return leg of the reference's in-warehouse
      // workflow)
      publishJdbc: Option[String] = None,
      // keyed diffs bucket both snapshots on the diff keys by default so
      // the row-diff joins plan with zero Exchange
      bucketSnapshots: Boolean = true,
      // Some(buckets): run the row diff on salted per-key digests
      // (DiffEngine.saltedDigestFrame) — the one-flag fix for a hot diff
      // key (SURVEY §7.3 risk 7); row counts stay exact, `changed` counts
      // keys (≡ rows under the unique-key contract), --by-column is off
      saltSkew: Option[Int] = None,
      // reproduce the reference Redshift adapter's boolean-column exclusion
      // (adapters/redshift.py:69) on JDBC-sourced diffs, for users A/B-ing
      // outputs against the reference on Redshift
      redshiftCompat: Boolean = false,
      // --vars k=v,k2=v2: overrides for {{ var(...) }} in native model
      // builds (dbt precedence: CLI beats dbt_project.yml vars:)
      vars: Map[String, String] = Map.empty,
      // diff-tables input format: parquet (default) | orc | csv | jsonl;
      // "auto" sniffs from the path/file extension
      inFormat: String = "auto",
      // curate subcommand
      budget: Long = 256,
      spanWords: Int = 5,
      maxSpanDocs: Long = 2,
      minWords: Int = 50,
      shards: Int = 1,
      jsonlIn: Boolean = false,
      // --near-dup-mode off|auto|exact|lsh: near-duplicate removal ahead
      // of the curate pipeline. 'auto' routes through
      // Dedup.similarityJoinAdvisor — the stats pass that keeps a 100 TB
      // run from silently launching a quadratic exact join on a
      // low-diversity corpus (the r13 probe's 548M-candidate regime);
      // 'exact'/'lsh' force a path, 'off' (default) preserves the
      // pre-r15 pipeline byte-for-byte
      nearDupMode: String = "off",
      nearDupPct: Int = 50,
      // --dsir-targets name=path[,...]: DSIR multi-domain resample ahead
      // of the pipeline's budget cut — each path is a parquet target
      // corpus (text column) whose distribution defines one domain;
      // --dsir-mix m1[,m2...] are the ×1000 mixture weights (default
      // equal). The resolved shares land in the summary JSON.
      dsirTargets: Seq[(String, String)] = Nil,
      dsirMix: Seq[Long] = Nil,
      // --work-dir <path>: per-stage checkpoint store for curate (r17,
      // verdict #5) — each expensive stage commits its survivor ids +
      // summary fragment under a fingerprint-named dir; --resume replays
      // committed stages whose fingerprints (input digest + params hash,
      // chained) still match instead of recomputing them
      workDir: Option[String] = None,
      resume: Boolean = false,
      // ann-maintain subcommand (r17, verdict #7)
      outPath: String = "",
      vecCol: String = "embedding",
      nlist: Int = 16,
      kmeansIters: Int = 2,
      driftX1m: Long = 1000L,
      probeId: Long = 0L,
      annK: Int = 10,
      nprobe: Int = 4,
      // datasheet subcommand
      sourceCol: String = "source",
      // mixture-plan subcommand (r17b): doc/token budgets and the domain
      // column the mixture is planned over
      domainCol: String = "lang",
      budgetDocs: Long = 0L,
      budgetTokens: Long = 0L,
      // neardup-maintain subcommand (r17b)
      maxHamming: Int = 3,
      maxPostings: Int = 500,
      priorPath: Option[String] = None,
      // bpe-train subcommand (r18): merge count, vocab cap, optional
      // corpus encode output (the budget-ready per-doc token counts)
      bpeMerges: Int = 1000,
      maxVocab: Int = 1 << 22,
      encodeOut: Option[String] = None,
      // graph-serve subcommand (r18): build params for the bucket-mate
      // graph and the beam walk, plus the replica-memory contract bound
      gsBits: Int = 4,
      gsKGraph: Int = 5,
      gsBeam: Int = 4,
      gsEntries: Int = 4,
      gsHops: Int = 3,
      maxIndexRows: Long = 10000000L,
      // embedding-datasheet subcommand (r17b)
      probeMod: Long = 50L,
      minNormX100: Int = 50,
      maxNormX100: Int = 200,
      baseVecs: Option[String] = None,
      // advise-layout subcommand
      candidates: Seq[String] = Nil,
      valueCol: Option[String] = None,
      bucketRows: Int = 1000,
      // compact-plan subcommand (bytes)
      smallThreshold: Long = 32L * 1024 * 1024,
      targetSize: Long = 128L * 1024 * 1024,
      // release-manifest subcommand
      idCol: String = "doc_id",
      textCol: String = "text",
      minChars: Int = 200,
      evalMod: Int = 97)

  def parseArgs(argv: Seq[String]): Args = {
    // legacy shape `dbt-model-diff <model>` (no subcommand) is accepted like
    // the reference's compatibility matrix (test_postgres_e2e.py:205-239)
    val (cmd, rest) = argv match {
      case ("diff" | "diff-tables" | "curate" | "advise-layout" | "compact-plan" | "release-manifest" | "datasheet" | "ann-maintain" | "mixture-plan" | "embedding-datasheet" | "neardup-maintain" | "bpe-train" | "graph-serve") +: tail => (argv.head, tail)
      case m +: _ if !m.startsWith("-") => ("diff", argv)
      case _ => ("diff", argv)
    }
    var a = Args(command = cmd)
    var positional = Vector.empty[String]
    var i = 0
    val r = rest.toVector
    def need(flag: String): String = {
      i += 1
      require(i < r.length, s"$flag requires a value"); r(i)
    }
    while (i < r.length) {
      r(i) match {
        case "--keys" => a = a.copy(keys = need("--keys").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--base" => a = a.copy(baseRef = need("--base"))
        case "--head" => a = a.copy(headRef = need("--head"))
        case "--project-dir" => a = a.copy(projectDir = need("--project-dir"))
        case "--profiles-dir" => a = a.copy(profilesDir = Some(need("--profiles-dir")))
        case "--profile" => a = a.copy(profile = Some(need("--profile")))
        case "--target" => a = a.copy(target = Some(need("--target")))
        case "--where" => a = a.copy(where = Some(need("--where")))
        case "--sample" => a = a.copy(sample = need("--sample").toInt)
        case "--keep-snapshots" | "--keep-schemas" => a = a.copy(keepSnapshots = true)
        case "--col-stats" => a = a.copy(colStats = true)
        case "--no-col-stats" => a = a.copy(colStats = false)
        case "--approx" => a = a.copy(approxDistinct = true)
        case "--build-mode" =>
          val m = need("--build-mode").toLowerCase.trim
          require(Set("native", "dbt")(m), s"unsupported build mode '$m' (native|dbt)")
          a = a.copy(buildMode = m)
        case "--by-column" => a = a.copy(byColumn = true)
        case "--scope-partition" => a = a.copy(scopePartition = Some(need("--scope-partition")))
        case "--drift" =>
          a = a.copy(driftCols = need("--drift").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--drift-numeric" =>
          a = a.copy(driftNumericCols =
            need("--drift-numeric").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        case "--jdbc-partition-col" => a = a.copy(jdbcPartitionCol = Some(need("--jdbc-partition-col")))
        case "--jdbc-partitions" => a = a.copy(jdbcPartitions = need("--jdbc-partitions").toInt)
        case "--publish-jdbc" => a = a.copy(publishJdbc = Some(need("--publish-jdbc")))
        case "--bucket-by-keys" => a = a.copy(bucketSnapshots = true)
        case "--no-bucket-by-keys" => a = a.copy(bucketSnapshots = false)
        case "--redshift-compat" => a = a.copy(redshiftCompat = true)
        case "--in-format" =>
          val f = need("--in-format").toLowerCase.trim
          require(Set("auto", "parquet", "orc", "csv", "jsonl", "json")(f),
            s"unsupported --in-format '$f' (auto|parquet|orc|csv|jsonl)")
          a = a.copy(inFormat = if (f == "json") "jsonl" else f)
        case "--vars" =>
          val pairs = need("--vars").split(",").map(_.trim).filter(_.nonEmpty)
            .map { kv =>
              val eq = kv.indexOf('=')
              require(eq > 0, s"--vars expects k=v pairs, got '$kv'")
              kv.substring(0, eq).trim -> kv.substring(eq + 1).trim
            }
          a = a.copy(vars = a.vars ++ pairs)
        case "--salt-skew" =>
          val b = need("--salt-skew").toInt
          require(b > 0, "--salt-skew buckets must be positive")
          a = a.copy(saltSkew = Some(b))
        case "--budget" => a = a.copy(budget = need("--budget").toLong)
        case "--span-words" => a = a.copy(spanWords = need("--span-words").toInt)
        case "--max-span-docs" => a = a.copy(maxSpanDocs = need("--max-span-docs").toLong)
        case "--min-words" => a = a.copy(minWords = need("--min-words").toInt)
        case "--shards" => a = a.copy(shards = need("--shards").toInt)
        case "--jsonl" => a = a.copy(jsonlIn = true)
        case "--format" =>
          val f = need("--format").toLowerCase.trim // reference normalizes (cli.py:102-105)
          require(Set("rich", "json", "markdown")(f), s"unsupported format '$f' (rich|json|markdown)")
          a = a.copy(format = f)
        case flag if flag.startsWith("-") =>
          a = extFlag(a, flag, need)
            .getOrElse(throw new IllegalArgumentException(s"unknown flag '$flag'"))
        case pos => positional :+= pos
      }
      i += 1
    }
    finishParse(cmd, a, positional)
  }


  /** Extension-subcommand flags (curate/datasheet/ann-maintain/mixture/
    * embedding-datasheet…), split out of [[parseArgs]]' flag match — the
    * single match sat past the JVM's 64KB method bytecode limit. Returns
    * None for flags it does not own (the caller then rejects). */
  private def extFlag(a: Args, key: String, need: String => String): Option[Args] = {
    var na = a
    key match {
      case "--near-dup-mode" =>
          val m = need("--near-dup-mode")
          require(Set("off", "auto", "exact", "lsh")(m),
            s"--near-dup-mode must be off|auto|exact|lsh, got '$m'")
          na = na.copy(nearDupMode = m)
      case "--near-dup-pct" =>
          val p = need("--near-dup-pct").toInt
          require(p >= 1 && p <= 100, "--near-dup-pct must be 1..100")
          na = na.copy(nearDupPct = p)
      case "--dsir-targets" =>
          val pairs = need("--dsir-targets").split(",").map(_.trim).filter(_.nonEmpty)
            .map { kv =>
              val eq = kv.indexOf('=')
              require(eq > 0, s"--dsir-targets expects name=path pairs, got '$kv'")
              val n = kv.substring(0, eq).trim
              require(n.matches("[A-Za-z][A-Za-z0-9_]*"),
                s"dsir domain name '$n' must be identifier-safe")
              val p = kv.substring(eq + 1).trim
              // refuse 'name=' at parse time (r17 advice): an empty path
              // otherwise only fails much later inside spark.read.parquet
              // with an opaque error, after upstream stages already ran
              require(p.nonEmpty, s"--dsir-targets pair '$kv' has an empty path")
              n -> p
            }.toSeq
          require(pairs.map(_._1).distinct.size == pairs.size, "dsir domain names must be unique")
          na = na.copy(dsirTargets = pairs)
      case "--dsir-mix" =>
          val m = need("--dsir-mix").split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
          require(m.forall(v => v >= 0 && v <= 1000000L) && m.sum >= 1,
            "--dsir-mix weights must be x1000 values in 0..1e6 with a positive sum")
          na = na.copy(dsirMix = m)
      case "--work-dir" => na = na.copy(workDir = Some(need("--work-dir")))
      case "--resume" => na = na.copy(resume = true)
      case "--source-col" => na = na.copy(sourceCol = need("--source-col"))
      case "--domain-col" => na = na.copy(domainCol = need("--domain-col"))
      case "--budget-docs" => na = na.copy(budgetDocs = need("--budget-docs").toLong)
      case "--budget-tokens" => na = na.copy(budgetTokens = need("--budget-tokens").toLong)
      case "--probe-mod" =>
          na = na.copy(probeMod = need("--probe-mod").toLong)
          require(na.probeMod >= 1, "--probe-mod must be positive")
      case "--min-norm-x100" => na = na.copy(minNormX100 = need("--min-norm-x100").toInt)
      case "--max-norm-x100" => na = na.copy(maxNormX100 = need("--max-norm-x100").toInt)
      case "--base-vecs" => na = na.copy(baseVecs = Some(need("--base-vecs")))
      case "--merges" => na = na.copy(bpeMerges = need("--merges").toInt)
      case "--bits" => na = na.copy(gsBits = need("--bits").toInt)
      case "--kgraph" => na = na.copy(gsKGraph = need("--kgraph").toInt)
      case "--beam" => na = na.copy(gsBeam = need("--beam").toInt)
      case "--n-entry" => na = na.copy(gsEntries = need("--n-entry").toInt)
      case "--max-hops" => na = na.copy(gsHops = need("--max-hops").toInt)
      case "--max-index-rows" => na = na.copy(maxIndexRows = need("--max-index-rows").toLong)
      case "--max-vocab" => na = na.copy(maxVocab = need("--max-vocab").toInt)
      case "--encode-out" => na = na.copy(encodeOut = Some(need("--encode-out")))
      case "--max-hamming" =>
        na = na.copy(maxHamming = need("--max-hamming").toInt)
        require(na.maxHamming >= 0 && na.maxHamming <= 3,
          "--max-hamming must be 0..3 (banded recall is exact only there)")
      case "--max-postings" =>
        na = na.copy(maxPostings = need("--max-postings").toInt)
        require(na.maxPostings >= 2, "--max-postings must be at least 2")
      case "--prior" => na = na.copy(priorPath = Some(need("--prior")))
      case "--candidates" =>
          na = na.copy(candidates =
            need("--candidates").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      case "--value-col" => na = na.copy(valueCol = Some(need("--value-col")))
      case "--bucket-rows" => na = na.copy(bucketRows = need("--bucket-rows").toInt)
      case "--small-threshold" => na = na.copy(smallThreshold = need("--small-threshold").toLong)
      case "--target-size" => na = na.copy(targetSize = need("--target-size").toLong)
      case "--id-col" => na = na.copy(idCol = need("--id-col"))
      case "--text-col" => na = na.copy(textCol = need("--text-col"))
      case "--vec-col" => na = na.copy(vecCol = need("--vec-col"))
      case "--nlist" =>
          na = na.copy(nlist = need("--nlist").toInt)
          require(na.nlist >= 1, "--nlist must be positive")
      case "--kmeans-iters" =>
          na = na.copy(kmeansIters = need("--kmeans-iters").toInt)
          require(na.kmeansIters >= 0, "--kmeans-iters must be >= 0")
      case "--drift-x1m" =>
          na = na.copy(driftX1m = need("--drift-x1m").toLong)
          require(na.driftX1m >= 0L, "--drift-x1m must be >= 0")
      case "--probe-id" => na = na.copy(probeId = need("--probe-id").toLong)
      case "--k" =>
          na = na.copy(annK = need("--k").toInt)
          require(na.annK >= 1, "--k must be positive")
      case "--nprobe" =>
          na = na.copy(nprobe = need("--nprobe").toInt)
          require(na.nprobe >= 1, "--nprobe must be positive")
      case "--min-chars" => na = na.copy(minChars = need("--min-chars").toInt)
      case "--eval-mod" => na = na.copy(evalMod = need("--eval-mod").toInt)
      case _ => return None
    }
    Some(na)
  }

  /** Subcommand-specific positional/combination validation — split out of
    * [[parseArgs]], whose flag match alone sits near the JVM's 64KB method
    * bytecode limit (adding the mixture-plan flags pushed it over). */
  private def finishParse(cmd: String, a: Args, positional: Vector[String]): Args = {
    // flag-combination validation: by-column attribution pairs rows 1:1,
    // which is exactly what the salted digest path avoids — rejecting the
    // combination loudly beats silently dropping the section the user
    // asked for
    require(!(a.byColumn && a.saltSkew.isDefined),
      "--by-column requires row pairing and cannot combine with --salt-skew; drop one")
    cmd match {
      case "diff" =>
        require(positional.nonEmpty, "diff requires a <model> argument")
        a.copy(model = positional.head)
      case "diff-tables" =>
        require(positional.length >= 2, "diff-tables requires <basePath> <headPath>")
        a.copy(basePath = positional(0), headPath = positional(1),
          model = if (positional.length > 2) positional(2) else "tables")
      case "curate" =>
        require(positional.length >= 2, "curate requires <inPath> <outPath>")
        require(a.dsirMix.isEmpty || a.dsirMix.size == a.dsirTargets.size,
          "--dsir-mix needs one weight per --dsir-targets domain")
        // refused at parse time (self-review r17a): runCurate's own check
        // sat after the full input scan — an argument error must not cost
        // a corpus pass
        require(!a.resume || a.workDir.isDefined, "--resume requires --work-dir")
        a.copy(basePath = positional(0), headPath = positional(1), model = "curate")
      case "datasheet" =>
        require(positional.nonEmpty, "datasheet requires an <inPath> argument")
        a.copy(basePath = positional.head, model = "datasheet")
      case "advise-layout" =>
        require(positional.nonEmpty, "advise-layout requires a <tablePath> argument")
        require(a.candidates.nonEmpty, "advise-layout requires --candidates c1[,c2,...]")
        a.copy(basePath = positional.head, model = "advise-layout")
      case "compact-plan" =>
        require(positional.nonEmpty, "compact-plan requires a <tablePath> argument")
        require(a.smallThreshold > 0 && a.targetSize > 0, "sizes must be positive")
        a.copy(basePath = positional.head, model = "compact-plan")
      case "release-manifest" =>
        require(positional.nonEmpty, "release-manifest requires a <docsPath> argument")
        require(a.minChars >= 0 && a.minWords >= 0 && a.evalMod >= 2,
          "min-chars/min-words must be >= 0 and eval-mod >= 2")
        a.copy(basePath = positional.head, model = "release-manifest")
      case "mixture-plan" =>
        require(positional.nonEmpty, "mixture-plan requires a <docsPath> argument")
        require(a.budgetDocs > 0 || a.budgetTokens > 0,
          "mixture-plan needs --budget-docs and/or --budget-tokens")
        a.copy(basePath = positional.head, model = "mixture-plan")
      case "graph-serve" =>
        require(positional.length >= 3,
          "graph-serve requires <corpusVecs> <probeVecs> <outDir>")
        require(a.gsBits >= 1 && a.gsKGraph >= 1 && a.gsBeam >= 1 &&
          a.gsEntries >= 1 && a.gsHops >= 0 && a.annK >= 1,
          "--bits/--kgraph/--beam/--n-entry/--k must be >= 1, --max-hops >= 0")
        a.copy(basePath = positional(0), headPath = positional(1),
          outPath = positional(2), model = "graph-serve")
      case "bpe-train" =>
        require(positional.length >= 2, "bpe-train requires <docsPath> <outDir>")
        require(a.bpeMerges >= 1, "--merges must be positive")
        require(a.maxVocab >= 1, "--max-vocab must be positive")
        a.copy(basePath = positional(0), outPath = positional(1), model = "bpe-train")
      case "neardup-maintain" =>
        require(positional.length >= 3,
          "neardup-maintain requires <corpusDocs> <batchDocs> <outDir>")
        a.copy(basePath = positional(0), headPath = positional(1),
          outPath = positional(2), model = "neardup-maintain")
      case "embedding-datasheet" =>
        require(positional.nonEmpty, "embedding-datasheet requires a <vecsPath> argument")
        a.copy(basePath = positional.head, model = "embedding-datasheet")
      case "ann-maintain" =>
        require(positional.length >= 3,
          "ann-maintain requires <baseVecs> <batchVecs> <outDir>")
        a.copy(basePath = positional(0), headPath = positional(1),
          outPath = positional(2), model = "ann-maintain")
    }
  }

  def render(r: DiffResult, format: String): String = format match {
    case "json" => JsonFormatter.render(r)
    case "markdown" => MarkdownFormatter.render(r)
    // color only on an interactive terminal — pipes/CI/tests get plain
    // text (same discipline as rich's auto-detection in the reference)
    case _ => ConsoleFormatter.render(r, color = colorTerminal)
  }

  /** True only for an interactive terminal with color not opted out.
    * `System.console() != null` alone is wrong on JDK 22+ (JDK-8295803:
    * non-null even with redirected streams — `isTerminal()` is the real
    * check there, probed reflectively since this builds on 17); NO_COLOR
    * (no-color.org) always wins. */
  private def colorTerminal: Boolean =
    sys.env.get("NO_COLOR").isEmpty && (System.console() match {
      case null => false
      case c =>
        try classOf[java.io.Console].getMethod("isTerminal")
          .invoke(c).asInstanceOf[Boolean]
        catch { case _: NoSuchMethodException => true } // JDK <= 21: non-null console IS a tty
    })

  private def log(a: Args, msg: String): Unit =
    if (a.format == "rich") println(msg) // machine formats keep stdout clean

  /** git helper (subprocess, like core/subprocess_utils.py:9-43). */
  private def git(cwd: String, args: String*): String = {
    val pb = new ProcessBuilder(("git" +: args): _*)
    pb.directory(new java.io.File(cwd))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    require(p.waitFor() == 0, s"git ${args.mkString(" ")} failed:\n$out")
    out.trim
  }

  /** Build the project's model DAG inside one worktree and return the diffed
    * model's frame (replaces stages 5-7 of the reference lifecycle). */
  private def buildModelNative(spark: SparkSession, worktree: String, model: String,
      vars: Map[String, String] = Map.empty): DataFrame = {
    ModelRunner.loadSeeds(spark, worktree)
    val models = ModelRunner.loadProject(worktree, vars)
    val frames = ModelRunner.run(spark, models)
    frames.getOrElse(model,
      throw new IllegalArgumentException(
        s"model '$model' not found; project has: ${frames.keys.toSeq.sorted.mkString(", ")}"))
  }

  /** `--build-mode dbt`: run the real `dbt build` in the worktree
    * (core/dbt_runner.py:11-39), resolve the built relation via
    * target/manifest.json — alias / custom schema / duplicate basenames
    * resolve correctly (core/manifest.py:11-65) — and read it from the
    * catalog. Falls back to the native runner with a warning when the dbt
    * executable is absent. */
  private def buildModelAt(spark: SparkSession, worktree: String, a: Args,
      jdbc: Option[Profiles.ConnInfo] = None): DataFrame =
    a.buildMode match {
      case "dbt" =>
        try {
          DbtBuild.build(worktree, a.profilesDir, a.model, a.target, vars = a.vars)
          val node = DbtBuild.modelNode(worktree, a.model)
          val (schema, ident) = DbtBuild.relation(node)
          log(a, s"dbt built ${node.uniqueId} -> $schema.$ident")
          // jdbc profile: dbt just built INSIDE the live warehouse — read the
          // built relation back over JDBC (the reference's lifecycle,
          // diff_flow.py:107-122, with Spark as the comparison engine)
          if (jdbc.isDefined)
            JdbcSource.read(spark, jdbc.get, s"$schema.$ident",
              partitionColumn = a.jdbcPartitionCol, numPartitions = a.jdbcPartitions)
          else {
          // catalog coherence: dbt wrote wherever its PROFILE points, which
          // is not necessarily this session's warehouse — the reference gets
          // coherence for free because one conn_info drives both build and
          // compare (cli.py:110-117, core/dbt_profiles.py:14-85). A missing
          // relation here means the profile targeted a different catalog;
          // fail with the mismatch spelled out instead of a bare
          // TABLE_OR_VIEW_NOT_FOUND (or, worse, silently reading stale data
          // left by an earlier run).
          try DbtBuild.readRelation(spark, schema, ident)
          catch {
            case e: org.apache.spark.sql.AnalysisException =>
              val prof = a.profilesDir.map(p => s"--profiles-dir $p").getOrElse("default profiles dir")
              val tgt = a.target.map(t => s"--target $t").getOrElse("default target")
              throw new IllegalStateException(
                s"dbt reported building ${node.uniqueId} as '$schema.$ident', but that relation " +
                  s"is not in this Spark session's catalog (warehouse: " +
                  s"${spark.conf.get("spark.sql.warehouse.dir")}). The dbt profile ($prof, $tgt) " +
                  "likely targets a different warehouse/catalog than this session; point it at " +
                  "the session's warehouse or use --build-mode native.", e)
          }
          }
        } catch {
          case e: DbtBuild.DbtUnavailable =>
            warn(a, s"WARNING: ${e.message} — falling back to the native model runner")
            buildModelNative(spark, worktree, a.model, a.vars)
        }
      case _ => buildModelNative(spark, worktree, a.model, a.vars)
    }

  /** `--scope-partition COL`: compare partition fingerprints first (two
    * aggregate scans producing tiny tables) and keep only partitions whose
    * content moved — the incremental-diff scope. Left-semi join, never a
    * collected IN-list, so the partition count can be huge. Rowcounts and
    * profiles then describe the CHANGED SCOPE, not the full tables (the
    * added/removed/changed counts are identical either way — unchanged
    * partitions contribute none). */
  private def scopeByChangedPartitions(
      spark: SparkSession, base: DataFrame, head: DataFrame, pc: String): (DataFrame, DataFrame) = {
    val hashCols = base.columns.toSeq.intersect(head.columns.toSeq).filterNot(_ == pc)
    require(hashCols.nonEmpty, s"--scope-partition $pc leaves no columns to fingerprint")
    val parts = DiffEngine.changedPartitions(base, head, pc, hashCols)
      .withColumnRenamed("part", pc)
    (base.join(parts, Seq(pc), "left_semi"), head.join(parts, Seq(pc), "left_semi"))
  }

  /** Hot-key diagnostic for keyed diffs (the top-1 of
    * [[graft.engine.SkewTools.skewReport]] on both sides): when one key
    * value holds more than `shareX10000` basis points (default 20%) of a
    * side's rows AND at least `minRows` rows (skew is a scale problem),
    * return a warning naming the value, its share, and the mitigation
    * recipe. Cost: ONE read per side — a `groupBy` on the key columns
    * themselves (a snapshot bucketed on the keys groups without an
    * exchange), folded into the side's row total and its hottest key. The
    * hottest key is `min((-n, keys))`: the largest group, ties to the
    * smallest key with NULLs first — skewReport's order. NULL keys count as
    * their own group (the classic silent skew). */
  def skewWarning(base: DataFrame, head: DataFrame, keys: Seq[String],
      shareX10000: Long = 2000, minRows: Long = 1000): Option[String] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col, count, lit, min, struct, sum}
    if (keys.isEmpty) None
    else {
      def hot(df: DataFrame, side: String): Option[String] = {
        val r = df.groupBy(keys.map(DiffEngine.ident): _*).agg(count(lit(1)).as("__n"))
          .agg(sum("__n"), min(struct(-col("__n") +: keys.map(DiffEngine.ident): _*)))
          .head()
        if (r.isNullAt(0)) None // empty side
        else {
          val top = r.getStruct(1)
          val n = -top.getLong(0)
          val share = n * 10000 / r.getLong(0)
          val key = if (keys.length == 1) top.get(1) else Row.fromSeq(top.toSeq.tail)
          Option.when(share >= shareX10000 && n >= minRows)(
            s"$side key ${String.valueOf(key)} holds $n rows (${share / 100}% of the side)")
        }
      }
      val hits = hot(base, "base") ++ hot(head, "head")
      if (hits.isEmpty) None
      else Some(s"WARNING: diff key (${keys.mkString(", ")}) is skewed — ${hits.mkString("; ")}. " +
        "Re-run with --salt-skew N to diff via salted per-key digests (row-exact counts, " +
        "no hot-partition join); AQE skew-split (on by default) also rebalances the " +
        "sort-merge row-diff join when keys are unique.")
    }
  }

  /** Snapshot one diff side. Keyed diffs bucket (and sort) on the diff keys
    * by default — both sides land hash-co-partitioned, so the anti/full-
    * outer row-diff joins plan with ZERO Exchange (DiffEngineSpec asserts
    * the plan). At 100 TB this converts the diff's one remaining shuffle of
    * both tables into none; the clustering cost is paid once at snapshot
    * time. `--no-bucket-by-keys` opts out (e.g. snapshot dirs consumed by
    * external tools that expect plain parquet files). */
  def snapshotForDiff(store: SnapshotStore, df: DataFrame, table: String,
      keys: Seq[String], bucket: Boolean, buckets: Int = 32): DataFrame =
    if (bucket && keys.nonEmpty) store.snapshotBucketed(df, table, keys, buckets)
    else store.snapshot(df, table)

  /** Where every diff warning goes: stdout in rich mode, stderr for json
    * and markdown so machine stdout stays the report alone (cli.py:134). */
  private def warn(a: Args, msg: String): Unit =
    if (a.format == "rich") println(msg) else Console.err.println(msg)

  /** The compare stage every diff driver ends in (the reference
    * lifecycle's step 5, diff_flow.py:124-262). `side(name, ref)` produces
    * one side — a worktree build, a path or catalog load, a JDBC read — on
    * the caller thread, and each side's keys are checked
    * ([[DiffEngine.requireKeys]]) before anything runs on it. With a
    * `runId` each side is copied into a run-scoped snapshot store (bucketed
    * on the keys by default). With `concurrentSnapshots` both sides are
    * built first and the two snapshot writes then run at once
    * ([[graft.tools.Concurrent.join2]]: the first failure cancels the
    * other write and is the error raised). Otherwise one side at a time: in
    * dbt mode both builds materialize the SAME warehouse relation, so base
    * must be copied out before head builds. Then, in order: the null-key
    * and hot-key warnings (read before a hot duplicated key multiplies the
    * join), `--scope-partition`, the diff, `--drift`/`--drift-numeric`,
    * and the snapshot namespace in meta (diff_flow.py:87-88). The store is
    * dropped afterwards unless `--keep-snapshots` (diff_flow.py:271-275). */
  private def compare(spark: SparkSession, a: Args, refs: (String, String),
      runId: Option[String], concurrentSnapshots: Boolean = false)
      (side: (String, String) => DataFrame): DiffResult = {
    val store = runId.map(new SnapshotStore(spark, Files.createTempDirectory("graft_diff_").toString, _))
    val tables = (s"${a.model}__base", s"${a.model}__head")
    def build(name: String, ref: String): DataFrame = {
      val df = side(name, ref)
      DiffEngine.requireKeys(df, name, a.keys)
      df
    }
    def snapshot(df: DataFrame, table: String): DataFrame =
      store.fold(df)(snapshotForDiff(_, df, table, a.keys, a.bucketSnapshots))
    try {
      val (base, head) =
        if (concurrentSnapshots) {
          val (b, h) = (build("base", refs._1), build("head", refs._2))
          graft.tools.Concurrent.join2(spark, "diff-snapshot")(
            snapshot(b, tables._1), snapshot(h, tables._2))
        } else {
          val b = snapshot(build("base", refs._1), tables._1)
          (b, snapshot(build("head", refs._2), tables._2))
        }
      if (store.isDefined) log(a, "comparing snapshots")
      if (a.keys.nonEmpty) {
        val (bn, hn) = DiffEngine.nullKeyCounts(base, head, a.keys)
        if (bn + hn > 0)
          warn(a, s"WARNING: null key values (base=$bn head=$hn rows) — these rows can never match and inflate added/removed")
        skewWarning(base, head, a.keys).foreach(warn(a, _))
      }
      val (b, h) = a.scopePartition.fold((base, head)) { pc =>
        log(a, s"scoping to partitions of '$pc' whose fingerprint changed")
        scopeByChangedPartitions(spark, base, head, pc)
      }
      val res = DiffEngine.diff(b, h, a.keys, a.where, a.sample,
        approxDistinct = a.approxDistinct, computeProfiles = a.colStats, computeByColumn = a.byColumn,
        model = a.model, baseRef = refs._1, headRef = refs._2,
        saltSkewBuckets = a.saltSkew)
      res.copy(
        meta = runId.fold(res.meta)(id => res.meta.copy(
          diffSchema = Some("dbt_model_diff__" + SnapshotStore.sanitize(id)),
          tables = Some((SnapshotStore.sanitize(tables._1), SnapshotStore.sanitize(tables._2))))),
        drift = computeDrift(b, h, a.driftCols, a.where),
        driftNumeric = computeNumericDrift(b, h, a.driftNumericCols, a.where))
    } finally store.foreach { s =>
      if (a.keepSnapshots)
        // the JSON meta records only logical names; without the physical
        // path, kept snapshots are unfindable in an unannounced temp dir
        warn(a, s"snapshots kept at ${s.runDir} (tables ${tables._1} / ${tables._2})")
      else {
        // bucketed snapshots also carry catalog entries (DROP IF EXISTS —
        // no-op for plain parquet snapshots)
        s.dropTable(tables._1)
        s.dropTable(tables._2)
        s.drop()
      }
    }
  }

  def runDiff(spark: SparkSession, a: Args,
      jdbc: Option[Profiles.ConnInfo] = None): DiffResult = {
    val repoRoot = git(a.projectDir, "rev-parse", "--show-toplevel")
    val runId = SnapshotStore.sanitize(s"${a.model}_${a.baseRef}_${a.headRef}_${System.currentTimeMillis()}")
    val wtDir = Files.createTempDirectory("graft_wt_").toString
    val worktree = Map("base" -> s"$wtDir/wt_base", "head" -> s"$wtDir/wt_head")
    try {
      log(a, s"creating worktrees for ${a.baseRef}..${a.headRef}")
      git(repoRoot, "worktree", "add", "--detach", worktree("base"), a.baseRef)
      git(repoRoot, "worktree", "add", "--detach", worktree("head"), a.headRef)
      val projRel = Paths.get(repoRoot).relativize(Paths.get(a.projectDir).toAbsolutePath.normalize).toString
      // native builds are lazy frames over each worktree's own files, so
      // both snapshot writes can run at once; dbt builds share a relation
      compare(spark, a, (a.baseRef, a.headRef), Some(runId),
          concurrentSnapshots = a.buildMode != "dbt") { (side, ref) =>
        log(a, s"build ($side: $ref)")
        buildModelAt(spark, Paths.get(worktree(side), projRel).toString, a, jdbc)
      }
    } finally worktree.values.foreach { wt =>
      try git(repoRoot, "worktree", "remove", "--force", wt) catch { case _: Throwable => }
    }
  }

  /** diff-tables over paths or catalog tables; with a postgres / redshift /
    * jdbc profile target, over a live warehouse — the reference's
    * deployment mode. Warehouse relations are read over JDBC (`--where`
    * pushed into the remote scan, `--jdbc-partition-col` splitting the
    * transfer into parallel bounded queries), then snapshotted to Parquet
    * (the CTAS-copy isolation step, adapters/postgres.py:37-44) so every
    * comparison pass runs on an immutable columnar copy instead of
    * re-querying the live warehouse. `--where` is re-applied to the
    * snapshots inside diff(): a no-op on rows that keeps one code path. */
  def runDiffTables(spark: SparkSession, a: Args,
      jdbc: Option[Profiles.ConnInfo] = None): DiffResult = jdbc match {
    case Some(conn) =>
      val runId = SnapshotStore.sanitize(s"${a.model}_${System.currentTimeMillis()}")
      compare(spark, a, (a.basePath, a.headPath), Some(runId)) { (_, rel) =>
        JdbcSource.read(spark, conn, rel, a.where,
          a.jdbcPartitionCol, a.jdbcPartitions, redshiftCompat = a.redshiftCompat)
      }
    case None =>
      // path inputs read as parquet/orc/csv/jsonl (--in-format, or sniffed
      // from the path's or its first data file's extension); anything not a
      // filesystem path resolves as a catalog table. csv reads header +
      // inferSchema so a reference user can diff warehouse CSV exports
      // directly; jsonl is Spark's native json-lines reader.
      def load(p: String): DataFrame =
        if (!Files.exists(Paths.get(p))) spark.table(p)
        else {
          def ext(n: String): Option[String] = n.lastIndexOf('.') match {
            case i if i > 0 => Some(n.substring(i + 1).toLowerCase)
            case _ => None
          }
          val fmt = a.inFormat match {
            case "auto" =>
              val f = new java.io.File(p)
              val fromDir =
                if (!f.isDirectory) None
                else Option(f.listFiles).getOrElse(Array.empty)
                  .iterator.filter(_.isFile).flatMap(c => ext(c.getName))
                  .find(Set("parquet", "orc", "csv", "json", "jsonl"))
              ext(f.getName).filter(Set("orc", "csv", "json", "jsonl"))
                .orElse(fromDir).getOrElse("parquet")
            case f => f
          }
          fmt match {
            case "orc" => spark.read.orc(p)
            case "csv" =>
              spark.read.option("header", "true").option("inferSchema", "true").csv(p)
            case "json" | "jsonl" => spark.read.json(p)
            case _ => spark.read.parquet(p)
          }
        }
      compare(spark, a, (a.basePath, a.headPath), None)((_, p) => load(p))
  }

  /** One-row run-history record for `--publish-jdbc`: the numbers a
    * warehouse dashboard trends per model per run. Missing row-diff
    * sections (STATS_ONLY runs) publish as -1, not NULL — BI-side
    * `WHERE added >= 0` beats three-valued-logic surprises. */
  def summaryFrame(spark: SparkSession, r: DiffResult): DataFrame = {
    import spark.implicits._
    Seq((
      r.meta.model, r.meta.baseRef, r.meta.headRef,
      r.rowcounts.base, r.rowcounts.head,
      r.rowDiff.map(_.added).getOrElse(-1L),
      r.rowDiff.map(_.removed).getOrElse(-1L),
      r.rowDiff.map(_.changed).getOrElse(-1L),
      if (r.rowDiff.exists(_.keysNotUnique)) 1 else 0,
      java.time.Instant.now().toString
    )).toDF("model", "base_ref", "head_ref", "base_rows", "head_rows",
      "added", "removed", "changed", "keys_not_unique", "published_at")
  }

  /** `curate <in> <out>`: the end-to-end corpus cleanup
    * ([[graft.operators.Pipelines.curateAndPack]]) from the shell — quality
    * gate, boilerplate scrub, dedup on cleaned text, sequence packing —
    * reading parquet (or `--jsonl`) with (doc_id, text) columns and writing
    * range-sharded JSONL plus a one-line JSON summary on stdout.
    * `--near-dup-mode auto` prepends advisor-routed near-dup removal
    * ([[graft.operators.Dedup.similarityJoinAdvisor]]); the summary then
    * carries the resolved path, predicted candidate mass, budget and
    * removal count. */
  def runCurate(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // parsed is the cached JSONL frame (partitionCorrupt's contract) — it
    // must be released once the pipeline has materialized, or it pins
    // block-manager memory through the heaviest stages
    var parsed: Option[DataFrame] = None
    val df =
      if (a.jsonlIn) {
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType)))
        val raw = graft.engine.CorpusIO.readJsonl(spark, a.basePath, schema)
        val (clean, corrupt) = graft.engine.CorpusIO.partitionCorrupt(raw)
        parsed = Some(raw)
        val nBad = corrupt.count()
        if (nBad > 0)
          Console.err.println(s"WARNING: $nBad malformed JSONL lines quarantined (dropped)")
        clean
      } else spark.read.parquet(a.basePath)
    val inDocs = df.count()
    // ---- resumable stages (r17, verdict #5): fingerprints are computed
    // ONLY when --work-dir is given (the digest pass is one map-side scan
    // of the corpus — cheap next to the stages it saves, but not free, so
    // the default pipeline stays byte-identical). Each fingerprint chains
    // the input content digest with the stage's canonical params and every
    // UPSTREAM stage's fingerprint, so a changed input, changed upstream
    // params, or changed own params all refuse the stale checkpoint; DSIR
    // target corpora are content-digested too (a re-crawled target with
    // the same path must invalidate the stage). --resume-without---work-dir
    // is refused back in parseArgs, before any input scan.
    val stageFps: Map[String, String] = a.workDir.map { _ =>
      val digest = graft.engine.CurateResume.corpusDigest(df, "doc_id", "text")
      val tgts = a.dsirTargets.map { case (n, p) =>
        val d = graft.engine.CurateResume
          .corpusDigest(spark.read.parquet(p), "text", "text")
        s"$n@$p#$d"
      }.mkString(",")
      val mixCanon =
        (if (a.dsirMix.nonEmpty) a.dsirMix
         else Seq.fill(a.dsirTargets.size)(1000L)).mkString(",")
      graft.engine.CurateResume.stageFingerprints(digest, Seq(
        "near_dup" -> s"mode=${a.nearDupMode}|pct=${a.nearDupPct}",
        "dsir" -> s"targets=$tgts|mix=$mixCanon",
        // r18 (VERDICT r17 #7): the quality gate and packing join the
        // chain — the Gopher scan is the most expensive stage left
        // re-running on resume. Shard count is layout-only (same rows
        // either way) and deliberately NOT in the pack fingerprint.
        "quality" -> s"minWords=${a.minWords}|spanWords=${a.spanWords}|maxSpanDocs=${a.maxSpanDocs}",
        "pack" -> s"budget=${a.budget}"))
        .map { case (n, _, fp) => n -> fp }.toMap
    }.getOrElse(Map.empty)
    val resumedStages = scala.collection.mutable.ArrayBuffer.empty[String]
    def resumeStage(stage: String): Option[(DataFrame, String)] =
      if (!a.resume) None
      else for {
        wd <- a.workDir
        fp <- stageFps.get(stage)
        hit <- graft.engine.CurateResume.loadStage(spark, wd, stage, fp)
      } yield { resumedStages += stage; hit }
    def commitStage(stage: String, ids: DataFrame, meta: String): Unit =
      for (wd <- a.workDir; fp <- stageFps.get(stage))
        graft.engine.CurateResume.commitStage(spark, wd, stage, fp, ids, meta)
    // near-dup stage (r15): runs on the RAW text ahead of the pipeline
    // (the pipeline's own dedup is exact-on-clean-text; this one catches
    // reworded/banner-variant copies). Survivorship is min-id per pair —
    // same contract as the pipeline's exact stage. 'auto' pays one
    // advisor stats pass (the same keyed shuffles the exact join would
    // start with) to pick the path that terminates: prefix_filter when
    // the predicted candidate mass fits n_docs*100, minhash_lsh when the
    // corpus itself is quadratic at the threshold.
    val (nearDupJson, deduped) =
      if (a.nearDupMode == "off") ("", df)
      else resumeStage("near_dup") match {
        case Some((drops, meta)) =>
          // the committed drop-id set replays the stage: the anti-join is
          // the only work re-done (the pair join — the expensive part —
          // is what the checkpoint saved)
          (meta, df.join(drops.select("doc_id"), Seq("doc_id"), "left_anti"))
        case None =>
        import org.apache.spark.sql.functions.col
        // the advisor stats pass runs ONLY when its verdict decides the
        // route (r15 review: a forced --near-dup-mode lsh was paying the
        // full postings build just to decorate the summary — on exactly
        // the corpora users force lsh on)
        val adv = if (a.nearDupMode == "auto")
          Some(graft.operators.Dedup.similarityJoinAdvisor(
            df, "doc_id", "text", minJaccardPct = a.nearDupPct, shingleWords = 3).head())
        else None
        val path = a.nearDupMode match {
          case "auto" => adv.get.getAs[String]("verdict")
          case "exact" => "prefix_filter"
          case _ => "minhash_lsh"
        }
        // BOTH paths verify exact Jaccard >= pct before anything is
        // dropped (r15 review: raw LSH band collisions fire well below
        // the threshold — removal on an unverified candidate is silent
        // data loss). Removal is min-id survivorship per verified pair.
        // The LSH leg's banding is DERIVED from the threshold (r16,
        // verdict top item): a fixed 4×2 split has its S-curve midpoint
        // at J≈0.5, so a user asking --near-dup-pct 30 silently lost
        // candidate recall no verify could restore; the resolved split
        // is pinned in the summary JSON for attribution.
        val lshParams =
          if (path == "minhash_lsh")
            Some(graft.operators.Dedup.lshParamsForThreshold(a.nearDupPct))
          else None
        val pairs = path match {
          case "prefix_filter" => graft.operators.Dedup.prefixFilterPairs(
            df, "doc_id", "text", a.nearDupPct, shingleWords = 3)
          case _ =>
            val (bands, rows) = lshParams.get
            graft.operators.Dedup.minHashLshVerifiedPairs(
              df, "doc_id", "text", a.nearDupPct,
              numHashes = bands * rows, bandSize = rows)
        }
        // ids only, bounded: pin so the count and the anti-join share ONE
        // execution of the pair join instead of running it twice
        val drops = pairs.select(col("b_doc_id").as("doc_id")).distinct()
          .localCheckpoint()
        val removed = drops.count()
        val kept = df.join(drops, Seq("doc_id"), "left_anti")
        val advJson = adv.map(r =>
          s""", "pred_pairs_prefix": "${r.getAs[String]("pred_pairs_prefix")}"""" +
            s""", "pair_budget": ${r.getAs[Long]("pair_budget")}""").getOrElse("")
        val lshJson = lshParams.map { case (bands, rows) =>
          s""", "lsh_bands": $bands, "lsh_rows": $rows""" }.getOrElse("")
        val json = s""", "near_dup_mode": "${a.nearDupMode}", "near_dup_path": "$path"""" +
          advJson + lshJson + s""", "near_dup_removed": $removed"""
        // checkpoint: the drop ids are the stage's whole decision (tiny —
        // one long per removed doc) and the meta fragment preserves the
        // data-dependent advisor verdict across the resume
        commitStage("near_dup", drops, json)
        (json, kept)
      }
    // DSIR multi-domain resample (r16, verdict #8): importance-weight the
    // corpus against external TARGET distributions (one parquet per
    // domain) and keep each doc with probability ∝ its mixture weight —
    // the q333 composition through the shell, BEFORE the pipeline's
    // budget cut. Targets join the model fit tagged by a (src, id)
    // struct id, so corpus ids can never collide with target rows (their
    // per-doc scores are discarded; only the bucket models they train
    // matter, so the targets' synthetic ids carry no semantics).
    val (dsirJson, selected) =
      if (a.dsirTargets.isEmpty) ("", deduped)
      else resumeStage("dsir") match {
        case Some((keptIds, meta)) =>
          (meta, deduped.join(keptIds.select("doc_id"), Seq("doc_id"), "left_semi"))
        case None =>
        import org.apache.spark.sql.functions._
        // pin once: the DSIR block reads this frame four times (model fit,
        // token counts, the semi-join selection, then the pack stage) and
        // its lineage carries the input parse + near-dup anti-join — the
        // same pin-before-reuse rule as `drops` above (r16 self-review)
        val pinned = deduped.localCheckpoint()
        val names = a.dsirTargets.map(_._1)
        val mix = if (a.dsirMix.nonEmpty) a.dsirMix else Seq.fill(names.size)(1000L)
        val ks = names.indices
        val fitCorpus = pinned.select(
          struct(lit(0).as("src"), col("doc_id").as("id")).as("__fid") +:
            col("text").as("__txt") +:
            ks.map(k => lit(false).as(s"__d$k")): _*)
        val fit = a.dsirTargets.zipWithIndex.foldLeft(fitCorpus) {
          case (acc, ((name, path), k)) =>
            val tgt = spark.read.parquet(path)
            require(tgt.columns.contains("text"),
              s"dsir target '$name' ($path) needs a text column")
            acc.unionByName(tgt.select(
              struct(lit(k + 1).as("src"), monotonically_increasing_id().as("id")).as("__fid") +:
                col("text").as("__txt") +:
                ks.map(j => lit(j == k).as(s"__d$j")): _*))
        }
        val w = graft.operators.Dsir.multiDomainWeights(fit, "__fid", "__txt",
            domains = names.zipWithIndex.map { case (n, k) => n -> col(s"__d$k") },
            mixX1000 = mix)
          .filter(col("__fid.src") === 0)
          .select(col("__fid.id").as("doc_id") +: col("mix_weight_x1000") +:
            names.map(n => col(s"w_${n}_x1000")): _*)
        val d = pinned.select(col("doc_id"),
          expr("cast(size(filter(split(text, '\\\\s+'), x -> x != '')) as long)").as("__nt"))
        // q333's affine keep-probability squash (div/'//' parity holds
        // because greatest(0, _) clamps the only divergent region)
        val enr = w.join(d, Seq("doc_id"))
          .withColumn("keep_pct", least(lit(100L),
            greatest(lit(0L), expr("(mix_weight_x1000 + 2000) div 6"))))
        val samp = graft.operators.Sampling
          .weightedSample(enr, "doc_id", "keep_pct", maxWeight = 100)
          .localCheckpoint()
        val nIn = d.count()
        val kept = samp.count()
        // dominant-domain token shares of the kept pool (argmax weight,
        // ties -> first-listed domain) — the mixture the shell user asked
        // for, reported as measured
        val pick = array_max(array(names.zipWithIndex.map { case (n, k) =>
          struct(col(s"w_${n}_x1000").as("w"), lit(-k).as("nk"))
        }: _*))
        val shareRows = samp
          .withColumn("__dom", element_at(
            typedLit(names), (lit(1) - pick.getField("nk")).cast("int")))
          .groupBy("__dom").agg(sum(col("__nt")).as("__t"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val totT = math.max(1L, shareRows.values.sum)
        val shares = names.map(n =>
          s""""$n": ${shareRows.getOrElse(n, 0L) * 10000L / totT}""").mkString("{", ", ", "}")
        val json = s""", "dsir_targets": ${names.map(n => s""""$n"""").mkString("[", ", ", "]")}""" +
          s""", "dsir_mix": ${mix.mkString("[", ", ", "]")}""" +
          s""", "dsir_kept": $kept, "dsir_removed": ${nIn - kept}""" +
          s""", "dsir_shares_x10000": $shares"""
        commitStage("dsir", samp.select("doc_id"), json)
        (json, pinned.join(samp.select("doc_id"), Seq("doc_id"), "left_semi"))
      }
    // quality stage (r18, verdict #7): gate + scrub + dedupe + count — the
    // full-corpus-scan half of curateAndPack. Unlike near_dup/dsir (id
    // frames), this checkpoint carries the stage's PRODUCT (the cleaned
    // text): that payload is exactly what a resume must not recompute, so
    // --work-dir belongs on the same storage tier as the output.
    import org.apache.spark.sql.functions.col
    val (qualityJson, cleaned) = resumeStage("quality") match {
      case Some((qdf, meta)) => (meta, qdf)
      case None =>
        val c0 = graft.operators.Pipelines.curateClean(
          selected, "doc_id", "text", graft.operators.TextAnalysis.DefaultStopwords,
          minWords = a.minWords, spanWords = a.spanWords,
          maxSpanDocs = a.maxSpanDocs, keepText = true)
        // pin before the commit write so packing doesn't re-run the gate
        val c = if (a.workDir.isDefined) c0.localCheckpoint() else c0
        val json = s""", "quality_gate": {"min_words": ${a.minWords}, """ +
          s""""span_words": ${a.spanWords}, "max_span_docs": ${a.maxSpanDocs}}"""
        commitStage("quality", c, json)
        (json, c)
    }
    // pack stage: the global running-total shuffle; its checkpoint is the
    // (doc_id, bin_id, bin_offset) assignment — tiny — and resume is one
    // keyed join against the quality stage's committed frame (the chain
    // guarantees quality resumed whenever pack's fingerprint matched)
    val (packJson, packed) = resumeStage("pack") match {
      case Some((bins, meta)) =>
        (meta, cleaned
          .join(bins.select("doc_id", "bin_id", "bin_offset"), Seq("doc_id"))
          .select(col("doc_id"), col("kept_spans"), col("n_tokens"),
            col("clean_text"), col("bin_id"), col("bin_offset")))
      case None =>
        val p = graft.operators.Packing.packByTokenBudget(
          cleaned, "doc_id", "n_tokens", a.budget)
        val pc = if (a.workDir.isDefined) p.localCheckpoint() else p
        val json = s""", "pack_budget": ${a.budget}"""
        commitStage("pack", pc.select("doc_id", "bin_id", "bin_offset"), json)
        (json, pc)
    }
    val curated = packed.persist()
    try {
      val kept = curated.count() // materializes curated; the parse cache is now droppable
      parsed.foreach(_.unpersist())
      val bins =
        if (kept == 0) 0L
        else curated.agg(org.apache.spark.sql.functions.max("bin_id")).head().getLong(0) + 1
      graft.engine.CorpusIO.writeJsonl(curated, a.headPath, "doc_id", a.shards)
      def jstr(s: String) = jsonStr(s) // shared escaper
      val resumeJson = if (!a.resume) ""
        else s""", "resumed_stages": ${resumedStages.map(s => "\"" + s + "\"").mkString("[", ", ", "]")}"""
      println(
        s"""{"in_docs": $inDocs, "kept_docs": $kept, "bins": $bins, "budget": ${a.budget}$nearDupJson$dsirJson$qualityJson$packJson$resumeJson, "out": ${jstr(a.headPath)}}""")
    } finally { curated.unpersist(); () }
  }

  /** JSON string escape shared by the machine-line subcommands. */
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `ann-maintain <baseVecs> <batchVecs> <outDir> [--id-col c --vec-col c
    * --nlist N --kmeans-iters I --drift-x1m D --probe-id P --k K
    * --nprobe NP]` — the nightly index-maintenance operator from the shell
    * (r17, verdict #7): check which IVF tiles the landed batch drifted,
    * refit ONLY those, publish the patched index, and print the
    * certificate as one JSON line. Writes `<outDir>/centroids` (cid,
    * centroid) and `<outDir>/assignments` (id, cid); the summary carries
    * before/after recall and how little of the corpus the partial path
    * touched. The full-rebuild comparison stays in the q362 certificate —
    * a nightly job does not pay a full Lloyd pass to decorate its log. */
  def runAnnMaintain(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.col
    val base = spark.read.parquet(a.basePath)
    val batch = spark.read.parquet(a.headPath)
    Seq("base" -> base, "batch" -> batch).foreach { case (n, df) =>
      require(df.columns.contains(a.idCol) && df.columns.contains(a.vecCol),
        s"ann-maintain $n needs '${a.idCol}' and '${a.vecCol}' columns (saw ${df.columns.mkString(", ")})")
    }
    val (cents, asg, summary) = graft.operators.Similarity.annMaintain(
      base, batch, a.idCol, a.vecCol, a.nlist, a.kmeansIters,
      a.driftX1m, a.probeId, a.annK, a.nprobe)
    import spark.implicits._
    cents.toDF("cid", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"${a.outPath}/centroids")
    asg.select(col(a.idCol), col("cid"))
      .write.mode("overwrite").parquet(s"${a.outPath}/assignments")
    val r = summary.head()
    println(s"""{"n_union": ${r.getAs[Long]("n_union")}, "n_tiles": ${r.getAs[Long]("n_tiles")}, """ +
      s""""n_tiles_refit": ${r.getAs[Long]("n_tiles_refit")}, "n_touched": ${r.getAs[Long]("n_touched")}, """ +
      s""""touched_pct_x100": ${r.getAs[Long]("touched_pct_x100")}, """ +
      s""""recall_before_x100": ${r.getAs[Long]("recall_before_x100")}, """ +
      s""""recall_after_x100": ${r.getAs[Long]("recall_after_x100")}, "out": ${jsonStr(a.outPath)}}""")
  }

  /** budget·tempBp/10⁴ via BigInt (the mixtureThresholds idiom): the Long
    * product overflows silently past ~9.2e14 budget tokens at tempBp up to
    * 10⁴, printing a negative target into the plan JSON (r17 ADVICE). */
  private[graft] def tokenTarget(budgetTokens: Long, tempBp: Long): Long =
    (BigInt(budgetTokens) * tempBp / 10000).toLong

  /** `mixture-plan <docsPath> [--domain-col c --text-col c --budget-docs N
    * --budget-tokens N]` — the plan the mixture family ACTS on, from the
    * shell (r17b): per domain, raw and √-temperature shares in exact bp,
    * the largest-remainder doc allocation at `--budget-docs` with its
    * copies/remainder split (what [[graft.operators.Sampling.materializeMixture]]
    * would emit), and the token target at `--budget-tokens` (what
    * [[graft.operators.Sampling.tokenBudgetMixture]] would cut to) next to
    * the domain's actual token mass. Pure metadata: two bounded
    * aggregates (domain cardinality contract), one JSON line — run it
    * BEFORE the materialization to review the mixture a budget implies. */
  def runMixturePlan(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Sampling
    val df = spark.read.parquet(a.basePath)
    require(df.columns.contains(a.domainCol),
      s"mixture-plan needs '${a.domainCol}' column (saw ${df.columns.mkString(", ")})")
    val wantTokens = a.budgetTokens > 0
    require(!wantTokens || df.columns.contains(a.textCol),
      s"--budget-tokens needs '${a.textCol}' column (saw ${df.columns.mkString(", ")})")
    val shares = Sampling.sqrtTemperatureShares(df, a.domainCol)
      .orderBy(a.domainCol).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2),
        r.getLong(4), r.getLong(5)))
    val docAlloc =
      if (a.budgetDocs <= 0) Map.empty[String, Long]
      else Sampling.largestRemainderAllocation(df, a.domainCol, a.budgetDocs)
        .collect().map(r => String.valueOf(r.get(0)) -> r.getLong(4)).toMap
    val tokSrc =
      if (!wantTokens) Map.empty[String, Long]
      else df.filter(col(a.domainCol).isNotNull)
        .groupBy(col(a.domainCol).cast("string").as("__d"))
        .agg(sum(size(expr(
          s"filter(split(${a.textCol}, '\\\\s+'), x -> x != '')")).cast("long")).as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = shares.map { case (d, cnt, shareBp, tempBp, boostBp) =>
      val doc = docAlloc.get(d).map { t =>
        s""", "doc_target": $t, "full_copies": ${t / cnt}, "remainder": ${t % cnt}"""
      }.getOrElse("")
      val tok =
        if (!wantTokens) ""
        else s""", "tokens_src": ${tokSrc.getOrElse(d, 0L)}, "token_target": ${tokenTarget(a.budgetTokens, tempBp)}"""
      s"""{"domain": ${jsonStr(d)}, "n_docs": $cnt, "share_bp": $shareBp, """ +
        s""""temp_share_bp": $tempBp, "boost_bp": $boostBp$doc$tok}"""
    }
    println(s"""{"n_domains": ${shares.length}, "budget_docs": ${a.budgetDocs}, """ +
      s""""budget_tokens": ${a.budgetTokens}, "domains": ${rows.mkString("[", ", ", "]")}}""")
  }

  /** `embedding-datasheet <vecsPath> [--id-col c --vec-col c --probe-mod N
    * --min-norm-x100 N --max-norm-x100 N --base-vecs PATH]` — the r16
    * datasheet treatment for the OTHER modality (r17b): the embedding-table
    * intake review as ONE JSON line. Sections:
    *   - shape + norm audit: n_vecs, dims (uniformity enforced — a ragged
    *     table poisons every cosine downstream), zero-norm count and
    *     out-of-band norm count ([[graft.operators.Similarity.withNormAudit]]);
    *   - `pc1`: the integer-exact power-iteration certificate's final row
    *     (q379) — variance-explained bp, top dimension, sign fingerprint;
    *   - `int8_recall` / `binary_recall`: the storage-tier certificates
    *     (q370 / q376) summarized as exact mean/min recall over the
    *     `--probe-mod` probe set — the brute-force truth side makes these
    *     the expensive rows; on a 100 TB table run them on a sample,
    *     exactly like the datasheet's lsh_recall leg prescribes;
    *   - with `--base-vecs`: the drift triptych vs that epoch — q380's
    *     cos²×10⁴ rotation, q384's stale-vs-fresh quantized recall means
    *     and clamp census.
    * Every collect is bounded: probes, dims, one certificate row each. */
  def runEmbeddingDatasheet(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val df = spark.read.parquet(a.basePath)
    require(df.columns.contains(a.idCol) && df.columns.contains(a.vecCol),
      s"embedding-datasheet needs '${a.idCol}' and '${a.vecCol}' columns (saw ${df.columns.mkString(", ")})")
    val nVecs = df.count()
    require(nVecs > 0, "embedding-datasheet: empty table")
    val dimsRow = df.agg(min(size(col(a.vecCol))).as("mn"),
      max(size(col(a.vecCol))).as("mx")).head()
    require(dimsRow.getInt(0) == dimsRow.getInt(1),
      s"ragged embedding dims ${dimsRow.getInt(0)}..${dimsRow.getInt(1)} — fix upstream before auditing")
    val dims = dimsRow.getInt(0)
    val audited = Similarity.withNormAudit(df, a.vecCol, a.minNormX100, a.maxNormX100)
      .select(col("norm_sq"), col("is_outlier")).localCheckpoint()
    val zeroNorm = audited.filter(col("norm_sq") === 0.0).count()
    val outliers = audited.filter(col("is_outlier") === 1).count()
    val pc = Similarity.pcaPowerCertificate(df, a.vecCol, dims, iters = 8)
      .orderBy("iter").collect().last
    val probeF = col(a.idCol) % a.probeMod === 0
    val nProbes = df.filter(probeF).count()
    require(nProbes > 0, s"--probe-mod ${a.probeMod} selects no probe ids")
    def meanMin(rows: Array[(Long, Long)]): (Long, Long) =
      (rows.map(_._2).sum / rows.length, rows.map(_._2).min)
    // int8 tier (q370's algebra)
    val params = Similarity.int8DimParams(df, a.vecCol)
    val full = Similarity.knnJoin(df, a.idCol, a.vecCol, probeF, 10)
      .select(col("probe_id"), col("neighbor_id"))
    val eq = Similarity.dequantizeInt8PerDim(
        Similarity.quantizeInt8PerDim(df, a.vecCol, params), "q8", "__dq", params)
      .select(col(a.idCol), col("__dq"))
    val qtop = Similarity.knnJoin(eq, a.idCol, "__dq", probeF, 10)
      .select(col("probe_id"), col("neighbor_id"))
    val int8Rows = df.filter(probeF).select(col(a.idCol).as("probe_id"))
      .join(full.join(qtop, Seq("probe_id", "neighbor_id"))
        .groupBy("probe_id").agg(count(lit(1)).as("ov")), Seq("probe_id"), "left")
      .na.fill(0L, Seq("ov"))
      .collect().map(r => (r.getLong(0), r.getLong(1) * 10))
    val (i8Mean, i8Min) = meanMin(int8Rows)
    // binary tier (q376's chain; the rerank column is the production number)
    val binRows = Similarity.binaryQuantRecall(df, a.idCol, a.vecCol, probeF,
        k = 10, shortlist = 100)
      .collect().map(r => (r.getLong(0), r.getLong(4)))
    val (binMean, binMin) = meanMin(binRows)
    val driftJson = a.baseVecs.map { bp =>
      val base = spark.read.parquet(bp)
      require(base.columns.contains(a.idCol) && base.columns.contains(a.vecCol),
        s"--base-vecs needs '${a.idCol}' and '${a.vecCol}' columns")
      val rot = Similarity.pcaEpochDrift(base, df, a.vecCol, dims, iters = 8).head()
      val sq = Similarity.staleQuantRecall(base, df, a.idCol, a.vecCol, probeF, k = 10)
        .collect()
      val staleMean = sq.map(_.getLong(2)).sum / sq.length
      val freshMean = sq.map(_.getLong(4)).sum / sq.length
      s""", "drift": {"cos2_x10k": ${rot.getLong(4)}, """ +
        s""""base_var_bp": ${rot.getLong(0)}, "head_var_bp": ${rot.getLong(1)}, """ +
        s""""stale_quant_recall_mean_pct": $staleMean, """ +
        s""""fresh_quant_recall_mean_pct": $freshMean, """ +
        s""""clamped_vals": ${sq.head.getLong(5)}}"""
    }.getOrElse("")
    println(s"""{"n_vecs": $nVecs, "dims": $dims, "zero_norm": $zeroNorm, """ +
      s""""norm_outliers": $outliers, "pc1": {"var_explained_bp": ${pc.getLong(1)}, """ +
      s""""top_dim": ${pc.getLong(2)}, "sign_lo": ${pc.getLong(3)}, "sign_hi": ${pc.getLong(4)}}, """ +
      s""""n_probes": $nProbes, "int8_recall": {"mean_pct": $i8Mean, "min_pct": $i8Min}, """ +
      s""""binary_recall": {"mean_pct": $binMean, "min_pct": $binMin}$driftJson}""")
  }

  /** `graph-serve <corpusVecs> <probeVecs> <outDir> [--id-col c --vec-col c
    * --k N --beam N --bits N --kgraph N --n-entry N --max-hops N
    * --max-index-rows N]` — graph-ANN serving from the shell (r18, the
    * q388/q390/q392 family's CLI): build the bucket-mate kNN graph over
    * the corpus, collect the serving index (graph + vectors + md5-seeded
    * entries — REFUSED loudly past `--max-index-rows`, the replica-memory
    * contract), and answer EVERY probe in `<probeVecs>` with the
    * broadcast-index row-local beam walk
    * ([[graft.streaming.StreamingSimilarity.graphServeGate]] — the same
    * code path the streaming gate runs, here over a batch probe table;
    * q392 gates it value-exact against the DuckDB walk replay). Probes
    * are EXTERNAL vectors — any parquet with id + vector columns, not
    * corpus members. Writes `<out>/answers` (probe_id, rank,
    * neighbor_id); prints one JSON line with corpus/graph/probe counts
    * and the entry ids. */
  def runGraphServe(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.streaming.StreamingSimilarity
    val corpus = spark.read.parquet(a.basePath)
    val probes = spark.read.parquet(a.headPath)
    Seq("corpus" -> corpus, "probes" -> probes).foreach { case (n, df) =>
      require(df.columns.contains(a.idCol) && df.columns.contains(a.vecCol),
        s"graph-serve $n needs '${a.idCol}' and '${a.vecCol}' columns (saw ${df.columns.mkString(", ")})")
    }
    val g = Similarity.bucketMateGraph(corpus, a.idCol, a.vecCol,
      a.gsBits, a.gsKGraph).localCheckpoint()
    val nEdges = g.count()
    val idx = StreamingSimilarity.buildServeIndex(corpus, a.idCol, a.vecCol,
      g, a.gsEntries, a.maxIndexRows)
    val answers = StreamingSimilarity.graphServeGate(
        probes.select(col(a.idCol).as("probe_id"), col(a.vecCol).as("vec")),
        idx, a.annK, a.gsBeam, a.gsHops)
      .localCheckpoint()
    answers.write.mode("overwrite").parquet(s"${a.outPath}/answers")
    val nProbes = probes.count()
    val nAnswers = answers.count()
    println(s"""{"n_corpus": ${idx.vecs.size}, "n_edges": $nEdges, """ +
      s""""n_probes": $nProbes, "n_answers": $nAnswers, """ +
      s""""k": ${a.annK}, "beam": ${a.gsBeam}, "max_hops": ${a.gsHops}, """ +
      s""""entries": ${idx.entries.mkString("[", ", ", "]")}, """ +
      s""""out": ${jsonStr(a.outPath)}}""")
  }

  /** `bpe-train <docsPath> <outDir> [--text-col c --merges N --max-vocab V
    * --encode-out PATH --id-col c]` — production tokenizer training from
    * the shell (r18, the q389 trainer's CLI): ONE distributed pre-token
    * count, the delta-maintained driver merge loop
    * ([[graft.operators.Bpe.trainBytesScalable]]), the merge table
    * written as `<out>/merges` parquet — (rank, a, b) as BINARY columns,
    * byte-exact for any alphabet — and one JSON line with the merge-table
    * md5, the vocab-cap pricing (`cap_exact: true` = nothing foregone —
    * the same zero-foregone certificate shape the LSH caps print), and
    * the final round's winning count (the "was numMerges enough"
    * signal: a high final count means the vocabulary still had mass to
    * merge). `--encode-out` additionally encodes the corpus with the
    * trained merges (distributed, broadcast ranks) and writes per-doc
    * (id, n_bpe_tokens, token_mass_bytes) — the budget-ready counts a
    * mixture-plan run consumes. */
  def runBpeTrain(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Bpe
    val df = spark.read.parquet(a.basePath)
    require(df.columns.contains(a.textCol),
      s"bpe-train needs '${a.textCol}' column (saw ${df.columns.mkString(", ")})")
    val t = Bpe.trainBytesScalable(df, a.textCol, a.bpeMerges, a.maxVocab)
    val sp = spark
    import sp.implicits._
    t.merges.zipWithIndex.map { case ((x, y), r) =>
      (r.toLong, x.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1),
        y.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    }.toDF("rank", "a", "b")
      .coalesce(1).write.mode("overwrite").parquet(s"${a.outPath}/merges")
    val encodeJson = a.encodeOut.map { p =>
      require(df.columns.contains(a.idCol),
        s"--encode-out needs '${a.idCol}' column (saw ${df.columns.mkString(", ")})")
      Bpe.encodeBytes(df, a.idCol, a.textCol, t.merges)
        .select(col(a.idCol), col("n_bpe_tokens"), col("token_mass_bytes"))
        .write.mode("overwrite").parquet(p)
      val enc = spark.read.parquet(p)
        .agg(count(lit(1)).as("n"), coalesce(sum("n_bpe_tokens"), lit(0L)).as("t"))
        .head()
      s""", "encoded_docs": ${enc.getLong(0)}, "total_tokens": ${enc.getLong(1)}, """ +
        s""""encode_out": ${jsonStr(p)}"""
    }.getOrElse("")
    val lastCount = t.rounds.lastOption.map(_.bestCount).getOrElse(0L)
    println(s"""{"n_merges": ${t.merges.length}, "merges_md5": "${Bpe.mergesMd5(t.merges)}", """ +
      s""""n_distinct_pretokens": ${t.nDistinct}, "n_kept": ${t.nKept}, """ +
      s""""occ_total": ${t.occTotal}, "occ_kept": ${t.occKept}, """ +
      s""""cap_exact": ${t.occTotal == t.occKept}, "final_best_count": $lastCount""" +
      encodeJson + s""", "out": ${jsonStr(a.outPath)}}""")
  }

  /** `neardup-maintain <corpusDocs> <batchDocs> <outDir> [--id-col c
    * --text-col c --max-hamming N --max-postings N --prior PATH]` — the
    * nightly NEAR-DUP loop from the shell (r17b), the text twin of
    * `ann-maintain`: flag the arriving batch against the frozen corpus
    * (q369's banded SimHash join, verify-before-drop), price the corpus
    * postings cap (the zero-foregone certificate destructive use gates
    * on), and roll the flags into the next epoch's cluster table with the
    * incremental maintainer (q386 — work ∝ new edges, never corpus size).
    * `--prior` feeds the previous night's `<out>/clusters` back in (the
    * frozen-epoch loop); without it the corpus bootstraps its own
    * clustering once. Writes `<out>/flags` and `<out>/clusters`; prints
    * one JSON line: counts, per-Hamming census, cap pricing, and how
    * little the night actually changed (rows remapped, clusters merged). */
  def runNearDupMaintain(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val corpus = spark.read.parquet(a.basePath)
    val batch = spark.read.parquet(a.headPath)
    Seq("corpus" -> corpus, "batch" -> batch).foreach { case (n, df) =>
      require(df.columns.contains(a.idCol) && df.columns.contains(a.textCol),
        s"neardup-maintain $n needs '${a.idCol}' and '${a.textCol}' columns (saw ${df.columns.mkString(", ")})")
    }
    val cap = Dedup.simHashCapReport(corpus, a.idCol, a.textCol, a.maxPostings).head()
    val flags = Dedup.simHashAgainstCorpus(batch, corpus, a.idCol, a.textCol,
      a.maxHamming, a.maxPostings).localCheckpoint()
    val prior = a.priorPath.map { p =>
      val pr = spark.read.parquet(p)
      require(pr.columns.contains(a.idCol) && pr.columns.contains("cluster"),
        s"--prior needs '${a.idCol}' and 'cluster' columns")
      val sel = pr.select(col(a.idCol), col("cluster"))
      // contract audit (r18, VERDICT r17 #2): incrementalClusters' from-
      // scratch equivalence holds ONLY for a min-id labeling covering the
      // corpus — a stale or hand-edited prior would otherwise yield wrong
      // clusters silently. One aggregate + one anti-join, refused loudly
      // with the offending labels.
      val bad = graft.operators.Dedup.auditPriorLabeling(sel, a.idCol)
        .orderBy("cluster").limit(10).collect()
      require(bad.isEmpty,
        s"--prior $p is not a min-id cluster labeling — offending labels: " +
          bad.map(r => s"${r.get(0)} (${r.getString(4)}, min_member=${r.get(2)})")
            .mkString("; ") +
          " — rebuild the prior with a completed clustering run before maintaining incrementally")
      val uncovered = corpus.select(col(a.idCol))
        .join(sel.select(col(a.idCol)), Seq(a.idCol), "left_anti").count()
      require(uncovered == 0L,
        s"--prior $p does not cover the corpus: $uncovered corpus docs have no prior label" +
          " — the prior must come from a clustering of THIS corpus epoch")
      // one row per doc: a duplicated id fans out every maintenance join
      // (the audit is per-LABEL and cannot see it)
      val nRows = sel.count()
      val nIds = sel.select(col(a.idCol)).distinct().count()
      require(nRows == nIds,
        s"--prior $p has ${nRows - nIds} duplicate ${a.idCol} rows — a cluster table labels each doc exactly once")
      sel
    }.getOrElse {
      val cc0 = Dedup.connectedComponents(
        Dedup.simHashPairs(corpus, a.idCol, a.textCol, a.maxHamming, a.maxPostings),
        s"a_${a.idCol}", s"b_${a.idCol}")
      corpus.select(col(a.idCol))
        .join(cc0.withColumnRenamed("id", a.idCol), Seq(a.idCol), "left")
        .select(col(a.idCol), coalesce(col("component"), col(a.idCol)).as("cluster"))
    }
    val updated = Dedup.incrementalClusters(prior, a.idCol, flags,
        Dedup.simHashPairs(batch, a.idCol, a.textCol, a.maxHamming, a.maxPostings),
        batch.select(a.idCol), s"a_${a.idCol}", s"b_${a.idCol}")
      .localCheckpoint()
    flags.write.mode("overwrite").parquet(s"${a.outPath}/flags")
    updated.write.mode("overwrite").parquet(s"${a.outPath}/clusters")
    val nCorpus = corpus.count()
    val nBatch = batch.count()
    val census = flags.groupBy("hamming").agg(count(lit(1)).as("n"))
      .orderBy("hamming").collect()
      .map(r => s""""${r.getLong(0)}": ${r.getLong(1)}""").mkString("{", ", ", "}")
    val flaggedDocs = flags.select("batch_id").distinct().count()
    val changed = prior.withColumnRenamed("cluster", "__old")
      .join(updated.filter(col("is_new") === 0), a.idCol)
      .filter(col("__old") =!= col("cluster")).localCheckpoint()
    val rowsRemapped = changed.count()
    val clustersMerged = changed.select("__old").distinct().count()
    val nClusters = updated.select("cluster").distinct().count()
    println(s"""{"n_corpus": $nCorpus, "n_batch": $nBatch, """ +
      s""""n_flags": ${flags.count()}, "flagged_batch_docs": $flaggedDocs, """ +
      s""""hamming_census": $census, """ +
      s""""cap": {"max_postings": ${a.maxPostings}, """ +
      s""""n_capped_buckets": ${cap.getAs[Long]("n_capped_buckets")}, """ +
      s""""n_foregone_postings": ${cap.getAs[Long]("n_foregone_postings")}, """ +
      s""""exact": ${cap.getAs[Long]("n_foregone_postings") == 0L}}, """ +
      s""""rows_remapped": $rowsRemapped, "clusters_merged": $clustersMerged, """ +
      s""""n_clusters": $nClusters, "out": ${jsonStr(a.outPath)}}""")
  }

  /** `datasheet <inPath>` — the corpus intake review as ONE machine
    *-readable JSON line (r16, verdict #6): the library's datasheet family
    * wired to the shell so a pipeline operator can consume it without
    * writing Scala. Sections:
    *   - `sources`: per-source dedup savings ([[graft.operators.Dedup.dedupSavings]],
    *     q358) — present when `--source-col` exists;
    *   - `cross_source`: content-hash overlap matrix
    *     ([[graft.operators.Dedup.crossSourceDupMatrix]], q348), same guard;
    *   - `source_divergence`: per-source distribution divergence
    *     ([[graft.operators.TextAnalysis.sourceDivergence]], q364), same
    *     guard — note this leg is a full corpus token explode plus two
    *     keyed shuffles, the datasheet's second-most-expensive section;
    *   - `filter_order`: the cascade-ordering advisor
    *     ([[graft.operators.TextAnalysis.filterOrderAdvisor]], q356) over a
    *     standard four-gate cascade (length cap 1 / min-tokens 5 /
    *     stopword presence 10 / entropy 50 cost units);
    *   - `lsh_recall`: the measured LSH-vs-exact recall certificate
    *     ([[graft.operators.Dedup.lshRecallCertificate]], q350) at
    *     `--near-dup-pct`, under the SAME threshold-derived banding the
    *     curate LSH leg would run (q360). The exact-join truth side makes
    *     this the datasheet's expensive row — on a 100 TB corpus run it
    *     on a sample, exactly like the operator's scaladoc prescribes.
    * Every collect here is bounded: #sources, #source-pairs, 4 gates,
    * one certificate row. */
  def runDatasheet(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis}
    val df = spark.read.parquet(a.basePath)
    require(df.columns.contains(a.idCol) && df.columns.contains(a.textCol),
      s"datasheet needs '${a.idCol}' and '${a.textCol}' columns (saw ${df.columns.mkString(", ")})")
    val hasSrc = df.columns.contains(a.sourceCol)
    val inDocs = df.count()
    val srcJson =
      if (!hasSrc) ""
      else {
        val rows = Dedup.dedupSavings(df, a.idCol, a.textCol, a.sourceCol)
          .orderBy("source").collect().map { r =>
            s"""{"source": ${jsonStr(String.valueOf(r.get(0)))}, "n_docs": ${r.getAs[Long]("n_docs")}, """ +
              s""""n_kept": ${r.getAs[Long]("n_kept")}, "tokens_total": ${r.getAs[Long]("tokens_total")}, """ +
              s""""tokens_kept": ${r.getAs[Long]("tokens_kept")}, "saved_bp": ${r.getAs[Long]("saved_bp")}}"""
          }
        val cross = Dedup.crossSourceDupMatrix(df, a.textCol, a.sourceCol)
          .orderBy("src_a", "src_b").collect().map { r =>
            s"""{"src_a": ${jsonStr(String.valueOf(r.get(0)))}, "src_b": ${jsonStr(String.valueOf(r.get(1)))}, """ +
              s""""n_shared_texts": ${r.getAs[Long]("n_shared_texts")}, "cross_doc_pairs": ${r.getAs[Long]("cross_doc_pairs")}}"""
          }
        val div = TextAnalysis.sourceDivergence(df, a.textCol, a.sourceCol)
          .orderBy("source").collect().map { r =>
            s"""{"source": ${jsonStr(String.valueOf(r.get(0)))}, "n_tokens": ${r.getAs[Long]("n_tokens")}, """ +
              s""""distinct_tokens": ${r.getAs[Long]("distinct_tokens")}, "kl_x1000": ${r.getAs[Long]("kl_x1000")}}"""
          }
        s""", "sources": ${rows.mkString("[", ", ", "]")}""" +
          s""", "cross_source": ${cross.mkString("[", ", ", "]")}""" +
          s""", "source_divergence": ${div.mkString("[", ", ", "]")}"""
      }
    val gates = Seq(
      ("max_chars", length(col(a.textCol)) <= 1000000, 1L),
      ("min_tokens", TextAnalysis.tokenCount(a.textCol) >= a.minWords, 5L),
      ("has_stopword", arrays_overlap(TextAnalysis.tokens(a.textCol),
        typedLit(TextAnalysis.DefaultStopwords)), 10L),
      ("entropy_ge_8hb", TextAnalysis.charEntropyHalfBitsCol(a.textCol) >= 8, 50L))
    val order = TextAnalysis.filterOrderAdvisor(df, gates)
      .orderBy("position").collect().map { r =>
        s"""{"filter": ${jsonStr(r.getAs[String]("filter"))}, "cost_x1000": ${r.getAs[Long]("cost_x1000")}, """ +
          s""""pass_bp": ${r.getAs[Long]("pass_bp")}, "drop_per_cost": ${r.getAs[Long]("drop_per_cost")}, """ +
          s""""position": ${r.getAs[Long]("position")}}"""
      }
    val (bands, rows) = Dedup.lshParamsForThreshold(a.nearDupPct)
    val cert = Dedup.lshRecallCertificate(df, a.idCol, a.textCol, a.nearDupPct,
      numHashes = bands * rows, bandSize = rows).head()
    val lsh = s"""{"pct": ${a.nearDupPct}, "lsh_bands": $bands, "lsh_rows": $rows, """ +
      s""""n_exact_pairs": ${cert.getAs[Long]("n_exact_pairs")}, "n_lsh_pairs": ${cert.getAs[Long]("n_lsh_pairs")}, """ +
      s""""n_common": ${cert.getAs[Long]("n_common")}, "recall_x1000": ${cert.getAs[Long]("recall_x1000")}}"""
    println(s"""{"in_docs": $inDocs$srcJson, "filter_order": ${order.mkString("[", ", ", "]")}, """ +
      s""""lsh_recall": $lsh, "in": ${jsonStr(a.basePath)}}""")
  }

  /** `advise-layout <tablePath> --candidates c1,c2` — the q204/q216/q232
    * trio wired into one decision report: per-column NDV/encoding verdicts,
    * then for the natural order plus each candidate sort key the RLE run
    * total and the zone-map scan amplification for an interquartile probe
    * on `--value-col` (default: the first integral/numeric column outside
    * the candidate list). Emits ONE JSON line (machine-consumable, same
    * contract as `curate`); `recommended_sort` is the layout minimizing
    * amplification, ties broken by fewer runs then name — `natural`
    * winning means "keep the current order, a re-sort buys nothing". */
  def runAdviseLayout(spark: SparkSession, a: Args): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val df = spark.read.parquet(a.basePath)
    val fields = df.schema.fields
    for (c <- a.candidates)
      require(fields.exists(_.name == c),
        s"candidate column '$c' not in table schema (${fields.map(_.name).mkString(", ")})")
    def numeric(dt: DataType) = dt match {
      case _: NumericType => true
      case _ => false
    }
    val valueCol = a.valueCol.getOrElse {
      fields.find(f => numeric(f.dataType) && !a.candidates.contains(f.name))
        .orElse(fields.find(f => numeric(f.dataType)))
        .getOrElse(throw new IllegalArgumentException(
          "no numeric column for the zone-map probe; pass --value-col"))
        .name
    }
    require(fields.exists(_.name == valueCol), s"value column '$valueCol' not in table schema")
    // interquartile probe: exact 25th/75th percentiles of the value column
    // (1-row bounded collect) — the "typical selective range scan" the
    // zone-map certificate prunes against
    val q = df.agg(expr(
      s"percentile(CAST(`$valueCol` AS BIGINT), array(0.25, 0.75))")).head().getSeq[Double](0)
    val (lo, hi) = (q(0).floor.toLong, q(1).ceil.toLong)
    val enc = graft.operators.Layout.encodingAdvice(df, a.candidates).collect()
    val rep = graft.operators.Layout
      .adviseLayout(df, a.candidates, valueCol, a.bucketRows, lo, hi)
      .collect()
    val best = rep.minBy(r => (r.getAs[Long]("amplification_bp"),
      r.getAs[Long]("total_runs"), r.getAs[String]("layout")))
    def jstr(s: String) = jsonStr(s) // shared escaper
    val colsJson = enc.map(r =>
      s"""{"column": ${jstr(r.getAs[String]("column_name"))}, "ndv": ${r.getAs[Long]("ndv")}, """ +
        s""""ndv_bp": ${r.getAs[Long]("ndv_bp")}, "encoding": ${jstr(r.getAs[String]("encoding"))}}""")
      .mkString("[", ", ", "]")
    val layoutsJson = rep.map(r =>
      s"""{"layout": ${jstr(r.getAs[String]("layout"))}, "total_runs": ${r.getAs[Long]("total_runs")}, """ +
        s""""n_buckets": ${r.getAs[Long]("n_buckets")}, "buckets_scanned": ${r.getAs[Long]("buckets_scanned")}, """ +
        s""""rows_scanned": ${r.getAs[Long]("rows_scanned")}, "rows_matching": ${r.getAs[Long]("rows_matching")}, """ +
        s""""amplification_bp": ${r.getAs[Long]("amplification_bp")}}""")
      .mkString("[", ", ", "]")
    println(
      s"""{"table": ${jstr(a.basePath)}, "value_col": ${jstr(valueCol)}, "probe_lo": $lo, "probe_hi": $hi, """ +
        s""""bucket_rows": ${a.bucketRows}, "columns": $colsJson, "layouts": $layoutsJson, """ +
        s""""recommended_sort": ${jstr(best.getAs[String]("layout"))}}""")
  }

  /** `compact-plan <tablePath>` — q247's planner over the table's REAL
    * file inventory: recursively list the parquet files (driver listing,
    * metadata only — the data is never read), group by partition
    * directory, pack files under `--small-threshold` contiguously
    * (file-name order) into `--target-size` bins via
    * `Layout.compactionPlan`, and emit ONE JSON line a rewrite job can
    * consume: per-partition before/after file counts, small-file byte
    * mass, and bins planned. */
  def runCompactPlan(spark: SparkSession, a: Args): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    val root = new Path(a.basePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rootStr = fs.getFileStatus(root).getPath.toString
    val listing = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val parent = st.getPath.getParent.toString
        val part =
          if (parent == rootStr) "." else parent.stripPrefix(rootStr).stripPrefix("/")
        listing += ((part, st.getPath.getName, st.getLen))
      }
    }
    import spark.implicits._
    val files = listing.toSeq.toDF("part", "file_name", "bytes")
    val plan = graft.operators.Layout.compactionPlan(files, "part", "file_name",
      "bytes", a.smallThreshold, a.targetSize)
    val rep = files.groupBy("part")
      .agg(count(lit(1)).as("files_total"), sum("bytes").as("bytes_total"))
      .join(plan.groupBy("part").agg(count(lit(1)).as("files_small"),
        sum("bytes").as("bytes_small"), countDistinct("bin_id").as("bins_planned")),
        Seq("part"), "left")
      .select(col("part"), col("files_total"), col("bytes_total"),
        coalesce(col("files_small"), lit(0L)).as("files_small"),
        coalesce(col("bytes_small"), lit(0L)).as("bytes_small"),
        coalesce(col("bins_planned"), lit(0L)).as("bins_planned"),
        (col("files_total") - coalesce(col("files_small"), lit(0L))
          + coalesce(col("bins_planned"), lit(0L))).as("files_after"))
      .orderBy("part")
      .collect()
    def jstr(s: String) = jsonStr(s) // shared escaper
    val parts = rep.map(r =>
      s"""{"partition": ${jstr(r.getAs[String]("part"))}, "files_total": ${r.getAs[Long]("files_total")}, """ +
        s""""bytes_total": ${r.getAs[Long]("bytes_total")}, "files_small": ${r.getAs[Long]("files_small")}, """ +
        s""""bytes_small": ${r.getAs[Long]("bytes_small")}, "bins_planned": ${r.getAs[Long]("bins_planned")}, """ +
        s""""files_after": ${r.getAs[Long]("files_after")}}""").mkString("[", ", ", "]")
    val (ft, fa) = (rep.map(_.getAs[Long]("files_total")).sum,
      rep.map(_.getAs[Long]("files_after")).sum)
    println(
      s"""{"table": ${jstr(a.basePath)}, "small_threshold": ${a.smallThreshold}, """ +
        s""""target_size": ${a.targetSize}, "files_total": $ft, "files_after": $fa, """ +
        s""""partitions": $parts}""")
  }

  /** `release-manifest <docsPath> [--id-col c --text-col c --min-chars N
    * --min-words N --eval-mod N]` — the q300 corpus release contract
    * (exact dedup → quality gate → decontamination → 80/10/10 split →
    * token budget) over a parquet document table, emitted as ONE JSON
    * line with per-stage (docs, tokens, id-checksum). The checksum is
    * what downstream attestation re-verifies: counts can collide, the
    * order-independent id hash cannot (see
    * [[graft.operators.Pipelines.releaseManifest]]). */
  def runReleaseManifest(spark: SparkSession, a: Args): Unit = {
    val docs = spark.read.parquet(a.basePath)
    require(docs.columns.contains(a.idCol) && docs.columns.contains(a.textCol),
      s"columns '${a.idCol}'/'${a.textCol}' not in table (${docs.columns.mkString(", ")})")
    val rep = graft.operators.Pipelines
      .releaseManifest(docs, a.idCol, a.textCol, a.minChars, a.minWords, a.evalMod)
      .orderBy("stage")
      .collect()
    def jstr(s: String) = jsonStr(s) // shared escaper
    val stages = rep.map(r =>
      s"""{"stage": ${jstr(r.getAs[String]("stage"))}, "n_docs": ${r.getAs[Long]("n_docs")}, """ +
        s""""n_tokens": ${r.getAs[Long]("n_tokens")}, "id_checksum": ${r.getAs[Long]("id_checksum")}}""")
      .mkString("[", ", ", "]")
    println(
      s"""{"table": ${jstr(a.basePath)}, "min_chars": ${a.minChars}, """ +
        s""""min_words": ${a.minWords}, "eval_mod": ${a.evalMod}, "stages": $stages}""")
  }

  /** `--drift col1,col2`: exact per-value TV contributions per requested
    * column, top-50 by contribution (bounded collect — drift columns are
    * low-cardinality dimensions by contract; see DiffEngine.categoricalDrift).
    * `--where` applies to both sides first, same as every other comparison
    * (the diff itself filters inside DiffEngine.diff). */
  private def computeDrift(
      base: DataFrame, head: DataFrame, cols: Seq[String],
      where: Option[String]): Option[Seq[(String, Seq[DriftRow])]] =
    if (cols.isEmpty) None
    else Some(cols.map { c =>
      import org.apache.spark.sql.functions.col
      val (b, h) = where.map(w => (base.filter(w), head.filter(w))).getOrElse((base, head))
      val rows = DiffEngine.categoricalDrift(b, h, c)
        .orderBy(col("tv_contrib").desc, col("value").cast("string"))
        .limit(50)
        .collect()
        .map(r => DriftRow(String.valueOf(r.get(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      c -> rows
    })

  /** `--drift-numeric col1,col2`: binned distribution drift for numeric
    * columns (DiffEngine.numericDrift's equal-width integer bins).
    * DriftRow.value carries the bin index; top-50 bins by TV contribution,
    * bin ASC tie-break. `--where` applies to both sides first. */
  private def computeNumericDrift(
      base: DataFrame, head: DataFrame, cols: Seq[String],
      where: Option[String]): Option[Seq[(String, Seq[DriftRow])]] =
    if (cols.isEmpty) None
    else Some(cols.map { c =>
      import org.apache.spark.sql.functions.col
      val (b, h) = where.map(w => (base.filter(w), head.filter(w))).getOrElse((base, head))
      val rows = DiffEngine.numericDrift(b, h, c)
        .orderBy(col("tv_contrib").desc, col("bin"))
        .limit(50)
        .collect()
        .map(r => DriftRow(String.valueOf(r.getLong(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      c -> rows
    })

  private val Usage =
    """usage: diff <model> [--keys k1,k2] [--base REF] [--head REF]
      |            [--project-dir DIR] [--profiles-dir DIR] [--profile P] [--target T]
      |            [--where SQL] [--sample N] [--keep-schemas] [--build-mode native|dbt]
      |            [--col-stats|--no-col-stats] [--approx] [--by-column]
      |            [--scope-partition COL] [--drift col1,col2] [--drift-numeric col1,col2]
      |            [--jdbc-partition-col COL] [--jdbc-partitions N] [--publish-jdbc TABLE]
      |            [--bucket-by-keys|--no-bucket-by-keys] [--salt-skew N] [--redshift-compat]
      |            [--vars k=v,k2=v2] [--in-format auto|parquet|orc|csv|jsonl]
      |            [--format rich|json|markdown]
      |       diff-tables <basePath> <headPath> [same options]
      |            (with a postgres/redshift/jdbc profile target, basePath/headPath
      |             are warehouse relations read over JDBC)
      |       curate <inPath> <outPath> [--jsonl] [--min-words N] [--span-words N]
      |            [--max-span-docs N] [--budget N] [--shards N]
      |            [--near-dup-mode off|auto|exact|lsh] [--near-dup-pct N]
      |            [--dsir-targets name=path[,name=path]] [--dsir-mix m1[,m2]]
      |            [--work-dir DIR] [--resume]
      |       ann-maintain <baseVecs> <batchVecs> <outDir> [--id-col COL]
      |            [--vec-col COL] [--nlist N] [--kmeans-iters I]
      |            [--drift-x1m D] [--probe-id P] [--k K] [--nprobe NP]
      |       datasheet <inPath> [--id-col COL] [--text-col COL] [--source-col COL]
      |            [--near-dup-pct N] [--min-words N]
      |       advise-layout <tablePath> --candidates c1[,c2,...]
      |            [--value-col COL] [--bucket-rows N]
      |       compact-plan <tablePath> [--small-threshold BYTES] [--target-size BYTES]
      |       mixture-plan <docsPath> [--domain-col COL] [--text-col COL]
      |            [--budget-docs N] [--budget-tokens N]
      |       embedding-datasheet <vecsPath> [--id-col COL] [--vec-col COL]
      |            [--probe-mod N] [--min-norm-x100 N] [--max-norm-x100 N]
      |            [--base-vecs PATH]
      |       graph-serve <corpusVecs> <probeVecs> <outDir> [--id-col COL]
      |            [--vec-col COL] [--k N] [--beam N] [--bits N] [--kgraph N]
      |            [--n-entry N] [--max-hops N] [--max-index-rows N]
      |       bpe-train <docsPath> <outDir> [--text-col COL] [--merges N]
      |            [--max-vocab V] [--encode-out PATH] [--id-col COL]
      |       neardup-maintain <corpusDocs> <batchDocs> <outDir> [--id-col COL]
      |            [--text-col COL] [--max-hamming N] [--max-postings N]
      |            [--prior PATH]""".stripMargin

  /** Map a profiles.yml target onto Spark session settings. The reference
    * uses conn_info to pick its warehouse connection (cli.py:110-117); this
    * engine executes on Spark, so a `spark`-type target CONFIGURES the
    * session — `host` supplies the master URL (`local[...]`/`spark://...`),
    * `dbname`/`database` the warehouse dir, `schema` the current database.
    * A postgres/redshift/jdbc target configures nothing here: it is a data
    * SOURCE (graft.sources.JdbcSource) — relations are read over JDBC,
    * snapshotted to Parquet, and compared by this Spark session, the
    * reference's deployment mode with the execution engine inverted.
    * Returns (master, warehouseDir, currentDatabase). */
  def sessionTarget(conn: Option[Profiles.ConnInfo]): (Option[String], Option[String], Option[String]) =
    conn match {
      case None => (None, None, None)
      case Some(c) if JdbcSource.isJdbc(c) => (None, None, None)
      case Some(c) =>
        if (c.warehouseType != "spark")
          throw new IllegalArgumentException(
            s"unsupported execution target type '${c.warehouseType}': this engine executes on " +
              "Spark; point --profile/--target at a profiles.yml output with `type: spark` " +
              "(or a postgres/redshift/jdbc output to diff live warehouse relations)")
        val master = Some(c.host)
          .filter(h => h.nonEmpty && (h.startsWith("local") || h.startsWith("spark://")))
        val warehouse = Some(c.dbname).filter(_.nonEmpty)
        val db = Some(c.schema).filter(s => s.nonEmpty && s != "public")
        (master, warehouse, db)
    }

  def main(argv: Array[String]): Unit = {
    val a = try parseArgs(argv.toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}\n$Usage")
        sys.exit(2)
    }
    // connection descriptor: profiles.yml selects/configures the execution target
    val conn = a.profilesDir.flatMap { d =>
      val p = Paths.get(d, "profiles.yml")
      if (Files.exists(p)) Some(Profiles.load(p.toString, a.profile, a.target)) else None
    }
    val (profMaster, profWarehouse, profDb) = try sessionTarget(conn) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}")
        sys.exit(2)
    }
    val builder = SparkSession.builder()
      .master(profMaster.orElse(sys.env.get("SPARK_MASTER"))
        .getOrElse(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .appName("graft-diff")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    profWarehouse.foreach(w => builder.config("spark.sql.warehouse.dir", w))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    profDb.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      spark.catalog.setCurrentDatabase(db)
    }
    try {
      if (a.command == "curate") { runCurate(spark, a); return }
      if (a.command == "advise-layout") { runAdviseLayout(spark, a); return }
      if (a.command == "compact-plan") { runCompactPlan(spark, a); return }
      if (a.command == "release-manifest") { runReleaseManifest(spark, a); return }
      if (a.command == "datasheet") { runDatasheet(spark, a); return }
      if (a.command == "ann-maintain") { runAnnMaintain(spark, a); return }
      if (a.command == "bpe-train") { runBpeTrain(spark, a); return }
      if (a.command == "graph-serve") { runGraphServe(spark, a); return }
      if (a.command == "mixture-plan") { runMixturePlan(spark, a); return }
      if (a.command == "embedding-datasheet") { runEmbeddingDatasheet(spark, a); return }
      if (a.command == "neardup-maintain") { runNearDupMaintain(spark, a); return }
      val jdbcConn = conn.filter(JdbcSource.isJdbc)
      val result = a.command match {
        case "diff-tables" => runDiffTables(spark, a, jdbcConn)
        case _ => runDiff(spark, a, jdbcConn)
      }
      // mirror the null-key warning: when key tuples are not unique the
      // added/removed/changed counts and sample come from a join-multiplied
      // frame (rowcounts already fell back to exact counts in DiffEngine)
      if (result.rowDiff.exists(_.keysNotUnique))
        warn(a,
          s"WARNING: key columns (${result.meta.keys.mkString(", ")}) are not unique — " +
            "added/removed/changed and sample_keys are join-multiplied and may over-count")
      // the rendered report is the primary output — print it BEFORE the
      // warehouse publish-back so a telemetry write failure (connectivity,
      // dropped run-history table, schema drift) can't swallow the result
      // of a diff that already succeeded
      println(render(result, a.format))
      // publish the run summary back to the warehouse it came from — only
      // meaningful (and only attempted) for JDBC-sourced runs; failures
      // are a loud warning, not a process death
      for (tbl <- a.publishJdbc; c <- jdbcConn)
        try JdbcSource.publish(spark, c, tbl, summaryFrame(spark, result))
        catch {
          case scala.util.control.NonFatal(e) =>
            Console.err.println(s"WARNING: --publish-jdbc to '$tbl' failed: ${e.getMessage}")
        }
    } finally spark.stop()
  }
}

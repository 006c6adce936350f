package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.DiffEngine
import graft.formatters.{ConsoleFormatter, JsonFormatter, MarkdownFormatter}

/** Per-operator unit tests against the reference's golden e2e fixture
  * (FIXTURES.md §1: raw.customers with 4 rows, base filters id<=3, head
  * id<=4 → base=3 head=4 added=1 removed=0 changed=0,
  * tests/integration/test_postgres_e2e.py:301-307). */
class DiffEngineSpec extends SparkTestBase {
  import spark.implicits._

  private def customers = Seq(
    (1, "Alice"), (2, "Bob"), (3, "Chandra"), (4, "Deepak")
  ).toDF("customer_id", "name")

  test("e2e golden: base=3 head=4 added=1 removed=0 changed=0") {
    val base = customers.filter($"customer_id" <= 3)
    val head = customers.filter($"customer_id" <= 4)
    val r = DiffEngine.diff(base, head, keys = Seq("customer_id"), model = "dim_customers")
    assert(r.rowcounts.base == 3)
    assert(r.rowcounts.head == 4)
    assert(r.meta.mode == "FULL_DIFF")
    assert(r.schemaDiff.common == Seq("customer_id", "name"))
    assert(r.schemaDiff.onlyInHead.isEmpty && r.schemaDiff.onlyInBase.isEmpty)
    val rd = r.rowDiff.get
    assert(rd.added == 1 && rd.removed == 0 && rd.changed == 0)
    assert(rd.sampleChangedKeys.isEmpty)
  }

  test("changed rows are detected and sampled") {
    val base = customers
    val head = customers.withColumn("name",
      when($"customer_id" === 2, lit("Robert")).otherwise($"name"))
    val r = DiffEngine.diff(base, head, keys = Seq("customer_id"))
    val rd = r.rowDiff.get
    assert(rd.added == 0 && rd.removed == 0 && rd.changed == 1)
    assert(rd.sampleChangedKeys == Seq(Map("customer_id" -> "2")))
  }

  test("STATS_ONLY mode: no keys -> no row diff") {
    val r = DiffEngine.diff(customers, customers)
    assert(r.meta.mode == "STATS_ONLY")
    assert(r.rowDiff.isEmpty)
    assert(r.columnProfiles.map(_.column) == Seq("customer_id", "name"))
  }

  test("diff(x, x) is all-zero (ScalaCheck-style property, fixed seed data)") {
    val r = DiffEngine.diff(customers, customers, keys = Seq("customer_id"))
    val rd = r.rowDiff.get
    assert(rd.added == 0 && rd.removed == 0 && rd.changed == 0)
  }

  test("added(a,b) == removed(b,a) symmetry") {
    val a = customers.filter($"customer_id" <= 3)
    val b = customers
    assert(DiffEngine.added(a, b, Seq("customer_id")).count() ==
      DiffEngine.removed(b, a, Seq("customer_id")).count())
  }

  test("schema diff is order-preserving and name-only") {
    val base = customers.drop("name").withColumn("extra_b", lit(1))
    val head = customers.withColumn("extra_h", lit(1))
    val sd = DiffEngine.schemaDiff(base, head)
    assert(sd.common == Seq("customer_id"))
    assert(sd.onlyInHead == Seq("name", "extra_h"))
    assert(sd.onlyInBase == Seq("extra_b"))
  }

  test("row hash: null sentinel and separator match the reference scheme") {
    val df = Seq((Option.empty[String], Option("b"))).toDF("x", "y")
    val hash = df.select(DiffEngine.rowHash(Seq("x", "y")).as("h")).head().getString(0)
    // md5('<NULL>|b') — the adapters/postgres.py:94-101 rendering
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("<NULL>|b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hash == expected)
  }

  test("row hash is sensitive to non-key changes, stable under identity") {
    val h1 = customers.select(DiffEngine.rowHash(Seq("name")).as("h")).collect().map(_.getString(0))
    val h2 = customers.select(DiffEngine.rowHash(Seq("name")).as("h")).collect().map(_.getString(0))
    assert(h1.sameElements(h2))
    assert(h1.distinct.length == 4)
  }

  test("column profile: nulls, distinct, pct derivation") {
    val df = Seq(
      (Some(1), Some("a")), (Some(1), None), (Some(2), Some("b")), (None, Some("b"))
    ).toDF("k", "v")
    val p = DiffEngine.columnProfile(df, Seq("k", "v"))
    assert(p("k") == ((1L, 2L)))
    assert(p("v") == ((1L, 2L)))
    assert(DiffEngine.pct(1, 4) == 25.0)
    assert(DiffEngine.pct(0, 0) == 0.0)
  }

  test("where predicate applies to both sides before counting") {
    val r = DiffEngine.diff(customers, customers,
      keys = Seq("customer_id"), where = Some("customer_id <= 2"))
    assert(r.rowcounts.base == 2 && r.rowcounts.head == 2)
  }

  test("schema diff reports type changes on common columns (beyond reference)") {
    val base = customers
    val head = customers.withColumn("customer_id", $"customer_id".cast("long"))
    val sd = DiffEngine.schemaDiff(base, head)
    assert(sd.common == Seq("customer_id", "name"))
    assert(sd.typeChanges == Seq(("customer_id", "int", "bigint")))
  }

  test("duplicate keys raise the keysNotUnique flag; unique keys do not") {
    val base = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v") // k=1 duplicated
    val head = Seq((1, "a"), (2, "c"), (3, "d")).toDF("k", "v")
    val r = DiffEngine.diff(base, head, keys = Seq("k"), computeProfiles = false)
    assert(r.rowDiff.exists(_.keysNotUnique))
    // rowcounts fall back to exact per-side counts, not join-row arithmetic
    assert(r.rowcounts.base == 3 && r.rowcounts.head == 3)
    // the flag reaches the JSON document — and only when tripped
    assert(graft.formatters.JsonFormatter.render(r).contains("\"keys_not_unique\": true"))
    val clean = DiffEngine.diff(head, head, keys = Seq("k"), computeProfiles = false)
    assert(clean.rowDiff.exists(!_.keysNotUnique))
    assert(!graft.formatters.JsonFormatter.render(clean).contains("keys_not_unique"))
  }

  test("salt-skew: hot dup key diffs via salted digests — row-exact counts, no row-pair join") {
    // planted truth: hot key 7 duplicated 500x on both sides (one row's
    // content mutated in head); unique keys with one changed, one removed,
    // one added
    val hotB = (1 to 500).map(i => (7, s"v$i"))
    val hotH = (1 to 500).map(i => (7, if (i == 250) "MUTANT" else s"v$i"))
    val base = (hotB ++ Seq((1, "a"), (2, "b"), (3, "c"))).toDF("k", "v")
    val head = (hotH ++ Seq((1, "a"), (2, "B"), (4, "d"))).toDF("k", "v")
    val r = DiffEngine.diff(base, head, keys = Seq("k"), computeProfiles = false,
      saltSkewBuckets = Some(8))
    val rd = r.rowDiff.get
    assert(rd.added == 1 && rd.removed == 1) // key 4 added, key 3 removed (row-exact)
    assert(rd.changed == 2)                  // keys 2 and 7 (key-level)
    assert(r.rowcounts.base == 503 && r.rowcounts.head == 503) // exact despite dups
    assert(rd.keysNotUnique)
    assert(rd.sampleChangedKeys.map(_("k")).toSet == Set("2", "7"))
    // the default row-pair join on the same input multiplies the hot key
    // (500x500) — exactly the blow-up the digest path never materializes
    assert(DiffEngine.rowDiffFrame(base, head, Seq("k"), Seq("v")).count() > 250000L)
    // plan shape: partial aggregate keyed on (k, __salt), so the hot key
    // spreads over the salt buckets before any per-key row exists
    val plan = DiffEngine.saltedDigestFrame(base, head, Seq("k"), Seq("v"), 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"))
    // unique-key equivalence: salted and default modes agree exactly
    val ub = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val uh = Seq((1, "a"), (2, "B"), (4, "d")).toDF("k", "v")
    val s1 = DiffEngine.diff(ub, uh, keys = Seq("k"), computeProfiles = false,
      saltSkewBuckets = Some(8)).rowDiff.get
    val s0 = DiffEngine.diff(ub, uh, keys = Seq("k"), computeProfiles = false).rowDiff.get
    assert((s1.added, s1.removed, s1.changed) == ((s0.added, s0.removed, s0.changed)))
    assert(s1.sampleChangedKeys == s0.sampleChangedKeys && !s1.keysNotUnique)
  }

  test("quoted identifiers: dotted and spaced column names diff like plain names") {
    val plainBase = Seq((1L, "Alice", 10), (2L, "Bob", 20), (3L, "Chandra", 30))
      .toDF("order_id", "first_name", "qty")
    val plainHead = Seq((1L, "Alice", 10), (2L, "Robert", 20), (4L, "Deepak", 40))
      .toDF("order_id", "first_name", "qty")
    def quoted(df: DataFrame) =
      df.withColumnRenamed("order_id", "order id").withColumnRenamed("first_name", "first.name")
    val back = Map("order id" -> "order_id", "first.name" -> "first_name")
    def plainNames(r: graft.model.DiffResult) = (
      r.rowcounts,
      r.rowDiff.map(d => (d.added, d.removed, d.changed, d.keysNotUnique,
        d.sampleChangedKeys.map(_.map { case (k, v) => back.getOrElse(k, k) -> v }))),
      r.columnProfiles.map(p => p.copy(column = back.getOrElse(p.column, p.column))),
      r.changedByColumn.map(_.map { case (c, n) => back.getOrElse(c, c) -> n }))
    def both(f: (DataFrame, DataFrame, String) => graft.model.DiffResult) = {
      val p = plainNames(f(plainBase, plainHead, "order_id"))
      assert(plainNames(f(quoted(plainBase), quoted(plainHead), "order id")) == p)
      p
    }
    val keyed = both((b, h, k) => DiffEngine.diff(b, h, keys = Seq(k), computeByColumn = true))
    assert(keyed._2.exists(d => (d._1, d._2, d._3) == ((1L, 1L, 1L))))
    both((b, h, k) => DiffEngine.diff(b, h, keys = Seq(k), saltSkewBuckets = Some(4)))
    both((b, h, k) => DiffEngine.diff(b, h, keys = Seq(k), approxDistinct = true))
    both((b, h, _) => DiffEngine.diff(b, h))
    assert(DiffEngine.nullKeyCounts(quoted(plainBase), quoted(plainHead), Seq("order id")) == ((0L, 0L)))
  }

  test("library diff: a key missing from one side fails naming the side, before any job") {
    // job starts by job group; the bus delivers in order, so once a later
    // sentinel job's start arrives, every job the diff started has too
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val renamed = customers.withColumnRenamed("customer_id", "cust_id")
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (eHead, eBase) = try {
      sc.setJobGroup("graft_lib_badkey", "bad key")
      (intercept[IllegalArgumentException](DiffEngine.diff(customers, renamed, keys = Seq("customer_id"))),
        intercept[IllegalArgumentException](DiffEngine.diff(renamed, customers, keys = Seq("customer_id"))))
    } finally {
      sc.setJobGroup("graft_lib_badkey_sentinel", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime + 30000000000L
      while (!groups.contains("graft_lib_badkey_sentinel") && System.nanoTime < deadline) Thread.sleep(10)
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(eHead.getMessage.contains("'customer_id' is not in the head side"), eHead.getMessage)
    assert(eHead.getMessage.contains("nearest columns: cust_id, name"), eHead.getMessage)
    assert(eBase.getMessage.contains("'customer_id' is not in the base side"), eBase.getMessage)
    assert(groups.contains("graft_lib_badkey_sentinel"))
    assert(!groups.contains("graft_lib_badkey"), "a Spark job ran before the key check")
  }

  test("null-key diagnostic counts rows that can never match") {
    val base = Seq((Some(1), "a"), (None, "b"), (Some(3), "c")).toDF("k", "v")
    val head = Seq((Some(1), "a"), (None, "x"), (None, "y")).toDF("k", "v")
    assert(DiffEngine.nullKeyCounts(base, head, Seq("k")) == ((1L, 2L)))
  }

  test("melt profile equals the single-agg exact profile") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    val direct = DiffEngine.profileDf(df, cols).head()
    val melt = DiffEngine.profileMeltDf(df, cols).head()
    assert(direct.toSeq == melt.toSeq)
    assert(direct.schema.fieldNames.sameElements(melt.schema.fieldNames))
    // the two-side pass equals columnProfile on each side, type by type:
    // -0.0/0.0 and NaN/NaN are one value each, NULLs count as nulls only,
    // an int column that drifted to bigint counts each side in its own
    // type, and nested values compare whole
    val side = Seq(
      (1, Some(-0.0), Some(BigDecimal("1.50")), Some("2024-01-01"), Some("2024-01-01 10:00:00"),
        Some("a"), Some(Seq(1, 2)), Some((1, "x"))),
      (2, Some(0.0), Some(BigDecimal("1.5")), Some("2024-01-02"), Some("2024-01-01 10:00:00"),
        None, Some(Seq(2, 1)), Some((1, "x"))),
      (3, Some(Double.NaN), Some(BigDecimal("2")), Some("2024-01-01"), Some("2024-01-02 00:00:00"),
        Some("a"), Some(Seq.empty[Int]), Some((2, null: String))),
      (4, Some(Double.NaN), None, None, None, Some("b"), None, None),
      (4, None, Some(BigDecimal("2.00")), Some("2024-01-03"), None,
        None, Some(Seq(1, 2)), Some((2, null: String)))
    ).toDF("n", "d", "dec", "dt", "ts", "s", "arr", "st")
      .withColumn("dt", to_date(col("dt"))).withColumn("ts", to_timestamp(col("ts")))
    val sideCols = side.columns.toSeq
    val head = side.filter(col("n") =!= 2).withColumn("n", col("n").cast("long"))
    def expected(df: DataFrame) = (df.count(), DiffEngine.columnProfile(df, sideCols))
    val both = DiffEngine.profileSides(Seq(side, head), sideCols)
    assert(both == Seq(expected(side), expected(head)))
    assert(both.head._2("d") == ((1L, 2L)) && both.head._2("arr") == ((1L, 3L)))
    val emptyHead = head.filter(lit(false))
    assert(DiffEngine.profileSides(Seq(side, emptyHead), sideCols) ==
      Seq(expected(side), (0L, sideCols.map(_ -> ((0L, 0L))).toMap)))
    assert(expected(emptyHead)._2.values.forall(_ == ((0L, 0L))))
  }

  test("bucketed snapshots make the diff join exchange-free") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "bucket_test")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val base = store.snapshotBucketed(orders, "b", Seq("o_orderkey"), buckets = 4)
    val head = store.snapshotBucketed(
      orders.filter(col("o_orderkey") % 7 =!= 0), "h", Seq("o_orderkey"), buckets = 4)
    try {
      val joined = DiffEngine.rowDiffFrame(base, head,
        Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, plan:\n$plan")
      // and the result is still correct
      val removed = joined.filter(col("__head_hash").isNull).count()
      assert(removed == orders.filter(col("o_orderkey") % 7 === 0).count())
      // the keyed diff's exact profiles: both sides' scans union under ONE
      // aggregate and no Expand is planned — the per-column count(distinct)
      // form it replaces plans one
      import org.apache.spark.sql.execution.{ExpandExec, SparkPlan, UnionExec}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      val prof = physical(DiffEngine.profileSidesDf(Seq(base, head), cols))
      assert(prof.collect { case e: ExpandExec => e }.isEmpty, s"Expand in the profile plan:\n$prof")
      val unions = prof.collect { case u: UnionExec => u }
      assert(unions.size == 1 && unions.head.children.size == 2, s"expected one two-side union:\n$prof")
      assert(unions.head.collect { case a: BaseAggregateExec => a }.isEmpty,
        s"a side aggregates before the union:\n$prof")
      assert(physical(DiffEngine.profileDf(base, cols)).collect { case e: ExpandExec => e }.nonEmpty)
    } finally { store.dropTable("b"); store.dropTable("h"); store.drop() }
  }

  test("snapshot commit is atomic: torn writes are refused on read") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_atomic_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "atomic_test")
    val df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    try {
      // committed snapshot: marker present, reads fine, marker is not data
      val snap = store.snapshot(df, "ok")
      assert(snap.count() == df.count())
      assert(Files.exists(Paths.get(store.runDir, "ok", graft.engine.SnapshotStore.CommitMarker)))
      // torn write: a directory with data files but NO marker (what a
      // killed run leaves behind mid-copy) must be refused, not silently
      // diffed as a table that "lost rows"
      val torn = Paths.get(store.runDir, "torn")
      Files.createDirectories(torn)
      val src = Paths.get(store.runDir, "ok").toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(src.toPath, torn.resolve(src.getName))
      val e = intercept[IllegalArgumentException](store.read("torn"))
      assert(e.getMessage.contains("not committed"))
      // overwriting a torn snapshot heals it
      assert(store.snapshot(df, "torn").count() == df.count())
      // a leftover .tmp dir from a killed run never shadows the committed copy
      Files.createDirectories(Paths.get(store.runDir, "ok.tmp"))
      assert(store.snapshot(df, "ok").count() == df.count())
    } finally store.drop()
  }

  test("snapshot store runs the same commit protocol on a non-file:// filesystem") {
    import java.nio.file.{Files, Paths}
    // register a scheme that is NOT file:// and resolve it to Hadoop's
    // RawLocalFileSystem — every snapshot/read/gc call must route through
    // the org.apache.hadoop.fs API for this to work (java.io.File cannot
    // open a graftfs:// path), which is exactly the HDFS/S3 portability
    // contract the store promises at 100 TB
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.GraftTestFs].getName)
    val local = Files.createTempDirectory("graft_hfs_").toString
    val root = "graftfs://" + local // local starts with '/': empty authority
    assert(new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[graft.GraftTestFs])
    val store = new graft.engine.SnapshotStore(spark, root, "hfs_test")
    val df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    try {
      assert(store.runDir.startsWith("graftfs://"))
      val snap = store.snapshot(df, "t")
      assert(snap.count() == df.count())
      // the marker landed on the backing store (checked via the REAL fs)
      assert(Files.exists(Paths.get(local, "hfs_test", "t",
        graft.engine.SnapshotStore.CommitMarker)))
      // torn write (data, no marker) refused through the scheme'd path too
      val torn = Paths.get(local, "hfs_test", "torn")
      Files.createDirectories(torn)
      val src = Paths.get(local, "hfs_test", "t").toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(src.toPath, torn.resolve(src.getName))
      val e = intercept[IllegalArgumentException](store.read("torn"))
      assert(e.getMessage.contains("not committed"))
      // partitioned variant commits through the same protocol
      val part = store.snapshotPartitioned(
        df.withColumn("p", col("r_regionkey") % 2), "pt", Seq("p"))
      assert(part.count() == df.count())
      // gc sees and drops expired runs through the scheme'd root
      val old = Paths.get(local, "stale_run")
      Files.createDirectories(old)
      old.toFile.setLastModified(System.currentTimeMillis() - 100000)
      assert(store.gc(maxAgeMillis = 50000) == Seq("stale_run"))
      assert(Files.exists(Paths.get(local, "hfs_test")))
    } finally {
      store.drop()
      assert(!Files.exists(Paths.get(local, "hfs_test")))
    }
  }

  test("snapshot compaction merges small files atomically; gc drops expired runs") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_compact_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "compact_test")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").repartition(8)
    val n = orders.count()
    store.snapshot(orders, "t")
    def parquetFiles(t: String) =
      Paths.get(store.runDir, t).toFile.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles("t") == 8)
    val compacted = store.compact("t", targetFiles = 2)
    assert(parquetFiles("t") <= 2 && compacted.count() == n)
    // still committed (marker survived the rewrite) and readable
    assert(store.read("t").count() == n)
    // gc: an expired foreign run dir is dropped, the current run is not
    val old = Paths.get(dir, "stale_run")
    Files.createDirectories(old)
    old.toFile.setLastModified(System.currentTimeMillis() - 100000)
    val dropped = store.gc(maxAgeMillis = 50000)
    assert(dropped == Seq("stale_run") && !Files.exists(old))
    assert(Files.exists(Paths.get(store.runDir)))
    store.drop()
  }

  test("merge upsert: change rows win, deletes drop, bucketed merge is exchange-free") {
    import spark.implicits._
    val base = Seq(
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)
    ).toDF("k", "v", "n")
    val changes = Seq(
      (2L, "B", 21L, 0), // update
      (4L, "d", 40L, 1), // delete
      (9L, "z", 90L, 0)  // insert
    ).toDF("k", "v", "n", "__del")
    val merged = DiffEngine.mergeUpsert(base, changes, Seq("k"), Some("__del"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(merged == Map(
      1L -> (("a", 10L)), 2L -> (("B", 21L)), 3L -> (("c", 30L)), 9L -> (("z", 90L))))
    // no delete column: plain upsert, nothing drops
    val up = DiffEngine.mergeUpsert(base, Seq((2L, "B", 21L)).toDF("k", "v", "n"), Seq("k"))
    assert(up.count() == 4 && up.filter($"k" === 2L).head().getString(1) == "B")
    // against bucketed snapshots the anti join plans with ZERO exchange on
    // the base side — only the changeset shuffles at 100 TB
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "merge_test")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    try {
      val b = store.snapshotBucketed(orders, "b", Seq("o_orderkey"), buckets = 4)
      val ch = store.snapshotBucketed(
        orders.filter(col("o_orderkey") % 5 === 0), "c", Seq("o_orderkey"), buckets = 4)
      // small changeset: the planner broadcasts it (optimal — the base
      // never moves); that's a BroadcastExchange, not a shuffle
      val plan = DiffEngine.mergeUpsert(b, ch, Seq("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle, plan:\n$plan")
      // large-changeset regime (broadcast off): bucketing co-partitions
      // both scans and the merge plans with ZERO exchanges of any kind
      val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val sortPlan = DiffEngine.mergeUpsert(b, ch, Seq("o_orderkey"))
          .queryExecution.executedPlan.toString
        assert(!sortPlan.contains("Exchange"), s"expected no exchange, plan:\n$sortPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    } finally { store.dropTable("b"); store.dropTable("c"); store.drop() }
  }

  test("incremental agg: identical to full recompute; groups appear and vanish") {
    import spark.implicits._
    val base = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 5.0)
    ).toDF("k", "g", "v")
    val changes = Seq(
      (4L, "c", 5.0, 1),   // delete: group c must vanish
      (2L, "b", 25.0, 0),  // update: moves value a -> b
      (9L, "d", 7.0, 0)    // insert: group d appears
    ).toDF("k", "g", "v", "__del")
    val baseAgg = base.groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
    val inc = DiffEngine.incrementalAgg(
      base, baseAgg, changes, Seq("k"), Seq("g"), "v", Some("__del"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).toPlainString))).toMap
    // the gate identity: full recompute over the merged table says the same
    val full = DiffEngine.mergeUpsert(base, changes, Seq("k"), Some("__del"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("v").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2).toPlainString))).toMap
    assert(inc == full)
    assert(inc == Map(
      "a" -> ((1L, "10.00")), "b" -> ((2L, "55.00")), "d" -> ((1L, "7.00"))))
    assert(!inc.contains("c"))
  }

  test("z-order key: locality — a 2D box touches few curve tiles; nulls stay total") {
    import spark.implicits._
    import graft.operators.Layout
    // full 64x64 grid, both layouts keyed over the same cells
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = Layout.zOrderBucketized(grid, Seq("x", "y"), bitsPerDim = 6)
    // the grid is its own cell space (min 0, max 63): z of (x,y) is exact
    // interleave, so tile = z >> 6 groups 8x8-aligned squares
    val boxZ = z.filter($"x" >= 8 && $"x" <= 15 && $"y" >= 16 && $"y" <= 23)
      .select(shiftright($"z_key", 6)).distinct().count()
    assert(boxZ == 1L, s"aligned 8x8 box should live in ONE z tile, got $boxZ")
    // a misaligned box still touches at most 4 tiles
    val boxZ2 = z.filter($"x" >= 12 && $"x" <= 19 && $"y" >= 20 && $"y" <= 27)
      .select(shiftright($"z_key", 6)).distinct().count()
    assert(boxZ2 <= 4L, s"misaligned 8x8 box: $boxZ2 tiles")
    // row-major layout: the same box smears across 8 disjoint key ranges
    val rowMajor = grid.withColumn("k", $"x" * 64 + $"y")
      .filter($"x" >= 8 && $"x" <= 15 && $"y" >= 16 && $"y" <= 23)
      .select(shiftright($"k", 6)).distinct().count()
    assert(rowMajor >= 8L && boxZ < rowMajor)
    // NULL dims: key stays total (null -> min cell), no rows dropped
    val withNull = Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("x", "y")
    assert(Layout.zOrderBucketized(withNull, Seq("x", "y"), 4).count() == 2)
  }

  test("z-ordered snapshots give per-file min/max pruning on BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "zorder_test")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    try {
      val snap = store.snapshotZOrdered(li, "z", Seq("l_partkey", "l_suppkey"), files = 8)
      assert(snap.count() == li.count()) // layout is content-preserving
      // per-FILE dim ranges: under z-layout each file covers a compact
      // rectangle, so a box predicate on (part, supp) overlaps few files;
      // a plain snapshot's files each span ~the full range
      def overlapping(df: org.apache.spark.sql.DataFrame,
          pLo: Long, pHi: Long, sLo: Long, sHi: Long): Long =
        df.groupBy(input_file_name().as("f"))
          .agg(min("l_partkey").as("pmn"), max("l_partkey").as("pmx"),
            min("l_suppkey").as("smn"), max("l_suppkey").as("smx"))
          .filter(col("pmx") >= pLo && col("pmn") <= pHi &&
            col("smx") >= sLo && col("smn") <= sHi)
          .count()
      val stats = li.agg(max("l_partkey"), max("l_suppkey")).head()
      val (pMax, sMax) = (stats.getLong(0), stats.getLong(1))
      val plain = store.snapshot(li.repartition(8), "plain")
      val nFiles = plain.groupBy(input_file_name()).count().count()
      // a ~quarter-range box on both dims
      val zHit = overlapping(snap, 0, pMax / 4, 0, sMax / 4)
      val plainHit = overlapping(plain, 0, pMax / 4, 0, sMax / 4)
      assert(plainHit == nFiles, "hash layout: every file overlaps the box")
      assert(zHit < plainHit, s"z layout should prune files: $zHit vs $plainHit")
    } finally store.drop()
  }

  test("partitioned snapshots prune to the filtered partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_").toString
    val store = new graft.engine.SnapshotStore(spark, dir, "part_test")
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumn("o_status_part", col("o_orderstatus"))
    val snap = store.snapshotPartitioned(orders, "p", Seq("o_status_part"))
    try {
      val filtered = snap.filter(col("o_status_part") === "O")
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("o_status_part"))
      // pruned scan reads fewer files than the full snapshot
      assert(filtered.count() == orders.filter(col("o_orderstatus") === "O").count())
    } finally store.drop()
  }

  test("partition fingerprints scope the incremental diff to changed partitions only") {
    val base = Seq(
      ("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"),
      ("2024-01-02", 3L, "c"),
      ("2024-01-03", 4L, "d")
    ).toDF("day", "id", "v")
    val head = Seq(
      ("2024-01-01", 1L, "a"), ("2024-01-01", 2L, "b"), // untouched
      ("2024-01-02", 3L, "CHANGED"),                    // value changed
      ("2024-01-04", 9L, "new")                         // new partition; 01-03 removed
    ).toDF("day", "id", "v")
    val changed = DiffEngine.changedPartitions(base, head, "day", Seq("id", "v"))
      .collect().map(_.getString(0)).toSet
    assert(changed == Set("2024-01-02", "2024-01-03", "2024-01-04"))
    // the scoped diff over changed partitions equals the full diff's counts
    def scoped(df: org.apache.spark.sql.DataFrame) = df.filter($"day".isin(changed.toSeq: _*))
    val full = DiffEngine.diff(base, head, keys = Seq("id")).rowDiff.get
    val inc = DiffEngine.diff(scoped(base), scoped(head), keys = Seq("id")).rowDiff.get
    assert((inc.added, inc.removed, inc.changed) == ((full.added, full.removed, full.changed)))
  }

  test("categorical drift: exact TV contributions, absent values count zero") {
    val base = Seq("a", "a", "a", "b").toDF("s") // Nb=4: a:3 b:1
    val head = Seq("a", "b", "b", "c").toDF("s") // Nh=4: a:1 b:2 c:1
    val r = DiffEngine.categoricalDrift(base, head, "s")
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r("a") == ((3L, 1L, 8L)))  // |3*4 - 1*4|
    assert(r("b") == ((1L, 2L, 4L)))
    assert(r("c") == ((0L, 1L, 4L)))  // value only in head
    // TV = sum/(2*Nb*Nh) = 16/32 = 0.5: half the mass moved
    assert(r.values.map(_._3).sum == 16L)
    // NULL is ONE category (null-safe join): byte-identical sides with a
    // NULL value must produce one matched row contributing zero, not two
    // unmatched rows scoring phantom drift (r14 advice: the q71 oracle now
    // joins IS NOT DISTINCT FROM to match).
    val withNull = Seq(Some("a"), None, None).toDF("s")
    val rn = DiffEngine.categoricalDrift(withNull, withNull, "s").collect()
    assert(rn.length == 2 && rn.forall(_.getLong(3) == 0L))
  }

  test("psi drift: identical sides score zero, a planted shift is positive, every term nonnegative") {
    val base = Seq.fill(40)("a") ++ Seq.fill(40)("b")
    // hand-check one cell: K=3, base a: (41*1e9) div 83 = 493975903,
    // head a: (11*1e9) div 83 = 132530120; hb(493975903)=57, hb(132530120)=53
    // => term = (493975903-132530120) * 4
    val head = Seq.fill(10)("a") ++ Seq.fill(40)("b") ++ Seq.fill(30)("c")
    val same = DiffEngine.psiDrift(base.toDF("s"), base.toDF("s"), "s")
      .collect().map(_.getAs[Long]("psi_term_hb"))
    assert(same.forall(_ == 0L)) // p_ppb == q_ppb exactly => zero, no float residue
    val r = DiffEngine.psiDrift(base.toDF("s"), head.toDF("s"), "s")
      .collect().map(x => x.getString(0) ->
        ((x.getAs[Long]("p_ppb"), x.getAs[Long]("q_ppb"), x.getAs[Long]("psi_term_hb")))).toMap
    assert(r("a") == ((493975903L, 132530120L, (493975903L - 132530120L) * 4)))
    assert(r("c")._3 > 0L)                    // category absent in base still scores
    assert(r.values.forall(_._3 >= 0L))       // PSI terms are nonnegative by construction
    assert(r("b")._3 == 0L)                   // unmoved mass: same half-bit bucket
    // review finding (r14): a NULL category is ONE category — plain join
    // equality split it into an unmatched row per side, inflating K and
    // scoring byte-identical sides as drifted
    val withNull = Seq(Some("a"), None, None).toDF("s")
    val nullSame = DiffEngine.psiDrift(withNull, withNull, "s").collect()
    assert(nullSame.length == 2)
    assert(nullSame.forall(_.getAs[Long]("psi_term_hb") == 0L))
  }

  test("numeric drift: equal-width integer bins over the combined range") {
    // combined range 0..99, 10 buckets of width 10
    val base = Seq(0L, 5L, 15L, 99L).toDF("v")   // bins 0,0,1,9
    val head = Seq(8L, 15L, 17L, 95L).toDF("v")  // bins 0,1,1,9
    val r = DiffEngine.numericDrift(base, head, "v", nBuckets = 10)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r.keySet == Set(0L, 1L, 9L))
    assert(r(0L) == ((2L, 1L, 4L)))  // |2*4 - 1*4|
    assert(r(1L) == ((1L, 2L, 4L)))
    assert(r(9L) == ((1L, 1L, 0L)))  // same mass: no drift contribution
    // a shape shift shows up where it happened, nowhere else
    assert(r.values.map(_._3).sum == 8L)
    // nulls excluded; one-sided emptiness still buckets over the other side
    val withNull = Seq[Option[Long]](Some(1L), None).toDF("v")
    val oneSided = DiffEngine.numericDrift(withNull, spark.emptyDataset[Long].toDF("v"), "v", 4)
    assert(oneSided.collect().map(_.getLong(1)).sum == 1L)
    // both sides empty -> empty frame, not an exception
    val e = spark.emptyDataset[Long].toDF("v")
    assert(DiffEngine.numericDrift(e, e, "v", 4).count() == 0L)
    // a range wider than Long (sentinel values) must fail the guard up
    // front, not wrap past it and explode mid-job
    val sentinels = Seq(Long.MinValue, 0L).toDF("v")
    val big = Seq(Long.MaxValue).toDF("v")
    val err = intercept[IllegalArgumentException](
      DiffEngine.numericDrift(sentinels, big, "v", 4))
    assert(err.getMessage.contains("rescale"))
  }

  test("--by-column attribution lands in the result document and renderers") {
    val base = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "v")
    val head = Seq((1, "a", 10), (2, "B", 20), (3, "c", 31)).toDF("id", "name", "v")
    val r = DiffEngine.diff(base, head, keys = Seq("id"), computeByColumn = true)
    assert(r.changedByColumn.contains(Seq(("name", 1L), ("v", 1L))))
    val json = JsonFormatter.render(r)
    assert(json.contains("\"changed_by_column\"") && json.contains("\"name\": 1"))
    assert(ConsoleFormatter.render(r).contains("Changed rows by column"))
    // absent unless requested — reference-shaped documents stay byte-identical
    val plain = DiffEngine.diff(base, head, keys = Seq("id"))
    assert(plain.changedByColumn.isEmpty)
    assert(!JsonFormatter.render(plain).contains("changed_by_column"))
  }

  test("type drift coerces to the wider common type before hashing") {
    val base = Seq((1, 10), (2, 20), (3, 30)).toDF("id", "v") // v: INT
    val head = Seq((1L, 10L), (2L, 99L), (3L, 30L)).toDF("id", "v") // v: BIGINT
      .select($"id".cast("int").as("id"), $"v")
    val r = DiffEngine.diff(base, head, keys = Seq("id"))
    assert(r.schemaDiff.typeChanges.map(_._1) == Seq("v")) // drift still reported
    assert(r.rowDiff.get.changed == 1) // only the real change, not all 3
    // opt-out reproduces the raw-rendering behavior (every matched row differs
    // would be wrong here: int vs bigint render identically; use double side)
    val headD = head.select($"id", $"v".cast("double").as("v"))
    val raw = DiffEngine.diff(base, headD, keys = Seq("id"), coerceTypes = false)
    assert(raw.rowDiff.get.changed == 3) // "10" vs "10.0" etc — all mismatch
    val coerced = DiffEngine.diff(base, headD, keys = Seq("id"))
    assert(coerced.rowDiff.get.changed == 1)
  }

  test("HLL sketch profiles: part-wise sketches merge to the whole-input answer") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cols = Seq("o_custkey", "o_orderstatus")
    // profile three disjoint slices independently (the incremental pattern)
    val parts = Seq(
      orders.filter($"o_orderkey" % 3 === 0),
      orders.filter($"o_orderkey" % 3 === 1),
      orders.filter($"o_orderkey" % 3 === 2)
    ).map(DiffEngine.profileSketchDf(_, cols))
    val merged = DiffEngine.mergeSketchEstimates(parts, cols)
    // HLL union is register-wise max: merging parts == sketching the whole
    val whole = DiffEngine.mergeSketchEstimates(
      Seq(DiffEngine.profileSketchDf(orders, cols)), cols)
    assert(merged == whole)
    // and the estimate lands within HLL error of the exact count
    val exact = DiffEngine.columnProfile(orders, cols).map { case (c, (_, d)) => c -> d }
    cols.foreach { c =>
      val err = math.abs(merged(c).toDouble - exact(c)) / math.max(exact(c), 1L)
      assert(err < 0.05, s"$c: est ${merged(c)} vs exact ${exact(c)}")
    }
  }

  test("JSON formatter is byte-identical to the reference's json.dumps golden") {
    import graft.model._
    // golden produced by: json.dumps(result, indent=2, sort_keys=True,
    // default=str) over the reference's result-dict shape
    // (diff_flow.py:80-94, 251-256; json_fmt.py:28)
    val r = DiffResult(
      DiffMeta("stg_customers", "main", "feature", "FULL_DIFF", None, Seq("customer_id"),
        diffSchema = Some("dbt_model_diff__stg_customers_main_feature"),
        tables = Some(("stg_customers__base", "stg_customers__head"))),
      RowCounts(3, 4),
      SchemaDiff(Seq("customer_id", "name"), Seq("new_col"), Nil),
      Seq(ColumnProfile("customer_id",
        SideProfile(0, 3, 0.0, 100.0), SideProfile(0, 4, 0.0, 100.0))),
      Some(RowDiff(1, 0, 2, Seq(Map("customer_id" -> "2"), Map("customer_id" -> "3")),
        integralKeys = Set("customer_id")))
    )
    val golden =
      """{
        |  "column_profile": {
        |    "customer_id": {
        |      "base": {
        |        "distinct": 3,
        |        "null_pct": 0.0,
        |        "nulls": 0,
        |        "uniq_pct": 100.0
        |      },
        |      "head": {
        |        "distinct": 4,
        |        "null_pct": 0.0,
        |        "nulls": 0,
        |        "uniq_pct": 100.0
        |      }
        |    }
        |  },
        |  "meta": {
        |    "base": "main",
        |    "diff_schema": "dbt_model_diff__stg_customers_main_feature",
        |    "head": "feature",
        |    "keys": [
        |      "customer_id"
        |    ],
        |    "mode": "FULL_DIFF",
        |    "model": "stg_customers",
        |    "tables": {
        |      "base": "stg_customers__base",
        |      "head": "stg_customers__head"
        |    }
        |  },
        |  "row_diff": {
        |    "added": 1,
        |    "changed": 2,
        |    "removed": 0,
        |    "sample_keys": [
        |      [
        |        2
        |      ],
        |      [
        |        3
        |      ]
        |    ]
        |  },
        |  "rowcounts": {
        |    "base": 3,
        |    "head": 4
        |  },
        |  "schema_diff": {
        |    "common": [
        |      "customer_id",
        |      "name"
        |    ],
        |    "only_in_base": [],
        |    "only_in_head": [
        |      "new_col"
        |    ]
        |  }
        |}""".stripMargin
    assert(JsonFormatter.render(r) == golden)
    // defaults derive the reference's deterministic names (diff_flow.py:68-71)
    val noNames = r.copy(meta = r.meta.copy(diffSchema = None, tables = None))
    assert(JsonFormatter.render(noNames) == golden)
  }

  test("JSON sample keys: typed by schema, not by string shape") {
    import graft.model._
    // a STRING-typed key whose values happen to be digits must stay a JSON
    // string ("007" would lose its leading zeros as a number); an integer-
    // typed key renders as a bare number
    val r = DiffResult(
      DiffMeta("m", "a", "b", "FULL_DIFF", None, Seq("code", "id")),
      RowCounts(1, 1), SchemaDiff(Seq("code", "id"), Nil, Nil), Nil,
      Some(RowDiff(0, 0, 1, Seq(Map("code" -> "007", "id" -> "42")),
        integralKeys = Set("id"))))
    val json = JsonFormatter.render(r)
    assert(json.contains("\"007\""))
    assert(json.contains("        42") && !json.contains("\"42\""))
    // end-to-end: a real diff over a string-keyed frame threads the type
    val base = Seq(("007", "x"), ("010", "y")).toDF("code", "v")
    val head = Seq(("007", "x2"), ("010", "y")).toDF("code", "v")
    val real = DiffEngine.diff(base, head, keys = Seq("code"), model = "m")
    assert(real.rowDiff.get.integralKeys.isEmpty)
    assert(JsonFormatter.render(real).contains("\"007\""))
  }

  test("console color mode styles lines without disturbing layout") {
    val base = customers.filter($"customer_id" <= 3)
    val r = DiffEngine.diff(base, customers, keys = Seq("customer_id"), model = "m")
    val plain = ConsoleFormatter.render(r)
    val colored = ConsoleFormatter.render(r, color = true)
    assert(!plain.contains("\u001b[")) // default stays machine-clean
    assert(colored.contains("\u001b[32m") && colored.contains("\u001b[36m")) // green adds, cyan panel
    // stripping the codes reproduces the plain render exactly — styling is
    // layout-neutral (box arithmetic untouched)
    assert(colored.replaceAll("\u001b\\[[0-9]+m", "") == plain)
  }

  test("formatters render without loss") {
    val base = customers.filter($"customer_id" <= 3)
    val head = customers
    val r = DiffEngine.diff(base, head, keys = Seq("customer_id"), model = "m")
    val json = JsonFormatter.render(r)
    assert(json.contains("\"added\": 1") && json.contains("\"row_diff\""))
    assert(json.contains("\"base\": 3") && json.contains("\"head\": 4"))
    val md = MarkdownFormatter.render(r)
    assert(md.contains("| added | 1 |"))
    val txt = ConsoleFormatter.render(r)
    // rich_fmt section structure: header panel + Summary/Row-level tables
    assert(txt.contains("dbt-model-diff") && txt.contains("Summary"))
    assert(txt.contains("Added rows") && txt.contains("Row-level diff"))
    assert(txt.contains("Base rowcount") && txt.contains("Column profile (2 common columns)"))
  }

  test("segment digests: only the mutated key's segment differs, layout-independent") {
    import spark.implicits._
    val base = (1L to 200L).map(k => (k, s"v$k")).toDF("k", "p")
    val head = base.withColumn("p",
      org.apache.spark.sql.functions.when($"k" === 42L, "CHANGED").otherwise($"p"))
    def dig(df: org.apache.spark.sql.DataFrame) =
      DiffEngine.segmentDigests(df, "k", Seq("p"), 16)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (db, dh) = (dig(base), dig(head))
    val differing = db.keySet.union(dh.keySet).filter(s => db.get(s) != dh.get(s))
    assert(differing.size == 1)
    // digests ignore physical layout: a shuffled base digests identically
    assert(dig(base.repartition(7).sortWithinPartitions($"p")) == db)
  }

  test("bitemporal: correction, new period, and retro-delete obey both clocks") {
    import spark.implicits._
    // key 1: asserted A@vt10 (tx1), corrected B@vt10 (tx2), C@vt20 (tx3);
    // key 2: A@vt10 (tx1), tombstoned (tx4)
    val log = Seq((1L, "A", 1L, 10L, 0), (1L, "B", 2L, 10L, 0), (1L, "C", 3L, 20L, 0),
      (2L, "A", 1L, 10L, 0), (2L, "D", 4L, 10L, 1)).toDF("k", "st", "v", "vt", "del")
    def state(ka: Long, va: Long) =
      DiffEngine.asOfBitemporal(log, Seq("k"), "v", "vt", "del", ka, va)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state(1L, 15L) == Map(1L -> "A", 2L -> "A")) // before the correction
    assert(state(2L, 15L) == Map(1L -> "B", 2L -> "A")) // correction visible
    assert(state(3L, 25L) == Map(1L -> "C", 2L -> "A")) // new period at vt 20
    assert(state(4L, 15L) == Map(1L -> "B"))            // key 2 retro-deleted
    assert(state(4L, 5L) == Map.empty)                  // before any validity
  }

  test("kmv profile: below-k exact, nulls excluded, layout-invariant, estimate in 4-sigma") {
    import spark.implicits._
    // 40 distinct values + nulls + duplicates, k=64 > distinct: the sketch
    // IS the distinct hash set, so the count is EXACT and nulls never count
    val small = ((0L until 40L) ++ (0L until 40L)).map(Option(_))
      .++(Seq(None, None)).toDF("v")
    val smallRow = DiffEngine.profileKmvDf(small, Seq("v"), k = 64).head()
    assert(smallRow.getLong(0) == 2L, "nulls")
    assert(smallRow.getLong(1) == 40L, "below-k must be exact")
    // 10k distinct at k=256: estimate within 4 sigma (rse ~ 1/sqrt(k-2))
    val big = (0L until 10000L).toDF("v")
    val est = DiffEngine.profileKmvDf(big, Seq("v"), k = 256).head().getLong(1)
    val tol = (4.0 * 10000.0 / math.sqrt(254.0)).toLong // ~2511
    assert(math.abs(est - 10000L) <= tol, s"estimate $est out of 4-sigma band")
    // the sketch is a pure function of the input SET: physical layout,
    // row order, and duplication cannot move the estimate by one unit
    val shuffled = big.union(big).repartition(13)
    assert(DiffEngine.profileKmvDf(shuffled, Seq("v"), k = 256).head().getLong(1) == est)
  }

  test("kmv aggregator: merge is sorted-dedup-truncate at every boundary") {
    val agg = new graft.functions.KmvAggregator(4)
    val a = Array(1L, 5L, 9L)
    val b = Array(1L, 3L, 9L, 11L)
    assert(agg.merge(a, b).toSeq == Seq(1L, 3L, 5L, 9L))
    assert(agg.merge(Array.emptyLongArray, b).toSeq == b.toSeq)
    assert(agg.merge(a, Array.emptyLongArray).toSeq == a.toSeq)
    // reduce: null sentinel skipped, duplicate skipped, max displaced
    var buf = Array.emptyLongArray
    Seq(7L, -1L, 3L, 7L, 9L, 5L, 2L).foreach(x => buf = agg.reduce(buf, x))
    assert(buf.toSeq == Seq(2L, 3L, 5L, 7L))
  }
}

package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.storage.StorageLevel

import graft.model._

/** Core data-regression comparison operators, re-expressed Spark-first.
  *
  * The reference (rahrajlat/dbt-model-diff) compiles each comparison to a SQL
  * string executed by Postgres/Redshift (adapters/postgres.py:57-101,
  * core/diff_flow.py:124-257). Here the same operators are declarative
  * DataFrame programs: Catalyst plans them (predicate pushdown, column
  * pruning, broadcast-vs-sortmerge join selection, whole-stage codegen) and
  * Tungsten executes them — no SQL string assembly, no driver-side row loops.
  *
  * Scale posture (100 TB):
  *   - added/removed are `left_anti` joins on the key columns — one shuffle
  *     each on the keys, map-side short-circuit under AQE; no `LEFT JOIN …
  *     WHERE k IS NULL` materialization of the full outer side.
  *   - changed-count and changed-key-sample share ONE inner join (the
  *     reference computes the identical hash CTEs twice —
  *     core/diff_flow.py:207-249); we persist the joined/filtered frame and
  *     reuse it, so non-key columns are scanned exactly once per side.
  *   - the row hash is a single codegen'd expression tree
  *     (md5 ∘ concat_ws ∘ coalesce ∘ cast) — stays inside whole-stage
  *     codegen, no UDFs.
  *   - `exact` column profiles of BOTH sides run as ONE aggregate with no
  *     Expand ([[profileSidesDf]]): every value melts to a (side, column,
  *     typed value) row and a single `count(distinct)` per group counts it,
  *     so the shuffle carries Σ per-column distinct values instead of an
  *     N-column Expand's N× input rows. `approx` mode keeps one HLL++
  *     `approx_count_distinct` pass per side (constant-size sketches).
  *   - column names are taken literally ([[ident]]): a warehouse identifier
  *     with dots, spaces or backticks is one column, never struct access.
  */
object DiffEngine {

  /** Sentinel for NULL in the row hash — byte-for-byte the reference's scheme
    * (adapters/postgres.py:99 `coalesce(col::text,'<NULL>')`). */
  val NullSentinel = "<NULL>"

  /** Separator between column values inside the row hash
    * (adapters/postgres.py:100-101 `|| '|' ||`). */
  val HashSep = "|"

  /** A reference to the column named `name`, taken literally: backtick-
    * quoted (inner backticks doubled) so `first.name` or `order id` resolve
    * as one column instead of being parsed as struct access. The diff path
    * builds every column reference it takes from a schema name through here. */
  def ident(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** Every key must name a column of `df`, matched under the session's
    * `spark.sql.caseSensitive`. Checked on the schema alone (no Spark job),
    * so a typo fails with the side and the nearest column names instead of
    * an analysis error from deep inside the diff. */
  def requireKeys(df: DataFrame, side: String, keys: Seq[String]): Unit = {
    val resolver = df.sparkSession.sessionState.conf.resolver
    keys.find(k => !df.columns.exists(resolver(_, k))).foreach { k =>
      val dist = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
      val nearest = df.columns.sortBy(c => dist(k.toLowerCase, c.toLowerCase).intValue).take(3)
      throw new IllegalArgumentException(
        s"key column '$k' is not in the $side side; nearest columns: ${nearest.mkString(", ")}")
    }
  }

  /** md5(concat_ws("|", coalesce(cast(c as string), "<NULL>")…)) over `cols`
    * in the given order (head-table column order per diff_flow.py:181).
    * `concat_ws` skips NULLs, so the coalesce must come first — matching the
    * reference, which coalesces before concatenation. Fully codegen'd. */
  def rowHash(cols: Seq[String]): Column = {
    require(cols.nonEmpty, "row hash needs at least one column")
    md5(concat_ws(HashSep, cols.map(c => coalesce(ident(c).cast(StringType), lit(NullSentinel))): _*))
  }

  /** Order-preserving, name-only column-set diff (diff_flow.py:139-150).
    * Pure metadata — never touches data. `common` keeps HEAD order. */
  def schemaDiff(base: DataFrame, head: DataFrame): SchemaDiff = {
    val baseCols = base.schema.fieldNames.toSeq
    val headCols = head.schema.fieldNames.toSeq
    val baseSet = baseCols.toSet
    val headSet = headCols.toSet
    val common = headCols.filter(baseSet)
    val baseTypes = base.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val headTypes = head.schema.map(f => f.name -> f.dataType.simpleString).toMap
    SchemaDiff(
      common = common,
      onlyInHead = headCols.filterNot(baseSet),
      onlyInBase = baseCols.filterNot(headSet),
      typeChanges = common.collect {
        case c if baseTypes(c) != headTypes(c) => (c, baseTypes(c), headTypes(c))
      }
    )
  }

  /** Single-pass multi-column profile: for every column in `cols`, its null
    * count and distinct count, in ONE aggregate over one table scan —
    * the reference's deliberate scan-sharing (adapters/postgres.py:71-92).
    * `approx=true` swaps exact `count(distinct)` for HLL++
    * (`approx_count_distinct`) — the 100 TB mode: constant memory, no Expand. */
  def profileExprs(cols: Seq[String], approx: Boolean = false): Seq[Column] =
    cols.flatMap { c =>
      Seq(
        coalesce(sum(when(ident(c).isNull, 1L).otherwise(0L)), lit(0L)).cast("long").as(s"${c}__nulls"),
        (if (approx) approx_count_distinct(ident(c)) else countDistinct(ident(c))).cast("long").as(s"${c}__distinct")
      )
    }

  /** Single-row DataFrame form of the profile pass (for Verify/oracle). */
  def profileDf(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame = {
    val aggs = profileExprs(cols, approx)
    df.agg(aggs.head, aggs.tail: _*)
  }

  def columnProfile(df: DataFrame, cols: Seq[String], approx: Boolean = false): Map[String, (Long, Long)] = {
    if (cols.isEmpty) return Map.empty
    val row = profileDf(df, cols, approx).head()
    cols.zipWithIndex.map { case (c, i) =>
      c -> (row.getLong(2 * i), row.getLong(2 * i + 1))
    }.toMap
  }

  /** REPLAYABLE approximate profile — [[profileDf]]'s approx mode with the
    * opaque HLL++ swapped for the [[graft.functions.KmvAggregator]] KMV
    * sketch over a pinned md5 fold. Same single-pass, bounded-memory,
    * map-side-partial contract as `approx_count_distinct` (O(k) per
    * column instead of O(2^p) registers), but the estimate is a pure
    * function of the input SET through a plain SQL hash — so another
    * engine replays it VALUE-exactly (`ORDER BY hash LIMIT k` over the
    * distinct folds), where HLL++ register states are certifiable only
    * within sketch error (q324). Output schema matches [[profileDf]]:
    * `<col>__nulls`, `<col>__distinct` per column, one row.
    *
    * Estimate: distinct < k ⇒ exact (the sketch IS the distinct hash
    * set); else (k−1)·2^48 div m_k — integer algebra both engines share.
    * Hash: first 12 md5 hex chars of the CAST-to-STRING value (48 bits:
    * every intermediate fits BIGINT in Spark AND DuckDB; the cast is the
    * same canonical text boundary the row hash uses). */
  def profileKmvDf(df: DataFrame, cols: Seq[String], k: Int = 256): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val kmv = udaf(new graft.functions.KmvAggregator(k))
    val aggs = cols.flatMap { c =>
      val h = expr(
        s"coalesce(CAST(conv(substring(md5(CAST(`$c` AS STRING)), 1, 12), 16, 10) AS BIGINT), -1L)")
      Seq(
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L))
          .cast("long").as(s"${c}__nulls"),
        kmv(h).as(s"${c}__kmv"))
    }
    val big = (k - 1).toLong * (1L << 48) // (k−1)·2^48, the KMV numerator
    df.agg(aggs.head, aggs.tail: _*)
      .select(cols.flatMap { c =>
        Seq(
          col(s"${c}__nulls"),
          expr(s"""CAST(CASE WHEN size(`${c}__kmv`) < $k THEN size(`${c}__kmv`)
                  |ELSE $big div greatest(element_at(`${c}__kmv`, $k), 1) END AS BIGINT)"""
            .stripMargin).as(s"${c}__distinct"))
      }: _*)
  }

  /** null% / uniq% derivation (core/util.py:35-37). */
  def pct(n: Long, d: Long): Double = if (d == 0L) 0.0 else n.toDouble / d.toDouble * 100.0

  /** Mergeable distinct-count sketches — the INCREMENTAL profile path.
    * `approx_count_distinct` answers one query; a DataSketches HLL sketch
    * is a VALUE: profile each new partition/day once, store the sketch
    * (bytes), and answer any later cross-snapshot distinct question by
    * merging sketches instead of rescanning history — at 100 TB the
    * difference between touching one day and touching everything. Merge is
    * a register-wise max, so union of part-sketches ≡ sketch of the whole
    * input (same lgK): estimates are deterministic, not path-dependent. */
  def profileSketchDf(df: DataFrame, cols: Seq[String], lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty, "need at least one column to sketch")
    val aggs = cols.map(c => hll_sketch_agg(col(c).cast(StringType), lit(lgK)).as(s"${c}__sketch"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Merge per-part sketch rows (same columns) and estimate distincts. */
  def mergeSketchEstimates(parts: Seq[DataFrame], cols: Seq[String]): Map[String, Long] = {
    require(parts.nonEmpty && cols.nonEmpty, "need sketch parts and columns")
    val unioned = parts.reduce(_ unionByName _)
    val aggs = cols.map(c => hll_sketch_estimate(hll_union_agg(col(s"${c}__sketch"))).as(c))
    val row = unioned.agg(aggs.head, aggs.tail: _*).head()
    cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
  }

  /** Exact profiles of several frames (the diff's base and head) in ONE
    * aggregate WITHOUT the Expand blow-up: every side melts its N columns to
    * (side, column position, value) rows via posexplode, the melts union,
    * and ONE `count(distinct value)` per (side, position) group counts
    * them — Catalyst plans that as a two-phase (partial-distinct → count)
    * aggregate, so the shuffle carries at most Σ per-column distinct values
    * instead of Expand's N× input rows, and both sides share its jobs.
    *
    * Values are not cast to string. Each distinct data type among the
    * profiled columns, over all sides, gets its own slot of one struct;
    * a value sets only its type's slot, and the struct is NULL when the
    * value is. Distinct structs are therefore exactly distinct values of
    * one column's type — the same `count(DISTINCT c)` semantics for every
    * type, float normalisation of -0.0/NaN in grouping keys included, and
    * a column whose type drifted between sides counts each side in its own
    * type.
    *
    * One row per (side, position) of a non-empty side: `__side` and
    * `__pos` (indices into `sides` and `cols`), `__n` (the side's row
    * count), `__nulls`, `__distinct`. */
  def profileSidesDf(sides: Seq[DataFrame], cols: Seq[String]): DataFrame = {
    require(sides.nonEmpty && cols.nonEmpty, "need at least one side and one column to profile")
    val types = sides.flatMap(df => cols.map(df.schema(_).dataType)).distinct
    def typed(df: DataFrame, c: String): Column = {
      val slot = types.indexOf(df.schema(c).dataType)
      when(ident(c).isNotNull, struct(types.indices.map { i =>
        (if (i == slot) ident(c) else lit(null).cast(types(i))).as(s"t$i")
      }: _*))
    }
    sides.zipWithIndex.map { case (df, s) =>
      df.select(lit(s).as("__side"),
        posexplode(array(cols.map(typed(df, _)): _*)).as(Seq("__pos", "__v")))
    }.reduce(_ union _)
      .groupBy(col("__side"), col("__pos"))
      .agg(
        count(lit(1)).as("__n"),
        (count(lit(1)) - count(col("__v"))).as("__nulls"),
        countDistinct(col("__v")).as("__distinct"))
  }

  /** [[profileSidesDf]] collected: per side, in order, its row count and
    * each column's (null count, distinct count). An empty side reads as
    * zero rows with all-zero profiles. */
  def profileSides(sides: Seq[DataFrame], cols: Seq[String]): Seq[(Long, Map[String, (Long, Long)])] = {
    val got = profileSidesDf(sides, cols).collect().map { r =>
      (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))
    }.toMap
    sides.indices.map { s =>
      val n = got.get((s, 0)).fold(0L)(_._1)
      n -> cols.zipWithIndex.map { case (c, i) =>
        c -> got.get((s, i)).fold((0L, 0L))(v => (v._2, v._3))
      }.toMap
    }
  }

  /** The single-side form of [[profileSidesDf]], pivoted to [[profileDf]]'s
    * single-row shape (`<col>__nulls`, `<col>__distinct` per column) by a
    * second, N-input-row aggregate — one job end to end, no driver collect.
    * Empty input degrades to all-zero counts via the coalesce. The 100 TB
    * exact mode when HLL approximation isn't acceptable. */
  def profileMeltDf(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pivots = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        coalesce(max(when(col("__pos") === i, col("__nulls"))), lit(0L)).as(s"${c}__nulls"),
        coalesce(max(when(col("__pos") === i, col("__distinct"))), lit(0L)).as(s"${c}__distinct"))
    }
    profileSidesDf(Seq(df), cols).agg(pivots.head, pivots.tail: _*)
  }

  /** Head rows with no base key match — true anti join (reference idiom is
    * `LEFT JOIN … WHERE base.k IS NULL`, diff_flow.py:189-197; left_anti is
    * the null-safe, single-shuffle Spark form). */
  def added(base: DataFrame, head: DataFrame, keys: Seq[String]): DataFrame =
    head.join(base.select(keys.map(ident): _*), keys, "left_anti")

  /** Base rows with no head key match (diff_flow.py:198-205). */
  def removed(base: DataFrame, head: DataFrame, keys: Seq[String]): DataFrame =
    base.join(head.select(keys.map(ident): _*), keys, "left_anti")

  /** Key-matched rows whose non-key hash differs (diff_flow.py:207-225).
    * Both sides are projected to keys + hash BEFORE the join (column pruning
    * the reference gets from its hash CTEs), so the shuffle carries only
    * keys + 32-byte hash regardless of table width. */
  def changed(base: DataFrame, head: DataFrame, keys: Seq[String], nonKeyCols: Seq[String]): DataFrame = {
    val b = base.select(keys.map(ident) :+ rowHash(nonKeyCols).as("__base_hash"): _*)
    val h = head.select(keys.map(ident) :+ rowHash(nonKeyCols).as("__head_hash"): _*)
    h.join(b, keys, "inner").filter(col("__base_hash") =!= col("__head_hash"))
  }

  /** Per-column change attribution: among key-matched rows, how many rows
    * differ in EACH column — answers "what actually changed?" after the
    * row-level counts say "something did" (beyond the reference, which
    * stops at whole-row hashes). One inner join on the keys carrying the
    * compared columns, one aggregate; comparisons are null-safe (`<=>`
    * negated), so null→value and value→null both count. Returns one row
    * per compared column: (column, n_changed), head column order. */
  def changedByColumn(base: DataFrame, head: DataFrame, keys: Seq[String], cols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && cols.nonEmpty, "changedByColumn needs keys and columns")
    val b = base.select(keys.map(ident) ++ cols.map(c => ident(c).as(s"__b_$c")): _*)
    val h = head.select(keys.map(ident) ++ cols.map(c => ident(c).as(s"__h_$c")): _*)
    val aggs = cols.map { c =>
      sum(when(!(ident(s"__b_$c") <=> ident(s"__h_$c")), 1L).otherwise(0L)).as(c)
    }
    val row = h.join(b, keys, "inner").agg(aggs.head, aggs.tail: _*)
    // melt the single stat row to (column, n_changed) in head column order
    val spark = base.sparkSession
    val stats = row.head()
    import spark.implicits._
    cols.zipWithIndex.map { case (c, i) =>
      (c, if (stats.isNullAt(i)) 0L else stats.getLong(i))
    }.toDF("column", "n_changed")
  }

  /** Partition-level content fingerprints: per partition value, the row
    * count and an ORDER-INDEPENDENT 60-bit XOR of per-row hashes
    * (`bit_xor` over the md5 fold — engine-portable, no sort). The
    * incremental-diff primitive at 100 TB: fingerprint both sides with one
    * aggregate scan each, compare the tiny fingerprint tables, and run the
    * expensive row diff ONLY over partitions whose fingerprint moved —
    * unchanged history never joins. XOR collisions require two differing
    * row sets with identical counts AND identical 60-bit XOR (~2⁻⁶⁰ per
    * partition). */
  def partitionFingerprints(df: DataFrame, partCol: String, rowHashCols: Seq[String]): DataFrame =
    df.groupBy(col(partCol).as("part"))
      .agg(
        count(lit(1)).as("n"),
        expr(s"bit_xor(cast(conv(substring(" +
          s"md5(concat_ws('$HashSep', ${rowHashCols.map(c => s"coalesce(cast($c as string), '$NullSentinel')").mkString(", ")}))" +
          s", 1, 15), 16, 10) as bigint))").as("content_xor"))

  /** Partition values whose content differs between the sides (count or
    * XOR moved, or the partition exists on one side only) — the scope list
    * for an incremental [[diff]] (`where part IN (...)`). */
  def changedPartitions(base: DataFrame, head: DataFrame, partCol: String, rowHashCols: Seq[String]): DataFrame = {
    val b = partitionFingerprints(base, partCol, rowHashCols)
      .withColumnRenamed("n", "b_n").withColumnRenamed("content_xor", "b_x")
    val h = partitionFingerprints(head, partCol, rowHashCols)
      .withColumnRenamed("n", "h_n").withColumnRenamed("content_xor", "h_x")
    b.join(h, Seq("part"), "full_outer")
      .filter(!(col("b_n") <=> col("h_n")) || !(col("b_x") <=> col("h_x")))
      .select(col("part"))
  }

  /** Categorical drift between the two sides of a diff: per-value counts
    * plus each value's contribution to total-variation distance in the
    * EXACT cross-multiplied form `|n_i·Nh − m_i·Nb|` (summing to
    * TV × 2·Nb·Nh) — integer arithmetic end to end, so drift is
    * hash-comparable across engines where a float PSI/KL would diverge in
    * the last bits. One count-aggregate per side + a full-outer join on the
    * value (absent values count 0). Intended for low-cardinality
    * dimension/status columns; for high-cardinality columns profile
    * distincts instead. */
  /** Shared count/join/materialize stage of the categorical drift lenses:
    * per-value counts of both sides, full-outer joined NULL-SAFELY (`<=>` —
    * a NULL category is one category, not an unmatched row per side; plain
    * equality split it in two, inflating K and breaking the "identical
    * sides score zero" invariant), absent values coalesced to 0.
    *
    * MATERIALIZES the per-value table (tiny — one row per distinct value)
    * before the totals action: without it, the totals head() and the
    * returned frame each re-execute both side pipelines and the join —
    * measured 4.1 s → 1.0 s on the q71 gate at sf0.1, and at 100 TB the
    * sides are full table scans that must not run twice.
    * Returns (joined, Nb, Nh, K). */
  private def driftCounts(base: DataFrame, head: DataFrame, c: String)
      : (DataFrame, Long, Long, Long) = {
    val b = base.groupBy(col(c).as("value")).agg(count(lit(1)).as("base_n"))
    val h = head.groupBy(col(c).as("h_value")).agg(count(lit(1)).as("head_n"))
    val joined = b.join(h, col("value") <=> col("h_value"), "full_outer")
      .select(coalesce(col("value"), col("h_value")).as("value"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("head_n"), lit(0L)).as("head_n"))
      .localCheckpoint()
    val totals = joined.agg(sum("base_n"), sum("head_n"), count(lit(1))).head()
    // sum over zero rows is null — empty sides mean zero totals, not an NPE
    def total(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)
    (joined, total(0), total(1), total(2))
  }

  def categoricalDrift(base: DataFrame, head: DataFrame, c: String): DataFrame = {
    val (joined, nb, nh, _) = driftCounts(base, head, c)
    joined.withColumn("tv_contrib",
      abs(col("base_n") * lit(nh) - col("head_n") * lit(nb)))
  }

  /** Population Stability Index between the two sides, in integer
    * half-bits — the drift score [[categoricalDrift]]'s scaladoc said
    * could not be gated ("float PSI/KL would diverge in the last bits")
    * until r13's integer half-bit log made real logs engine-exact.
    *
    * Proportions are +1-smoothed (PSI is undefined on empty bins; Laplace
    * over the K union categories is the standard fix) and fixed-pointed
    * to parts-per-billion via multiply-then-integer-divide, so the score
    * is scale-free. Bounds, both explicit: the arithmetic is guarded to
    * ~9.2e9 rows per side ((n+1)·10⁹ must fit a long — beyond it the
    * wrap would be silent garbage, so the operator REFUSES; feed
    * pre-scaled counts instead), and ppb RESOLUTION floors a
    * rarer-than-1-in-1e9 category's proportion to 0 (hb(0) ≡ hb(1·e−9) as
    * far as the score can see) — past ~1e9 rows per side the stated
    * float-PSI correspondence degrades for ultra-rare categories before
    * the guard trips. Each category's term is
    *   (p_ppb − q_ppb) · (hb(p_ppb) − hb(q_ppb))   with hb = floor(2·log2)
    * — both factors share sign, so every term ≥ 0 like true PSI, and the
    * total ≈ 2·10⁹/ln2 × PSI(nats) (measured within 4% on the gate
    * fixture). Resolution: a term is 0 when both proportions share a
    * half-bit bucket (ratio < √2) — far finer than the standard 0.1/0.25
    * PSI action thresholds. p_ppb ≤ 10⁹ < 2³¹ keeps hb in the simple
    * regime: length(bin(p²))−1, exact, replayable in any SQL engine.
    * Same execution shape as [[categoricalDrift]]: one count-aggregate
    * per side (map-side partials), a tiny full-outer join on the value,
    * materialized once before the totals action. */
  def psiDrift(base: DataFrame, head: DataFrame, c: String): DataFrame = {
    val (joined, nb, nh, k) = driftCounts(base, head, c)
    // (n+1)*1e9 must fit a long on every per-category numerator, whose
    // max is bounded by the side total — refuse rather than wrap silently
    // (Spark's non-ANSI mode would hand bin() a negative product and
    // fabricate hb=63 where the DuckDB replay errors)
    require(nb + k <= 9223372035L && nh + k <= 9223372035L,
      s"psiDrift ppb fixed-point overflows beyond ~9.2e9 rows per side " +
        s"(Nb=$nb, Nh=$nh, K=$k) — pre-scale the counts")
    val hb = (x: String) => s"CAST(length(bin($x * $x)) - 1 AS BIGINT)"
    joined
      .withColumn("p_ppb", expr(s"((base_n + 1) * 1000000000) div (${nb + k})"))
      .withColumn("q_ppb", expr(s"((head_n + 1) * 1000000000) div (${nh + k})"))
      .withColumn("psi_term_hb",
        expr(s"(p_ppb - q_ppb) * (${hb("p_ppb")} - ${hb("q_ppb")})"))
  }

  /** Numeric drift between the two sides of a diff — the continuous sibling
    * of [[categoricalDrift]]: values of an integer-valued column (scale
    * DECIMALs to integer units first, e.g. price→cents) bucket into
    * `nBuckets` equal-width bins over the COMBINED min..max range, and each
    * bin contributes `|n_i·Nh − m_i·Nb|` to total variation — integer
    * arithmetic end to end, so a histogram-shape shift is hash-comparable
    * across engines where float PSI/KL would diverge in the last bits.
    *
    * Bin index is `(x − lo) * nBuckets div (hi − lo + 1)` — multiply-then-
    * integer-divide, no float rounding anywhere. The range scan is one tiny
    * min/max aggregate per side (collected: 2 rows); counts are one
    * aggregate per side + a full-outer join on the bin. Nulls are excluded
    * (profile nulls count them). Empty inputs return an empty frame. */
  def numericDrift(base: DataFrame, head: DataFrame, c: String, nBuckets: Int = 20): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    val x = col(c).cast("long")
    def range(df: DataFrame) = df.agg(min(x), max(x)).head()
    val (rb, rh) = (range(base), range(head))
    def opt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val los = opt(rb, 0).toSeq ++ opt(rh, 0).toSeq
    val his = opt(rb, 1).toSeq ++ opt(rh, 1).toSeq
    if (los.isEmpty) // both sides empty (or all-null): no histogram to drift
      return base.sparkSession.emptyDataFrame
        .select(lit(0L).as("bin"), lit(0L).as("base_n"), lit(0L).as("head_n"),
          lit(0L).as("tv_contrib")).limit(0)
    val (lo, hi) = (los.min, his.max)
    // exact-arithmetic guard: hi - lo + 1 itself can wrap for sentinel-laden
    // columns (Long.MinValue..Long.MaxValue), which would slip past a plain
    // bound check and fail later inside the job (ANSI) or silently mis-bin
    val width =
      try Math.addExact(Math.subtractExact(hi, lo), 1L)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"value range [$lo, $hi] overflows long; rescale the column before numericDrift")
      }
    require(width <= Long.MaxValue / nBuckets,
      s"value range $width x $nBuckets buckets overflows long; rescale the column")
    // SQL `div`, not `/`: Column./ on longs is DOUBLE division, which loses
    // exactness past 2^53 — div keeps the whole computation in integers
    val bin = expr(s"(cast(`$c` as bigint) - ${lo}L) * $nBuckets div ${width}L")
    def counts(df: DataFrame, out: String) =
      df.filter(x.isNotNull).groupBy(bin.as("bin")).agg(count(lit(1)).as(out))
    val joined = counts(base, "base_n").join(counts(head, "head_n"), Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("head_n"), lit(0L)).as("head_n"))
    val totals = joined.agg(sum("base_n"), sum("head_n")).head()
    def total(i: Int): Long = if (totals.isNullAt(i)) 0L else totals.getLong(i)
    val (nb, nh) = (total(0), total(1))
    joined.withColumn("tv_contrib",
      abs(col("base_n") * lit(nh) - col("head_n") * lit(nb)))
  }

  /** MERGE (SCD-1 upsert) — the inverse of the diff identity: apply a
    * keyed changeset to a snapshot. Change rows WIN on key collision;
    * rows whose `deleteCol` (0/1) is 1 drop their key; base rows with no
    * change survive untouched. Changes are assumed keyed (one row per
    * key — the shape a diff's added/changed output already has).
    *
    * Plan: ONE left-anti join on the keys plus a union — the minimal
    * merge. Against [[SnapshotStore.snapshotBucketed]] tables the anti
    * join is exchange-free (both scans pre-hashed on the keys), so
    * applying a day's changes to a 100 TB snapshot shuffles only the
    * changeset. */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keys: Seq[String],
      deleteCol: Option[String] = None): DataFrame = {
    val survivors = base.join(changes.select(keys.map(col): _*), keys, "left_anti")
    val upserts = deleteCol.fold(changes)(f => changes.filter(col(f) === 0).drop(f))
    survivors.unionByName(upserts)
  }

  /** Incremental aggregate maintenance — the consumer of [[mergeUpsert]]'s
    * changesets: roll a keyed changeset into per-group (count, sum)
    * aggregates WITHOUT rescanning the base table. The base contributes
    * only the rows whose keys the changeset touches (one semi-join —
    * exchange-free against [[SnapshotStore.snapshotBucketed]] tables);
    * their old contributions come off with negated counts/sums, the
    * surviving upserts' new contributions go on, and the (small,
    * group-sized) delta folds into `baseAgg` with a full-outer join.
    * Groups whose count reaches 0 disappear — the same contract a full
    * recompute over the merged table would produce, which is exactly the
    * identity the q153 gate asserts.
    *
    * At 100 TB this is THE reason to keep aggregates as state: a day's
    * changeset shuffles its own size, not the corpus. `baseAgg` must be
    * the frame a previous call (or the bootstrap
    * `base.groupBy(groupCols).agg(count, sum)`) returned, with columns
    * (groupCols..., n_rows, sum_value). */
  def incrementalAgg(base: DataFrame, baseAgg: DataFrame, changes: DataFrame,
      keys: Seq[String], groupCols: Seq[String], valueCol: String,
      deleteCol: Option[String] = None): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val touched = base.join(changes.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg((-count(lit(1))).as("__dn"), (-sum(v)).as("__ds"))
    val upserts = deleteCol.fold(changes)(f => changes.filter(col(f) === 0).drop(f))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__dn"), sum(v).as("__ds"))
    val delta = touched.unionByName(upserts)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("__dn")).as("__dn"), sum(col("__ds")).as("__ds"))
    baseAgg.join(delta, groupCols, "full_outer")
      .select(groupCols.map(col) ++ Seq(
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n_rows"),
        (coalesce(col("sum_value"), lit(0).cast("decimal(18,2)"))
          + coalesce(col("__ds"), lit(0).cast("decimal(18,2)")))
          .cast("decimal(18,2)").as("sum_value")): _*)
      .filter(col("n_rows") > 0)
  }

  /** CDC log compaction — latest-state reconstruction: reduce an
    * append-only change log (every row a keyed version with an optional
    * tombstone flag) to the CURRENT table: the highest-version row per
    * key wins, and a key whose winning row is a tombstone has no current
    * row. [[mergeUpsert]] applies one changeset to a snapshot; this
    * replays an entire log — the two halves of snapshot maintenance.
    *
    * Plan: one window rank per key (hash shuffle + in-partition sort,
    * no joins at all); ties on the version break by the rest of the
    * sort being absent — callers must make `versionCol` unique per key
    * (a CDC sequence number is). Helper columns drop from the output. */
  def cdcLatest(log: DataFrame, keys: Seq[String], versionCol: String,
      deleteCol: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(versionCol).desc)
    val ranked = log.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    val live = deleteCol.fold(ranked)(f => ranked.filter(col(f) === 0))
    live.drop("__rn").drop(versionCol +: deleteCol.toSeq: _*)
  }

  /** SCD-2 history reconstruction — [[cdcLatest]]'s other half: instead of
    * keeping only each key's winning version, turn the WHOLE log into
    * validity intervals. Every non-tombstone log row becomes one history
    * row valid over the half-open version range `[v, next_v)` where
    * `next_v` is the key's next logged version (tombstones close the
    * preceding interval but add no row of their own — a deleted key has
    * history, no current row). The last interval of an undeleted key is
    * open-ended: `valid_to` carries the -1 sentinel and `is_current` = 1
    * (a sentinel, not NULL — gated outputs never emit NULL integers).
    *
    * Plan: identical to [[cdcLatest]] — ONE window per key (hash shuffle +
    * in-partition sort, zero joins); `lead` over the version order computes
    * every interval bound in the same pass. `versionCol` must be unique
    * per key (a CDC sequence number is). */
  def scd2FromLog(log: DataFrame, keys: Seq[String], versionCol: String,
      deleteCol: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(versionCol))
    val bounded = log
      .withColumn("__next_v", lead(col(versionCol), 1).over(w))
    val rows = deleteCol.fold(bounded)(f => bounded.filter(col(f) === 0))
    rows
      .withColumn("valid_from", col(versionCol).cast("long"))
      .withColumn("valid_to", coalesce(col("__next_v").cast("long"), lit(-1L)))
      .withColumn("is_current", when(col("__next_v").isNull, 1L).otherwise(0L))
      .drop("__next_v").drop(versionCol +: deleteCol.toSeq: _*)
  }

  /** Key-candidate inference — the missing-input helper for every diff:
    * the reference makes the user NAME the key columns; when nobody
    * remembers them, rank each candidate column by uniqueness in ONE
    * aggregate pass (n_rows, per-column exact distinct + non-null counts)
    * and flag the columns that are keys outright. Output one row per
    * candidate: (column_name, n_rows, n_distinct, n_nonnull, unique_flag),
    * most-selective first.
    *
    * Exact distinct per column makes Catalyst plan an Expand (one stream
    * per distinct-aggregate) — the honest cost of certainty, linear in
    * |cols|. At 100 TB run the `approx = true` mode first (HLL sketches,
    * single pass, no Expand) to shortlist, then confirm the finalists
    * exactly; an approx run never sets `unique_flag` (a sketch cannot
    * certify uniqueness — q120's certificate bounds are two-sided ±15%). */
  def inferKeys(df: DataFrame, cols: Seq[String], approx: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "need at least one candidate column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        (if (approx) approx_count_distinct(col(c), 0.05) else countDistinct(col(c)))
          .cast("long").as(s"__d_$c"),
        count(col(c)).as(s"__nn_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val structs = cols.map { c =>
      struct(lit(c).as("column_name"), col("__n").as("n_rows"),
        col(s"__d_$c").as("n_distinct"), col(s"__nn_$c").as("n_nonnull"),
        (if (approx) lit(0L)
         else when(col(s"__d_$c") === col("__n") && col(s"__nn_$c") === col("__n"), 1L)
           .otherwise(0L)).as("unique_flag")) // a nullable column is never a key
    }
    row.select(explode(array(structs: _*)).as("k")).select(col("k.*"))
      .orderBy(col("n_distinct").desc, col("column_name"))
  }

  /** Null-key diagnostic (SURVEY §7.3 risk 2): the reference's anti-join
    * idiom — and any key join — assumes non-null keys; a row with a null in
    * any key column can never match and silently inflates added+removed.
    * Returns per-side counts of such rows so callers can warn or fail fast. */
  def nullKeyCounts(base: DataFrame, head: DataFrame, keys: Seq[String]): (Long, Long) = {
    require(keys.nonEmpty, "null-key check needs key columns")
    val anyNull = keys.map(ident(_).isNull).reduce(_ || _)
    (base.filter(anyNull).count(), head.filter(anyNull).count())
  }

  /** The whole row-diff in ONE join: full-outer on the keys over (keys, hash)
    * projections of both sides. Unmatched-head rows are `added`, unmatched-
    * base rows `removed`, matched-with-different-hash `changed` — the
    * reference runs three separate join queries for these
    * (diff_flow.py:189-249); at scale that is 3 shuffles of the same data vs
    * 1 here. The returned frame (persist before multiple actions) carries
    * `__base_hash`/`__head_hash`; null-ness encodes match status (row hashes
    * are md5 hex — never null for present rows). */
  def rowDiffFrame(base: DataFrame, head: DataFrame, keys: Seq[String], nonKeyCols: Seq[String]): DataFrame = {
    // With no non-key columns a matched row can never differ: constant hash.
    val hashCol = if (nonKeyCols.isEmpty) md5(lit("")) else rowHash(nonKeyCols)
    val b = base.select(keys.map(ident) :+ hashCol.as("__base_hash"): _*)
    val h = head.select(keys.map(ident) :+ hashCol.as("__head_hash"): _*)
    h.join(b, keys, "full_outer")
  }

  /** Hot-key (skew) form of [[rowDiffFrame]] — the `--salt-skew` path
    * (SURVEY §7.3 risk 7): a key value holding a large share of rows makes
    * the plain full-outer row join concentrate one shuffle partition, and
    * when the hot key is DUPLICATED on both sides the join output
    * multiplies (n_base×n_head rows for that key) — no AQE split fixes a
    * semantic blow-up. This variant never joins rows at all: each side is
    * collapsed per key into (row count, order-independent content digest)
    * by a TWO-PHASE salted aggregate — partial on (key, salt) where the
    * salt derives from the row hash, final on the key — so a hot key's
    * partials spread over `buckets` reduce tasks, then the full-outer join
    * runs on single-row-per-key digests: structurally skew-free.
    *
    * Output schema matches [[rowDiffFrame]] (`__base_hash`/`__head_hash`,
    * null ⇔ side absent) plus exact per-side row counts `__base_n`/
    * `__head_n`, so added/removed/base/head counts stay ROW-exact even
    * with duplicate keys; `changed` becomes key-level (a key counts once
    * when its multiset of row contents differs) — identical to the default
    * path under the unique-key contract. Digest = md5(count ":" Σ 32-bit
    * md5 prefixes): commutative, collision odds ~2⁻³² per key, exact for
    * up to 2³¹ rows per key before the Long sum could wrap. */
  def saltedDigestFrame(base: DataFrame, head: DataFrame, keys: Seq[String],
      nonKeyCols: Seq[String], buckets: Int): DataFrame = {
    require(buckets > 0, "salt buckets must be positive")
    val hashCol = if (nonKeyCols.isEmpty) md5(lit("")) else rowHash(nonKeyCols)
    def side(df: DataFrame, n: String, h: String): DataFrame =
      df.select(keys.map(ident) :+ hashCol.as("__h"): _*)
        .withColumn("__salt", pmod(xxhash64(col("__h")), lit(buckets.toLong)))
        .withColumn("__h32",
          expr("CAST(conv(substring(__h, 1, 8), 16, 10) AS BIGINT)"))
        .groupBy(keys.map(ident) :+ col("__salt"): _*)
        .agg(count(lit(1)).as("__pn"), sum(col("__h32")).as("__ps"))
        .groupBy(keys.map(ident): _*)
        .agg(sum(col("__pn")).cast("long").as(n),
          md5(concat_ws(":", sum(col("__pn")), sum(col("__ps")))).as(h))
    side(head, "__head_n", "__head_hash")
      .join(side(base, "__base_n", "__base_hash"), keys, "full_outer")
  }

  /** Full diff — the reference's `run_diff` comparison stages
    * (diff_flow.py:124-257) as one orchestrated Spark program.
    *
    * @param where  SQL predicate applied identically to both sides before all
    *               counting/diffing (cli.py:54-55, diff_flow.py:129-131)
    * @param keys   key columns; empty ⇒ STATS_ONLY mode (diff_flow.py:177-178)
    * @param sample max changed-key tuples to return (diff_flow.py:246)
    * @param approxDistinct HLL++ profile mode for scale
    * @param deterministicSample sort sample by keys (reference LIMIT is
    *               unordered — "any ≤ sample changed keys"; flag per SURVEY §7.3)
    * @param coerceTypes when a common column's type drifted between sides
    *               (int→bigint, decimal widening …), cast BOTH sides to the
    *               wider common type before hashing — otherwise the text
    *               renderings differ ("5" vs "5.0") and every matched row
    *               reports as changed, drowning the real diff. The drift
    *               itself still surfaces in `schemaDiff.typeChanges`. No-op
    *               when types already match (so reference-parity runs are
    *               unaffected); columns with no wider common type hash as-is.
    */
  def diff(
      baseIn: DataFrame,
      headIn: DataFrame,
      keys: Seq[String] = Nil,
      where: Option[String] = None,
      sample: Int = 20, // reference default (cli.py sample=20)
      approxDistinct: Boolean = false,
      computeProfiles: Boolean = true,
      deterministicSample: Boolean = true,
      model: String = "model",
      baseRef: String = "base",
      headRef: String = "head",
      coerceTypes: Boolean = true,
      computeByColumn: Boolean = false,
      // Some(buckets) ⇒ row diff runs on salted per-key digests
      // ([[saltedDigestFrame]]) — the hot-key escape hatch; counts stay
      // row-exact, `changed` becomes key-level (≡ default under unique keys)
      saltSkewBuckets: Option[Int] = None
  ): DiffResult = {
    requireKeys(baseIn, "base", keys)
    requireKeys(headIn, "head", keys)
    val base = where.fold(baseIn)(p => baseIn.filter(expr(p)))
    val head = where.fold(headIn)(p => headIn.filter(expr(p)))
    val mode = if (keys.nonEmpty) "FULL_DIFF" else "STATS_ONLY"
    val meta = DiffMeta(model, baseRef, headRef, mode, where, keys)

    // Schema diff — metadata only.
    val sd = schemaDiff(base, head)

    // Row counts come with the profiles: exact profiles of both sides in
    // ONE aggregate ([[profileSides]]); approx mode (or no common column to
    // profile) scans each side once for its count and HLL++ profiles (the
    // reference's scan-sharing, adapters/postgres.py:71-92, plus the count
    // query it runs separately — diff_flow.py:133-135).
    def countsAndProfiles(): (RowCounts, Seq[ColumnProfile]) = {
      val sides =
        if (!approxDistinct && sd.common.nonEmpty) profileSides(Seq(base, head), sd.common)
        else Seq(base, head).map { df =>
          val aggs = count(lit(1)).as("__n") +: profileExprs(sd.common, approxDistinct)
          val row = df.agg(aggs.head, aggs.tail: _*).head()
          row.getLong(0) -> sd.common.zipWithIndex.map { case (c, i) =>
            c -> (row.getLong(2 * i + 1), row.getLong(2 * i + 2))
          }.toMap
        }
      val Seq((baseCount, baseProf), (headCount, headProf)) = sides
      val rc = RowCounts(baseCount, headCount)
      (rc, sd.common.map { c =>
        val (bn, bd) = baseProf(c)
        val (hn, hd) = headProf(c)
        ColumnProfile(
          c,
          SideProfile(bn, bd, pct(bn, rc.base), pct(bd, rc.base)),
          SideProfile(hn, hd, pct(hn, rc.head), pct(hd, rc.head))
        )
      })
    }

    // STATS_ONLY: stop before any join (diff_flow.py:177-178). Side counts
    // need their own action here (the profile pass, or a count per side).
    if (keys.isEmpty) {
      if (!computeProfiles)
        return DiffResult(meta, RowCounts(base.count(), head.count()), sd, Nil, None)
      val (rc, profs) = countsAndProfiles()
      return DiffResult(meta, rc, sd, profs, None)
    }

    // ONE full-outer join answers added + removed + changed + sample + both
    // side row counts — the reference runs three joins, rebuilds the hash
    // CTEs for the sample, and issues separate COUNT queries
    // (diff_flow.py:133-135, 189-249). Side counts fold into the same pass
    // as count of non-null per-side hash (exact when keys are unique — the
    // PK contract every keyed diff here assumes); with profiles on they come
    // from the profile scan instead, which is needed anyway.
    val nonKey = sd.common.filterNot(keys.contains) // head order (diff_flow.py:181)
    val (baseJ, headJ) =
      if (!coerceTypes || sd.typeChanges.isEmpty) (base, head)
      else {
        val widened = sd.typeChanges.flatMap { case (c, _, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findWiderTypeForTwo(base.schema(c).dataType, head.schema(c).dataType)
            .map(c -> _)
        }.toMap
        def coerce(df: DataFrame) = widened.foldLeft(df) { case (d, (c, t)) =>
          d.withColumn(c, ident(c).cast(t))
        }
        (coerce(base), coerce(head))
      }
    val salted = saltSkewBuckets.isDefined
    val joined = (saltSkewBuckets match {
      case Some(b) => saltedDigestFrame(baseJ, headJ, keys, nonKey, b)
      case None    => rowDiffFrame(baseJ, headJ, keys, nonKey)
    }).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Same stat layout both modes (added, removed, changed, base_rows,
      // head_rows, then a dup-key signal pair read as stat(5) > stat(6)).
      val stats = (if (salted)
        joined.agg(
          // digests are one row per key, so row-level added/removed come
          // from the carried per-side counts, exact even with dup keys
          sum(when(col("__base_hash").isNull, col("__head_n")).otherwise(0L)).as("added"),
          sum(when(col("__head_hash").isNull, col("__base_n")).otherwise(0L)).as("removed"),
          sum(when(col("__base_hash").isNotNull && col("__head_hash").isNotNull &&
            col("__base_hash") =!= col("__head_hash"), 1L).otherwise(0L)).as("changed"),
          sum(coalesce(col("__base_n"), lit(0L))).as("base_rows"),
          sum(coalesce(col("__head_n"), lit(0L))).as("head_rows"),
          count(lit(1)).as("join_rows"),
          (count(lit(1)) - sum(when(greatest(coalesce(col("__base_n"), lit(0L)),
            coalesce(col("__head_n"), lit(0L))) > 1, 1L).otherwise(0L))).as("keys_without_dups"))
      else
        joined.agg(
          sum(when(col("__base_hash").isNull, 1L).otherwise(0L)).as("added"),
          sum(when(col("__head_hash").isNull, 1L).otherwise(0L)).as("removed"),
          sum(when(col("__base_hash").isNotNull && col("__head_hash").isNotNull &&
            col("__base_hash") =!= col("__head_hash"), 1L).otherwise(0L)).as("changed"),
          sum(when(col("__base_hash").isNotNull, 1L).otherwise(0L)).as("base_rows"),
          sum(when(col("__head_hash").isNotNull, 1L).otherwise(0L)).as("head_rows"),
          // duplicate-key detection: under the PK contract the full-outer join
          // emits each key exactly once, so join rows == distinct keys; any
          // dup key on either side multiplies join rows past that. (Unmatched
          // null-key rows also trip this — and those equally break the
          // hash-count shortcut, so the exact-count fallback is right there too.)
          count(lit(1)).as("join_rows"),
          countDistinct(struct(keys.map(ident): _*)).as("distinct_keys")
        )).head()
      def stat(i: Int): Long = if (stats.isNullAt(i)) 0L else stats.getLong(i)
      val keysNotUnique = stat(5) > stat(6)
      val changedRows = joined.filter(
        col("__base_hash").isNotNull && col("__head_hash").isNotNull &&
          col("__base_hash") =!= col("__head_hash"))
        .select(keys.map(ident): _*)
      val ordered = if (deterministicSample) changedRows.orderBy(keys.map(ident): _*) else changedRows
      val sampleKeys = ordered.limit(sample).collect().toSeq.map { r =>
        keys.map(k => k -> String.valueOf(r.getAs[Any](k))).toMap
      }
      val integralKeys = keys.filter(k => baseJ.schema(k).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _                                             => false
      }).toSet
      val rd = RowDiff(stat(0), stat(1), stat(2), sampleKeys, integralKeys, keysNotUnique)
      val byCol =
        // by-column attribution pairs rows 1:1 — exactly what the salted
        // digest path avoids for hot dup keys, so the two are exclusive
        if (computeByColumn && nonKey.nonEmpty && !salted)
          Some(changedByColumn(baseJ, headJ, keys, nonKey).collect().toSeq
            .map(r => (r.getString(0), r.getLong(1))))
        else None
      if (!computeProfiles) {
        // --no-col-stats: zero per-side scans beyond the join — UNLESS keys
        // turned out non-unique, where join-row multiplication makes the
        // hash counts over-count and two plain count() jobs are the only
        // exact answer (matching the reference's separate COUNT queries).
        // Salted digests carry exact per-side row counts, dup keys or not.
        val rc =
          if (keysNotUnique && !salted) RowCounts(base.count(), head.count())
          else RowCounts(stat(3), stat(4))
        DiffResult(meta, rc, sd, Nil, Some(rd), byCol)
      }
      else {
        val (rc, profs) = countsAndProfiles()
        DiffResult(meta, rc, sd, profs, Some(rd), byCol)
      }
    } finally { joined.unpersist(); () }
  }

  /** Merkle-style segment digests — the anti-entropy shortcut that makes
    * a 100 TB diff affordable: instead of hashing and joining every row of
    * both snapshots, digest each side into `segments` order-independent
    * segment summaries (md5-bucketed by key so a key always lands in the
    * same segment regardless of layout), compare the tiny digest tables,
    * and run the full row diff ONLY inside segments whose digests differ.
    * The digest is `sum` of per-row 32-bit md5 prefixes — commutative, so
    * no ordering constraint ever reaches the shuffle — plus the row
    * count; a changed, added, or removed row perturbs both or either.
    * One aggregate pass per side, |segments| rows out. */
  def segmentDigests(df: DataFrame, keyCol: String, payloadCols: Seq[String],
      segments: Int): DataFrame = {
    require(segments > 0, "segments must be positive")
    val seg = pmod(conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("long"), lit(segments.toLong))
    // <NULL> sentinel, not concat_ws's null-skip: skipping would digest
    // (a, NULL, b) and (a, b, NULL) identically — same canon as rowHash
    val rowDig = conv(substring(md5(concat_ws("|",
      (keyCol +: payloadCols).map(c =>
        coalesce(col(c).cast("string"), lit("<NULL>"))): _*)), 1, 8), 16, 10)
      .cast("long")
    df.groupBy(seg.as("seg"))
      .agg(count(lit(1)).as("n_rows"), sum(rowDig).as("digest"))
  }

  /** Digest-narrowed diff — [[segmentDigests]] completed into the working
    * 100 TB mechanism: compare the two |segments|-row digest tables, then
    * run the row-level anti/hash joins ONLY over rows whose key hashes
    * into a differing segment. Counts are provably equal to the full
    * diff's: an added or removed row changes its own segment's row count,
    * and a changed row changes the digest sum (modulo an exact 2³²-sum
    * collision — the same accepted-risk class as the md5 row hash the
    * full diff itself rests on). On a mostly-unchanged corpus the
    * narrowed scan touches |changed segments|/|segments| of the data;
    * the digest pass itself is one map-side-combined aggregate per side.
    * Output one row: (n_segments, n_differing, added, removed, changed). */
  def diffBySegments(base: DataFrame, head: DataFrame, keyCol: String,
      payloadCols: Seq[String], segments: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    def seg = pmod(conv(substring(md5(col(keyCol).cast("string")), 1, 4), 16, 10)
      .cast("long"), lit(segments.toLong))
    val db = segmentDigests(base, keyCol, payloadCols, segments)
      .select(col("seg"), col("n_rows").as("nb"), col("digest").as("gb"))
    val dh = segmentDigests(head, keyCol, payloadCols, segments)
      .select(col("seg"), col("n_rows").as("nh"), col("digest").as("gh"))
    val differing = db.join(dh, Seq("seg"), "full_outer")
      .filter(!(coalesce(col("nb"), lit(-1L)) === coalesce(col("nh"), lit(-1L)) &&
        coalesce(col("gb"), lit(-1L)) === coalesce(col("gh"), lit(-1L))))
      .select(col("seg")).localCheckpoint() // tiny; both subsets reuse it
    val nDiff = differing.count()
    val bSub = base.withColumn("__seg", seg)
      .join(broadcast(differing), col("__seg") === col("seg"), "left_semi")
      .drop("__seg")
    val hSub = head.withColumn("__seg", seg)
      .join(broadcast(differing), col("__seg") === col("seg"), "left_semi")
      .drop("__seg")
    // added/removed/changed in ONE full-outer pass (r18): the three
    // separate anti/inner-join counts each re-scanned both subsets (and
    // re-hashed every row) — 3 jobs, 6 scans. The fused join counts
    // identically: unmatched head rows (added) and base rows (removed)
    // appear exactly once, matched key pairs multiply exactly as the
    // inner join did, and the hash filter is unchanged.
    val b = bSub.select(col(keyCol).as("__k"),
      rowHash(payloadCols).as("__bh"), lit(1L).as("__bp"))
    val h = hSub.select(col(keyCol).as("__k"),
      rowHash(payloadCols).as("__hh"), lit(1L).as("__hp"))
    val cRow = b.join(h, Seq("__k"), "full_outer").agg(
      sum(when(col("__bp").isNull, 1L).otherwise(0L)).as("added"),
      sum(when(col("__hp").isNull, 1L).otherwise(0L)).as("removed"),
      sum(when(col("__bp").isNotNull && col("__hp").isNotNull &&
        col("__bh") =!= col("__hh"), 1L).otherwise(0L)).as("changed")).head()
    def nz(i: Int): Long = if (cRow.isNullAt(i)) 0L else cRow.getLong(i)
    Seq((segments.toLong, nDiff, nz(0), nz(1), nz(2)))
      .toDF("n_segments", "n_differing", "added", "removed", "changed")
  }

  /** Bitemporal point lookup over a CDC log: the state of every key at
    * VALID time `validAt`, as KNOWN at transaction version `knownAt` —
    * the "what did we believe on date T about date V" query that audits
    * and retroactive corrections need, impossible with a single time
    * axis. Composition of the existing machinery: restrict the log to
    * transactions ≤ `knownAt`, keep each (key, valid_from)'s latest
    * surviving assertion ([[cdcLatest]] on the compound key), then keep
    * each key's greatest valid_from ≤ `validAt` that isn't a tombstone.
    * Two windows, both keyed shuffles, zero joins. */
  def asOfBitemporal(log: DataFrame, keys: Seq[String], versionCol: String,
      validFromCol: String, deleteCol: String, knownAt: Long,
      validAt: Long): DataFrame = {
    val known = log.filter(col(versionCol) <= knownAt)
    val latestAssertion = cdcLatest(known, keys :+ validFromCol, versionCol, None)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(validFromCol).desc)
    latestAssertion.filter(col(validFromCol) <= validAt)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .filter(col(deleteCol) === 0)
      .drop("__rn", deleteCol)
  }
}

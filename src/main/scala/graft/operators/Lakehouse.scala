package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Warehouse-maintenance operators: the write-side patterns a lakehouse
  * engine needs beyond queries — slowly-changing-dimension history, MERGE
  * upsert, incremental aggregate maintenance, multi-dimensional (Z-order)
  * layout, and profiling aggregates (histogram, exact-moment correlation).
  *
  * The reference's gold build is append-only with per-batch dedup
  * (`/root/reference/src/etl/silver_to_gold.py:82-96` — duplicates
  * accumulate across days, see SURVEY §7 "hard parts"); q73/q74/q75 are the
  * three standard repairs: versioned history, keyed upsert, and incremental
  * state merge. All are expressed as plain joins/windows so every one has a
  * DuckDB oracle.
  */
object Lakehouse {

  private def dsum(c: Column): Column = sum(c.cast("decimal(30,6)")).cast("double")

  // ------------------------------------------- scratch-table lifecycle

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try { import scala.jdk.CollectionConverters._
        s.iterator().asScala.foreach(deleteRec) } finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p); ()
  }

  private val scratchDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      scratchDirs.values.asScala.foreach(d =>
        try deleteRec(d) catch { case _: Throwable => () })
    }))
  }

  /** Per-query scratch TxLog table root. The returned DataFrame reads the
    * table's files LAZILY (after the builder returns), so eager deletion
    * is impossible — instead each query name keeps AT MOST ONE live
    * scratch dir: a re-entry (bench pass 2+, per-pass re-runs) deletes
    * the previous pass's table first (safe — the prior frame was fully
    * consumed before the next pass starts), and a JVM shutdown hook
    * sweeps the final generation. Bounds scratch disk to one small table
    * per TxLog query instead of one per execution (round-12, ADVICE). */
  private def tempTable(prefix: String): String = {
    val fresh = java.nio.file.Files.createTempDirectory(prefix)
    val old = scratchDirs.put(prefix, fresh)
    if (old != null) try deleteRec(old) catch { case _: Throwable => () }
    fresh.resolve("t").toString
  }

  // q73 — SCD Type-2 dimension build: per customer, the history of
  // o_orderpriority as validity intervals. One window (lag to detect
  // changes), a filter, and a second bounded window (lead for valid_to,
  // row_number for version) — two sorts over one shuffle on custkey; no
  // self-join. At 100 TB the change rows are a tiny fraction of the fact,
  // so the second window runs on the reduced set.
  def q73Scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, dir)
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
    val wc = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    changes
      .withColumn("valid_from", col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(wc))
      .withColumn("version", row_number().over(wc).cast("int"))
      .select(col("o_custkey"), col("o_orderpriority"), col("valid_from"),
        col("valid_to"), col("version"))
      .orderBy(col("o_custkey"), col("version"))
  }

  // q74 — MERGE upsert semantics as a full-outer join: target = customers
  // of nations 0-12, source = nations 10-24 with adjusted balances.
  // matched → update, source-only → insert, target-only → retain. This is
  // exactly the Delta/Iceberg MERGE plan shape (outer join on the key, one
  // branch per clause); on a partitioned table only touched partitions
  // would be rewritten.
  def q74MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.customer(s, dir).filter(col("c_nationkey") < 13)
      .select(col("c_custkey"), col("c_name").as("t_name"),
        col("c_acctbal").as("t_bal"), lit(1).as("t_m"))
    val src = Tables.customer(s, dir).filter(col("c_nationkey") >= 10)
      .select(col("c_custkey"), col("c_name").as("s_name"),
        (col("c_acctbal") + lit(100.0)).as("s_bal"), lit(1).as("s_m"))
    t.join(src, Seq("c_custkey"), "full_outer")
      .select(col("c_custkey"),
        coalesce(col("s_name"), col("t_name")).as("c_name"),
        coalesce(col("s_bal"), col("t_bal")).as("c_acctbal"),
        when(col("t_m").isNotNull && col("s_m").isNotNull, lit("updated"))
          .when(col("s_m").isNotNull, lit("inserted"))
          .otherwise(lit("retained")).as("merge_action"))
      .orderBy(col("c_custkey"))
  }

  // q75 — incremental aggregate maintenance: a materialized per-status
  // revenue rollup kept current by merging yesterday's state with the new
  // partition's delta. Both sides aggregate DECIMAL (exact, associative),
  // so state + delta == full recompute bit-for-bit — the invariant the
  // oracle asserts by computing the full aggregate. At 100 TB this is the
  // difference between scanning one day and scanning the whole fact.
  def q75IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-01-01").cast("timestamp")
    val orders = Tables.orders(s, dir)
    def rollup(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(30,6)")).as("rev"))
    val state = rollup(orders.filter(col("o_orderdate") < cutoff))
      .select(col("o_orderstatus"), col("n").as("n_a"), col("rev").as("rev_a"))
    val delta = rollup(orders.filter(col("o_orderdate") >= cutoff))
      .select(col("o_orderstatus"), col("n").as("n_b"), col("rev").as("rev_b"))
    state.join(delta, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n_orders"),
        (coalesce(col("rev_a"), lit(0).cast("decimal(30,6)")) +
          coalesce(col("rev_b"), lit(0).cast("decimal(30,6)")))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  // q76 — Z-order (Morton) clustering key over (partkey, suppkey): the
  // multi-dimensional layout primitive — writing the fact sorted by zval
  // (repartitionByRange(zval) + sortWithinPartitions) gives min/max file
  // pruning for predicates on EITHER key, which one-column sorting cannot.
  // Pure integer bit-twiddling: deterministic in any engine.
  def q76ZOrder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).filter(col("l_orderkey") <= 400)
      .withColumn("zval", graft.etl.TxLog.zKey(Seq("l_partkey", "l_suppkey")))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))

  /** Write-side Z-order clustering: range-partition by zval and sort within
    * partitions, so each output file covers a disjoint zval range — min/max
    * footer stats then prune files for predicates on EITHER interleaved key.
    * This (plus the q76 key) is the whole of "OPTIMIZE ZORDER BY": at 100 TB
    * the range exchange samples boundaries, every executor writes locally
    * sorted runs, and no global sort materializes. */
  def writeZOrdered(li: DataFrame, out: String, nFiles: Int = 8): Unit =
    li.withColumn("zval", graft.etl.TxLog.zKey(Seq("l_partkey", "l_suppkey")))
      .repartitionByRange(nFiles, col("zval"))
      .sortWithinPartitions(col("zval"))
      .write.mode("overwrite").parquet(out)

  /** Small-file compaction (the lakehouse OPTIMIZE primitive): rewrite a
    * directory of many small parquet files into size-targeted files. File
    * count is derived from the MEASURED input bytes (Hadoop FS listing —
    * a driver-side metadata call, no data read), and the rewrite is one
    * round-robin-free `repartitionByRange` on the sort key so compacted
    * files keep disjoint key ranges (min/max footer pruning survives
    * compaction). The small-files problem is the dominant metadata tax of
    * an append-heavy 100 TB table — the reference's per-day appends
    * (silver_to_gold.py append mode) produce exactly this layout. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              sortKey: String, targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), spark.sparkContext.hadoopConfiguration)
    val inputBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inDir)).getLength
    val nFiles = math.max(1, math.ceil(inputBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartitionByRange(nFiles, col(sortKey))
      .sortWithinPartitions(col(sortKey))
      .write.mode("overwrite").parquet(outDir)
  }

  // q95 — data-quality constraint report (the dbt-test / Deequ primitive):
  // one row per declared constraint with its violation count. Each check
  // is its own aggregate over the narrowest possible scan (count of
  // violations, never the violating rows themselves), unioned into one
  // small report — at 100 TB each check is a scan-local partial count and
  // the report is |checks| rows. Checks: key uniqueness (exact
  // count-distinct vs count), not-null, referential integrity (anti-join
  // count), and domain/range predicates.
  def q95DqChecks(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    def check(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("check"),
        col("violations").cast("bigint").as("violations"))
    val pkUnique = check("orders_pk_unique",
      orders.agg((count(col("o_orderkey")) -
        countDistinct(col("o_orderkey"))).as("violations")))
    val notNull = check("orders_custkey_not_null",
      orders.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("violations")))
    val fkOrphans = check("lineitem_fk_orders",
      li.select(col("l_orderkey"))
        .join(orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations")))
    val range = check("lineitem_quantity_range",
      li.agg(sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
        .otherwise(0L)).as("violations")))
    val sign = check("orders_totalprice_positive",
      orders.agg(sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("violations")))
    pkUnique.union(notNull).union(fkOrphans).union(range).union(sign)
      .orderBy(col("check"))
  }

  // q77 — fixed-width histogram of l_extendedprice: bucket id from integer
  // floor division — scan-local, partial-agg to ~20 groups, near-zero
  // shuffle. The profiling primitive that actually scales (vs sorting for
  // exact quantiles).
  def q77Histogram(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .withColumn("bucket", floor(col("l_extendedprice") / lit(6000.0)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("lo"), max(col("l_extendedprice")).as("hi"))
      .orderBy(col("bucket"))

  // q78 — Pearson correlation from exact moments, per returnflag. Spark's
  // corr() streams doubles (partition-order-dependent rounding); here each
  // per-row moment is rounded to fixed 6dp and accumulated as TWO long
  // sums (integral part + 6dp fractional part) — exact, associative, and,
  // unlike decimal(38,6) sums, long-backed all the way through the codegen
  // hash aggregate (decimal sums whose unscaled totals exceed 2^63 fall
  // back to per-row BigDecimal adds — measured 2x the whole-query time at
  // sf0.1). Long headroom: integral parts sum to ~6e15 at sf0.1 per 6e5
  // rows, so ~1e18 rows per group fit before overflow; shard the group key
  // beyond that. The oracle mirrors the same hi/lo formulation, so the
  // final double formula is bit-identical at any parallelism AND engine.
  def q78CorrExact(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("double")
    val y = col("l_extendedprice").cast("double")
    def d(c: Column): Column = c.cast("double")
    def hi(c: Column): Column = floor(c).cast("long")
    // half-up via floor(v+0.5): pure IEEE ops (Spark's round() on double
    // goes through per-row BigDecimal), values are non-negative here
    def lo(c: Column): Column = floor((c - floor(c)) * 1e6 + 0.5).cast("long")
    // moment value back in double: integral sum is exact below 2^53; the
    // fractional sum contributes < 1e-9 relative — mirrored in the oracle.
    def m(name: String): Column =
      (col(s"${name}_hi").cast("double") + col(s"${name}_lo").cast("double") / 1e6)
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(hi(x)).as("sx_hi"), sum(lo(x)).as("sx_lo"),
        sum(hi(y)).as("sy_hi"), sum(lo(y)).as("sy_lo"),
        sum(hi(x * x)).as("sxx_hi"), sum(lo(x * x)).as("sxx_lo"),
        sum(hi(y * y)).as("syy_hi"), sum(lo(y * y)).as("syy_lo"),
        sum(hi(x * y)).as("sxy_hi"), sum(lo(x * y)).as("sxy_lo"))
      .select(col("l_returnflag"), col("n"),
        ((d(col("n")) * m("sxy") - m("sx") * m("sy")) /
          (sqrt(d(col("n")) * m("sxx") - m("sx") * m("sx")) *
            sqrt(d(col("n")) * m("syy") - m("sy") * m("sy"))))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  // --------------------------------------------------------------------- //

  // q100 — order-independent table checksum: per group, row count + the
  // SUM of a per-row content hash. Two replicas (or a pre/post-migration
  // pair) compare equal iff counts and checksums match per group — the
  // reconciliation primitive that verifies 100 TB of copied data without
  // moving any of it. Sum (not xor) so the checksum also catches duplicated
  // rows; decimal(38,0) accumulation so no overflow at any row count; the
  // hash is the md5 60-bit bridge over a canonical serialization (doubles
  // decimal-cast, timestamps as epoch micros — both engines format those
  // identically, unlike raw double/timestamp strings).
  def q100TableChecksum(s: SparkSession, dir: String): DataFrame = {
    val row = concat_ws("|",
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity").cast("decimal(12,2)"),
      col("l_extendedprice").cast("decimal(14,2)"),
      col("l_returnflag"), col("l_linestatus"),
      unix_micros(col("l_shipdate").cast("timestamp")))
    val li = Tables.lineitem(s, dir)
    // the per-row md5 is the dominant cost and runs BEFORE the group-by
    // exchange; on a pathological single-split layout (one row group) that
    // is one task, so spread on the order key first — same guard as
    // Tables.spread, a no-op on healthy multi-file tables. The sum is
    // order-independent, so any partitioning is correct.
    val spread =
      if (li.rdd.getNumPartitions < s.sparkContext.defaultParallelism)
        li.repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      else li
    // q78's lesson: summing 2^60-sized values as decimal leaves the
    // compact-long decimal path (per-row BigDecimal adds). Split the hash
    // into three 20-bit chunks, sum each as a plain long (codegen fast
    // path, overflow-safe to 2^43 rows per group), recombine in decimal
    // once per group — identical to the oracle's straight decimal sum.
    val h = graft.functions.TextFunctions.h60(row)
    val mask = lit(1048575L) // 2^20 - 1
    spread
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(shiftright(h, 40)).as("sa"),
        sum(shiftright(h, 20).bitwiseAND(mask)).as("sb"),
        sum(h.bitwiseAND(mask)).as("sc"))
      .select(col("l_returnflag"), col("n_rows"),
        (col("sa").cast("decimal(38,0)") * lit(1099511627776L) +
          col("sb").cast("decimal(38,0)") * lit(1048576L) +
          col("sc").cast("decimal(38,0)")).cast("string").as("checksum"))
      .orderBy(col("l_returnflag"))
  }

  /** q220's pinned bucket count and the simulated elder-snapshot cutoff. */
  private[operators] val MerkleBuckets = 64L
  private[operators] val MerkleCutoff = "1997-01-01"

  /** q220 — bucket-level snapshot diff (the Merkle-tree reconciliation
    * pattern): both snapshots roll up to [[MerkleBuckets]] order-
    * independent bucket digests on the SAME key partitioning
    * (l_orderkey mod B), and only buckets whose (count, checksum)
    * differ need row-level investigation — how replicas, backfills,
    * and CDC targets are compared at 100 TB without shipping or
    * sorting either side (q100 generalized from one table-level
    * checksum to a diff-localizing hierarchy; a deeper tree = re-run
    * within the flagged bucket). Snapshot B is simulated as the
    * pre-[[MerkleCutoff]] subset of lineitem — a frozen "yesterday"
    * copy with late rows missing.
    *
    * Determinism & scale: q100's exact machinery per bucket — md5 60-bit
    * row hash over a canonical serialization, summed in three 20-bit
    * long chunks (codegen fast path), recombined in decimal once per
    * bucket; counts are exact; `differs` compares integers. One
    * partial+final aggregate per snapshot, a 64-row full-outer join. */
  def q220MerkleDiff(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def digest(df: DataFrame, cntName: String, sumName: String): DataFrame = {
      val row = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("decimal(12,2)"),
        col("l_extendedprice").cast("decimal(14,2)"),
        col("l_returnflag"), col("l_linestatus"),
        unix_micros(col("l_shipdate").cast("timestamp")))
      val h = graft.functions.TextFunctions.h60(row)
      val mask = lit(1048575L)
      df.groupBy((col("l_orderkey") % MerkleBuckets).as("bucket"))
        .agg(count(lit(1)).as(cntName),
          sum(shiftright(h, 40)).as("sa"),
          sum(shiftright(h, 20).bitwiseAND(mask)).as("sb"),
          sum(h.bitwiseAND(mask)).as("sc"))
        .select(col("bucket"), col(cntName),
          (col("sa").cast("decimal(38,0)") * lit(1099511627776L) +
            col("sb").cast("decimal(38,0)") * lit(1048576L) +
            col("sc").cast("decimal(38,0)")).cast("string").as(sumName))
    }
    val a = digest(li, "n_rows_a", "checksum_a")
    val b = digest(li.filter(
      col("l_shipdate").cast("timestamp") < lit(MerkleCutoff).cast("timestamp")),
      "n_rows_b", "checksum_b")
    a.join(b, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_rows_a"), lit(0L)).as("n_rows_a"),
        coalesce(col("n_rows_b"), lit(0L)).as("n_rows_b"),
        coalesce(col("checksum_a"), lit("0")).as("checksum_a"),
        coalesce(col("checksum_b"), lit("0")).as("checksum_b"))
      .withColumn("differs",
        col("n_rows_a") =!= col("n_rows_b") ||
          col("checksum_a") =!= col("checksum_b"))
      .orderBy(col("bucket"))
  }

  // ------------------------------------------------------ q249 TxLog

  /** q249 — ACID commit-log round trip with time travel, driver-verified:
    * build a fresh TxLog table (per-call temp dir), commit the even-key
    * order rollup as v1 and the odd-key rollup as v2 (both appends), then
    * emit the AS OF v1 snapshot tagged version=1 next to the latest
    * snapshot tagged version=2. The ORACLE never sees the log — it
    * recomputes the deterministic expected CONTENTS of both snapshots
    * from the same table with plain SQL, so the commit protocol's
    * visibility rules (v1 excludes the later commit; latest is the
    * append union) are what the hash check actually verifies.
    *
    * All columns integer/string — no float enters the comparison. Scale
    * shape: two priority-keyed rollups (bounded output) + file-level
    * snapshot reads; log work is driver-side metadata only. */
  def q249TxLogTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q249")
    val orders = Tables.orders(s, dir)
    def half(parity: Int): DataFrame = orders
      .filter(col("o_orderkey") % 2 === parity)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("parity", lit(parity.toLong))
    val v1 = graft.etl.TxLog.append(s, table, half(0))
    graft.etl.TxLog.append(s, table, half(1))
    val asOf1 = graft.etl.TxLog.read(s, table, asOf = Some(v1))
      .withColumn("version", lit(1L))
    val latest = graft.etl.TxLog.read(s, table)
      .withColumn("version", lit(2L))
    asOf1.unionByName(latest)
      .select(col("version"), col("parity"), col("o_orderpriority"),
        col("n_orders"))
      .orderBy(col("version"), col("parity"), col("o_orderpriority"))
  }

  // ------------------------------------------------- q250 TxLog CDC

  /** q250 — incremental (CDC) consumption, driver-verified: three
    * commits land the key%3 partitions of the order rollup, a consumer
    * reads each version's `changes()` increment separately, and the
    * FOLD of the increments must equal the full-table rollup the oracle
    * recomputes from scratch — the exactly-once incremental-pipeline
    * contract (every row in exactly one increment). n_batches counts
    * the distinct increments contributing to each priority, pinning
    * that increments neither merge nor split. Integer-only output. */
  def q250TxLogCdc(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q250")
    val orders = Tables.orders(s, dir)
    (0 until 3).foreach { p =>
      graft.etl.TxLog.append(s, table, orders
        .filter(col("o_orderkey") % 3 === p)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("batch", lit(p.toLong)))
    }
    val increments = graft.etl.TxLog.versions(table).map(v =>
      graft.etl.TxLog.changes(s, table, v - 1, Some(v)))
    increments.reduce(_ unionByName _)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_orders"),
        count_distinct(col("batch")).as("n_batches"))
      .orderBy(col("o_orderpriority"))
  }

  // --------------------------------------------- q258 TxLog delete

  /** q258 — transactional row-level DELETE with time travel, driver-
    * verified: land the (doc_id, lang) projection as two appends (split
    * by id parity, so the table spans multiple immutable files), then
    * [[graft.etl.TxLog.deleteWhere]] the "erasure requests"
    * (doc_id % 7 == 0) and emit per-lang counts from BOTH the AS OF
    * pre-delete snapshot and the latest snapshot. The oracle never sees
    * the log — it recomputes both phases from the raw table, so the
    * hash check verifies the protocol's visibility rules: time travel
    * still reads every pre-delete row (erasure is logical until
    * VACUUM), and the latest snapshot excludes EXACTLY the predicate
    * rows (copy-on-write rewrote survivors faithfully).
    *
    * Integer/string output only. Scale shape: two distributed parquet
    * appends + a file-pruned copy-on-write rewrite + two bounded
    * rollups; the commit log stays driver-side metadata. */
  def q258TxLogDelete(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q258")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    // file-sized appends (coalesce 4): the default 32 scan partitions
    // would land 64 tiny part files for a kilorow table, and every later
    // snapshot/delete/read pays per-file overhead — the same file-sizing
    // judgment OPTIMIZE exists for, applied at write time
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0).coalesce(4))
    val v2 = graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 1).coalesce(4))
    graft.etl.TxLog.deleteWhere(s, table, col("doc_id") % 7 === 0)
    def phase(df: DataFrame, name: String): DataFrame = df
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("phase", lit(name))
    phase(graft.etl.TxLog.read(s, table, asOf = Some(v2)), "pre_delete")
      .unionByName(phase(graft.etl.TxLog.read(s, table), "post_delete"))
      .select(col("phase"), col("lang"), col("n_docs"))
      .orderBy(col("phase"), col("lang"))
  }

  // --------------------------------------- q259 TxLog schema evolution

  /** q259 — schema evolution under the commit log, driver-verified:
    * land the (doc_id, lang) projection, then evolve the table with a
    * mergeSchema append carrying the n_chars column for HALF the corpus
    * (odd doc_ids). The latest snapshot binds the DECLARED union schema,
    * so the pre-evolution rows must surface n_chars as null — the
    * per-lang rollup splits counts by that nullness and sums the
    * post-evolution chars, all integers the oracle recomputes from the
    * raw table (even ids → null bucket, odd ids → summed). What the
    * hash check actually verifies: the declaration binds reads (not
    * whichever parquet footer gets sampled), evolution reaches exactly
    * the evolved rows, and nothing was dropped or duplicated across the
    * two schema generations. */
  def q259TxLogEvolution(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q259")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang")).coalesce(4))
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars")).coalesce(4),
      mergeSchema = true)
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(
        sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_pre_evolution"),
        sum(when(col("n_chars").isNotNull, 1L).otherwise(0L)).as("n_evolved"),
        sum(coalesce(col("n_chars"), lit(0L))).as("evolved_chars"))
      .orderBy(col("lang"))
  }

  // ------------------------------------------ q260 TxLog data skipping

  /** q260 — commit-log data skipping, driver-verified: orders land as
    * four single-file appends bucketed by o_orderdate year range, then
    * two [[graft.etl.TxLog.readWhere]] scans run — a timestamp-range
    * predicate aligned with the bucketing (prunable) and a key
    * predicate orthogonal to it (not prunable) — and the output carries
    * BOTH the matching-row counts and the kept/skipped file counts from
    * [[graft.etl.TxLog.prune]]. The oracle recomputes the skipping
    * decision from raw data under the protocol's own rule (a file
    * survives `col < lit` iff its per-bucket min is below the literal),
    * so the hash check pins three things at once: pruning fires where
    * footer stats prove absence, never drops a matching row (counts
    * equal the raw filter's), and stays conservative where ranges
    * overlap. Works at all because GraftSession writes timestamps as
    * INT64 micros — the deprecated INT96 default carries no footer
    * statistics at all. Integer/string output only. */
  def q260TxLogSkipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q260")
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val y = year(col("o_orderdate"))
    // testdata o_orderdate spans 1995..2001 — four non-empty year buckets
    Seq(y <= 1996, y === 1997 || y === 1998, y === 1999, y >= 2000)
      .foreach(b => graft.etl.TxLog.append(s, table,
        orders.filter(b).coalesce(1)))
    Seq(
      ("time_lt_cut", col("o_orderdate") < "1997-06-01"),
      ("key_le_1000", col("o_orderkey") <= 1000L)
    ).map { case (name, cond) =>
      val pr = graft.etl.TxLog.prune(s, table, cond)
      val n = graft.etl.TxLog.readWhere(s, table, cond).count()
      (name, n, pr.kept.size.toLong, pr.skipped.size.toLong)
    }.toDF("probe", "n_rows", "files_kept", "files_skipped")
      .orderBy(col("probe"))
  }

  // ------------------------------------- q261 TxLog metadata describe

  /** q261 — metadata-only table profile, driver-verified: orders land
    * as four appends, then [[graft.etl.TxLog.describe]] answers exact
    * row count, null counts, and min/max for the key and date columns
    * from the COMMIT LOG ALONE — describe takes no SparkSession, so
    * zero data I/O is guaranteed by its signature, not by discipline.
    * The oracle recomputes the same profile by scanning the raw table,
    * so the hash check pins the fold across files (sums of counts,
    * min-of-mins, max-of-maxes in the exact key domain) against ground
    * truth. Values render as the stats tokens themselves (decimal
    * strings; timestamps as epoch micros — what INT64 TIMESTAMP_MICROS
    * footers store), integer-exact in both engines. */
  def q261TxLogDescribe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q261")
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    (0 until 4).foreach(p => graft.etl.TxLog.append(s, table,
      orders.filter(col("o_orderkey") % 4 === p).coalesce(2)))
    val agg = graft.etl.TxLog.describe(table).getOrElse(
      throw new IllegalStateException("stats missing from a fresh log"))
    Seq("o_orderdate", "o_orderkey").map { c =>
      val ca = agg.cols(c)
      (c, agg.rows, ca.nulls, ca.min.getOrElse("-"), ca.max.getOrElse("-"))
    }.toDF("col_name", "n_rows", "n_nulls", "min_val", "max_val")
      .orderBy(col("col_name"))
  }

  // -------------------------------------- q263 TxLog SQL view

  /** q263 — the Catalyst-integrated read path, driver-verified: orders
    * land as four year-bucketed single-file appends, the snapshot opens
    * through [[graft.etl.TxLog.read]] (the commit-log stats index under a
    * stock parquet relation), and an ordinary SQL rollup with a
    * time-range predicate runs against a VIEW of it — planning pushes
    * the predicate into the index, which opens only the matching year
    * buckets (DataSkippingSpec pins the file counts; here the oracle
    * pins that the pruned read returns EXACTLY the raw table's answer).
    * Alongside q260 (explicit readWhere protocol) this closes the loop:
    * both skip paths, one contract. */
  def q263TxLogView(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q263")
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val y = year(col("o_orderdate"))
    Seq(y <= 1996, y === 1997 || y === 1998, y === 1999, y >= 2000)
      .foreach(b => graft.etl.TxLog.append(s, table,
        orders.filter(b).coalesce(1)))
    graft.etl.TxLog.read(s, table)
      .createOrReplaceTempView("graft_q263_orders")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  count(DISTINCT year(o_orderdate)) AS n_years
        |FROM graft_q263_orders
        |WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // --------------------------------- q273 TxLog AS OF TIMESTAMP

  /** q273 — timestamp-addressed time travel, driver-verified: the q249
    * table shape (even-parity rollup as v1, odd as v2) with INJECTED
    * commit timestamps (1000, 2000 — deterministic, driver-chosen), then
    * three probes: strictly between commits (1500 → v1 only), exactly AT
    * the second commit (2000 → v2, the boundary contract), and far past
    * the head (99999 → latest). The oracle recomputes each probe's
    * expected CONTENTS from the raw table, so the hash check pins the
    * timestamp→version resolution rules — an earlier probe can never see
    * a later commit, and the boundary lands inclusive. Integer/string
    * output only; log work driver-side metadata. */
  def q273TxLogAsOfTs(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q273")
    val orders = Tables.orders(s, dir)
    def half(parity: Int): DataFrame = orders
      .filter(col("o_orderkey") % 2 === parity)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("parity", lit(parity.toLong))
    graft.etl.TxLog.append(s, table, half(0), commitTs = Some(1000L))
    graft.etl.TxLog.append(s, table, half(1), commitTs = Some(2000L))
    Seq(1500L, 2000L, 99999L).map { ts =>
      graft.etl.TxLog.readAsOfTimestamp(s, table, ts)
        .withColumn("probe_ts", lit(ts))
    }.reduce(_ unionByName _)
      .select(col("probe_ts"), col("parity"), col("o_orderpriority"),
        col("n_orders"))
      .orderBy(col("probe_ts"), col("parity"), col("o_orderpriority"))
  }

  // ------------------------------------ q274 TxLog SQL INSERT (DSv2)

  /** q274 — the SQL write seam, driver-verified: CREATE TABLE USING
    * [[graft.sources.TxLogSource]], two INSERT INTO … SELECT statements
    * landing the parity halves of the order rollup as two ACID commits,
    * then a SQL read back THROUGH the table. The emitted version_count
    * comes from the commit log itself (one version per INSERT — the
    * statement↔commit contract), and the rollup contents the oracle
    * recomputes from raw orders pin that SQL writes round-trip through
    * the format losslessly. Alongside q263 (SQL read path) this closes
    * the loop: the format is SQL-complete, both directions. */
  def q274TxLogSqlInsert(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q274")
    val view = s"graft_q274_orders_${System.nanoTime()}"
    Tables.orders(s, dir).createOrReplaceTempView(view)
    val name = s"graft_q274_t_${System.nanoTime()}"
    s.sql(s"CREATE TABLE $name (o_orderpriority STRING, n_orders BIGINT, " +
      s"parity BIGINT) USING graft.sources.TxLogSource OPTIONS (path '$table')")
    try {
      (0 to 1).foreach { p =>
        s.sql(s"""INSERT INTO $name
          |SELECT o_orderpriority, count(*) AS n_orders,
          |  CAST($p AS BIGINT) AS parity
          |FROM $view WHERE o_orderkey % 2 = $p
          |GROUP BY o_orderpriority""".stripMargin)
      }
      s.sql(s"""SELECT o_orderpriority, parity, n_orders,
        |  CAST(${graft.etl.TxLog.versions(table).size} AS BIGINT)
        |    AS version_count
        |FROM $name
        |ORDER BY parity, o_orderpriority""".stripMargin)
        // materialize BEFORE dropping the catalog entry: the returned
        // frame must not depend on the temporary table name
        .localCheckpoint(eager = true)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.catalog.dropTempView(view); ()
    }
  }

  // ------------------------------------- q275 TxLog CDC stream tail

  /** q275 — the streaming CDC consumer, driver-verified: three commits
    * land the key%3 slices of the order rollup, then
    * `spark.readStream.format(TxLogSource)` drains the table with an
    * AvailableNow trigger into a bounded driver buffer (foreachBatch,
    * rollup-sized rows). The emitted aggregate folds EXACTLY the rows
    * the stream delivered; the oracle recomputes the full rollup from
    * raw orders — so the hash check pins the tail contract the batch
    * q250 pins for `changes()`: every committed row arrives exactly
    * once, regardless of how the trigger slices versions into
    * micro-batches (the output deliberately depends only on the union,
    * not the batching). n_slices counts the distinct commit tags seen,
    * pinning that no slice was dropped or duplicated. */
  def q275TxLogCdcStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val table = tempTable("graft-q275")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q275-ckpt")
    val orders = Tables.orders(s, dir)
    (0 until 3).foreach { p =>
      graft.etl.TxLog.append(s, table, orders
        .filter(col("o_orderkey") % 3 === p)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("slice", lit(p.toLong)))
    }
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val stream = s.readStream.format("graft.sources.TxLogSource").load(table)
    val rollupSchema = stream.schema
    stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(got.add); ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    deleteRec(ckpt)
    s.createDataFrame(new java.util.ArrayList(got), rollupSchema)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_orders"),
        count_distinct(col("slice")).as("n_slices"))
      .orderBy(col("o_orderpriority"))
  }

  // ------------------------------------------- q276 TxLog MERGE

  /** q276 — transactional keyed upsert (MERGE), driver-verified: the
    * per-priority order rollup lands as two files (split at '2-HIGH'),
    * then one [[graft.etl.TxLog.merge]] replaces the low-priority rows
    * with bumped counts AND inserts a synthetic new priority — matched
    * rows updated, unmatched source inserted, the high-priority file
    * untouched (copy-on-write pruned to the one affected file; the
    * TxLogSpec merge tests pin the file-level evidence, this query pins
    * the CONTENT contract against an oracle that recomputes the merge
    * result from raw orders with plain set algebra). version_count = 3
    * pins that the whole upsert was ONE commit after two appends. */
  def q276TxLogMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q276")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") <= "2-HIGH").coalesce(1))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") > "2-HIGH").coalesce(1))
    val source = r.filter(col("o_orderpriority") <= "2-HIGH")
      .select(col("o_orderpriority"), (col("n_orders") + 1000L).as("n_orders"))
      .unionByName(Seq(("9-SYNTH", 42L)).toDF("o_orderpriority", "n_orders"))
    graft.etl.TxLog.merge(s, table, source, Seq("o_orderpriority"))
    graft.etl.TxLog.read(s, table)
      .withColumn("version_count",
        lit(graft.etl.TxLog.versions(table).size.toLong))
      .select(col("o_orderpriority"), col("n_orders"), col("version_count"))
      .orderBy(col("o_orderpriority"))
  }

  // -------------------------------- q277 TxLog MoR delete (DVs)

  /** q277 — merge-on-read DELETE via deletion vectors, driver-verified:
    * the q258 shape (parity-split (doc_id, lang) projection, erasure of
    * doc_id % 7 == 0) executed through
    * [[graft.etl.TxLog.deleteWhereMerge]] instead of copy-on-write. The
    * zero_rewrite column carries the protocol evidence — the live FILE
    * SET is bit-identical before and after the delete (only sidecar
    * vectors were published; write cost O(deleted rows)) — while the
    * per-lang pre/post counts, recomputed by the oracle from the raw
    * table, pin that readers anti-filter exactly the predicate rows and
    * time travel still reads them. Together with q258, both delete
    * strategies of the production formats are under the same hash gate. */
  def q277TxLogMorDelete(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q277")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0).coalesce(4))
    val v2 = graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 1).coalesce(4))
    val before = graft.etl.TxLog.snapshot(table).toSet
    graft.etl.TxLog.deleteWhereMerge(s, table, col("doc_id") % 7 === 0)
    val zeroRewrite = graft.etl.TxLog.snapshot(table).toSet == before
    def phase(df: DataFrame, name: String): DataFrame = df
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("phase", lit(name))
    phase(graft.etl.TxLog.read(s, table, asOf = Some(v2)), "pre_delete")
      .unionByName(phase(graft.etl.TxLog.read(s, table), "post_delete"))
      .withColumn("zero_rewrite", lit(zeroRewrite))
      .select(col("phase"), col("lang"), col("n_docs"), col("zero_rewrite"))
      .orderBy(col("phase"), col("lang"))
  }

  // -------------------------------- q278 TxLog CHECK constraints

  /** q278 — write-time CHECK constraints, driver-verified: declare
    * `n_orders > 0` on the rollup table, then attempt two writes — a
    * clean slice (lands) and a poisoned slice carrying a negative count
    * (rejected BEFORE staging) — and emit the final table plus the
    * audit columns: n_constraints from the live DDL state and
    * rejected_rows_visible = how many poisoned rows a reader can see
    * (pinned 0 by the oracle — the whole point of write-time
    * enforcement: invalid data never becomes readable). The oracle
    * recomputes the surviving contents from raw orders, so the hash
    * check verifies both enforcement and non-interference with valid
    * writes. */
  def q278TxLogConstraints(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q278")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") <= "2-HIGH").coalesce(1))
    graft.etl.TxLog.addConstraint(s, table, "positive_counts", "n_orders > 0")
    // clean slice: passes the gate
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") > "2-HIGH").coalesce(1))
    // poisoned slice: one negative count — the WHOLE write must bounce
    val rejected =
      try { graft.etl.TxLog.append(s, table,
        r.select(col("o_orderpriority"),
          (col("n_orders") * lit(-1L)).as("n_orders")).coalesce(1)); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected, "constraint gate failed to reject the poisoned write")
    val visible = graft.etl.TxLog.read(s, table)
      .filter(col("n_orders") <= 0L).count()
    graft.etl.TxLog.read(s, table)
      .withColumn("n_constraints",
        lit(graft.etl.TxLog.constraintsOf(table).size.toLong))
      .withColumn("rejected_rows_visible", lit(visible))
      .select(col("o_orderpriority"), col("n_orders"),
        col("n_constraints"), col("rejected_rows_visible"))
      .orderBy(col("o_orderpriority"))
  }

  // ------------------------------ q285 TxLog physical erasure (GDPR)

  /** q285 — the right-to-be-forgotten contract END TO END, driver-
    * verified: q258 pins LOGICAL deletion (time travel still reads the
    * purged rows); this query completes the two-step by running the
    * full erasure pipeline — copy-on-write delete of the subject rows
    * (doc_id % 7 == 0), then VACUUM past the retention window under
    * asserted quiescence (minAgeMillis = 0: this builder is the only
    * writer) — and emitting PHYSICAL evidence next to the content:
    * files_purged counts the data files vacuum actually unlinked
    * (deterministic: two coalesce(1) appends → the one affected file
    * rewrites, its original is the one purge candidate), and
    * deleted_rows_readable proves the strongest claim — re-reading the
    * PRE-DELETE snapshot now fails or excludes the purged rows, because
    * their bytes are gone from disk, not just from the live view. The
    * oracle recomputes the surviving rollup and pins both evidence
    * columns' exact values. */
  def q285TxLogErasure(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q285")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0).coalesce(1))
    val v2 = graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 1).coalesce(1))
    graft.etl.TxLog.deleteWhere(s, table, col("doc_id") % 7 === 0)
    val purged = graft.etl.TxLog.vacuum(table, retainVersions = 1,
      minAgeMillis = 0).count(_.endsWith(".parquet"))
    // the strongest erasure check: the pre-delete snapshot's file set now
    // has holes on disk — reading it can no longer surface subject rows
    val readable =
      try graft.etl.TxLog.read(s, table, asOf = Some(v2))
        .filter(col("doc_id") % 7 === 0).count()
      catch { case _: Throwable => 0L } // historical read fails: 0 readable
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("files_purged", lit(purged.toLong))
      .withColumn("deleted_rows_readable", lit(readable))
      .select(col("lang"), col("n_docs"), col("files_purged"),
        col("deleted_rows_readable"))
      .orderBy(col("lang"))
  }

  // ----------------------------------- q286 TxLog SQL DML (round 13)

  /** q286 — the SQL DML surface end-to-end, driver-verified: the
    * per-priority order rollup lands as one TxLog append, then THREE SQL
    * statements run against the registered table through the injected
    * planner strategy ([[graft.sources.TxLogSqlDml]]) — DELETE a
    * priority, UPDATE the low-priority counts, MERGE an upsert (replace
    * '1-URGENT', insert a synthetic '9-SQL') — and the emitted rollup
    * plus version_count = 4 pin the statement↔commit contract: each
    * statement is exactly ONE TxLog version carrying the full protocol
    * (file-pruned copy-on-write, OCC, constraint enforcement). The
    * oracle recomputes the final contents with plain set algebra from
    * raw orders, so the hash check verifies all three statements'
    * semantics — including that UPDATE reads pre-update values and that
    * MERGE replaces matched rows wholesale. Round13OpsSpec separately
    * pins SQL ≡ API result and racing-statement serialization. */
  def q286TxLogSqlDml(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q286")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(2))
    graft.sources.TxLogSqlDml.install(s)
    val name = s"graft_q286_t_${System.nanoTime()}"
    s.sql(s"CREATE TABLE $name (o_orderpriority STRING, n_orders BIGINT) " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$table')")
    try {
      s.sql(s"DELETE FROM $name WHERE o_orderpriority = '3-MEDIUM'")
      s.sql(s"UPDATE $name SET n_orders = n_orders + 5 " +
        s"WHERE o_orderpriority <= '2-HIGH'")
      s.sql(
        s"""MERGE INTO $name USING (
           |  SELECT '1-URGENT' AS o_orderpriority,
           |         CAST(777 AS BIGINT) AS n_orders
           |  UNION ALL SELECT '9-SQL', CAST(42 AS BIGINT)) src
           |ON $name.o_orderpriority = src.o_orderpriority
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        s"""SELECT o_orderpriority, n_orders,
           |  CAST(${graft.etl.TxLog.versions(table).size} AS BIGINT)
           |    AS version_count
           |FROM $name ORDER BY o_orderpriority""".stripMargin)
        .localCheckpoint(eager = true)
    } finally { s.sql(s"DROP TABLE IF EXISTS $name"); () }
  }

  // --------------------------- q287 TxLog time travel via read options

  /** q287 — SQL-surface time travel (round-12 VERDICT #4), driver-
    * verified: the q273 fixture (parity halves with injected commit
    * timestamps 1000/2000) read back through the DSv2 OPTIONS —
    * `.option("versionAsOf", 1)` and `.option("timestampAsOf", …)` on a
    * plain `spark.read.format(TxLogSource)` — instead of the TxLog API.
    * Three probes (version 1; ts 1500 strictly between commits; ts 2000
    * exactly at the second commit, the inclusive boundary) and the
    * oracle recomputes each probe's contents from raw orders, pinning
    * that option-addressed reads route through the same monotonized
    * resolution rules as the API (q273) — one time-travel semantics,
    * both doors. */
  def q287TxLogTravelOptions(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q287")
    val orders = Tables.orders(s, dir)
    def half(parity: Int): DataFrame = orders
      .filter(col("o_orderkey") % 2 === parity)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("parity", lit(parity.toLong))
    graft.etl.TxLog.append(s, table, half(0), commitTs = Some(1000L))
    graft.etl.TxLog.append(s, table, half(1), commitTs = Some(2000L))
    def load(k: String, v: String): DataFrame =
      s.read.format("graft.sources.TxLogSource").option(k, v).load(table)
    load("versionAsOf", "1").withColumn("probe", lit("v1"))
      .unionByName(load("timestampAsOf", "1500").withColumn("probe", lit("ts1500")))
      .unionByName(load("timestampAsOf", "2000").withColumn("probe", lit("ts2000")))
      .select(col("probe"), col("parity"), col("o_orderpriority"),
        col("n_orders"))
      .orderBy(col("probe"), col("parity"), col("o_orderpriority"))
  }

  // --------------------------- q288 TxLog SQL MERGE DELETE (round 13)

  /** q288 — the keyed CDC-apply delete as SQL, driver-verified: the q276
    * two-file rollup fixture, then ONE statement — `MERGE INTO … WHEN
    * MATCHED THEN DELETE` with the low-priority key set as source —
    * removes exactly the matched rows. Evidence columns pin the protocol:
    * version_count = 3 (two appends + one statement-commit) and
    * file_untouched = the high-priority file survived BIT-IDENTICALLY
    * (the delete is file-pruned; unmatched files never rewrite — write
    * amplification zero outside the matched set). The oracle recomputes
    * the surviving rollup from raw orders, so the hash check pins the
    * match semantics; Round13OpsSpec separately pins SQL ≡
    * [[graft.etl.TxLog.deleteMatched]]. */
  def q288TxLogMergeDelete(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q288")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") <= "2-HIGH").coalesce(1))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") > "2-HIGH").coalesce(1))
    val untouched = graft.etl.TxLog.snapshot(table)(1) // the >2-HIGH file
    graft.sources.TxLogSqlDml.install(s)
    val name = s"graft_q288_t_${System.nanoTime()}"
    val view = s"graft_q288_orders_${System.nanoTime()}"
    Tables.orders(s, dir).createOrReplaceTempView(view)
    s.sql(s"CREATE TABLE $name (o_orderpriority STRING, n_orders BIGINT) " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$table')")
    try {
      s.sql(
        s"""MERGE INTO $name USING (
           |  SELECT DISTINCT o_orderpriority FROM $view
           |  WHERE o_orderpriority <= '2-HIGH') src
           |ON $name.o_orderpriority = src.o_orderpriority
           |WHEN MATCHED THEN DELETE""".stripMargin)
      val fileUntouched = graft.etl.TxLog.snapshot(table).contains(untouched)
      s.sql(
        s"""SELECT o_orderpriority, n_orders,
           |  CAST(${graft.etl.TxLog.versions(table).size} AS BIGINT)
           |    AS version_count,
           |  CAST($fileUntouched AS BOOLEAN) AS file_untouched
           |FROM $name ORDER BY o_orderpriority""".stripMargin)
        .localCheckpoint(eager = true)
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $name")
      s.catalog.dropTempView(view); ()
    }
  }

  // ------------------------------ q289 TxLog DESCRIBE HISTORY (round 13)

  /** q289 — the audit surface, driver-verified: five commits with
    * INJECTED timestamps (two parity appends, a copy-on-write DELETE, an
    * OPTIMIZE, a RESTORE back to v2), then `DESCRIBE HISTORY` planned
    * through [[graft.sources.GraftSqlParser]] + the DML strategy. Each
    * history row is joined with the ROW COUNT of its version's snapshot
    * (time travel), so the hash check pins four contracts at once: the
    * operation tag per commit, the in-commit timestamp, the dataChange
    * bit (the OPTIMIZE rearrangement is the one non-change commit), and
    * that RESTORE really returned the table to the v2 row set. File
    * counts are deliberately NOT emitted — they depend on shuffle
    * partitioning, not semantics. History is O(versions) driver-side
    * metadata; no data file is read except the five bounded rollup
    * snapshot counts. */
  def q289TxLogHistory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q289")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), (col("o_orderkey") % 2).as("parity"))
      .agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table,
      r.filter(col("parity") === 0).coalesce(1), commitTs = Some(1000L))
    graft.etl.TxLog.append(s, table,
      r.filter(col("parity") === 1).coalesce(1), commitTs = Some(2000L))
    graft.etl.TxLog.deleteWhere(s, table,
      col("o_orderpriority") === "3-MEDIUM", commitTs = Some(3000L))
    graft.etl.TxLog.optimize(s, table, targetFiles = 1,
      commitTs = Some(4000L))
    graft.etl.TxLog.restore(table, 2L, commitTs = Some(5000L))
    val hist = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(s"DESCRIBE HISTORY '$table'").get)
    val counts = graft.etl.TxLog.versions(table)
      .map(v => (v, graft.etl.TxLog.read(s, table, Some(v)).count()))
      .toDF("version", "n_rows")
    hist.select(col("version"), col("timestamp").as("commit_ts"),
        col("operation"), col("dataChange").as("data_change"))
      .join(counts, Seq("version"))
      .orderBy(col("version"))
  }

  // ---------------------------------- q290 TxLog SQL RESTORE (round 13)

  /** q290 — transactional undo as SQL, driver-verified: a rollup append
    * (ts 1000), a copy-on-write DELETE of '1-URGENT', then ONE statement
    * — `RESTORE TABLE … TO TIMESTAMP AS OF 1500` — rolls the table back
    * to v1 as commit v3. The output carries the rollup BOTH post-delete
    * and post-restore plus the statement's own result row (resolved
    * target version, committed version), so the hash check pins: the
    * timestamp resolves to the pre-delete snapshot, the restore is a NEW
    * commit (history grows to 3, nothing is rewritten in place), and the
    * restored content is bit-equal to what the delete removed. The
    * restore itself is O(files) driver-side log diffing — no data I/O at
    * any table size. */
  def q290TxLogRestoreSql(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q290")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1), commitTs = Some(1000L))
    graft.etl.TxLog.deleteWhere(s, table,
      col("o_orderpriority") === "1-URGENT", commitTs = Some(2000L))
    val postDelete = graft.etl.TxLog.read(s, table)
      .withColumn("phase", lit("post_delete"))
      .localCheckpoint(eager = true) // pin the pre-restore snapshot
    val res = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"RESTORE TABLE '$table' TO TIMESTAMP AS OF 1500").get)
      .head()
    val postRestore = graft.etl.TxLog.read(s, table)
      .withColumn("phase", lit("post_restore"))
    postDelete.unionByName(postRestore)
      .withColumn("restored_to", lit(res.getLong(0)))
      .withColumn("committed_v", lit(res.getLong(1)))
      .withColumn("version_count",
        lit(graft.etl.TxLog.versions(table).size.toLong))
      .select(col("phase"), col("o_orderpriority"), col("n_orders"),
        col("restored_to"), col("committed_v"), col("version_count"))
      .orderBy(col("phase"), col("o_orderpriority"))
  }

  // -------------------------------------- q291 TxLog CLONE (round 13)

  /** q291 — the zero-copy table fork, driver-verified: a rollup append
    * (v1), a merge-on-read DELETE of '1-URGENT' (v2, live deletion
    * vector), then ONE statement — `CREATE TABLE '…' SHALLOW CLONE '…'`
    * — forks the snapshot. Afterwards each side mutates independently
    * (an append lands on the clone; a copy-on-write DELETE of '5-LOW'
    * lands on the source) and the output carries BOTH rollups plus the
    * version counts, so the hash check pins: the DV state crossed the
    * clone (no resurrected '1-URGENT' row), and neither side's
    * post-clone write leaked into the other. The clone itself is
    * O(files) driver metadata — hard links, no data I/O at any size. */
  def q291TxLogClone(s: SparkSession, dir: String): DataFrame = {
    val src = tempTable("graft-q291s")
    val dstDir = tempTable("graft-q291d")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, src, r.coalesce(1), commitTs = Some(1000L))
    graft.etl.TxLog.deleteWhereMerge(s, src,
      col("o_orderpriority") === "1-URGENT", commitTs = Some(2000L))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"CREATE TABLE '$dstDir' SHALLOW CLONE '$src'").get).head()
    import s.implicits._
    graft.etl.TxLog.append(s, dstDir,
      Seq(("9-CLONE", 42L)).toDF("o_orderpriority", "n_orders").coalesce(1),
      commitTs = Some(3000L))
    graft.etl.TxLog.deleteWhere(s, src,
      col("o_orderpriority") === "5-LOW", commitTs = Some(3000L))
    graft.etl.TxLog.read(s, src).withColumn("phase", lit("src"))
      .unionByName(
        graft.etl.TxLog.read(s, dstDir).withColumn("phase", lit("clone")))
      .withColumn("src_versions",
        lit(graft.etl.TxLog.versions(src).size.toLong))
      .withColumn("clone_versions",
        lit(graft.etl.TxLog.versions(dstDir).size.toLong))
      .select(col("phase"), col("o_orderpriority"), col("n_orders"),
        col("src_versions"), col("clone_versions"))
      .orderBy(col("phase"), col("o_orderpriority"))
  }

  // ----------------------------- q293 TxLog bloom skipping (round 13)

  /** q293 — bloom-filter file skipping, driver-verified: `SET BLOOM` DDL
    * on o_orderkey, then the orders slice lands as TWO files split by
    * KEY PARITY — their min/max ranges overlap almost entirely, so range
    * stats keep both files for any interior point lookup; only the
    * per-file parquet bloom can tell them apart. 16 deterministic
    * interior keys (ranks 100-115 of the sorted key set — data-derived,
    * so the oracle picks the identical keys) probe [[TxLog.prune]] +
    * [[TxLog.readWhere]]: every probe returns its exactly-one row (no
    * bloom false NEGATIVE is possible — misses only keep), files_total
    * pins the snapshot, and bloom_effective aggregates "at least one
    * probe skipped a file the stats kept" — per-probe skip counts are
    * deliberately NOT emitted (a ~1% false positive keeps a file without
    * breaking anything; determinism lives in the aggregate, the q20
    * 0-row lesson applied to probabilistic structure). At 100 TB this is
    * the unclustered-point-lookup story: range stats are blind when
    * every file spans the key domain; blooms cut the scheduled file set
    * before the scan exists. */
  def q293TxLogBloom(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q293")
    val orders = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.etl.TxLog.setBloomColumns(table, Seq("o_orderkey"),
      commitTs = Some(900L))
    graft.etl.TxLog.append(s, table,
      orders.filter(col("o_orderkey") % 2 === 0).coalesce(1),
      commitTs = Some(1000L))
    graft.etl.TxLog.append(s, table,
      orders.filter(col("o_orderkey") % 2 === 1).coalesce(1),
      commitTs = Some(2000L))
    val keys = orders.orderBy(col("o_orderkey")).limit(116)
      .select(col("o_orderkey")).collect().map(_.getLong(0)).drop(100)
    val probes = keys.map { k =>
      val pr = graft.etl.TxLog.prune(s, table, col("o_orderkey") === k)
      val n = graft.etl.TxLog.readWhere(s, table, col("o_orderkey") === k)
        .count()
      (k, n, (pr.kept.size + pr.skipped.size).toLong, pr.kept.size.toLong)
    }.toSeq
    val bloomEffective = probes.map(_._4).sum < probes.map(_._3).sum
    probes.map(p => (p._1, p._2, p._3, bloomEffective))
      .toDF("o_orderkey", "n_rows", "files_total", "bloom_effective")
      .orderBy(col("o_orderkey"))
  }

  // ------------------------------ q294 TxLog OPTIMIZE ZORDER (round 13)

  /** q294 — multi-dimensional clustering under the oracle: four appends
    * land the orders slice with SYNTHETIC bounded keys a = orderkey mod
    * 1000, b = custkey mod 1000 in z-hostile order (every file spans
    * both domains, so nothing prunes), then ONE statement — `OPTIMIZE …
    * INTO 8 FILES ZORDER BY (a, b)` — rewrites the layout. Three probes
    * (corner stripe on a, corner stripe on b, and a point rectangle)
    * emit their exact row counts (the oracle recomputes each from raw
    * orders — content invariance through the rewrite) plus a
    * pruned_files BOOLEAN per probe: after Morton clustering EVERY probe
    * must skip at least one of the 8 files on min/max stats alone — the
    * both-dimensions guarantee one-column sorting cannot give. Exact
    * skip counts stay unemitted (range-partition boundaries are
    * quantile-sampled; determinism lives in the boolean, the q293
    * discipline). */
  def q294TxLogZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q294")
    val base = Tables.orders(s, dir).select(
      col("o_orderkey"),
      pmod(col("o_orderkey"), lit(1000L)).as("a"),
      pmod(col("o_custkey"), lit(1000L)).as("b"))
    (0 until 4).foreach { p =>
      graft.etl.TxLog.append(s, table,
        base.filter(pmod(col("o_orderkey"), lit(4L)) === p).coalesce(1),
        commitTs = Some(1000L * (p + 1)))
    }
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"OPTIMIZE '$table' INTO 8 FILES ZORDER BY (a, b)").get).collect()
    val probes = Seq(
      ("a_stripe", col("a") < 125L),
      ("b_stripe", col("b") < 125L),
      ("corner", col("a") < 250L && col("b") < 250L))
    probes.map { case (name, cond) =>
      val pr = graft.etl.TxLog.prune(s, table, cond)
      val n = graft.etl.TxLog.readWhere(s, table, cond).count()
      (name, n, (pr.kept.size + pr.skipped.size).toLong, pr.skipped.nonEmpty)
    }.toDF("probe", "n_rows", "files_total", "pruned_files")
      .orderBy(col("probe"))
  }

  // ----------------------- q295 TxLog stream startingVersion (round 13)

  /** q295 — the mid-log CDC consumer, driver-verified: the q275 fixture
    * (three commits, key%3 slices of the order rollup) but the stream
    * starts with `.option("startingVersion", 2)` — the tail must deliver
    * versions 2 and 3 ONLY, never slice 0. The emitted rollup folds
    * exactly the delivered rows; the oracle recomputes slices 1-2 from
    * raw orders, so the hash check pins both the inclusive-start rule
    * and that the skipped backlog stays skipped. n_slices = 2 pins no
    * over- or under-delivery. */
  def q295TxLogStreamFrom(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val table = tempTable("graft-q295")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q295-ckpt")
    val orders = Tables.orders(s, dir)
    (0 until 3).foreach { p =>
      graft.etl.TxLog.append(s, table, orders
        .filter(col("o_orderkey") % 3 === p)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("slice", lit(p.toLong)))
    }
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val stream = s.readStream.format("graft.sources.TxLogSource")
      .option("startingVersion", "2").load(table)
    val rollupSchema = stream.schema
    stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(got.add); ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    deleteRec(ckpt)
    s.createDataFrame(new java.util.ArrayList(got), rollupSchema)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_orders"),
        count_distinct(col("slice")).as("n_slices"))
      .orderBy(col("o_orderpriority"))
  }

  // ----------------------------- q297 TxLog DESCRIBE DETAIL (round 13)

  /** q297 — the table-level audit row, driver-verified: two parity
    * rollup files, a CHECK constraint, a bloom DDL, and a merge-on-read
    * DELETE, then ONE statement — `DESCRIBE DETAIL` — whose single row
    * must report the exact version/file/constraint/bloom state AND the
    * live row count as stats-fold-minus-DV (never opening a data file).
    * The oracle recomputes numRows/numDeletedRows from raw orders, so
    * the hash check pins that the metadata-only answer equals the
    * data-derived truth — the zero-I/O `count(*)` contract at any
    * table size. */
  def q297TxLogDetail(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q297")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"), (col("o_orderkey") % 2).as("parity"))
      .agg(count(lit(1)).as("n_orders"))
    (0 to 1).foreach(p => graft.etl.TxLog.append(s, table,
      r.filter(col("parity") === p).coalesce(1),
      commitTs = Some(1000L * (p + 1))))
    graft.etl.TxLog.addConstraint(s, table, "n_pos", "n_orders > 0",
      commitTs = Some(3000L))
    graft.etl.TxLog.setBloomColumns(table, Seq("o_orderpriority"),
      commitTs = Some(4000L))
    graft.etl.TxLog.deleteWhereMerge(s, table,
      col("o_orderpriority") === "1-URGENT", commitTs = Some(5000L))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"DESCRIBE DETAIL '$table'").get)
  }

  // ------------------------------ q298 TxLog RENAME COLUMN (round 13)

  /** q298 — column mapping under the oracle: the rollup lands as v1,
    * ONE statement — `ALTER TABLE … RENAME COLUMN n_orders TO
    * order_count` — re-points the logical name without touching the
    * data file, then an append UNDER THE NEW NAME lands as a second
    * physical file and the read folds both. The oracle recomputes the
    * rollup from raw orders under the new name, so the hash check pins:
    * old files translate physical→logical on read, new writes translate
    * logical→physical on stage (both files carry the SAME physical
    * column), and the rename was metadata-only (n_files = 2, operation
    * tag in history). */
  def q298TxLogRename(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q298")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1), commitTs = Some(1000L))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"ALTER TABLE '$table' RENAME COLUMN n_orders TO order_count").get)
      .collect()
    graft.etl.TxLog.append(s, table,
      Seq(("9-RENAMED", 42L)).toDF("o_orderpriority", "order_count")
        .coalesce(1), commitTs = Some(3000L))
    val op = graft.etl.TxLog.history(table)
      .find(_.operation == "RENAME COLUMN").map(_.operation).getOrElse("?")
    graft.etl.TxLog.read(s, table)
      .withColumn("renamed_op", lit(op))
      .withColumn("n_files",
        lit(graft.etl.TxLog.snapshot(table).size.toLong))
      .select(col("o_orderpriority"), col("order_count"),
        col("renamed_op"), col("n_files"))
      .orderBy(col("o_orderpriority"))
  }

  // ----------------------- q299 end-to-end streaming pipeline (round 13)

  /** q299 — the whole ingestion loop under one oracle hash: the events
    * STREAM drains into a TxLog table through the exactly-once sink
    * (appendOnce txn markers), a SECOND drain over the same checkpoint
    * must add zero versions (the crash-replay/idempotence contract,
    * asserted as the emitted second_run_added = 0), and the CDC batch
    * read (`changes(0)`) — not a direct table read — feeds the rollup
    * the oracle recomputes from raw events. One query therefore pins
    * source → exactly-once commit → CDC tail ≡ batch truth, the full
    * producer/consumer loop a production pipeline runs. Row volume is
    * the events slice; log work is O(versions) driver metadata. */
  def q299TxLogPipeline(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q299")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q299-ckpt")
    def drain(): Unit = graft.streaming.TxLogStream.ingest(s,
      graft.streaming.EventsStream.readStream(s, dir)
        .select(col("event_type"), col("value")),
      table, ckpt.toString, appId = "graft-q299")
    drain()
    val v1 = graft.etl.TxLog.versions(table).size
    drain() // same checkpoint: AvailableNow re-drain must be a no-op
    val added = graft.etl.TxLog.versions(table).size - v1
    val out = graft.etl.TxLog.changes(s, table, 0L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("second_run_added", lit(added.toLong))
      .orderBy(col("event_type"))
    deleteRec(ckpt)
    out
  }

  // ------------------------ q300 curation pipeline capstone (round 13)

  /** q300 — the document-curation pipeline composed end-to-end, one
    * oracle hash: plant deterministic duplicates (doc_id % 40 == 0
    * re-landed under shifted ids — raw corpora at these SFs carry no
    * exact dups, the q20 lesson), then quality-filter (n_chars >= 200,
    * the CCNet-style length rule), exact-dedup (one survivor per text,
    * min doc_id wins), shard by doc_id % 8, and emit the per-shard
    * manifest plus the global drop ledger (n_quality_dropped,
    * n_dup_dropped riding on every row). Every stage exists as its own
    * verified operator (q95/q20/q96); this pins their COMPOSITION — the
    * thing a user actually runs. All shuffles are keyed aggregates; the
    * dedup groupBy carries (text-hash, min-id), never pairs. */
  def q300CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"),
      col("n_chars"))
    val planted = docs.filter(col("doc_id") % 40 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10000000L))
    val corpus = docs.unionByName(planted)
    val quality = corpus.filter(col("n_chars") >= 200)
    val nQualityDropped = corpus.count() - quality.count()
    val survivors = quality
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("n_chars")).as("n_chars"))
    val nDupDropped = quality.count() - survivors.count()
    survivors
      .groupBy((col("doc_id") % 8).as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("n_quality_dropped", lit(nQualityDropped))
      .withColumn("n_dup_dropped", lit(nDupDropped))
      .orderBy(col("shard"))
  }

  // ---------------------- q301 partitioned TxLog table (round 13)

  /** q301 — PARTITIONED BY end-to-end, driver-verified: the documents
    * projection lands as ONE partitioned TxLog append (identity
    * partitioning on `lang`; one file per language), then a partition-
    * predicate read of the lexicographically-first language goes through
    * [[graft.etl.TxLog.readWhere]], and the evidence columns pin the
    * partition-pruning contract the oracle recomputes from raw data:
    * files_kept = 1 (the target language's file), files_skipped =
    * |languages| - 1 (never opened — at 100 TB the difference between
    * scanning one partition and the table), partition_files =
    * |languages| (the writer emitted exactly one single-valued file per
    * partition). The per-slice rollup inside the kept partition pins
    * that pruning changed I/O, not results. */
  def q301TxLogPartitioned(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q301")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    graft.etl.TxLog.append(s, table, docs.coalesce(1),
      partitionBy = Seq("lang"))
    val target = docs.agg(min(col("lang"))).collect()(0).getString(0)
    val pr = graft.etl.TxLog.prune(s, table, col("lang") === target)
    val nFiles = graft.etl.TxLog.snapshotAdds(table).size.toLong
    graft.etl.TxLog.readWhere(s, table, col("lang") === target)
      .groupBy(col("lang"), (col("doc_id") % 5).as("slice"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("files_kept", lit(pr.kept.size.toLong))
      .withColumn("files_skipped", lit(pr.skipped.size.toLong))
      .withColumn("partition_files", lit(nFiles))
      .select(col("lang"), col("slice"), col("n_docs"), col("files_kept"),
        col("files_skipped"), col("partition_files"))
      .orderBy(col("slice"))
  }

  // ------------------------- q302 replaceWhere partition overwrite

  /** q302 — partition-region INSERT OVERWRITE ([[graft.etl.TxLog
    * .replaceWhere]]), driver-verified: the per-priority order rollup
    * lands partitioned by priority (5 single-valued files), then the
    * '1-URGENT' region is replaced with shifted contents in ONE commit.
    * Evidence columns pin the no-write-amplification contract:
    * untouched_files = 4 — every other partition's file is BIT-IDENTICAL
    * (same path, never read, never rewritten; at 100 TB replacing a
    * day's partition costs that day, not the table) — and
    * replaced_files = 1. The oracle recomputes the final table (shifted
    * urgent row + originals) from raw orders, so the hash verifies the
    * swap replaced exactly the named region. */
  def q302TxLogReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q302")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1),
      partitionBy = Seq("o_orderpriority"))
    val before = graft.etl.TxLog.snapshotAdds(table).map(_.path).toSet
    val repl = r.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderpriority"),
        (col("n_orders") + 100000L).as("n_orders"))
    graft.etl.TxLog.replaceWhere(s, table, repl,
      col("o_orderpriority") === "1-URGENT")
    val after = graft.etl.TxLog.snapshotAdds(table).map(_.path).toSet
    graft.etl.TxLog.read(s, table)
      .withColumn("untouched_files", lit(before.intersect(after).size.toLong))
      .withColumn("replaced_files", lit(before.diff(after).size.toLong))
      .select(col("o_orderpriority"), col("n_orders"),
        col("untouched_files"), col("replaced_files"))
      .orderBy(col("o_orderpriority"))
  }

  // ---------------- q303 native SQL time travel via the catalog

  /** q303 — STOCK Spark time-travel syntax end-to-end, driver-verified:
    * the priority rollup lands as two TxLog commits with injected
    * in-commit timestamps (1000/2000 ms), then THREE reads go through
    * [[graft.sources.GraftCatalog]] with no custom parser — `VERSION AS
    * OF 1`, `TIMESTAMP AS OF timestamp_millis(1500)` (the epoch-anchored
    * form, timezone-proof), and the bare latest — and the phased union
    * pins that version binding, timestamp monotonization, and the
    * catalog's snapshot isolation all agree with the oracle's set
    * algebra over raw orders. Completes the SQL time-travel surface the
    * round-12 verdict called a seam: q287 pinned the OPTIONS route, this
    * pins the native syntax route. */
  def q303TxLogCatalogTravel(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q303")
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") <= "2-HIGH").coalesce(1),
      commitTs = Some(1000L))
    graft.etl.TxLog.append(s, table,
      r.filter(col("o_orderpriority") > "2-HIGH").coalesce(1),
      commitTs = Some(2000L))
    def phase(sql: String, name: String): DataFrame =
      s.sql(sql).withColumn("phase", lit(name))
    phase(s"SELECT * FROM graft.`$table` VERSION AS OF 1", "v1")
      .unionByName(phase(s"SELECT * FROM graft.`$table` " +
        "TIMESTAMP AS OF timestamp_millis(1500)", "ts_mid"))
      .unionByName(phase(s"SELECT * FROM graft.`$table`", "latest"))
      .select(col("phase"), col("o_orderpriority"), col("n_orders"))
      .orderBy(col("phase"), col("o_orderpriority"))
  }

  // -------------------------- q304 CONVERT TO TXLOG (in-place adopt)

  /** q304 — metadata-only table adoption, driver-verified: a per-status
    * order rollup lands as a PLAIN parquet directory (two stock Spark
    * writes — no log), then [[graft.etl.TxLog.convert]] claims it as a
    * TxLog table in ONE commit, and the emitted evidence pins the
    * contract the oracle recomputes from raw orders: files_registered
    * = 2 (both pre-existing files now live adds), adopted_in_place
    * (no path moved into the staged-data layout — zero bytes
    * rewritten; at 100 TB adoption costs a footer read per file, not a
    * rewrite), version_count = 2 (the convert + one post-adopt append
    * that proves the table is a full citizen of the protocol). */
  def q304TxLogConvert(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q304")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_orders"))
    // plain parquet, two files, written by stock Spark — not a TxLog path
    r.filter(col("o_orderstatus") <= "F").coalesce(1).write.parquet(table)
    r.filter(col("o_orderstatus") > "F").coalesce(1)
      .write.mode("append").parquet(table)
    graft.etl.TxLog.convert(s, table)
    val adds = graft.etl.TxLog.snapshotAdds(table)
    val inPlace = adds.forall(a => !a.path.startsWith("data/"))
    import s.implicits._
    graft.etl.TxLog.append(s, table,
      Seq(("9-SYNTH", 42L)).toDF("o_orderstatus", "n_orders"))
    graft.etl.TxLog.read(s, table)
      .withColumn("files_registered", lit(adds.size.toLong))
      .withColumn("adopted_in_place", lit(inPlace))
      .withColumn("version_count",
        lit(graft.etl.TxLog.versions(table).size.toLong))
      .select(col("o_orderstatus"), col("n_orders"), col("files_registered"),
        col("adopted_in_place"), col("version_count"))
      .orderBy(col("o_orderstatus"))
  }

  // ------------------ q305 dynamic partition overwrite (one commit)

  /** q305 — `partitionOverwriteMode=dynamic` semantics
    * ([[graft.etl.TxLog.overwritePartitions]]), driver-verified: the
    * priority rollup lands partitioned by priority (5 single-valued
    * files), then ONE commit overwrites exactly the two partitions the
    * incoming frame touches (urgent + high, shifted by 200000) — no
    * predicate named, the data names its own region. Evidence pins the
    * swap: untouched_files = 3 (bit-identical paths), replaced_files =
    * 2; the oracle recomputes the final table with set algebra from raw
    * orders. Together with q302 (static replaceWhere) both partition-
    * overwrite modes of the production formats are under the hash. */
  def q305TxLogDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q305")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1),
      partitionBy = Seq("o_orderpriority"))
    val before = graft.etl.TxLog.snapshotAdds(table).map(_.path).toSet
    val incoming = r.filter(col("o_orderpriority") <= "2-HIGH")
      .select(col("o_orderpriority"),
        (col("n_orders") + 200000L).as("n_orders"))
    graft.etl.TxLog.overwritePartitions(s, table, incoming)
    val after = graft.etl.TxLog.snapshotAdds(table).map(_.path).toSet
    graft.etl.TxLog.read(s, table)
      .withColumn("untouched_files",
        lit(before.intersect(after).size.toLong))
      .withColumn("replaced_files", lit(before.diff(after).size.toLong))
      .select(col("o_orderpriority"), col("n_orders"),
        col("untouched_files"), col("replaced_files"))
      .orderBy(col("o_orderpriority"))
  }

  // --------------------- q306 generated columns (+ derived partition)

  /** q306 — GENERATED ALWAYS AS end-to-end, driver-verified: an events
    * table is CREATEd with a `day DATE` column declared GENERATED AS
    * `CAST(ts AS DATE)` AND used as the partition column — the
    * production idiom (writers never compute the partition key; the
    * format does, so it can never lie). One append of raw events (no
    * day column) materializes the 30 day-partitions; the evidence pins
    * all three contracts at once: the per-type rollup of the FIRST day
    * equals the oracle's recompute from raw events (materialization is
    * the declared expression), files_kept/skipped = 1/29 (the derived
    * column prunes like any partition column), and
    * lying_write_rejected — a write SUPPLYING a wrong day bounces
    * whole, so the generation invariant survives hostile writers. */
  def q306TxLogGenerated(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val table = tempTable("graft-q306")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    graft.etl.TxLog.create(table, StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("ts", TimestampType), StructField("day", DateType))),
      partitionBy = Seq("day"))
    graft.etl.TxLog.addGeneratedColumn(s, table, "day", "CAST(ts AS DATE)")
    graft.etl.TxLog.append(s, table, ev.coalesce(1))
    val target = graft.etl.TxLog.read(s, table)
      .agg(min(col("day"))).collect()(0).getDate(0)
    val pr = graft.etl.TxLog.prune(s, table, col("day") === lit(target))
    val rejected =
      try { graft.etl.TxLog.append(s, table, ev.limit(1)
        .withColumn("day", lit("1999-01-01").cast("date"))); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected, "generated-column gate failed to reject a lying write")
    graft.etl.TxLog.readWhere(s, table, col("day") === lit(target))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("files_kept", lit(pr.kept.size.toLong))
      .withColumn("files_skipped", lit(pr.skipped.size.toLong))
      .withColumn("lying_write_rejected", lit(rejected))
      // day as ISO string: Spark date32 lands as pandas objects while
      // DuckDB DATE fetches datetime64 — equal values, different dtype
      // class, which the driver hash distinguishes
      .select(col("day").cast("string").as("day"), col("event_type"),
        col("n_events"), col("files_kept"), col("files_skipped"),
        col("lying_write_rejected"))
      .orderBy(col("event_type"))
  }

  // ------------------- q307 OPTIMIZE ... WHERE (partition-scoped)

  /** q307 — partition-scoped compaction via SQL
    * (`OPTIMIZE t WHERE <partition predicate>`), driver-verified: two
    * partitioned appends leave 2 files per priority (10 total), then
    * the statement compacts ONLY the '1-URGENT' partition. Evidence
    * pins the scale contract — compacting today's ingest must not read
    * yesterday's table: untouched_files = 8 (every other partition's
    * files bit-identical, never opened), urgent_files_after = 1, and
    * the summed contents (each priority's count twice) match the
    * oracle's recompute, so the rewrite rearranged without changing a
    * row. The rewrite rides dataChange=false like whole-table OPTIMIZE
    * (spec-pinned); q294/q274 cover the other OPTIMIZE forms. */
  def q307TxLogOptimizeWhere(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q307")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1),
      partitionBy = Seq("o_orderpriority"))
    graft.etl.TxLog.append(s, table, r.coalesce(1))
    def paths(p: String => Boolean): Set[String] =
      graft.etl.TxLog.snapshotAdds(table).filter(a =>
        graft.etl.TxLog.decodePartValues(a.part.get).head._2.exists(p))
        .map(_.path).toSet
    val othersBefore = paths(_ != "1-URGENT")
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"OPTIMIZE '$table' WHERE o_orderpriority = '1-URGENT'").get)
      .collect()
    val untouched = (othersBefore intersect paths(_ != "1-URGENT")).size
    graft.etl.TxLog.read(s, table)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_orders")).as("n_orders"))
      .withColumn("untouched_files", lit(untouched.toLong))
      .withColumn("urgent_files_after",
        lit(paths(_ == "1-URGENT").size.toLong))
      .select(col("o_orderpriority"), col("n_orders"),
        col("untouched_files"), col("urgent_files_after"))
      .orderBy(col("o_orderpriority"))
  }

  // ---------------------- q308 SHOW PARTITIONS (zero-I/O listing)

  /** q308 — `SHOW PARTITIONS` from commit-log metadata only, driver-
    * verified: two partitioned appends (2 files per priority) then a
    * merge-on-read DELETE of the whole '5-LOW' partition via deletion
    * vectors — no file removed, rows masked. The listing the statement
    * returns pins both halves of the metadata contract the oracle
    * recomputes from raw orders: numFiles = 2 everywhere (DVs never
    * rewrite), numRows = 2 per partition except 5-LOW = 0 (footer rows
    * NET of deletion vectors — at 100 TB the listing is O(files)
    * driver metadata, zero data opens, and still row-exact). */
  def q308TxLogShowPartitions(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q308")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
    graft.etl.TxLog.append(s, table, r.coalesce(1),
      partitionBy = Seq("o_orderpriority"))
    graft.etl.TxLog.append(s, table, r.coalesce(1))
    graft.etl.TxLog.deleteWhereMerge(s, table,
      col("o_orderpriority") === "5-LOW")
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"SHOW PARTITIONS '$table'").get)
      .orderBy(col("partition"))
  }

  // --------------------- q309 native streaming sink (round 13)

  /** q309 — the NATIVE streaming sink under the oracle hash:
    * `writeStream.format(txlog)` (no foreachBatch — the
    * StreamSinkProvider path, [[graft.sources.TxLogSink]]) drains the
    * events stream into a TxLog table, a second drain over the SAME
    * checkpoint must add zero versions (second_run_added = 0, the
    * checkpoint half of exactly-once), every published commit must carry
    * its `<appId>/<batchId>` txn marker (markers_ok — the crash-replay
    * half), and the table READ (snapshot, not CDC — q299 already pins
    * the CDC tail) reproduces the rollup the oracle recomputes from raw
    * events. Distinct from q299 by the write path under test: here the
    * micro-batch plan is rebound executor-side
    * ([[org.apache.spark.sql.graft.MicroBatch.rebind]]) — zero driver
    * materialization, so the sink's scale shape is the ordinary
    * distributed parquet write plus O(1) driver commit per batch. */
  def q309TxLogNativeSink(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q309")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q309-ckpt")
    def drain(): Unit =
      graft.streaming.EventsStream.readStream(s, dir)
        .select(col("event_type"), col("value"))
        .writeStream.format("graft.sources.TxLogSource")
        .option("path", table)
        .option("checkpointLocation", ckpt.toString)
        .option("txnAppId", "graft-q309")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    drain()
    val v1 = graft.etl.TxLog.versions(table).size
    drain() // same checkpoint: AvailableNow re-drain must be a no-op
    val added = graft.etl.TxLog.versions(table).size - v1
    val markersOk = graft.etl.TxLog.versions(table).forall { v =>
      java.nio.file.Files.readString(java.nio.file.Paths.get(table,
        "_graft_log", f"$v%020d.json")).contains("\"op\":\"txn\"")
    }
    val out = graft.etl.TxLog.read(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("second_run_added", lit(added.toLong))
      .withColumn("markers_ok", lit(markersOk))
      .orderBy(col("event_type"))
    deleteRec(ckpt)
    out
  }

  // --------------------- q310 DROP COLUMN (round 13)

  /** q310 — ALTER TABLE DROP COLUMN end-to-end under the oracle: the
    * order rollup lands WITH a sum_price column, SQL DROP COLUMN narrows
    * the declaration (metadata-only — n_files pins that the data file
    * was never rewritten), a post-drop append omits the column, and the
    * final read carries only the surviving columns. Evidence columns pin
    * the whole contract the oracle recomputes from raw orders:
    * pre_drop_cols / post_drop_cols (3 → 2 declared columns),
    * n_files = 2 (both appends' files live and untouched — at 100 TB a
    * drop costs one driver commit, zero data I/O), and the history tag.
    * Time-travel visibility of the dropped column is spec-pinned
    * (TxLogDropColumnSpec); the tombstoned re-add refusal likewise. */
  def q310TxLogDropColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q310")
    val r = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).as("sum_price"))
    graft.etl.TxLog.append(s, table, r.coalesce(1), commitTs = Some(1000L))
    val preCols = graft.etl.TxLog.schemaOf(table).get.length.toLong
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"ALTER TABLE '$table' DROP COLUMN sum_price").get).collect()
    graft.etl.TxLog.append(s, table,
      Seq(("9-ADDED", 42L)).toDF("o_orderpriority", "n_orders").coalesce(1),
      commitTs = Some(3000L))
    val postCols = graft.etl.TxLog.schemaOf(table).get.length.toLong
    val op = graft.etl.TxLog.history(table)
      .find(_.operation == "DROP COLUMN").map(_.operation).getOrElse("?")
    graft.etl.TxLog.read(s, table)
      .withColumn("dropped_op", lit(op))
      .withColumn("n_files",
        lit(graft.etl.TxLog.snapshot(table).size.toLong))
      .withColumn("pre_drop_cols", lit(preCols))
      .withColumn("post_drop_cols", lit(postCols))
      .select(col("o_orderpriority"), col("n_orders"), col("dropped_op"),
        col("n_files"), col("pre_drop_cols"), col("post_drop_cols"))
      .orderBy(col("o_orderpriority"))
  }

  // ------------------ q311 CTAS + TRUNCATE round-trip (round 13)

  /** q311 — CREATE TABLE AS SELECT and TRUNCATE TABLE under one oracle
    * hash: CTAS through the graft catalog creates-and-fills the order
    * rollup in one SQL statement (plain-TableCatalog contract:
    * createTable commit + the INSERT's ACID commit), TRUNCATE empties
    * the live set in one metadata commit (files stay for time travel —
    * the pre-truncate snapshot is what the query then reads, proving
    * travel across a truncate), and a second TRUNCATE must be a no-op
    * (None — the DML no-op discipline). Evidence columns pin all three;
    * the rollup content is recomputed by the oracle from raw orders.
    * Scale: CTAS is the ordinary distributed write + O(1) commits;
    * TRUNCATE is O(live files) driver metadata, zero data I/O. */
  def q311TxLogCtas(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q311")
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    Tables.orders(s, dir).createOrReplaceTempView("q311_orders")
    s.sql(s"CREATE TABLE graft.`$table` AS " +
      "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders " +
      "FROM q311_orders GROUP BY o_orderpriority")
    val vT = graft.etl.TxLog.truncate(table).get
    val emptied = graft.etl.TxLog.snapshot(table).isEmpty
    val secondNoop = graft.etl.TxLog.truncate(table).isEmpty
    graft.etl.TxLog.read(s, table, asOf = Some(vT - 1))
      .withColumn("truncated_empty", lit(emptied))
      .withColumn("second_noop", lit(secondNoop))
      .orderBy(col("o_orderpriority"))
  }

  // ---------- q312 TBLPROPERTIES + VACUUM DRY RUN (round 13)

  /** q312 — the metadata verbs under one oracle hash: SET TBLPROPERTIES
    * (one value data-derived — the nation row count — so the hash is
    * grounded in table content, not constants), an overwrite SET of one
    * key, UNSET of another, then SHOW TBLPROPERTIES rows via the SQL
    * surface. Evidence columns ride the VACUUM DRY RUN contract: after
    * an overwrite supersedes the seed file, the preview (retain 1, age
    * 0) must list exactly one candidate and must NOT have deleted it
    * (preview_files / preview_intact). All O(versions)+O(files) driver
    * metadata — zero data I/O at any scale. */
  def q312TxLogProperties(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q312")
    val nations = Tables.nation(s, dir).count()
    graft.etl.TxLog.append(s, table,
      Seq((1L, "seed")).toDF("id", "s").coalesce(1), commitTs = Some(1000L))
    def run(sql: String) = org.apache.spark.sql.graft.GraftSqlBridge.ofRows(
      s, graft.sources.GraftSqlParser.maintenance(sql).get)
    run(s"ALTER TABLE '$table' SET TBLPROPERTIES " +
      s"('owner'='graft', 'tier'='bronze', 'n_nations'='$nations')").collect()
    run(s"ALTER TABLE '$table' SET TBLPROPERTIES ('tier'='gold')").collect()
    run(s"ALTER TABLE '$table' UNSET TBLPROPERTIES ('owner')").collect()
    graft.etl.TxLog.overwrite(s, table,
      Seq((2L, "live")).toDF("id", "s").coalesce(1), commitTs = Some(3000L))
    val preview = graft.etl.TxLog.vacuum(table, retainVersions = 1,
      minAgeMillis = 0L, dryRun = true)
    val intact = preview.forall(rel =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(table, rel)))
    run(s"SHOW TBLPROPERTIES '$table'")
      .withColumn("preview_files", lit(preview.size.toLong))
      .withColumn("preview_intact", lit(intact))
      .orderBy(col("key"))
  }

  // --------------- q313 ALTER COLUMN type widening (round 13)

  /** q313 — type widening end-to-end under the oracle: the nation keys
    * land as INT (narrow era), SQL ALTER COLUMN widens the declaration
    * to BIGINT in one metadata commit (no file rewritten), a wide-era
    * append carries a value no INT can hold, and the mixed-era read
    * aggregates EXACTLY across the seam (narrow physical files decode
    * under the wide declaration). Pruning evidence: a BIGINT-typed
    * predicate against the int-era file's stats still prunes exactly —
    * the exact-decimal key domain is type-agnostic, so kept=1/skipped=1.
    * The oracle recomputes the totals from raw nation. At 100 TB a
    * widen costs one driver commit; no scan, no rewrite. */
  def q313TxLogWiden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val table = tempTable("graft-q313")
    val n = Tables.nation(s, dir)
      .select(col("n_nationkey").cast("int").as("key"), col("n_name"))
    graft.etl.TxLog.append(s, table, n.coalesce(1), commitTs = Some(1000L))
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(s,
      graft.sources.GraftSqlParser.maintenance(
        s"ALTER TABLE '$table' ALTER COLUMN key TYPE BIGINT").get).collect()
    graft.etl.TxLog.append(s, table,
      Seq((9999999999L, "WIDE-ERA")).toDF("key", "n_name").coalesce(1),
      commitTs = Some(3000L))
    val pr = graft.etl.TxLog.prune(s, table, col("key") >= 9999999999L)
    graft.etl.TxLog.read(s, table)
      .agg(count(lit(1)).as("n_rows"), sum(col("key")).as("sum_key"))
      .withColumn("kept", lit(pr.kept.size.toLong))
      .withColumn("skipped", lit(pr.skipped.size.toLong))
      .withColumn("new_type",
        lit(graft.etl.TxLog.schemaOf(table).get("key").dataType.simpleString))
  }

  // --------------- q314 general MERGE grammar (round 14)

  /** q314 — the FULL MERGE grammar under one oracle hash (VERDICT r13
    * #4): conditional matched DELETE, conditional partial-column UPDATE
    * (siblings untouched), guarded NOT MATCHED INSERT with explicit
    * columns, and NOT MATCHED BY SOURCE UPDATE — one
    * [[graft.etl.TxLog.mergeClauses]] call = one OCC commit. The oracle
    * recomputes the post-merge table as plain set algebra over raw
    * documents (left join + first-match-wins CASE + anti-join union), so
    * the hash pins clause ORDER (the delete guard shadows the update
    * guard), guard semantics on both sides' columns, and the
    * partial-update/insert column rules. Integer/string output.
    *
    * Scale shape: one target scan left-joined to a broadcastable source
    * finds affected files; only files whose rows FIRE a clause rewrite
    * (a guarded match leaves unfired files untouched); driver state is
    * O(affected files). */
  def q314TxLogMergeGrammar(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q314")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), (col("doc_id") % 100).as("n"))
        .coalesce(4))
    val source = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("doc_id") % 50).as("delta"))
    graft.etl.TxLog.mergeClauses(s, table, source, Seq("doc_id"),
      matched = Seq(
        graft.etl.TxLog.MergeClause("delete", Some(expr("t.n >= 80")), Map.empty),
        graft.etl.TxLog.MergeClause("update", Some(expr("s.delta >= 10")),
          Map("n" -> expr("t.n + s.delta")))),
      notMatched = Seq(
        graft.etl.TxLog.MergeClause("insert", Some(expr("s.delta > 40")),
          Map("doc_id" -> expr("s.doc_id"), "lang" -> lit("ins"),
            "n" -> expr("s.delta")))),
      notMatchedBySource = Seq(
        graft.etl.TxLog.MergeClause("update", Some(expr("t.n < 3")),
          Map("lang" -> expr("upper(t.lang)")))))
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("lang"))
  }

  // --------------- q315 row-level change data feed (round 14)

  /** q315 — the CHANGE DATA FEED under one oracle hash (VERDICT r13 #5):
    * with `graft.changeDataFeed=true`, an UPDATE, a copy-on-write DELETE
    * and a merge-on-read (deletion-vector) DELETE each publish their
    * exact row-level record, and `changeFeed` replays them as
    * update_preimage/update_postimage/delete rows with no churn from the
    * rewrites themselves (survivor rows moving files is NOT a change).
    * The oracle recomputes the expected record by applying the same
    * three operations SEQUENTIALLY in SQL (the delete images must carry
    * the POST-update values — ordering is what the hash pins), grouped
    * by change type. Folding this feed onto the v0 snapshot reproduces
    * the final table (spec-verified; the grouped sums pin it here).
    *
    * Scale shape: CDC capture is one property-gated extra write of the
    * CHANGED rows per DML commit (the Delta CDF trade); the feed read is
    * a bounded scan of each version's cdc files, O(versions) driver
    * metadata. */
  def q315TxLogChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q315")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.select(col("doc_id"), (col("doc_id") % 100).as("n")).coalesce(4))
    graft.etl.TxLog.setProperties(table,
      Map(graft.etl.TxLog.CdfProperty -> "true"))
    val v0 = graft.etl.TxLog.versions(table).last
    graft.etl.TxLog.updateWhere(s, table, col("doc_id") % 5 === 0,
      Map("n" -> (col("n") + 1000)))
    graft.etl.TxLog.deleteWhere(s, table, col("doc_id") % 7 === 0)
    graft.etl.TxLog.deleteWhereMerge(s, table, col("doc_id") % 11 === 0)
    graft.etl.TxLog.changeFeed(s, table, v0)
      .groupBy(col(graft.etl.TxLog.ChangeTypeCol).as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("change_type"))
  }

  // --------------- q316 incremental view maintenance over CDF (round 14)

  /** q316 — the canonical CDF consumer: INCREMENTAL MATERIALIZED-VIEW
    * MAINTENANCE. A per-language (count, sum) view is built once at v0,
    * then three DML commits land (UPDATE, CoW DELETE, a plain append) and
    * the view is brought current by folding ONLY the change feed —
    * insert/update_postimage rows add, delete/update_preimage rows
    * subtract (the self-maintainable-aggregate rule) — with NO rescan of
    * the base table. The oracle recomputes the final aggregate from
    * scratch via the sequential CTE chain, so the hash pins that
    * increment-folding ≡ full recomputation, including the MIXED feed
    * (exact CDC sidecars for the DML, derived inserts for the append) in
    * one range. Integer-only output.
    *
    * Scale shape: the maintenance cost is O(changed rows), not O(table) —
    * at 100 TB this is the difference between a view refresh that reads
    * terabytes and one that reads the day's increments. */
  def q316TxLogIncrementalView(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q316")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.select(col("doc_id"), col("lang"), (col("doc_id") % 100).as("n"))
        .coalesce(4))
    graft.etl.TxLog.setProperties(table,
      Map(graft.etl.TxLog.CdfProperty -> "true"))
    val v0 = graft.etl.TxLog.versions(table).last
    // the view AS OF v0 — built once, never rebuilt
    val view0 = graft.etl.TxLog.read(s, table, Some(v0))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"))
    // three increments: exact-CDC update + delete, derived-insert append
    graft.etl.TxLog.updateWhere(s, table, col("doc_id") % 5 === 0,
      Map("n" -> (col("n") + 1000)))
    graft.etl.TxLog.deleteWhere(s, table, col("doc_id") % 7 === 0)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          lit(7L).as("n")).coalesce(1))
    // fold the feed: signed count/sum deltas per language
    val feed = graft.etl.TxLog.changeFeed(s, table, v0)
    val sign = org.apache.spark.sql.functions
      .when(col(graft.etl.TxLog.ChangeTypeCol)
        .isin("insert", "update_postimage"), lit(1L))
      .otherwise(lit(-1L))
    val delta = feed.groupBy(col("lang"))
      .agg(sum(sign).as("d_rows"), sum(sign * col("n")).as("d_sum"))
    view0.join(delta, Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("n_rows"), lit(0L)) + coalesce(col("d_rows"), lit(0L)))
          .as("n_rows"),
        (coalesce(col("sum_n"), lit(0L)) + coalesce(col("d_sum"), lit(0L)))
          .as("sum_n"))
      .filter(col("n_rows") > 0)
      .orderBy(col("lang"))
  }

  // --------------- q317 MERGE WITH SCHEMA EVOLUTION (round 14)

  /** q317 — schema-evolving MERGE under the oracle: the target lands as
    * (doc_id, lang), the upsert source carries a NEW column (n_chars) and
    * widens the declaration IN the merge commit — matched rows replaced
    * WITH the new column, unmatched source rows inserted, surviving
    * pre-evolution rows read the new column as NULL (the union-schema
    * read rule). The oracle recomputes the post-merge table with plain
    * set algebra where the survivor branch selects NULL. A second probe
    * pins that time travel BEFORE the merge still reads the narrow
    * 2-column shape (schema is versioned like data). Integer/string
    * output.
    *
    * Scale shape: evolution is one metadata declaration inside the same
    * OCC commit — no file rewritten beyond the merge's own CoW; old
    * files are never touched to add the column. */
  def q317TxLogMergeEvolution(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q317")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang")).coalesce(4))
    val v0 = graft.etl.TxLog.versions(table).last
    graft.etl.TxLog.merge(s, table,
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars")),
      Seq("doc_id"), mergeSchema = true)
    val now = graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"),
        count(col("n_chars")).as("n_with_chars"))
    val thenCols = graft.etl.TxLog.read(s, table, Some(v0)).columns.length
    now.withColumn("cols_before", lit(thenCols.toLong))
      .withColumn("cols_after",
        lit(graft.etl.TxLog.schemaOf(table).get.fields.length.toLong))
      .orderBy(col("lang"))
  }

  // --------------- q318 clause-form MERGE schema evolution (round 15)

  /** q318 — EXPLICIT-CLAUSE schema-evolving MERGE (VERDICT r14 #2): the
    * target lands as (doc_id, lang); a conditional UPDATE SET and an
    * explicit-column INSERT both assign a column that does not exist —
    * `mergeSchema = true` (SQL: WITH SCHEMA EVOLUTION) widens the
    * declaration INSIDE the same OCC commit, typed from the assignment
    * expressions. Matched rows get the value, unmatched targets read
    * null (their files are never rewritten), unmatched source rows
    * insert with it. The oracle recomputes the post-merge table as set
    * algebra with a NULL branch for unfired rows, and pins the
    * versioned-schema probe (2 columns before, 3 after). Scale shape:
    * evolution is one metadata declaration; the merge itself rewrites
    * only files where a clause FIRES — old files are untouched at any
    * table size. */
  def q318TxLogClauseEvolution(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q318")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang")).coalesce(4))
    val v0 = graft.etl.TxLog.versions(table).last
    val source = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("n_chars"))
    graft.etl.TxLog.mergeClauses(s, table, source, Seq("doc_id"),
      matched = Seq(graft.etl.TxLog.MergeClause("update", None,
        Map("chars" -> expr("s.n_chars")))),
      notMatched = Seq(graft.etl.TxLog.MergeClause("insert", None,
        Map("doc_id" -> expr("s.doc_id"), "lang" -> lit("ins"),
          "chars" -> expr("s.n_chars")))),
      mergeSchema = true)
    val thenCols = graft.etl.TxLog.read(s, table, Some(v0)).columns.length
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("chars"), lit(0L))).as("sum_chars"),
        count(col("chars")).as("n_with_chars"))
      .withColumn("cols_before", lit(thenCols.toLong))
      .withColumn("cols_after",
        lit(graft.etl.TxLog.schemaOf(table).get.fields.length.toLong))
      .orderBy(col("lang"))
  }

  // --------------- q319 non-equality MERGE ON predicate (round 15)

  /** q319 — MERGE with a RANGE-GUARDED ON clause (VERDICT r14 #3):
    * `ON t.doc_id = s.doc_id AND t.n < 60` — standard SQL MERGE
    * semantics fold the residual into the match, so a key-equal pair
    * failing it is not-matched BOTH ways: the target row survives
    * untouched AND the source row INSERTS (producing a second row per
    * key — exactly what the oracle's set algebra pins; an engine that
    * treated the residual as a clause guard would drop those inserts).
    * Scale shape: the residual rides the same one-scan broadcastable-
    * source join as the key equalities — no extra pass, and file
    * pruning still keys off the equality columns. */
  def q319TxLogMergeOnResidual(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q319")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), (col("doc_id") % 100).as("n"))
        .coalesce(4))
    val source = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("doc_id") % 50).as("delta"))
    graft.etl.TxLog.mergeClauses(s, table, source, Seq("doc_id"),
      matched = Seq(graft.etl.TxLog.MergeClause("update", None,
        Map("n" -> expr("t.n + s.delta")))),
      notMatched = Seq(graft.etl.TxLog.MergeClause("insert", None,
        Map("doc_id" -> expr("s.doc_id"), "lang" -> lit("ins"),
          "n" -> expr("s.delta")))),
      residual = Some(expr("t.n < 60")))
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"), sum(col("n")).as("sum_n"),
        sum(col("doc_id")).as("sum_id"))
      .orderBy(col("lang"))
  }

  // --------------- q320 DEFAULT column values (round 15)

  /** q320 — `ALTER COLUMN … SET DEFAULT` under the oracle (VERDICT r14
    * #4): the table lands as (doc_id, lang), ADD COLUMNS declares
    * `score`, SET DEFAULT 7 declares the write-time fill, and a second
    * append that OMITS the column materializes it — while every
    * pre-ALTER row stays null (reads never backfill history; the
    * declaration is versioned like schema). The oracle recomputes both
    * populations with an explicit NULL/7 branch. Scale shape: the
    * declaration is one metadata commit; the fill is a scan-local
    * constant withColumn on the write path — no data file is ever
    * touched retroactively. */
  def q320TxLogDefaults(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q320")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang")).coalesce(4))
    graft.etl.TxLog.addColumns(table,
      org.apache.spark.sql.types.StructType.fromDDL("score BIGINT"))
    graft.etl.TxLog.setColumnDefault(s, table, "score", "CAST(7 AS BIGINT)")
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"))
        .coalesce(2))
    graft.etl.TxLog.read(s, table)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("score"), lit(0L))).as("sum_score"),
        count(col("score")).as("n_with_score"))
      .orderBy(col("lang"))
  }

  // --------------- q321 table_changes TVF + startingTimestamp (round 15)

  /** q321 — the SQL-visible batch CDF surface (VERDICT r14 #5): the
    * change feed read through `SELECT … FROM table_changes('<path>',
    * '<tsMillis>')` — the TIMESTAMP form, resolved through the
    * commit-timestamp monotonization ("changes committed at or after"),
    * so the hash pins both the TVF plumbing (a real relation: the
    * GROUP BY composes over it) and the boundary rule (ts 2500 lands
    * between the property commit and the update — exactly the update +
    * delete deliver, with delete images carrying post-update values).
    * Scale shape: analysis-time driver metadata picks the version range;
    * execution is bounded scans of each version's cdc files. */
  def q321TxLogTableChanges(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q321")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.append(s, table,
      docs.select(col("doc_id"), col("lang"), (col("doc_id") % 100).as("n"))
        .coalesce(4), commitTs = Some(1000L))
    graft.etl.TxLog.setProperties(table,
      Map(graft.etl.TxLog.CdfProperty -> "true"), commitTs = Some(2000L))
    graft.etl.TxLog.updateWhere(s, table, col("doc_id") % 5 === 0,
      Map("n" -> (col("n") + 1000)), commitTs = Some(3000L))
    graft.etl.TxLog.deleteWhere(s, table, col("doc_id") % 7 === 0,
      commitTs = Some(4000L))
    graft.sources.TxLogSqlDml.install(s)
    s.sql(s"SELECT ${graft.etl.TxLog.ChangeTypeCol} AS change_type, " +
      "count(*) AS n_rows, sum(n) AS sum_n, sum(doc_id) AS sum_id " +
      s"FROM table_changes('$table', '2500') " +
      "GROUP BY 1 ORDER BY 1")
  }

  // --------------- q322 IDENTITY columns (round 15)

  /** q322 — GENERATED ALWAYS AS IDENTITY under the oracle: two appends
    * that OMIT the column get monotone unique ids assigned
    * distributively (`watermark + step·monotonically_increasing_id()` —
    * scan-local, zero shuffle, gaps allowed, the production-identity
    * contract). Identity values are gap-nondeterministic BY DESIGN, so
    * the oracle pins the DETERMINISTIC properties: row count, id
    * UNIQUENESS across both commits (count distinct == count — the
    * watermark OCC guarantee), the start value (partition 0, row 0),
    * step ALIGNMENT of every id, and the payload sum. Scale shape: no
    * coordination beyond one watermark action per commit; assignment
    * never shuffles or counts the frame. */
  def q322TxLogIdentity(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q322")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.create(table,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_seq BIGINT, lang STRING, n_chars BIGINT"))
    graft.etl.TxLog.addIdentityColumn(table, "doc_seq",
      start = 1000L, step = 5L)
    graft.etl.TxLog.append(s, table,
      docs.select(col("lang"), col("n_chars")).coalesce(4))
    graft.etl.TxLog.append(s, table,
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("lang"), col("n_chars")).coalesce(2))
    graft.etl.TxLog.read(s, table).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("doc_seq")).as("n_ids"),
      min(col("doc_seq")).as("min_id"),
      sum(org.apache.spark.sql.functions
        .when((col("doc_seq") - 1000L) % 5L === 0, 0L).otherwise(1L))
        .as("misaligned"),
      sum(col("n_chars")).as("sum_chars"))
  }

  // --------------- q323 streaming admission control (round 16)

  /** q323 — bounded backlog draining (VERDICT r15 "what's missing" #2):
    * four commits land first, then an AvailableNow stream with
    * `maxVersionsPerTrigger=2` tails the table — the source's
    * SupportsAdmissionControl caps each micro-batch at two versions, so
    * the backlog arrives as exactly TWO non-empty batches (the
    * `n_batches` column pins the admission plan itself under the
    * oracle), and the union of batches is exactly-once equal to the
    * batch rollup. At 100 TB this is the difference between one
    * unbounded first batch over the whole accumulated history and a
    * paced drain sized to the cluster. */
  def q323TxLogAdmission(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val table = tempTable("graft-q323")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-q323-ckpt")
    val orders = Tables.orders(s, dir)
    (0 until 4).foreach { p =>
      graft.etl.TxLog.append(s, table, orders
        .filter(col("o_orderkey") % 4 === p)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice")))
    }
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.Row]())
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = s.readStream.format("graft.sources.TxLogSource")
      .option("maxVersionsPerTrigger", "2").load(table)
    val rowSchema = stream.schema
    stream.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        if (rows.nonEmpty) nBatches.incrementAndGet()
        rows.foreach(got.add); ()
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    deleteRec(ckpt)
    s.createDataFrame(new java.util.ArrayList(got), rowSchema)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        // cent-quantized on the binary double BEFORE the sum (the
        // round-11 cross-engine rule: never double->DECIMAL)
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("bigint"))
          .as("sum_cents"),
        lit(nBatches.get()).as("n_batches"))
      .orderBy(col("o_orderpriority"))
  }

  // --------------- q324 MERGE over IDENTITY columns (round 16)

  /** q324 — identity coverage on the MERGE verb (ADVICE r15 #1): the
    * initial load is staged single-partition in doc_id order, so its
    * assignment is fully deterministic (`id = 10 + 2·rank`), and the
    * oracle recomputes it with ROW_NUMBER. The merge then updates every
    * doc_id % 3 row and inserts a doc_id % 5 twin under shifted keys:
    * matched rows must INHERIT their exact prior id (the upsert-is-an-
    * update rule — `matched_id_sum`/`untouched_id_sum` pin this
    * bit-exactly), inserted rows draw fresh unique step-aligned ids
    * strictly past the pre-merge watermark (`inserted_past_wm`).
    * Scale shape: inherit is one column-pruned aggregate of only the
    * AFFECTED files broadcast-joined to the source; fresh assignment is
    * scan-local with zero shuffle. */
  def q324TxLogMergeIdentity(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q324")
    val docs = Tables.documents(s, dir)
    graft.etl.TxLog.create(table,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, k BIGINT, v BIGINT"))
    graft.etl.TxLog.addIdentityColumn(table, "id", start = 10L, step = 2L)
    graft.etl.TxLog.append(s, table,
      docs.select(col("doc_id").as("k"), col("n_chars").as("v"))
        .repartition(1).sortWithinPartitions(col("k")))
    val source = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("k"), (col("n_chars") + 7L).as("v"))
      .unionByName(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("k"), col("n_chars").as("v")))
    graft.etl.TxLog.merge(s, table, source, Seq("k"))
    graft.etl.TxLog.read(s, table).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("id")).as("n_ids"),
      sum(when(col("k") % 3 === 0 && col("k") < 1000000L, col("id")))
        .as("matched_id_sum"),
      sum(when(col("k") % 3 =!= 0 && col("k") < 1000000L, col("id")))
        .as("untouched_id_sum"),
      sum(when((col("id") - 10L) % 2L === 0, 0L).otherwise(1L))
        .as("misaligned"),
      (min(when(col("k") >= 1000000L, col("id"))) >
        max(when(col("k") < 1000000L, col("id"))))
        .cast("bigint").as("inserted_past_wm"),
      sum(col("v")).as("sum_v"))
  }

  // --------------- q325 filtered CDF read (round 16)

  /** q325 — the PRUNED change-feed read path (VERDICT r15 #3): a
    * multi-commit history (three appends, an update, a delete) read
    * through `table_changes` WITH a selective predicate. The cdc
    * sidecars and add-only insert files now list through a stats index
    * ([[graft.etl.StatsFileIndex]]), so the WHERE clause prunes whole
    * files at planning and folds non-matching `_change_type` branches
    * away at optimization — this query's oracle pins that the PRUNED
    * plan still returns the exact record (over-pruning would drop
    * rows and hash-mismatch). Round16CdfPruningSpec asserts the
    * skipping itself via scan metrics. */
  def q325TxLogCdfFiltered(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q325")
    val orders = Tables.orders(s, dir)
    graft.etl.TxLog.create(table,
      org.apache.spark.sql.types.StructType.fromDDL(
        "o_orderkey BIGINT, o_custkey BIGINT"))
    graft.etl.TxLog.setProperties(table,
      Map(graft.etl.TxLog.CdfProperty -> "true"))
    (0 until 3).foreach { p =>
      graft.etl.TxLog.append(s, table, orders
        .filter(col("o_orderkey") % 3 === p)
        .select(col("o_orderkey"), col("o_custkey")))
    }
    graft.etl.TxLog.updateWhere(s, table, col("o_orderkey") % 10 === 0,
      Map("o_custkey" -> (col("o_custkey") + 100L)))
    graft.etl.TxLog.deleteWhere(s, table, col("o_orderkey") % 9 === 0)
    graft.sources.TxLogSqlDml.install(s)
    s.sql(s"SELECT ${graft.etl.TxLog.ChangeTypeCol} AS change_type, " +
      "count(*) AS n_rows, sum(o_orderkey) AS sum_key, " +
      "sum(o_custkey) AS sum_cust " +
      s"FROM table_changes('$table', 1) " +
      "WHERE o_orderkey % 5 = 0 AND " +
      s"${graft.etl.TxLog.ChangeTypeCol} <> 'update_preimage' " +
      "GROUP BY 1 ORDER BY 1")
  }

  // --------------- q326 SQL INSERT into IDENTITY tables (round 16)

  /** q326 — the SQL surface of identity assignment (ADVICE r15 #3): the
    * table is created through the catalog's IDENTITY clause, and plain
    * `INSERT INTO (cols…)` statements OMIT the id column — the analyzer
    * fills it with explicit nulls, which the writer now treats as
    * omitted (all-null supply = assign) instead of refusing; two
    * inserts pin watermark continuity (ids unique across statements).
    * The oracle pins the deterministic properties: count, uniqueness,
    * the START value, step alignment, and the payload sum. */
  def q326TxLogSqlIdentity(s: SparkSession, dir: String): DataFrame = {
    val table = tempTable("graft-q326")
    val docs = Tables.documents(s, dir)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.sql(s"CREATE TABLE graft.`$table` (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 5 INCREMENT BY 3), " +
      "k BIGINT, v BIGINT)")
    // single-partition views make BOTH assignments fully deterministic
    // (partition 0, rows in scan order), so the oracle can pin the whole
    // id SUM — including the zero-gap watermark handoff between the two
    // statements (second base = first watermark + step, exactly)
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("n_chars")).coalesce(1)
      .createOrReplaceTempView("q326_even")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("n_chars")).coalesce(1)
      .createOrReplaceTempView("q326_odd")
    s.sql(s"INSERT INTO graft.`$table` (k, v) " +
      "SELECT doc_id, n_chars FROM q326_even")
    s.sql(s"INSERT INTO graft.`$table` (k, v) " +
      "SELECT doc_id, n_chars FROM q326_odd")
    graft.etl.TxLog.read(s, table).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("id")).as("n_ids"),
      min(col("id")).as("min_id"),
      sum(col("id")).as("id_sum"),
      sum(when((col("id") - 5L) % 3L === 0, 0L).otherwise(1L))
        .as("misaligned"),
      sum(col("v")).as("sum_v"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q326_txlog_sql_identity" -> (q326TxLogSqlIdentity _),
    "q325_txlog_cdf_filtered" -> (q325TxLogCdfFiltered _),
    "q324_txlog_merge_identity" -> (q324TxLogMergeIdentity _),
    "q323_txlog_admission" -> (q323TxLogAdmission _),
    "q322_txlog_identity" -> (q322TxLogIdentity _),
    "q321_txlog_table_changes" -> (q321TxLogTableChanges _),
    "q320_txlog_defaults" -> (q320TxLogDefaults _),
    "q319_txlog_merge_on_residual" -> (q319TxLogMergeOnResidual _),
    "q318_txlog_clause_evolution" -> (q318TxLogClauseEvolution _),
    "q317_txlog_merge_evolution" -> (q317TxLogMergeEvolution _),
    "q316_txlog_incremental_view" -> (q316TxLogIncrementalView _),
    "q315_txlog_change_feed" -> (q315TxLogChangeFeed _),
    "q314_txlog_merge_grammar" -> (q314TxLogMergeGrammar _),
    "q313_txlog_widen" -> (q313TxLogWiden _),
    "q312_txlog_properties" -> (q312TxLogProperties _),
    "q311_txlog_ctas" -> (q311TxLogCtas _),
    "q310_txlog_drop_column" -> (q310TxLogDropColumn _),
    "q309_txlog_native_sink" -> (q309TxLogNativeSink _),
    "q308_txlog_show_partitions" -> (q308TxLogShowPartitions _),
    "q307_txlog_optimize_where" -> (q307TxLogOptimizeWhere _),
    "q306_txlog_generated" -> (q306TxLogGenerated _),
    "q305_txlog_dynamic_overwrite" -> (q305TxLogDynamicOverwrite _),
    "q304_txlog_convert" -> (q304TxLogConvert _),
    "q303_txlog_catalog_travel" -> (q303TxLogCatalogTravel _),
    "q302_txlog_replace_where" -> (q302TxLogReplaceWhere _),
    "q301_txlog_partitioned" -> (q301TxLogPartitioned _),
    "q300_curation_pipeline" -> (q300CurationPipeline _),
    "q299_txlog_pipeline" -> (q299TxLogPipeline _),
    "q298_txlog_rename" -> (q298TxLogRename _),
    "q297_txlog_detail" -> (q297TxLogDetail _),
    "q295_txlog_stream_from" -> (q295TxLogStreamFrom _),
    "q294_txlog_zorder" -> (q294TxLogZorder _),
    "q293_txlog_bloom" -> (q293TxLogBloom _),
    "q291_txlog_clone" -> (q291TxLogClone _),
    "q290_txlog_restore_sql" -> (q290TxLogRestoreSql _),
    "q289_txlog_history" -> (q289TxLogHistory _),
    "q288_txlog_merge_delete" -> (q288TxLogMergeDelete _),
    "q287_txlog_travel_options" -> (q287TxLogTravelOptions _),
    "q286_txlog_sql_dml" -> (q286TxLogSqlDml _),
    "q285_txlog_erasure" -> (q285TxLogErasure _),
    "q278_txlog_constraints" -> (q278TxLogConstraints _),
    "q277_txlog_mor_delete" -> (q277TxLogMorDelete _),
    "q276_txlog_merge" -> (q276TxLogMerge _),
    "q275_txlog_cdc_stream" -> (q275TxLogCdcStream _),
    "q274_txlog_sql_insert" -> (q274TxLogSqlInsert _),
    "q273_txlog_asof_ts" -> (q273TxLogAsOfTs _),
    "q263_txlog_table" -> (q263TxLogView _),
    "q261_txlog_describe" -> (q261TxLogDescribe _),
    "q260_txlog_skipping" -> (q260TxLogSkipping _),
    "q259_txlog_evolution" -> (q259TxLogEvolution _),
    "q258_txlog_delete" -> (q258TxLogDelete _),
    "q250_txlog_cdc" -> (q250TxLogCdc _),
    "q249_txlog_timetravel" -> (q249TxLogTimeTravel _),
    "q220_merkle_diff" -> (q220MerkleDiff _),
    "q73_scd2" -> (q73Scd2 _),
    "q74_merge_upsert" -> (q74MergeUpsert _),
    "q75_incremental_agg" -> (q75IncrementalAgg _),
    "q76_zorder" -> (q76ZOrder _),
    "q77_histogram" -> (q77Histogram _),
    "q78_corr_exact" -> (q78CorrExact _),
    "q95_dq_checks" -> (q95DqChecks _),
    "q100_table_checksum" -> (q100TableChecksum _)
  )

  def oracles: Map[String, String] = Map(
    // the admission-controlled drain must equal the batch rollup AND
    // arrive as exactly two non-empty micro-batches (4 versions / 2 per
    // trigger — the n_batches constant pins the admission plan)
    "q323_txlog_admission" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(2 AS BIGINT) AS n_batches
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the single-partition doc_id-ordered load makes the initial
    // assignment exact (id = 10 + 2·rank); matched rows INHERIT those
    // ids bit-exactly, inserted rows only pin uniqueness/alignment/
    // past-watermark (gaps are the identity contract)
    "q324_txlog_merge_identity" ->
      """WITH l1 AS (SELECT doc_id AS k, CAST(n_chars AS BIGINT) AS v,
        |    10 + 2*(ROW_NUMBER() OVER (ORDER BY doc_id) - 1) AS id
        |  FROM documents),
        |ins AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 5 = 0)
        |SELECT
        |  CAST((SELECT count(*) FROM l1) + (SELECT count(*) FROM ins)
        |    AS BIGINT) AS n_rows,
        |  CAST((SELECT count(*) FROM l1) + (SELECT count(*) FROM ins)
        |    AS BIGINT) AS n_ids,
        |  CAST((SELECT sum(id) FROM l1 WHERE k % 3 = 0) AS BIGINT)
        |    AS matched_id_sum,
        |  CAST((SELECT sum(id) FROM l1 WHERE k % 3 <> 0) AS BIGINT)
        |    AS untouched_id_sum,
        |  CAST(0 AS BIGINT) AS misaligned,
        |  CAST(1 AS BIGINT) AS inserted_past_wm,
        |  CAST((SELECT sum(n_chars) + 7*count(*) FROM documents
        |          WHERE doc_id % 3 = 0)
        |      + (SELECT sum(n_chars) FROM documents WHERE doc_id % 3 <> 0)
        |      + (SELECT sum(n_chars) FROM ins) AS BIGINT) AS sum_v""".stripMargin,
    // the filtered feed recomputed as set algebra: inserts carry
    // at-append values, postimages the +100 update, deletes the
    // POST-update values (sequencing); preimages excluded by the WHERE
    "q325_txlog_cdf_filtered" ->
      """WITH base AS (SELECT o_orderkey AS k, CAST(o_custkey AS BIGINT) AS c
        |              FROM orders),
        |ins AS (SELECT 'insert' AS change_type, k, c
        |        FROM base WHERE k % 5 = 0),
        |post AS (SELECT 'update_postimage' AS change_type, k, c + 100 AS c
        |         FROM base WHERE k % 10 = 0),
        |del AS (SELECT 'delete' AS change_type, k,
        |          CASE WHEN k % 10 = 0 THEN c + 100 ELSE c END AS c
        |        FROM base WHERE k % 9 = 0 AND k % 5 = 0),
        |feed AS (SELECT * FROM ins UNION ALL SELECT * FROM post
        |         UNION ALL SELECT * FROM del)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS sum_key,
        |  CAST(sum(c) AS BIGINT) AS sum_cust
        |FROM feed GROUP BY change_type ORDER BY change_type""".stripMargin,
    // both single-partition SQL INSERTs assign deterministically
    // (partition 0, scan order) with a zero-gap watermark handoff, so
    // the id SUM itself is exact: sum over i=0..N-1 of (5 + 3i)
    "q326_txlog_sql_identity" ->
      """WITH n AS (SELECT count(*) AS n FROM documents)
        |SELECT CAST(n AS BIGINT) AS n_rows,
        |  CAST(n AS BIGINT) AS n_ids,
        |  CAST(5 AS BIGINT) AS min_id,
        |  CAST(5*n + 3*(n*(n-1)/2) AS BIGINT) AS id_sum,
        |  CAST(0 AS BIGINT) AS misaligned,
        |  CAST((SELECT sum(n_chars) FROM documents) AS BIGINT) AS sum_v
        |FROM n""".stripMargin,
    // identity values are gap-nondeterministic by design; the oracle
    // pins the deterministic properties (count, uniqueness, start,
    // alignment, payload)
    "q322_txlog_identity" ->
      """WITH t1 AS (SELECT lang, n_chars FROM documents),
        |t2 AS (SELECT lang, n_chars FROM documents WHERE doc_id % 3 = 0),
        |fin AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(1000 AS BIGINT) AS min_id,
        |  CAST(0 AS BIGINT) AS misaligned,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM fin""".stripMargin,
    // the expected at-or-after-2500 feed: the update's pre/post pairs and
    // the delete's images (carrying POST-update values — sequencing), the
    // append's inserts excluded by the timestamp bound
    "q321_txlog_table_changes" ->
      """WITH base AS (SELECT doc_id, doc_id % 100 AS n FROM documents),
        |pre AS (SELECT 'update_preimage' AS change_type, doc_id, n
        |        FROM base WHERE doc_id % 5 = 0),
        |post AS (SELECT 'update_postimage' AS change_type, doc_id,
        |           n + 1000 AS n
        |         FROM base WHERE doc_id % 5 = 0),
        |st1 AS (SELECT doc_id,
        |          CASE WHEN doc_id % 5 = 0 THEN n + 1000 ELSE n END AS n
        |        FROM base),
        |del AS (SELECT 'delete' AS change_type, doc_id, n
        |        FROM st1 WHERE doc_id % 7 = 0),
        |feed AS (SELECT * FROM pre UNION ALL SELECT * FROM post
        |         UNION ALL SELECT * FROM del)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM feed GROUP BY change_type ORDER BY change_type""".stripMargin,
    // the two write eras recomputed with an explicit NULL/7 branch:
    // pre-ALTER rows read null, post-SET-DEFAULT omitted columns fill
    "q320_txlog_defaults" ->
      """WITH t1 AS (SELECT doc_id, lang, CAST(NULL AS BIGINT) AS score
        |            FROM documents WHERE doc_id % 2 = 0),
        |t2 AS (SELECT doc_id + 1000000 AS doc_id, lang,
        |         CAST(7 AS BIGINT) AS score
        |       FROM documents WHERE doc_id % 3 = 0),
        |fin AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(COALESCE(score, 0)) AS BIGINT) AS sum_score,
        |  CAST(count(score) AS BIGINT) AS n_with_score
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // post-merge table recomputed as set algebra: matched rows carry
    // source n_chars into the NEW column, unfired target rows read NULL,
    // unmatched source rows insert; the cols_before/after probe pins the
    // versioned declaration
    "q318_txlog_clause_evolution" ->
      """WITH t AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        |fin AS (
        |  SELECT t.doc_id, t.lang, s.n_chars AS chars
        |  FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |  UNION ALL
        |  SELECT s.doc_id, 'ins' AS lang, s.n_chars AS chars
        |  FROM s LEFT JOIN t ON s.doc_id = t.doc_id WHERE t.doc_id IS NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(COALESCE(chars, 0)) AS BIGINT) AS sum_chars,
        |  CAST(count(chars) AS BIGINT) AS n_with_chars,
        |  CAST(2 AS BIGINT) AS cols_before, CAST(3 AS BIGINT) AS cols_after
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // the residual folds into the MATCH: a key-equal pair with n >= 60
    // leaves the target row unchanged AND inserts the source row — the
    // left joins below carry the residual in their ON conditions
    "q319_txlog_merge_on_residual" ->
      """WITH t AS (SELECT doc_id, lang, doc_id % 100 AS n
        |           FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, doc_id % 50 AS delta
        |      FROM documents WHERE doc_id % 3 = 0),
        |m AS (
        |  SELECT t.doc_id, t.lang,
        |    CASE WHEN s.doc_id IS NOT NULL THEN t.n + s.delta ELSE t.n END AS n
        |  FROM t LEFT JOIN s ON t.doc_id = s.doc_id AND t.n < 60),
        |i AS (
        |  SELECT s.doc_id, 'ins' AS lang, s.delta AS n
        |  FROM s LEFT JOIN t ON s.doc_id = t.doc_id AND t.n < 60
        |  WHERE t.doc_id IS NULL),
        |allr AS (SELECT * FROM m UNION ALL SELECT * FROM i)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM allr GROUP BY lang ORDER BY lang""".stripMargin,
    // post-merge table recomputed as set algebra: first-match-wins CASE
    // over the left join (delete guard shadows update guard), anti-join
    // union for the guarded inserts
    "q314_txlog_merge_grammar" ->
      """WITH t AS (SELECT doc_id, lang, doc_id % 100 AS n
        |           FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, doc_id % 50 AS delta
        |      FROM documents WHERE doc_id % 3 = 0),
        |m AS (
        |  SELECT t.doc_id,
        |    CASE WHEN s.doc_id IS NULL AND t.n < 3 THEN upper(t.lang)
        |         ELSE t.lang END AS lang,
        |    CASE WHEN s.doc_id IS NOT NULL AND NOT (t.n >= 80)
        |              AND s.delta >= 10 THEN t.n + s.delta
        |         ELSE t.n END AS n
        |  FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |  WHERE NOT (s.doc_id IS NOT NULL AND t.n >= 80)),
        |i AS (
        |  SELECT s.doc_id, 'ins' AS lang, s.delta AS n
        |  FROM s LEFT JOIN t ON s.doc_id = t.doc_id
        |  WHERE t.doc_id IS NULL AND s.delta > 40),
        |allr AS (SELECT * FROM m UNION ALL SELECT * FROM i)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM allr GROUP BY lang ORDER BY lang""".stripMargin,
    // post-evolution table recomputed: matched rows carry source
    // n_chars, unmatched source rows insert, survivors read NULL
    "q317_txlog_merge_evolution" ->
      """WITH t AS (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0),
        |fin AS (
        |  SELECT t.doc_id,
        |    CASE WHEN s.doc_id IS NOT NULL THEN s.lang ELSE t.lang END AS lang,
        |    s.n_chars
        |  FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |  UNION ALL
        |  SELECT s.doc_id, s.lang, s.n_chars
        |  FROM s LEFT JOIN t ON s.doc_id = t.doc_id WHERE t.doc_id IS NULL)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS sum_chars,
        |  CAST(count(n_chars) AS BIGINT) AS n_with_chars,
        |  CAST(2 AS BIGINT) AS cols_before, CAST(3 AS BIGINT) AS cols_after
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // the maintained view ≡ the final table aggregated from scratch,
    // via the same sequential op chain (update, delete, append)
    "q316_txlog_incremental_view" ->
      """WITH base AS (SELECT doc_id, lang, doc_id % 100 AS n FROM documents),
        |st1 AS (SELECT doc_id, lang,
        |          CASE WHEN doc_id % 5 = 0 THEN n + 1000 ELSE n END AS n
        |        FROM base),
        |st2 AS (SELECT * FROM st1 WHERE doc_id % 7 <> 0),
        |app AS (SELECT doc_id + 1000000 AS doc_id, lang, 7 AS n
        |        FROM base WHERE doc_id % 9 = 0),
        |fin AS (SELECT * FROM st2 UNION ALL SELECT * FROM app)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_n
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,
    // the expected row-level record, the three DML ops applied
    // SEQUENTIALLY (delete images carry post-update values)
    "q315_txlog_change_feed" ->
      """WITH base AS (SELECT doc_id, doc_id % 100 AS n FROM documents),
        |pre AS (SELECT 'update_preimage' AS change_type, doc_id, n
        |        FROM base WHERE doc_id % 5 = 0),
        |post AS (SELECT 'update_postimage' AS change_type, doc_id,
        |                n + 1000 AS n
        |         FROM base WHERE doc_id % 5 = 0),
        |st1 AS (SELECT doc_id,
        |          CASE WHEN doc_id % 5 = 0 THEN n + 1000 ELSE n END AS n
        |        FROM base),
        |del1 AS (SELECT 'delete' AS change_type, doc_id, n
        |         FROM st1 WHERE doc_id % 7 = 0),
        |del2 AS (SELECT 'delete' AS change_type, doc_id, n
        |         FROM st1 WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
        |feed AS (SELECT * FROM pre UNION ALL SELECT * FROM post
        |         UNION ALL SELECT * FROM del1 UNION ALL SELECT * FROM del2)
        |SELECT change_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n) AS BIGINT) AS sum_n,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM feed GROUP BY change_type ORDER BY change_type""".stripMargin,
    // the metadata listing recomputed: every priority has 2 files; rows
    // are 2 per partition except the DV-erased 5-LOW at 0
    // mixed-era totals recomputed from raw nation + the wide-era row;
    // pruning and type evidence constants
    "q313_txlog_widen" ->
      """SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
        |  CAST(sum(n_nationkey) + 9999999999 AS BIGINT) AS sum_key,
        |  CAST(1 AS BIGINT) AS kept, CAST(1 AS BIGINT) AS skipped,
        |  'bigint' AS new_type
        |FROM nation""".stripMargin,
    // live property set after set/overwrite/unset; one value grounded in
    // nation's row count; dry-run evidence constants
    "q312_txlog_properties" ->
      """SELECT * FROM (
        |  SELECT 'n_nations' AS key, CAST(count(*) AS VARCHAR) AS value,
        |    CAST(1 AS BIGINT) AS preview_files, TRUE AS preview_intact
        |  FROM nation
        |  UNION ALL
        |  SELECT 'tier', 'gold', CAST(1 AS BIGINT), TRUE)
        |ORDER BY key""".stripMargin,
    // CTAS content ≡ the rollup the oracle recomputes; truncate evidence
    "q311_txlog_ctas" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  TRUE AS truncated_empty, TRUE AS second_noop
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the drop was metadata-only: rollup recomputed from raw orders
    // (sans the dropped column) + the appended row; evidence constants
    "q310_txlog_drop_column" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  'DROP COLUMN' AS dropped_op, CAST(2 AS BIGINT) AS n_files,
        |  CAST(3 AS BIGINT) AS pre_drop_cols,
        |  CAST(2 AS BIGINT) AS post_drop_cols
        |FROM orders GROUP BY o_orderpriority
        |UNION ALL
        |SELECT '9-ADDED', CAST(42 AS BIGINT), 'DROP COLUMN',
        |  CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT)
        |ORDER BY o_orderpriority""".stripMargin,
    // the native sink ingested every event exactly once; the rollup is
    // recomputed from raw events, evidence columns pin idempotence
    "q309_txlog_native_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(0 AS BIGINT) AS second_run_added,
        |  TRUE AS markers_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q308_txlog_show_partitions" ->
      """SELECT 'o_orderpriority=' || o_orderpriority AS partition,
        |  CAST(2 AS BIGINT) AS numFiles,
        |  CAST(CASE WHEN o_orderpriority = '5-LOW' THEN 0 ELSE 2 END
        |    AS BIGINT) AS numRows
        |FROM (SELECT DISTINCT o_orderpriority FROM orders)
        |ORDER BY partition""".stripMargin,
    // scoped compaction rearranges, never changes: each priority's count
    // twice (two appends), 8 files untouched, urgent compacted to 1
    "q307_txlog_optimize_where" ->
      """SELECT o_orderpriority,
        |  CAST(2 * count(*) AS BIGINT) AS n_orders,
        |  CAST(8 AS BIGINT) AS untouched_files,
        |  CAST(1 AS BIGINT) AS urgent_files_after
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // the generated day == CAST(ts AS DATE) recomputed raw; first day's
    // rollup, 1 partition kept of |days|, lying write rejected
    "q306_txlog_generated" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type FROM events),
        |  tgt AS (SELECT min(day) AS day FROM e),
        |  nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n FROM e)
        |SELECT CAST(e.day AS VARCHAR) AS day, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(1 AS BIGINT) AS files_kept,
        |  (SELECT n - 1 FROM nd) AS files_skipped,
        |  CAST(TRUE AS BOOLEAN) AS lying_write_rejected
        |FROM e, tgt WHERE e.day = tgt.day
        |GROUP BY e.day, e.event_type
        |ORDER BY event_type""".stripMargin,
    // adopted contents == the rollup the plain writes held, plus the
    // post-adopt synthetic row; 2 files registered in place, 2 versions
    "q304_txlog_convert" ->
      """SELECT o_orderstatus, n_orders,
        |  CAST(2 AS BIGINT) AS files_registered,
        |  CAST(TRUE AS BOOLEAN) AS adopted_in_place,
        |  CAST(2 AS BIGINT) AS version_count
        |FROM (
        |  SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1
        |  UNION ALL SELECT '9-SYNTH', CAST(42 AS BIGINT))
        |ORDER BY o_orderstatus""".stripMargin,
    // dynamic overwrite recomputed with set algebra: urgent+high shifted,
    // the other three priorities byte-untouched
    "q305_txlog_dynamic_overwrite" ->
      """WITH r AS (SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT o_orderpriority,
        |  CAST(CASE WHEN o_orderpriority <= '2-HIGH'
        |       THEN n_orders + 200000 ELSE n_orders END AS BIGINT)
        |    AS n_orders,
        |  CAST(3 AS BIGINT) AS untouched_files,
        |  CAST(2 AS BIGINT) AS replaced_files
        |FROM r ORDER BY o_orderpriority""".stripMargin,
    // three time-travel phases recomputed with set algebra: v1 and the
    // mid-timestamp read see the first commit only, latest sees both
    "q303_txlog_catalog_travel" ->
      """WITH r AS (SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT phase, o_orderpriority, n_orders FROM (
        |  SELECT 'v1' AS phase, * FROM r WHERE o_orderpriority <= '2-HIGH'
        |  UNION ALL
        |  SELECT 'ts_mid', * FROM r WHERE o_orderpriority <= '2-HIGH'
        |  UNION ALL
        |  SELECT 'latest', * FROM r)
        |ORDER BY phase, o_orderpriority""".stripMargin,
    // partition pruning recomputed from raw data: the target language's
    // slice rollup, 1 file kept, |langs|-1 skipped, one file per lang
    "q301_txlog_partitioned" ->
      """WITH tgt AS (SELECT min(lang) AS lang FROM documents),
        |  nl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n
        |         FROM documents)
        |SELECT d.lang, CAST(d.doc_id % 5 AS BIGINT) AS slice,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(1 AS BIGINT) AS files_kept,
        |  (SELECT n - 1 FROM nl) AS files_skipped,
        |  (SELECT n FROM nl) AS partition_files
        |FROM documents d, tgt WHERE d.lang = tgt.lang
        |GROUP BY d.lang, d.doc_id % 5
        |ORDER BY slice""".stripMargin,
    // region swap recomputed with set algebra: the urgent partition's
    // shifted rollup + every other priority untouched; 4 files never
    // rewritten, exactly 1 replaced
    "q302_txlog_replace_where" ->
      """WITH r AS (SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT o_orderpriority,
        |  CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |       THEN n_orders + 100000 ELSE n_orders END AS BIGINT)
        |    AS n_orders,
        |  CAST(4 AS BIGINT) AS untouched_files,
        |  CAST(1 AS BIGINT) AS replaced_files
        |FROM r ORDER BY o_orderpriority""".stripMargin,
    // full loop: stream-ingested rows CDC-read back == raw events;
    // second_run_added = 0 is the exactly-once idempotence pin
    "q299_txlog_pipeline" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(0 AS BIGINT) AS second_run_added
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // the composed pipeline re-derived stage by stage: plant, filter,
    // dedup (min doc_id per text), shard, manifest + drop ledger
    "q300_curation_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, n_chars FROM documents
        |  WHERE doc_id % 40 = 0),
        |quality AS (SELECT * FROM corpus WHERE n_chars >= 200),
        |survivors AS (
        |  SELECT text, min(doc_id) AS doc_id, min(n_chars) AS n_chars
        |  FROM quality GROUP BY text),
        |ledger AS (SELECT
        |  (SELECT count(*) FROM corpus) - (SELECT count(*) FROM quality)
        |    AS n_quality_dropped,
        |  (SELECT count(*) FROM quality) - (SELECT count(*) FROM survivors)
        |    AS n_dup_dropped)
        |SELECT CAST(doc_id % 8 AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST((SELECT n_quality_dropped FROM ledger) AS BIGINT)
        |    AS n_quality_dropped,
        |  CAST((SELECT n_dup_dropped FROM ledger) AS BIGINT)
        |    AS n_dup_dropped
        |FROM survivors GROUP BY 1 ORDER BY shard""".stripMargin,
    // the rollup under the renamed column + the post-rename append;
    // n_files = 2 pins the rename as metadata-only
    "q298_txlog_rename" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, order_count,
        |  'RENAME COLUMN' AS renamed_op, CAST(2 AS BIGINT) AS n_files
        |FROM (SELECT * FROM r
        |      UNION ALL SELECT '9-RENAMED', CAST(42 AS BIGINT))
        |ORDER BY o_orderpriority""".stripMargin,
    // numRows / numDeletedRows recomputed from raw orders; the rest is
    // protocol state (5 commits, 2 files, 1 constraint, 1 bloom column)
    "q297_txlog_detail" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey % 2 AS BIGINT) AS parity
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(5 AS BIGINT) AS numVersions,
        |  CAST(2 AS BIGINT) AS numFiles,
        |  (SELECT CAST(count(*) AS BIGINT) FROM r
        |     WHERE o_orderpriority <> '1-URGENT') AS numRows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM r
        |     WHERE o_orderpriority = '1-URGENT') AS numDeletedRows,
        |  CAST(1 AS INTEGER) AS numConstraints,
        |  'o_orderpriority' AS bloomCols,
        |  '' AS partitionColumns""".stripMargin,
    // probe row counts recomputed from raw orders through the same
    // synthetic key derivation; pruned_files TRUE per probe is the
    // both-dimensions clustering pin (exact skip counts unemitted —
    // range boundaries are quantile-sampled)
    "q294_txlog_zorder" ->
      """WITH k AS (
        |  SELECT o_orderkey % 1000 AS a, o_custkey % 1000 AS b
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'a_stripe' AS probe,
        |    (SELECT CAST(count(*) AS BIGINT) FROM k WHERE a < 125)
        |      AS n_rows,
        |    CAST(8 AS BIGINT) AS files_total,
        |    CAST(TRUE AS BOOLEAN) AS pruned_files
        |  UNION ALL
        |  SELECT 'b_stripe',
        |    (SELECT CAST(count(*) AS BIGINT) FROM k WHERE b < 125),
        |    CAST(8 AS BIGINT), TRUE
        |  UNION ALL
        |  SELECT 'corner',
        |    (SELECT CAST(count(*) AS BIGINT) FROM k
        |       WHERE a < 250 AND b < 250),
        |    CAST(8 AS BIGINT), TRUE)
        |ORDER BY probe""".stripMargin,
    // startingVersion=2 delivers versions 2..3 only: slices 1 and 2
    "q295_txlog_stream_from" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(2 AS BIGINT) AS n_slices
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // keys = ranks 100-115 of the sorted key set (same derivation both
    // sides); n_rows = exact per-key count; bloom_effective TRUE is the
    // aggregate skipping pin (per-probe counts stay unemitted — bloom
    // false positives may keep a file, never drop one)
    "q293_txlog_bloom" ->
      """WITH k AS (
        |  SELECT o_orderkey FROM orders ORDER BY o_orderkey
        |  LIMIT 16 OFFSET 100)
        |SELECT k.o_orderkey,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     WHERE o.o_orderkey = k.o_orderkey) AS n_rows,
        |  CAST(2 AS BIGINT) AS files_total,
        |  CAST(TRUE AS BOOLEAN) AS bloom_effective
        |FROM k ORDER BY o_orderkey""".stripMargin,
    // src = rollup minus URGENT (DV) minus LOW (post-clone CoW delete);
    // clone = rollup minus URGENT plus its own appended row. Version
    // counts: src 3 (append, DV delete, CoW delete), clone 2 (clone,
    // append) — the independence contract in two integers.
    "q291_txlog_clone" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT phase, o_orderpriority, n_orders,
        |  CAST(3 AS BIGINT) AS src_versions,
        |  CAST(2 AS BIGINT) AS clone_versions
        |FROM (
        |  SELECT 'src' AS phase, o_orderpriority, n_orders FROM r
        |  WHERE o_orderpriority NOT IN ('1-URGENT', '5-LOW')
        |  UNION ALL
        |  SELECT 'clone', o_orderpriority, n_orders FROM r
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT 'clone', '9-CLONE', CAST(42 AS BIGINT))
        |ORDER BY phase, o_orderpriority""".stripMargin,
    // operations/timestamps/dataChange are protocol constants; row counts
    // per version are recomputed from raw orders (v5 = the restored v2)
    "q289_txlog_history" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey % 2 AS BIGINT) AS parity
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT
        |  (SELECT count(*) FROM r WHERE parity = 0) AS v1,
        |  (SELECT count(*) FROM r) AS v2,
        |  (SELECT count(*) FROM r WHERE o_orderpriority <> '3-MEDIUM') AS v3)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(1000 AS BIGINT)
        |      AS commit_ts, 'WRITE' AS operation,
        |    CAST(TRUE AS BOOLEAN) AS data_change, v1 AS n_rows FROM c
        |  UNION ALL SELECT 2, 2000, 'WRITE', TRUE, v2 FROM c
        |  UNION ALL SELECT 3, 3000, 'DELETE', TRUE, v3 FROM c
        |  UNION ALL SELECT 4, 4000, 'OPTIMIZE', FALSE, v3 FROM c
        |  UNION ALL SELECT 5, 5000, 'RESTORE', TRUE, v2 FROM c)
        |ORDER BY version""".stripMargin,
    // restored_to = 1 (ts 1500 resolves the first commit), committed = 3
    // (the restore is a NEW version), version_count = 3
    "q290_txlog_restore_sql" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT phase, o_orderpriority, n_orders,
        |  CAST(1 AS BIGINT) AS restored_to,
        |  CAST(3 AS BIGINT) AS committed_v,
        |  CAST(3 AS BIGINT) AS version_count
        |FROM (
        |  SELECT 'post_delete' AS phase, o_orderpriority, n_orders FROM r
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL
        |  SELECT 'post_restore', o_orderpriority, n_orders FROM r)
        |ORDER BY phase, o_orderpriority""".stripMargin,
    // version_count = 3: two appends + one MERGE-DELETE statement;
    // file_untouched TRUE is the file-pruning guarantee itself
    "q288_txlog_merge_delete" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(3 AS BIGINT) AS version_count,
        |  CAST(TRUE AS BOOLEAN) AS file_untouched
        |FROM orders WHERE o_orderpriority > '2-HIGH'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // version_count = 4 is the statement↔commit contract: 1 append + 3
    // SQL statements; '1-URGENT' lands as 777 whether matched or inserted
    "q286_txlog_sql_dml" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1),
        |d AS (SELECT * FROM r WHERE o_orderpriority <> '3-MEDIUM'),
        |u AS (SELECT o_orderpriority,
        |        CASE WHEN o_orderpriority <= '2-HIGH' THEN n_orders + 5
        |             ELSE n_orders END AS n_orders FROM d),
        |m AS (
        |  SELECT o_orderpriority, n_orders FROM u
        |  WHERE o_orderpriority <> '1-URGENT'
        |  UNION ALL SELECT '1-URGENT', CAST(777 AS BIGINT)
        |  UNION ALL SELECT '9-SQL', CAST(42 AS BIGINT))
        |SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(4 AS BIGINT) AS version_count
        |FROM m ORDER BY o_orderpriority""".stripMargin,
    "q287_txlog_travel_options" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey % 2 AS BIGINT) AS parity,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT 'v1' AS probe, parity, o_orderpriority, n_orders FROM r
        |  WHERE parity = 0
        |  UNION ALL
        |  SELECT 'ts1500', parity, o_orderpriority, n_orders FROM r
        |  WHERE parity = 0
        |  UNION ALL
        |  SELECT 'ts2000', parity, o_orderpriority, n_orders FROM r)
        |ORDER BY probe, parity, o_orderpriority""".stripMargin,
    // files_purged = 2 is protocol-derived: two coalesce(1) appends, both
    // hold subject rows, both rewrite under the delete, retain-1 vacuum
    // unlinks exactly the two originals; readable = 0 is the physical
    // erasure guarantee itself
    "q285_txlog_erasure" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(2 AS BIGINT) AS files_purged,
        |  CAST(0 AS BIGINT) AS deleted_rows_readable
        |FROM documents WHERE doc_id % 7 <> 0
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q278_txlog_constraints" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(1 AS BIGINT) AS n_constraints,
        |  CAST(0 AS BIGINT) AS rejected_rows_visible
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q277_txlog_mor_delete" ->
      """SELECT *, CAST(TRUE AS BOOLEAN) AS zero_rewrite FROM (
        |  SELECT 'pre_delete' AS phase, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'post_delete' AS phase, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang)
        |ORDER BY phase, lang""".stripMargin,
    "q276_txlog_merge" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n_orders,
        |  CAST(3 AS BIGINT) AS version_count FROM (
        |  SELECT o_orderpriority, n_orders + 1000 AS n_orders FROM r
        |  WHERE o_orderpriority <= '2-HIGH'
        |  UNION ALL
        |  SELECT o_orderpriority, n_orders FROM r
        |  WHERE o_orderpriority > '2-HIGH'
        |  UNION ALL
        |  SELECT '9-SYNTH', CAST(42 AS BIGINT))
        |ORDER BY o_orderpriority""".stripMargin,
    "q275_txlog_cdc_stream" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_orderkey % 3) AS BIGINT) AS n_slices
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q274_txlog_sql_insert" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey % 2 AS BIGINT) AS parity,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, parity, n_orders,
        |  CAST(2 AS BIGINT) AS version_count
        |FROM r ORDER BY parity, o_orderpriority""".stripMargin,
    "q273_txlog_asof_ts" ->
      """WITH r AS (
        |  SELECT o_orderpriority, CAST(o_orderkey % 2 AS BIGINT) AS parity,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1500 AS BIGINT) AS probe_ts, parity, o_orderpriority,
        |    n_orders FROM r WHERE parity = 0
        |  UNION ALL
        |  SELECT CAST(2000 AS BIGINT), parity, o_orderpriority, n_orders FROM r
        |  UNION ALL
        |  SELECT CAST(99999 AS BIGINT), parity, o_orderpriority, n_orders FROM r)
        |ORDER BY probe_ts, parity, o_orderpriority""".stripMargin,
    "q263_txlog_table" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT year(o_orderdate)) AS BIGINT) AS n_years
        |FROM orders
        |WHERE o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q261_txlog_describe" ->
      """SELECT 'o_orderdate' AS col_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nulls,
        |  CAST(epoch_us(min(o_orderdate)) AS VARCHAR) AS min_val,
        |  CAST(epoch_us(max(o_orderdate)) AS VARCHAR) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderkey',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  CAST(min(o_orderkey) AS VARCHAR),
        |  CAST(max(o_orderkey) AS VARCHAR)
        |FROM orders
        |ORDER BY col_name""".stripMargin,
    "q260_txlog_skipping" ->
      """WITH b AS (
        |  SELECT CASE WHEN year(o_orderdate) <= 1996 THEN 0
        |              WHEN year(o_orderdate) <= 1998 THEN 1
        |              WHEN year(o_orderdate) = 1999 THEN 2
        |              ELSE 3 END AS bucket,
        |         o_orderkey, o_orderdate
        |  FROM orders),
        |s AS (SELECT bucket, min(o_orderdate) AS mind, min(o_orderkey) AS mink
        |      FROM b GROUP BY bucket)
        |SELECT 'key_le_1000' AS probe,
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderkey <= 1000) AS n_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s WHERE mink <= 1000)
        |    AS files_kept,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s WHERE mink > 1000)
        |    AS files_skipped
        |UNION ALL
        |SELECT 'time_lt_cut',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_orderdate < TIMESTAMP '1997-06-01'),
        |  (SELECT CAST(count(*) AS BIGINT) FROM s
        |     WHERE mind < TIMESTAMP '1997-06-01'),
        |  (SELECT CAST(count(*) AS BIGINT) FROM s
        |     WHERE mind >= TIMESTAMP '1997-06-01')
        |ORDER BY probe""".stripMargin,
    "q259_txlog_evolution" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pre_evolution,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_evolved,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE 0 END) AS BIGINT)
        |    AS evolved_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q258_txlog_delete" ->
      """SELECT * FROM (
        |  SELECT 'pre_delete' AS phase, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'post_delete' AS phase, lang,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang)
        |ORDER BY phase, lang""".stripMargin,
    "q250_txlog_cdc" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_orderkey % 3) AS BIGINT) AS n_batches
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q249_txlog_timetravel" ->
      """WITH r AS (
        |  SELECT o_orderkey % 2 AS parity, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(1 AS BIGINT) AS version, CAST(parity AS BIGINT) AS parity,
        |  o_orderpriority, n_orders
        |FROM r WHERE parity = 0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(parity AS BIGINT), o_orderpriority,
        |  n_orders
        |FROM r
        |ORDER BY version, parity, o_orderpriority""".stripMargin,
    "q220_merkle_diff" ->
      s"""WITH h AS (
         |  SELECT l_orderkey % $MerkleBuckets AS bucket, l_shipdate,
         |    CAST(('0x' || substr(md5(concat_ws('|',
         |      l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |      CAST(l_quantity AS DECIMAL(12,2)),
         |      CAST(l_extendedprice AS DECIMAL(14,2)),
         |      l_returnflag, l_linestatus,
         |      epoch_us(l_shipdate))), 1, 15)) AS BIGINT) AS rh
         |  FROM lineitem),
         |a AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows_a,
         |    CAST(CAST(sum(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         |      AS checksum_a
         |  FROM h GROUP BY bucket),
         |b AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows_b,
         |    CAST(CAST(sum(CAST(rh AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR)
         |      AS checksum_b
         |  FROM h WHERE l_shipdate < TIMESTAMP '$MerkleCutoff'
         |  GROUP BY bucket)
         |SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         |  COALESCE(n_rows_a, 0) AS n_rows_a,
         |  COALESCE(n_rows_b, 0) AS n_rows_b,
         |  COALESCE(checksum_a, '0') AS checksum_a,
         |  COALESCE(checksum_b, '0') AS checksum_b,
         |  (COALESCE(n_rows_a, 0) <> COALESCE(n_rows_b, 0)
         |    OR COALESCE(checksum_a, '0') <> COALESCE(checksum_b, '0')) AS differs
         |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
         |ORDER BY 1""".stripMargin,
    "q100_table_checksum" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST(('0x' || substr(md5(concat_ws('|',
        |      l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |      CAST(l_quantity AS DECIMAL(12,2)),
        |      CAST(l_extendedprice AS DECIMAL(14,2)),
        |      l_returnflag, l_linestatus,
        |      epoch_us(l_shipdate))), 1, 15)) AS BIGINT) AS DECIMAL(38,0)))
        |    AS VARCHAR) AS checksum
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q95_dq_checks" ->
      """SELECT 'orders_pk_unique' AS "check",
        |  CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
        |FROM orders
        |UNION ALL
        |SELECT 'orders_custkey_not_null',
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_fk_orders',
        |  CAST(count(*) AS BIGINT)
        |FROM lineitem WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL
        |SELECT 'lineitem_quantity_range',
        |  CAST(sum(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_totalprice_positive',
        |  CAST(sum(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |ORDER BY "check"""".stripMargin,
    "q73_scd2" ->
      """WITH lagged AS (
        |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |changes AS (
        |  SELECT * FROM lagged
        |  WHERE prev IS NULL OR prev <> o_orderpriority)
        |SELECT o_custkey, o_orderpriority, o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS INT) AS version
        |FROM changes
        |ORDER BY o_custkey, version""".stripMargin,
    "q74_merge_upsert" ->
      """WITH t AS (
        |  SELECT c_custkey, c_name AS t_name, c_acctbal AS t_bal
        |  FROM customer WHERE c_nationkey < 13),
        |s AS (
        |  SELECT c_custkey, c_name AS s_name, c_acctbal + 100.0 AS s_bal
        |  FROM customer WHERE c_nationkey >= 10)
        |SELECT COALESCE(t.c_custkey, s.c_custkey) AS c_custkey,
        |  COALESCE(s_name, t_name) AS c_name,
        |  COALESCE(s_bal, t_bal) AS c_acctbal,
        |  CASE WHEN t.c_custkey IS NOT NULL AND s.c_custkey IS NOT NULL THEN 'updated'
        |       WHEN s.c_custkey IS NOT NULL THEN 'inserted'
        |       ELSE 'retained' END AS merge_action
        |FROM t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q75_incremental_agg" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "q76_zorder" ->
      """WITH s0 AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    l_partkey % 65536 AS x0, l_suppkey % 65536 AS y0
        |  FROM lineitem WHERE l_orderkey <= 400),
        |s1 AS (SELECT *, (x0 | (x0 << 8)) & 16711935 AS x1,
        |               (y0 | (y0 << 8)) & 16711935 AS y1 FROM s0),
        |s2 AS (SELECT *, (x1 | (x1 << 4)) & 252645135 AS x2,
        |               (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT *, (x2 | (x2 << 2)) & 858993459 AS x3,
        |               (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |s4 AS (SELECT *, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |               (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(x4 | (y4 << 1) AS BIGINT) AS zval
        |FROM s4
        |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin,
    "q77_histogram" ->
      """SELECT CAST(floor(l_extendedprice / 6000.0) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS total,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q78_corr_exact" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(floor(l_quantity) AS BIGINT)) AS sx_hi,
        |    sum(CAST(floor((l_quantity - floor(l_quantity)) * 1e6 + 0.5) AS BIGINT)) AS sx_lo,
        |    sum(CAST(floor(l_extendedprice) AS BIGINT)) AS sy_hi,
        |    sum(CAST(floor((l_extendedprice - floor(l_extendedprice)) * 1e6 + 0.5) AS BIGINT)) AS sy_lo,
        |    sum(CAST(floor(l_quantity * l_quantity) AS BIGINT)) AS sxx_hi,
        |    sum(CAST(floor((l_quantity * l_quantity - floor(l_quantity * l_quantity)) * 1e6 + 0.5) AS BIGINT)) AS sxx_lo,
        |    sum(CAST(floor(l_extendedprice * l_extendedprice) AS BIGINT)) AS syy_hi,
        |    sum(CAST(floor((l_extendedprice * l_extendedprice - floor(l_extendedprice * l_extendedprice)) * 1e6 + 0.5) AS BIGINT)) AS syy_lo,
        |    sum(CAST(floor(l_quantity * l_extendedprice) AS BIGINT)) AS sxy_hi,
        |    sum(CAST(floor((l_quantity * l_extendedprice - floor(l_quantity * l_extendedprice)) * 1e6 + 0.5) AS BIGINT)) AS sxy_lo
        |  FROM lineitem GROUP BY l_returnflag),
        |mm AS (
        |  SELECT l_returnflag, n,
        |    CAST(sx_hi AS DOUBLE) + CAST(sx_lo AS DOUBLE) / 1e6 AS sx,
        |    CAST(sy_hi AS DOUBLE) + CAST(sy_lo AS DOUBLE) / 1e6 AS sy,
        |    CAST(sxx_hi AS DOUBLE) + CAST(sxx_lo AS DOUBLE) / 1e6 AS sxx,
        |    CAST(syy_hi AS DOUBLE) + CAST(syy_lo AS DOUBLE) / 1e6 AS syy,
        |    CAST(sxy_hi AS DOUBLE) + CAST(sxy_lo AS DOUBLE) / 1e6 AS sxy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
        |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
        |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price
        |FROM mm ORDER BY l_returnflag""".stripMargin
  )
}

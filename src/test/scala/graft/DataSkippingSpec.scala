package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.{TxLog, TxStats}

/** Data skipping over TxLog's commit-log file stats: pruning must be
  * exactly `read(...).filter(cond)` on every predicate shape (equality
  * with the result guaranteed by construction — readWhere re-filters
  * survivors — so what these tests PIN is that pruning actually fires
  * where it should, never drops a matching file, and degrades to
  * keep-everything on unsupported shapes and stats-less logs). */
class DataSkippingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("skipping-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-skip").resolve("t").toString

  /** Three single-file appends with disjoint id ranges and distinct
    * langs; ids 200-299 carry null score, lang null on id%50==0. */
  private def rangedTable(): String = {
    import spark.implicits._
    val t = tmp()
    Seq(0, 1, 2).foreach { b =>
      val df = (b * 100 until (b + 1) * 100).map { i =>
        (i.toLong,
          if (i % 50 == 0) null else Seq("de", "en", "fr")(b),
          if (b == 2) null else java.lang.Double.valueOf(i / 10.0))
      }.toDF("id", "lang", "score").coalesce(1)
      TxLog.append(spark, t, df)
    }
    t
  }

  private def check(t: String, cond: Column,
                    expectSkipped: Option[Int] = None): Unit = {
    val pr = TxLog.prune(spark, t, cond)
    expectSkipped.foreach(n => assert(pr.skipped.size == n,
      s"expected $n skipped, got ${pr.skipped.size} for $cond"))
    val got = TxLog.readWhere(spark, t, cond)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    val want = TxLog.read(spark, t).filter(cond)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, s"readWhere mismatch for $cond")
  }

  test("range and equality predicates prune disjoint-range files") {
    val t = rangedTable()
    check(t, col("id") === 150L, expectSkipped = Some(2))
    check(t, col("id") < 100L, expectSkipped = Some(2))
    check(t, col("id") >= 250L, expectSkipped = Some(2))
    check(t, col("id") > 99L && col("id") < 201L, expectSkipped = Some(1))
    check(t, col("id") === 150L || col("id") === 250L, expectSkipped = Some(1))
    check(t, lit(75L) > col("id"), expectSkipped = Some(2)) // literal-left
    check(t, col("id").isin(5L, 7L), expectSkipped = Some(2))
    // out-of-range everywhere: every file skipped, empty result, schema kept
    val pr = TxLog.prune(spark, t, col("id") === 999L)
    assert(pr.kept.isEmpty && pr.skipped.size == 3)
    val empty = TxLog.readWhere(spark, t, col("id") === 999L)
    assert(empty.count() == 0 &&
      empty.columns.toSeq == Seq("id", "lang", "score"))
  }

  test("string, double, null and negation predicates stay exact") {
    val t = rangedTable()
    check(t, col("lang") === "en", expectSkipped = Some(2))
    check(t, col("lang") < "en", expectSkipped = Some(2)) // only "de" file
    check(t, col("lang").startsWith("f"), expectSkipped = Some(2))
    check(t, col("score") > 15.0, expectSkipped = Some(2)) // b2 all-null too
    check(t, col("score").isNull, expectSkipped = Some(2)) // only b2 has nulls
    check(t, col("lang").isNull, expectSkipped = Some(0))  // every file has one
    check(t, !(col("id") < 100L), expectSkipped = Some(1))
    // three-valued NOT: the all-"en" file has no FALSE row (matches are
    // true, nulls are null) — provably skippable, and the evaluator sees it
    check(t, not(col("lang") === "en"), expectSkipped = Some(1))
    // int literal comparison against long column (analyzer casts literal)
    check(t, col("id") === 150, expectSkipped = Some(2))
    // >10 values: the optimizer converts In to InSet — separate code path
    check(t, col("id").isin(5L to 16L: _*), expectSkipped = Some(2))
    check(t, col("id").isin(105L to 116L: _*), expectSkipped = Some(2))
    check(t, col("lang").isin(('a' to 'l').map(c => s"${c}e"): _*),
      expectSkipped = Some(2)) // ae..le: only "de" hits a file's range
  }

  test("typed literals fold through casts; unsupported shapes keep files") {
    import spark.implicits._
    val t = tmp()
    val ts = Seq(
      ("1995-01-03 00:00:00", 1L), ("1995-06-01 12:00:00", 2L),
      ("1997-02-01 00:00:00", 3L), ("1998-11-30 23:59:59", 4L))
      .toDF("s", "k").select(to_timestamp(col("s")).as("t"), col("k"))
    TxLog.append(spark, t, ts.filter(col("k") <= 2).coalesce(1))
    TxLog.append(spark, t, ts.filter(col("k") > 2).coalesce(1))
    // string date literal: analysis casts it to timestamp, stats prune
    val pr = TxLog.prune(spark, t, col("t") < "1996-01-01")
    assert(pr.skipped.size == 1)
    check2(t, col("t") < "1996-01-01", Seq(1L, 2L))
    // unsupported expression shape: no pruning, correct result
    val prU = TxLog.prune(spark, t, year(col("t")) === 1997)
    assert(prU.skipped.isEmpty)
    check2(t, year(col("t")) === 1997, Seq(3L))
  }

  private def check2(t: String, cond: Column, want: Seq[Long]): Unit =
    assert(TxLog.readWhere(spark, t, cond)
      .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq == want)

  test("stats survive checkpoint, recompute under optimize and delete") {
    val t = rangedTable()
    TxLog.checkpoint(t)
    check(t, col("id") < 100L, expectSkipped = Some(2)) // read via checkpoint
    TxLog.deleteWhere(spark, t, col("id") === 10L) // rewrites only file b0
    check(t, col("id") < 100L, expectSkipped = Some(2)) // fresh stats on b0'
    assert(TxLog.readWhere(spark, t, col("id") < 20L).count() == 19)
    TxLog.optimize(spark, t, targetFiles = 1)
    // single compacted file: full range, nothing prunable but still exact
    check(t, col("id") === 150L, expectSkipped = Some(0))
  }

  test("clustered optimize (sortBy) re-enables skipping on the sort key") {
    val t = rangedTable()
    // full compaction: one file spanning every lang — nothing prunable
    TxLog.optimize(spark, t, targetFiles = 1)
    check(t, col("lang") === "en", expectSkipped = Some(0))
    // cluster by lang: disjoint lang ranges per file, pruning returns
    TxLog.optimize(spark, t, targetFiles = 3, sortBy = Seq("lang"))
    val pr = TxLog.prune(spark, t, col("lang") === "en")
    assert(pr.skipped.nonEmpty, "clustered layout should prune lang probes")
    check(t, col("lang") === "en")
    check(t, col("id") === 150L) // orthogonal probe stays exact
    // content identical through both rewrites
    assert(TxLog.read(spark, t).count() == 300L)
  }

  test("z-order clustering prunes on BOTH dimensions via one sort key") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-zskip").resolve("t").toString
    // 2-D grid in shuffled order: one-column clustering can serve only
    // its own column; the interleaved-bit z-value serves both
    def spread(c: org.apache.spark.sql.Column) = {
      val x0 = c.bitwiseAND(lit(0xFFFFL))
      val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
      val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
      (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
    }
    val grid = (0L until 1024L).map(i => (i % 32L, i / 32L)).toDF("x", "y")
      .withColumn("zval", spread(col("x")).bitwiseOR(shiftleft(spread(col("y")), 1)))
    TxLog.append(spark, t, grid.repartition(4)) // unclustered: 4 mixed files
    assert(TxLog.prune(spark, t, col("x") < 8L).skipped.isEmpty,
      "unclustered layout should prove nothing")
    TxLog.optimize(spark, t, targetFiles = 8, sortBy = Seq("zval"))
    // z-locality: a small x-range AND a small y-range each prune files,
    // which single-column clustering cannot do for the second dimension
    val prX = TxLog.prune(spark, t, col("x") < 8L)
    val prY = TxLog.prune(spark, t, col("y") < 8L)
    assert(prX.skipped.nonEmpty, "z-layout should prune the x probe")
    assert(prY.skipped.nonEmpty, "z-layout should prune the y probe")
    // correctness unchanged either way
    assert(TxLog.readWhere(spark, t, col("x") < 8L && col("y") < 8L).count() == 64L)
    assert(TxLog.read(spark, t).count() == 1024L)
  }

  test("a stats-less log (legacy lines) keeps every file and stays exact") {
    val t = rangedTable()
    // strip the stats field from every committed line: the pre-stats codec
    val log = Paths.get(t, "_graft_log")
    Files.list(log).iterator().asScala.filter(_.toString.endsWith(".json"))
      .foreach { f =>
        val stripped = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
          .map(_.replaceAll(""","stats":"[^"]*"""", "")).mkString("\n")
        Files.write(f, stripped.getBytes(StandardCharsets.UTF_8))
      }
    // hand-mutating published version files is outside the format's
    // immutability contract — drop the parsed-action cache explicitly
    TxLog.invalidateActionCache(t)
    assert(TxLog.snapshotAdds(t).forall(_.stats.isEmpty))
    check(t, col("id") === 150L, expectSkipped = Some(0))
    check(t, col("id") < 0L, expectSkipped = Some(0)) // nothing provable
  }

  test("decimal and date columns prune and describe exactly") {
    import spark.implicits._
    val t = tmp()
    // two files: amounts [0.01, 9.99] vs [100.00, 999.99]; days in
    // Jan-1995 vs Jun-1995 — decimal(12,2) exercises the INT64/INT32
    // decimal footer path, a wider literal the exact-widening unwrap
    Seq(0, 1).foreach { b =>
      val lo = if (b == 0) 1 else 10000
      val df = (0 until 50).map { i =>
        (b * 50 + i.toLong,
          BigDecimal(lo + i * 17L, 2),
          java.sql.Date.valueOf(if (b == 0) f"1995-01-${i % 28 + 1}%02d"
                                else f"1995-06-${i % 28 + 1}%02d"))
      }.toDF("id", "amount", "day")
        .select(col("id"), col("amount").cast("decimal(12,2)").as("amount"),
          // precision > 18 lands as FIXED_LEN_BYTE_ARRAY in parquet
          col("amount").cast("decimal(25,2)").as("amount_wide"),
          col("day"))
      TxLog.append(spark, t, df.coalesce(1))
    }
    check(t, col("amount") < BigDecimal("10.00"), expectSkipped = Some(1))
    check(t, col("amount") >= BigDecimal("100.00"), expectSkipped = Some(1))
    check(t, col("amount_wide") < BigDecimal("10.00"), expectSkipped = Some(1))
    // a wider decimal literal: analyzer widens the column cast-exactly
    check(t, col("amount") === lit(new java.math.BigDecimal("100.00"))
      .cast("decimal(20,4)"), expectSkipped = Some(1))
    check(t, col("day") < "1995-03-01", expectSkipped = Some(1))
    check(t, col("day") === java.sql.Date.valueOf("1995-06-15"),
      expectSkipped = Some(1))
    val agg = TxLog.describe(t).get
    assert(agg.rows == 100L)
    assert(agg.cols("amount").tag == "dec:2")
    assert(agg.cols("amount").min.contains("1") &&  // unscaled 0.01
      agg.cols("amount").max.contains("10833"))     // 108.33
    assert(agg.cols("day").tag == "date")
  }

  test("TxLog.read: Catalyst pushes query filters into commit-log pruning") {
    val t = rangedTable()
    // AQE off so executedPlan exposes the scan node's metrics directly
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // one collect per frame: a re-execution resets scan metrics without
      // recomputing the (lazy) selectedPartitions that populate them
      def run(df: DataFrame): (Seq[org.apache.spark.sql.Row], Long) = {
        val rows = df.collect().toSeq
        val n = df.queryExecution.executedPlan.collectLeaves().collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.get
        (rows, n)
      }
      val tab = TxLog.read(spark, t)
      // plain filter: exact rows, one file opened
      val (r1, n1) = run(tab.filter(col("id") < 100L).select(col("id")))
      assert(r1.map(_.getLong(0)).sorted == (0L until 100L))
      assert(n1 == 1L, "id<100 should open exactly one file")
      // no filter: every file
      assert(run(tab.select(col("id")))._2 == 3L)
      // aggregate over a filter: pruning happens inside ordinary planning
      val (r2, n2) = run(tab.filter(col("lang") === "fr")
        .groupBy(col("lang")).agg(count(lit(1)).as("n")))
      assert(r2.head.getLong(1) == 98L)
      assert(n2 == 1L, "lang='fr' rollup should open one file")
      // SQL over a view of the table prunes the same way
      tab.createOrReplaceTempView("skip_tab")
      val (r3, n3) =
        run(spark.sql("SELECT count(*) AS n FROM skip_tab WHERE id >= 200"))
      assert(r3.head.getLong(0) == 100L)
      assert(n3 == 1L, "SQL predicate should reach the index")
      // the pruning decision is OBSERVABLE next to the plan (round-12,
      // VERDICT #8), not only inferable from scan metrics: the index
      // counts the files its last planning pass skipped
      val tab2 = TxLog.read(spark, t)
      val idx = Scans.index(tab2)
      run(tab2.filter(col("id") < 100L).select(col("id")))
      assert(idx.lastPrunedCount == 2,
        s"expected 2 of 3 files pruned, got ${idx.lastPrunedCount}")
      run(tab2.select(col("id")))
      assert(idx.lastPrunedCount == 0, "unfiltered scan must prune nothing")
      // time travel: AS OF the first commit sees only its file
      val v1 = TxLog.versions(t).head
      val old = TxLog.read(spark, t, asOf = Some(v1))
      assert(old.count() == 100L)
      // snapshot isolation: a new append is invisible to the open table
      import spark.implicits._
      TxLog.append(spark, t,
        Seq((999L, "xx", 0.0)).toDF("id", "lang", "score").coalesce(1))
      assert(tab.count() == 300L, "open table must keep its snapshot")
      assert(TxLog.read(spark, t).count() == 301L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("TxLog.read on an evolved table: union schema, conservative pruning") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      (0L until 50L).map(i => (i, "en")).toDF("id", "lang").coalesce(1))
    TxLog.append(spark, t,
      (50L until 100L).map(i => (i, "fr", i / 10.0)).toDF("id", "lang", "score")
        .coalesce(1), mergeSchema = true)
    val tab = TxLog.read(spark, t)
    assert(tab.schema.fieldNames.toSeq == Seq("id", "lang", "score"))
    // filter on the EVOLVED column: the pre-evolution file has no stats
    // entry for it — conservatively kept (its rows read score as null,
    // which never satisfies >), while range-disjoint new files prune
    val got = tab.filter(col("score") > 7.0)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (71L until 100L))
    // time travel BEFORE evolution binds the contemporary schema
    val v1 = TxLog.versions(t).head
    assert(TxLog.read(spark, t, asOf = Some(v1))
      .schema.fieldNames.toSeq == Seq("id", "lang"))
    // pruning on a pre-evolution column still fires across generations
    val pr = TxLog.prune(spark, t, col("id") < 50L)
    assert(pr.skipped.size == 1)
  }

  test("TxLog.read on a pre-schema (legacy) table binds the footer schema and prunes") {
    val t = rangedTable()
    // strip the schema declarations from every committed version: the
    // pre-schema log codec
    val log = Paths.get(t, "_graft_log")
    Files.list(log).iterator().asScala.filter(_.toString.endsWith(".json"))
      .foreach { f =>
        val kept = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
          .filterNot(_.contains(""""op":"schema"""")).mkString("\n")
        Files.write(f, kept.getBytes(StandardCharsets.UTF_8))
      }
    TxLog.invalidateActionCache(t) // hand-mutation is outside the contract
    assert(TxLog.schemaOf(t).isEmpty)
    val tab = TxLog.read(spark, t)
    assert(tab.schema.fieldNames.toSeq == Seq("id", "lang", "score"))
    val got = tab.filter(col("id") >= 100L && col("id") < 200L)
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (100L until 200L))
    assert(Scans.index(tab).lastPrunedCount == 2,
      "a pre-schema table must prune through the footer-bound index")
    // the explicit-predicate path agrees
    check(t, col("lang") === "fr", expectSkipped = Some(2))
  }

  test("describe folds exact metadata aggregates; refuses partial stats") {
    val t = rangedTable()
    val agg = TxLog.describe(t).get
    assert(agg.rows == 300L)
    val id = agg.cols("id")
    assert(id.min.contains("0") && id.max.contains("299") && id.nulls == 0L)
    assert(agg.cols("lang").nulls == 6L)
    val score = agg.cols("score") // one file is all-null: fold still exact
    // parquet truncates double min to -0.0 by spec (sort-order safety):
    // bounds are value-exact up to IEEE zero sign
    assert(score.nulls == 100L &&
      score.min.exists(_.toDouble == 0.0) && score.max.contains("19.9"))
    // checkpointed logs keep describing
    TxLog.checkpoint(t)
    assert(TxLog.describe(t).get == agg)
    // a stats-less (legacy) log refuses — never guesses
    val log = Paths.get(t, "_graft_log")
    Files.list(log).iterator().asScala.filter(_.toString.endsWith(".json"))
      .foreach { f =>
        val stripped = Files.readAllLines(f, StandardCharsets.UTF_8).asScala
          .map(_.replaceAll(""","stats":"[^"]*"""", "")).mkString("\n")
        Files.write(f, stripped.getBytes(StandardCharsets.UTF_8))
      }
    TxLog.invalidateActionCache(t) // hand-mutation is outside the contract
    assert(TxLog.describe(t).isEmpty)
  }

  test("footer stats match the data exactly (longs, strings, nulls)") {
    val t = rangedTable()
    val adds = TxLog.snapshotAdds(t)
    assert(adds.size == 3 && adds.forall(_.stats.nonEmpty))
    val fs = adds.map(a => TxStats.decode(a.stats.get).get)
    assert(fs.map(_.rows).sum == 300L)
    val ids = fs.map(_.cols("id"))
    assert(ids.map(_.min.get.toLong).sorted == Seq(0L, 100L, 200L))
    assert(ids.map(_.max.get.toLong).sorted == Seq(99L, 199L, 299L))
    val langs = fs.map(_.cols("lang"))
    assert(langs.forall(_.nulls == 2L)) // i%50==0 twice per 100-block
    val dec = new String(java.util.Base64.getDecoder
      .decode(langs.head.min.get), StandardCharsets.UTF_8)
    assert(Seq("de", "en", "fr").contains(dec))
    val scores = fs.map(_.cols("score"))
    assert(scores.count(_.min.isEmpty) == 1) // the all-null file
    assert(scores.count(_.nulls == 100L) == 1)
  }

  test("OPTIMIZE ZORDER BY prunes on BOTH keys; content and schema unchanged") {
    import spark.implicits._
    val t = tmp()
    // 4 appends in (a, b)-hostile order: every file spans both domains
    val rnd = new scala.util.Random(11)
    (0 until 4).foreach { _ =>
      val df = (0 until 250).map { _ =>
        (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong, rnd.nextLong())
      }.toDF("a", "b", "payload").coalesce(1)
      TxLog.append(spark, t, df)
    }
    val before = TxLog.read(spark, t).select(col("payload"))
      .collect().map(_.getLong(0)).sorted.toSeq
    def skippedFor(c: Column): Int = TxLog.prune(spark, t, c).skipped.size
    // pre-optimize: random layout, nothing prunes on either key
    assert(skippedFor(col("a") < 64L) == 0)
    assert(skippedFor(col("b") < 64L) == 0)
    TxLog.optimize(spark, t, targetFiles = 8, zorderBy = Seq("a", "b"))
    assert(TxLog.snapshot(t).size == 8)
    // post-optimize: the Morton layout makes corner probes prune on BOTH
    assert(skippedFor(col("a") < 64L) >= 2, "zorder should prune on a")
    assert(skippedFor(col("b") < 64L) >= 2, "zorder should prune on b")
    // rows only rearranged; schema free of the internal z column
    val after = TxLog.read(spark, t).select(col("payload"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(after == before)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("a", "b", "payload"))
    // the SQL verb drives the same path
    graft.sources.TxLogSqlDml.install(spark)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.sources.GraftSqlParser.maintenance(
        s"OPTIMIZE '$t' INTO 4 FILES ZORDER BY (a, b)").get).collect()
    assert(TxLog.snapshot(t).size == 4)
    assert(TxLog.read(spark, t).select(col("payload"))
      .collect().map(_.getLong(0)).sorted.toSeq == before)
    // CLUSTER BY and ZORDER BY are mutually exclusive; 2 columns exactly
    intercept[IllegalArgumentException] {
      TxLog.optimize(spark, t, sortBy = Seq("a"), zorderBy = Seq("a", "b"))
    }
    intercept[IllegalArgumentException] {
      TxLog.optimize(spark, t, zorderBy = Seq("a"))
    }
  }

  // ------------------------------------------- bloom file skipping

  /** Two single-file appends with INTERLEAVED ids (even/odd) — byte-for-
    * byte overlapping min/max ranges, so range stats can never separate
    * them; only the per-file bloom can. */
  private def interleavedBloomTable(): String = {
    import spark.implicits._
    val t = tmp()
    TxLog.setBloomColumns(t, Seq("id", "lang"))
    Seq(0, 1).foreach { par =>
      val df = (0 until 500).map { i =>
        ((2 * i + par).toLong, s"l${2 * i + par}")
      }.toDF("id", "lang").coalesce(1)
      TxLog.append(spark, t, df)
    }
    t
  }

  test("bloom DDL: equality lookups prune files range stats cannot") {
    val t = interleavedBloomTable()
    // ranges fully overlap: stats alone keep both files for any id probe
    // in range; the bloom separates parity. A few probes may keep both
    // on a false positive (~1%), but across 40 probes pruning must fire
    // and content must stay exact for every one.
    var pruned = 0
    (0 until 40).foreach { k =>
      val id = (7 * k + 13) % 1000
      val pr = TxLog.prune(spark, t, col("id") === id.toLong)
      assert(pr.kept.size + pr.skipped.size == 2)
      assert(pr.kept.nonEmpty) // a true hit is never bloomed away
      if (pr.skipped.size == 1) pruned += 1
      val got = TxLog.readWhere(spark, t, col("id") === id.toLong)
        .select(col("lang")).collect().map(_.getString(0)).toSeq
      assert(got == Seq(s"l$id"))
    }
    assert(pruned >= 30, s"bloom pruned only $pruned of 40 point lookups")
    // string column blooms prune the same way (exactness + firing rate)
    var prunedS = 0
    (0 until 20).foreach { k =>
      val id = (11 * k + 3) % 1000
      val pr = TxLog.prune(spark, t, col("lang") === s"l$id")
      if (pr.skipped.size == 1) prunedS += 1
      val got = TxLog.readWhere(spark, t, col("lang") === s"l$id")
        .select(col("id")).collect().map(_.getLong(0)).toSeq
      assert(got == Seq(id.toLong))
    }
    assert(prunedS >= 15, s"string bloom pruned only $prunedS of 20")
    // a probe for an ABSENT value usually skips both files entirely
    val prAbsent = TxLog.prune(spark, t, col("id") === 99999L)
    assert(prAbsent.kept.size <= 2)
    assert(TxLog.readWhere(spark, t, col("id") === 99999L).count() == 0)
  }

  test("bloom conservatism: undeclared columns, pre-DDL files, non-equality") {
    import spark.implicits._
    val t = tmp()
    // file written BEFORE the DDL carries no bloom → never bloom-skipped
    TxLog.append(spark, t,
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "lang").coalesce(1))
    TxLog.setBloomColumns(t, Seq("id"))
    TxLog.append(spark, t,
      (100 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "lang").coalesce(1))
    // probe a value only in the pre-DDL file: range stats separate these
    // (disjoint ids), so force the bloom question with an out-of-range
    // equality on the bloomless file — it must be KEPT by bloom logic
    // (range stats already skip it; emulate via direct probe)
    val conf = spark.sessionState.newHadoopConf()
    val adds = TxLog.snapshotAdds(t)
    val pre = adds.head.path; val post = adds.last.path
    def abs(p: String) = java.nio.file.Paths.get(t, p).toAbsolutePath.toString
    // bloomless file: never "excludes", even for absent values
    assert(!graft.etl.TxStats.bloomExcludes(conf, abs(pre), "id",
      java.lang.Long.valueOf(9999L)))
    // bloomed file: excludes absent, keeps present
    assert(graft.etl.TxStats.bloomExcludes(conf, abs(post), "id",
      java.lang.Long.valueOf(9999L)))
    assert(!graft.etl.TxStats.bloomExcludes(conf, abs(post), "id",
      java.lang.Long.valueOf(150L)))
    // undeclared column on the bloomed file: no bloom → never excludes
    assert(!graft.etl.TxStats.bloomExcludes(conf, abs(post), "lang",
      org.apache.spark.unsafe.types.UTF8String.fromString("zzz")))
    // type mismatch never excludes (int probe against INT64 column)
    assert(!graft.etl.TxStats.bloomExcludes(conf, abs(post), "id",
      java.lang.Integer.valueOf(9999)))
    // non-equality predicates take the stats path only (exactness pinned)
    val got = TxLog.readWhere(spark, t, col("id") >= 50L && col("id") < 150L)
      .count()
    assert(got == 100L)
    // rewrites PRESERVE blooms: optimize compacts, new file still answers
    TxLog.optimize(spark, t, targetFiles = 1)
    val one = TxLog.snapshotAdds(t).head.path
    assert(graft.etl.TxStats.bloomExcludes(conf, abs(one), "id",
      java.lang.Long.valueOf(9999L)))
    assert(!graft.etl.TxStats.bloomExcludes(conf, abs(one), "id",
      java.lang.Long.valueOf(42L)))
    // DDL is visible in history and survives as table metadata
    assert(TxLog.history(t).map(_.operation).contains("SET BLOOM"))
    assert(TxLog.bloomColsOf(t) == Seq("id"))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ColumnarRule, FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog
import graft.plans.{BindLiterals, BoundLiteral}

/** The literal-binding rule [[BindLiterals]] that [[GraftSession.tune]]
  * installs: it must fire inside codegen operators, leave every consumer
  * that matches `Literal` (scan pushdown, file and cached-batch pruning,
  * window frames) as it was, and change no answer. Also: which merge
  * sources are read as collected rows. */
class BindLiteralsSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private var session: SparkSession = _
  private def spark: SparkSession = {
    if (session == null) session = GraftSession.local("bind-literals", cores = 2)
    session
  }
  override def afterAll(): Unit = if (session != null) session.stop()

  private def bound(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[BoundLiteral]))

  /** The executed plan's nodes, query stages and subqueries included. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }

  private def isBindRule(r: ColumnarRule): Boolean = r.preColumnarTransitions eq BindLiterals

  test("tune installs the rule, and sessions made by newSession share it") {
    assert(spark.sessionState.columnarRules.count(isBindRule) == 1)
    // TxLog stages its writes through a newSession() clone
    assert(spark.newSession().sessionState.columnarRules.count(isBindRule) == 1)
  }

  test("codegen operators bind literals and print as before") {
    val df = spark.range(0, 1000).filter(col("id") % 7 === 3)
      .select((col("id") * 2 + 5).as("x"), lit(1.5).as("y"))
    assert(df.collect().length == 143)
    val withBound = nodes(df).filter(bound)
    assert(withBound.nonEmpty, "no operator bound a literal")
    withBound.foreach { p =>
      val plain = p.transformExpressions {
        case b: BoundLiteral => Literal(b.value, b.dataType)
      }
      assert(p.simpleString(100) == plain.simpleString(100))
    }
  }

  test("parquet pushdown and TxLog file pruning still see the literal") {
    val dir = Files.createTempDirectory("graft-bind")
    val pq = dir.resolve("pq").toString
    spark.range(0, 1000).toDF().repartitionByRange(4, col("id")).write.parquet(pq)
    val q = spark.read.parquet(pq).filter(col("id") > 500)
    assert(q.collect().length == 499)
    val scan = nodes(q).collect { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty)
    assert(scan.forall(_.metadata("PushedFilters").contains("GreaterThan(id,500)")),
      scan.map(_.metadata("PushedFilters")).mkString("; "))
    assert(nodes(q).exists { case f: FilterExec => bound(f); case _ => false })

    val t = dir.resolve("t").toString
    TxLog.append(spark, t, spark.range(0, 1000).toDF().repartitionByRange(4, col("id")))
    val pruned = TxLog.prune(spark, t, col("id") < 100)
    assert(pruned.kept.size == 1 && pruned.skipped.size == 3)
    val r = TxLog.read(spark, t).filter(col("id") < 100)
    assert(r.collect().length == 100)
    val read = nodes(r).collect { case s: FileSourceScanExec => s.metrics("numFiles").value }
    assert(read == Seq(1L), s"files read: $read")
  }

  test("cached-table batch pruning still prunes") {
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    spark.conf.set(key, "100")
    val cached = spark.range(0, 2000, 1, 1).toDF("id").cache()
    try {
      assert(cached.count() == 2000)
      val q = cached.filter(col("id") < 150)
      assert(q.collect().length == 150)
      val scanned = nodes(q).collect {
        case s: InMemoryTableScanExec => s.metrics("numOutputRows").value
      }
      // two of the twenty 100-row batches can hold a match
      assert(scanned == Seq(200L), s"rows out of the cached scan: $scanned")
    } finally {
      cached.unpersist(blocking = true)
      spark.conf.unset(key)
    }
  }

  test("a merge collects a source whose rows fit the broadcast threshold, reads any other in place") {
    val sc = spark.sparkContext
    def rows(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi + 1).select(col("id"), (col("id") * 3).as("v"))
    // a Generate keeps its input's size estimate: hi - lo + 1 rows
    // estimated as one
    def exploded(lo: Long, hi: Long): DataFrame =
      spark.range(1).select(explode(sequence(lit(lo), lit(hi))).as("id"))
        .select(col("id"), (col("id") * 3).as("v"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val threshold = spark.conf.get(key)
    assert(exploded(900, 1099).queryExecution.optimizedPlan.stats.sizeInBytes <= 1000)
    // (threshold, source, whether the merge reads it as collected rows):
    // under the threshold; over it by estimate; under it by estimate but
    // over it by collected bytes
    val cases = Seq[(String, (Long, Long) => DataFrame, Boolean)](
      (threshold, rows, true), ("-1", rows, false), ("1000", exploded, false))
    for ((limit, src, collected) <- cases) {
      val t = Files.createTempDirectory("graft-bind-merge").resolve("t").toString
      TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
      TxLog.append(spark, t, rows(0, 999))
      val dup = src(10, 20).unionByName(src(20, 30))
      val persisted = sc.getPersistentRDDs.size
      spark.conf.set(key, limit)
      try {
        val read = TxLog.uniqueSource(src(900, 1099), Seq("id"), "row")
        assert(read.queryExecution.analyzed.isInstanceOf[LocalRelation] == collected, limit)
        assert(read.collect().toSeq == src(900, 1099).collect().toSeq)
        TxLog.merge(spark, t, src(900, 1099), Seq("id"))
        TxLog.mergeClauses(spark, t, src(1050, 1149), Seq("id"),
          matched = Seq(TxLog.MergeClause("delete", None, Map.empty)),
          notMatched = Seq(TxLog.MergeClause("insert", None,
            Map("id" -> col("s.id"), "v" -> col("s.v")))))
        for (verb <- Seq[() => Any](
            () => TxLog.merge(spark, t, dup, Seq("id")),
            () => TxLog.mergeClauses(spark, t, dup, Seq("id"),
              matched = Seq(TxLog.MergeClause("delete", None, Map.empty)), notMatched = Nil)))
          assert(intercept[IllegalArgumentException](verb()).getMessage.contains("duplicate keys"))
      } finally spark.conf.set(key, threshold)
      assert(sc.getPersistentRDDs.size == persisted)
      val all = TxLog.read(spark, t)
      assert(all.count() == 1050 + 50)
      assert(all.filter(col("id") >= 1050 && col("id") < 1100).count() == 0)
      assert(all.filter(col("id") === 1000).select("v").head().getLong(0) == 3000L)
    }
  }

  /** Queries over literal kinds the rule binds and kinds it leaves alone. */
  private val queries = Seq(
    "SELECT id, g, sum(id) OVER (PARTITION BY g ORDER BY id " +
      "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS w FROM b",
    "SELECT id FROM b WHERE g IN (1, 3, 5) AND id IN (2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377)",
    "SELECT id, s FROM b WHERE s LIKE 'a1%' OR s LIKE '%9_'",
    "SELECT id, d * 2.5 AS d2, round(d, 1) AS r FROM b WHERE d > 12.5",
    "SELECT id FROM b WHERE s = 'a42' OR s >= 'a990'",
    "SELECT id * 3 + 7 AS x, id / 4.0 AS y, CAST(id AS FLOAT) * 0.5F AS z, " +
      "date_add(DATE'2020-01-01', g) AS dt, ts > TIMESTAMP'2020-01-01 00:10:00' AS late " +
      "FROM b WHERE id % 5 = 2",
    "SELECT g, count(CASE WHEN id % 2 = 0 THEN 1 END) AS n, sum(id * 2) AS s2 " +
      "FROM b GROUP BY g HAVING sum(id) > 1000",
    "SELECT a.id, c.id AS cid FROM b a JOIN b c ON a.g = c.g AND a.id < c.id + 3 " +
      "AND c.id < a.id WHERE a.id < 100",
    "SELECT g, id % 3 AS m, count(*) AS n FROM b GROUP BY ROLLUP(g, id % 3)",
    "SELECT id, e FROM b LATERAL VIEW explode(array(id, id + 1, 5)) t AS e WHERE id < 50",
    "SELECT stack(2, id, id + 100) FROM b WHERE id < 20",
    "SELECT g, session_window.start AS s0, count(*) AS n, sum(id + 1) AS t FROM b " +
      "GROUP BY g, session_window(ts, '10 seconds')")

  /** Each query's sorted rows, and whether its executed plan bound a literal. */
  private def answers(s: SparkSession): Seq[(Seq[String], Boolean)] = {
    s.range(0, 1000).select(col("id"), (col("id") % 7).cast("int").as("g"),
      concat(lit("a"), col("id").cast("string")).as("s"),
      (col("id") / 8).cast("decimal(10,3)").as("d"),
      timestamp_seconds(col("id") + 1577836800L).as("ts"))
      .createOrReplaceTempView("b")
    queries.map { q =>
      val df = s.sql(q)
      (df.collect().map(_.toString).toSeq.sorted, nodes(df).exists(bound))
    }
  }

  // last: it stops the suite's session to start one without the rule
  test("window frames, IN, LIKE, decimal and string literals answer as without the rule") {
    val withRule = answers(spark)
    assert(withRule.count(_._2) >= 8, s"bound: ${withRule.map(_._2)}")
    session.stop()
    session = null
    val plain = SparkSession.builder().master("local[2]").appName("no-bind-rule")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      assert(!plain.sessionState.columnarRules.exists(isBindRule))
      val without = answers(plain)
      assert(!without.exists(_._2))
      queries.indices.foreach(i =>
        assert(without(i)._1 == withRule(i)._1, s"query: ${queries(i)}"))
    } finally plain.stop()
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.{GoldCatalog, Pipeline, TxLog}

/** Spark keeps generated classes in one JVM-wide cache; a session built
  * through [[GraftSession.tune]] sizes it to hold the engine's working
  * set, so work repeated with the same literals compiles nothing, and
  * binds caller literals as class references, so a TxLog verb with new
  * literals compiles nothing either. Counts are deltas of Spark's compile
  * counter (one per generated class compiled, driver and local executor
  * threads alike). */
class CodegenReuseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("codegen-reuse", cores = 2)
  override def afterAll(): Unit = spark.stop()

  private def compiled(body: => Any): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def fixture(name: String): String = getClass.getResource(s"/fixtures/$name").getPath

  /** The benchmark's gold-catalog queries (medallion_etl). */
  private val catalogQueries = Seq(
    "SELECT count(*) AS n, count(velocity_km_s) AS nv, count(miss_distance_km) AS nm " +
      "FROM fact_asteroid_approach",
    "SELECT b.approaching_body, count(*) AS n FROM fact_asteroid_approach f " +
      "JOIN (SELECT DISTINCT celestial_body_id, approaching_body FROM dim_celestial_body) b " +
      "ON f.celestial_body_id = b.celestial_body_id " +
      "GROUP BY b.approaching_body ORDER BY b.approaching_body",
    "SELECT asteroid_id, miss_distance_km FROM fact_asteroid_approach " +
      "WHERE miss_distance_km IS NOT NULL ORDER BY miss_distance_km, asteroid_id LIMIT 5",
    "SELECT count(*) AS n, sum(CASE WHEN is_hazardous THEN 1 ELSE 0 END) AS h " +
      "FROM dim_asteroid",
    "SELECT count(*) AS n, CAST(min(approach_date) AS STRING) AS lo, " +
      "CAST(max(approach_date) AS STRING) AS hi FROM dim_date",
    "SELECT count(*) AS n FROM dim_asteroid WHERE is_sentry",
    "SELECT d.year, d.month, count(*) AS n FROM fact_asteroid_approach f " +
      "JOIN (SELECT DISTINCT date_id, year, month FROM dim_date) d ON f.date_id = d.date_id " +
      "GROUP BY d.year, d.month ORDER BY d.year, d.month")

  test("a repeated medallion day and its catalog queries compile no class") {
    val layout = Pipeline.Layout(Files.createTempDirectory("graft-codegen-etl").toString)
    /** Classes compiled by the day and by each query. */
    def round(): Seq[(String, Long)] =
      ("day" -> compiled(Pipeline.runFromBronze(spark, fixture("feed_basic.json"), layout,
        processingDate = "2026-08-14", batchId = 100L))) +:
        catalogQueries.zipWithIndex.map { case (q, i) =>
          s"query $i" -> compiled(GoldCatalog.sql(spark, q).collect()) }
    val first = round()
    assert(first.map(_._2).sum > 0, "the first round compiles the day's and the queries' classes")
    val again = round()
    assert(again.filter(_._2 != 0) == Nil)
  }

  private def rows(lo: Long, hi: Long, salt: Long): DataFrame =
    spark.range(lo, hi + 1).select(
      col("id"),
      (col("id") / 1000).cast("long").as("bucket"),
      ((col("id") + salt) % 50 + 1).cast("double").as("q"),
      concat(lit("s"), ((col("id") + salt) % 97).cast("string")).as("s"))

  /** A CDF-on table partitioned by `bucket`, ids 0-2999 in two files. */
  private def txTable(prefix: String): String = {
    val t = Files.createTempDirectory(prefix).resolve("t").toString
    TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
    TxLog.append(spark, t, rows(0, 2999, 0).repartition(2), partitionBy = Seq("bucket"))
    t
  }

  test("each TxLog verb, run again with the same arguments, compiles no class") {
    val t = txTable("graft-codegen-txlog")
    val verbs: Seq[(String, () => Any)] = Seq(
      "append" -> (() => TxLog.append(spark, t, rows(5000, 5099, 0))),
      "updateWhere" -> (() => TxLog.updateWhere(spark, t,
        col("id").between(100, 199), Map("q" -> (col("q") + 1.0)))),
      "deleteWhere" -> (() => TxLog.deleteWhere(spark, t, col("id").between(200, 249))),
      "merge" -> (() => TxLog.merge(spark, t,
        rows(300, 319, 1).unionByName(rows(6000, 6019, 1)), Seq("id"))),
      "deleteMatched" -> (() => TxLog.deleteMatched(spark, t,
        rows(400, 409, 0).select("id"), Seq("id"))),
      "read" -> (() => TxLog.read(spark, t).agg(sum("q")).collect()),
      "readWhere" -> (() => TxLog.readWhere(spark, t, col("id").between(0, 999)).count()),
      "read as of" -> (() => TxLog.read(spark, t, Some(2L)).count()),
      "changeFeed" -> (() => TxLog.changeFeed(spark, t, 1L, Some(2L)).count()),
      "optimize" -> (() => TxLog.optimize(spark, t, where = Some(col("bucket") >= 5))),
      "checkpoint" -> (() => TxLog.checkpoint(t)),
      "vacuum" -> (() => TxLog.vacuum(t, retainVersions = 2, minAgeMillis = 0L)))
    val again = verbs.map { case (name, run) =>
      run()
      name -> compiled(run())
    }
    assert(again.filter(_._2 != 0) == Nil)
  }

  test("each TxLog verb with NEW literal arguments compiles no class") {
    val t = txTable("graft-codegen-txlog-new")
    /** Each verb twice, the second time with other literals. */
    val verbs: Seq[(String, Int => Any)] = Seq(
      "updateWhere" -> (i => TxLog.updateWhere(spark, t,
        col("id").between(100 + 200 * i, 149 + 200 * i), Map("q" -> (col("q") + 1.0)))),
      "deleteWhere" -> (i => TxLog.deleteWhere(spark, t,
        col("id").between(1000 + 100 * i, 1019 + 100 * i))),
      "readWhere" -> (i => TxLog.readWhere(spark, t,
        col("id").between(10 * i, 999 + 10 * i)).agg(sum("q")).collect()),
      "read as of" -> (i => TxLog.read(spark, t, Some(2L + i)).agg(sum("q")).collect()),
      "optimize" -> (i => TxLog.optimize(spark, t, where = Some(col("bucket") >= 2 - i))))
    val again = verbs.map { case (name, run) =>
      run(0)
      name -> compiled(run(1))
    }
    assert(again.filter(_._2 != 0) == Nil)
  }

  test("merge and mergeClauses with a new source compile only the source's own stages") {
    val t = txTable("graft-codegen-merge")
    // each source is two `spark.range` branches: RangeExec spells its
    // bounds into its stage's code, so each branch's stage compiles once
    // where it is planned and once in a task thread (Spark keys its class
    // cache by the thread's class loader too), and nothing else compiles
    val sourceClasses = 2L * 2
    def src(i: Int): DataFrame =
      rows(300 + 50 * i, 319 + 50 * i, i).unionByName(rows(6000 + 50 * i, 6019 + 50 * i, i))
    val verbs: Seq[(String, Int => Any)] = Seq(
      "merge" -> (i => TxLog.merge(spark, t, src(i), Seq("id"))),
      "mergeClauses" -> (i => TxLog.mergeClauses(spark, t, src(10 + i), Seq("id"),
        matched = Seq(TxLog.MergeClause("update", None, Map("q" -> expr("s.q + t.q")))),
        notMatched = Seq(TxLog.MergeClause("insert", None,
          Map("id" -> col("s.id"), "bucket" -> col("s.bucket"), "q" -> col("s.q"),
            "s" -> col("s.s")))))))
    val again = verbs.map { case (name, run) =>
      run(0)
      name -> compiled(run(1))
    }
    assert(again == verbs.map(_._1 -> sourceClasses))
  }
}

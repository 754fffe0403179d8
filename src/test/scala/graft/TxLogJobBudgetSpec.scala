package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** Spark jobs per TxLog verb on a small table partitioned like the
  * benchmark's txlog_dml one (a dense `id`, `bucket = id / 1000`). A
  * copy-on-write commit stages its data rows and its change rows in one
  * write job, and sizing that write runs nothing, so each verb's job
  * count is pinned: a regression that adds a write or re-runs a plan
  * shows here as a count, not as noise in a timing. */
class TxLogJobBudgetSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-job-budget", cores = 2)
  /** Result-stage name (its call site) of every job since the last reset. */
  private val jobs = new ConcurrentLinkedQueue[String]()

  /** Registers the job listener, creates the measured tables and runs
    * every verb once on a third table, so counts exclude first-use work. */
  override def beforeAll(): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos.maxBy(_.stageId).name)
    })
    Seq(cdfOn, cdfOff)
    val t = table(cdf = true)
    update(t); delete(t)
    TxLog.deleteMatched(spark, t, rows(300, 310, 0).select("id"), Seq("id"))
    TxLog.merge(spark, t, rows(500, 520, 1).unionByName(rows(7000, 7020, 1)), Seq("id"))
    upsert(t, rows(600, 620, 1).unionByName(rows(7100, 7120, 1)))
    TxLog.append(spark, t, rows(8000, 8010, 0))
  }
  override def afterAll(): Unit = spark.stop()

  /** Jobs started while `body` runs. The listener bus is asynchronous:
    * draining it before the reset and after the body keeps earlier
    * events out and trailing ones in. */
  private def jobsOf(body: => Any): Seq[String] = {
    ListenerBus.drain(spark)
    jobs.clear()
    body
    ListenerBus.drain(spark)
    jobs.asScala.toSeq
  }

  private def rows(lo: Long, hi: Long, salt: Long): DataFrame =
    spark.range(lo, hi + 1).select(
      col("id"),
      (col("id") / 1000).cast("long").as("bucket"),
      ((col("id") + salt) % 50 + 1).cast("double").as("q"),
      concat(lit("s"), ((col("id") + salt) % 97).cast("string")).as("s"))

  private def table(cdf: Boolean): String = {
    val t = Files.createTempDirectory("graft-jobs").resolve("t").toString
    if (cdf) TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
    TxLog.append(spark, t, rows(0, 5999, 0).repartition(4), partitionBy = Seq("bucket"))
    t
  }

  private lazy val cdfOn = table(cdf = true)
  private lazy val cdfOff = table(cdf = false)

  private def update(t: String) = TxLog.updateWhere(spark, t,
    col("id").between(1000, 2999) && col("id") % 3 === 0,
    Map("q" -> (col("q") + 1.0), "s" -> lit("u")))
  private def delete(t: String) =
    TxLog.deleteWhere(spark, t, col("id").between(4000, 4199))

  /** The star-shape clause MERGE (SQL `UPDATE SET *` / `INSERT *`):
    * every column from the source, no conditions. */
  private def upsert(t: String, src: DataFrame) = {
    val all = src.columns.map(c => c -> col(s"s.$c")).toMap
    TxLog.mergeClauses(spark, t, src, Seq("id"),
      matched = Seq(TxLog.MergeClause("update", None, all)),
      notMatched = Seq(TxLog.MergeClause("insert", None, all)))
  }

  /** Assert `verb` ran within `max` jobs, naming their call sites. */
  private def within(verb: String, max: Int)(body: => Any): Unit = {
    val js = jobsOf(body)
    info(s"$verb: ${js.size} jobs: ${js.mkString("; ")}")
    assert(js.size <= max, s"$verb ran ${js.size} jobs: ${js.mkString("; ")}")
  }

  test("CDF on: updateWhere and deleteWhere run at most 3 jobs each") {
    within("updateWhere", 3)(assert(update(cdfOn).isDefined))
    within("deleteWhere", 3)(assert(delete(cdfOn).isDefined))
  }

  test("CDF on: deleteMatched runs at most 4 jobs") {
    // the file-finding scan and the write each broadcast the source keys,
    // and each broadcast of a non-local source is a job of its own
    within("deleteMatched", 4)(assert(TxLog.deleteMatched(spark, cdfOn,
      rows(2500, 2600, 0).select("id"), Seq("id")).isDefined))
  }

  test("CDF on: merge runs at most 10 jobs, append exactly 1") {
    val src = rows(3000, 3199, 7).unionByName(rows(6000, 6199, 7))
    within("merge", 10)(TxLog.merge(spark, cdfOn, src, Seq("id")))
    val a = jobsOf(TxLog.append(spark, cdfOn, rows(6200, 6699, 0)))
    assert(a.size == 1, s"append ran ${a.size} jobs: ${a.mkString("; ")}")
  }

  test("CDF on: star-shape mergeClauses runs at most 7 jobs, as merge does") {
    // the inserts anti-join the affected rows' keys (no full-table key
    // scan), and the rewrite and the change images share one broadcast
    // of the source
    val src = rows(3200, 3399, 7).unionByName(rows(9000, 9199, 7))
    within("mergeClauses", 7)(assert(upsert(cdfOn, src).isDefined))
  }

  test("CDF off: updateWhere and deleteWhere run at most 3 jobs each") {
    within("updateWhere", 3)(assert(update(cdfOff).isDefined))
    within("deleteWhere", 3)(assert(delete(cdfOff).isDefined))
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.core.GraftSession
import graft.etl._

/** The reference's daily cadence: two feed days into one warehouse
  * (append-mode gold, SURVEY §2.1 S7 + §7 "append-mode dim duplication"). */
class MultiDayPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("multiday-spec", cores = 4)
  def fixture(name: String): String = getClass.getResource(s"/fixtures/$name").getPath

  override def afterAll(): Unit = spark.stop()

  test("two daily runs append gold and keep per-day silver partitions") {
    val wh = Files.createTempDirectory("graft_wh2").toString
    val layout = Pipeline.Layout(wh)
    Pipeline.runFromBronze(spark, fixture("feed_basic.json"), layout,
      processingDate = "2026-08-14", batchId = 100L)
    val day1Fact = spark.read.parquet(s"${layout.gold}/fact_asteroid_approach").count()
    Pipeline.runFromBronze(spark, fixture("feed_edge_cases.json"), layout,
      processingDate = "2026-08-15", batchId = 200L)

    val silver = spark.read.parquet(layout.silver)
    assert(silver.select("_processing_date").distinct().count() == 2)
    assert(silver.count() == 3 + 5)

    // fact accumulates across days, batch ids distinguish runs
    val fact = spark.read.parquet(s"${layout.gold}/fact_asteroid_approach")
    assert(fact.count() == day1Fact + 5)
    assert(fact.select("_etl_batch_id").distinct().count() == 2)

    // reference quirk preserved: append-mode dims deduped only per-batch —
    // bodies appearing on both days duplicate across batches
    val bodies = spark.read.parquet(s"${layout.gold}/dim_celestial_body")
    assert(bodies.filter(col("approaching_body") === "Earth").count() == 2)

    // catalog sees the union; demo query runs across both days
    GoldCatalog.register(spark, layout.gold)
    assert(GoldCatalog.sql(spark,
      "SELECT DISTINCT _etl_batch_id FROM fact_asteroid_approach").count() == 2)

    // re-running day 2 leaves silver idempotent (dynamic partition overwrite)
    Pipeline.runFromBronze(spark, fixture("feed_edge_cases.json"), layout,
      processingDate = "2026-08-15", batchId = 300L)
    assert(spark.read.parquet(layout.silver).count() == 8)
  }

  test("merge-mode gold keeps dims unique across days") {
    val wh = Files.createTempDirectory("graft_wh3").toString
    val layout = Pipeline.Layout(wh)

    def runDay(fixtureName: String, date: String, batch: Long): Unit = {
      val silverDf = BronzeToSilver.transform(
        BronzeToSilver.readBronze(spark, fixture(fixtureName)), batch,
        Some(java.time.LocalDate.parse(date)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
      BronzeToSilver.write(silverDf, layout.silver)
      val g = SilverToGold.build(
        SilverToGold.readSilverPartition(spark, layout.silver, date))
      SilverToGold.writeMerged(spark, g, layout.gold)
    }
    runDay("feed_basic.json", "2026-08-14", 100L)
    runDay("feed_edge_cases.json", "2026-08-15", 200L)
    runDay("feed_edge_cases.json", "2026-08-15", 201L) // re-run same day

    val bodies = spark.read.parquet(s"${layout.gold}/dim_celestial_body")
    assert(bodies.count() == bodies.select("approaching_body").distinct().count())
    assert(bodies.filter(col("approaching_body") === "Earth").count() == 1)
    val asteroids = spark.read.parquet(s"${layout.gold}/dim_asteroid")
    assert(asteroids.count() ==
      asteroids.select("asteroid_id").distinct().count())
    val dates = spark.read.parquet(s"${layout.gold}/dim_date")
    assert(dates.count() == dates.select("date_id").distinct().count())
    // fact keeps appending (3 batches: 3 + 5 + 5 rows)
    assert(spark.read.parquet(s"${layout.gold}/fact_asteroid_approach").count() == 13)
  }

  test("catalog and silver reads bind their schema with no inference job") {
    val wh = Files.createTempDirectory("graft_wh4").toString
    val layout = Pipeline.Layout(wh)
    Pipeline.runFromBronze(spark, fixture("feed_basic.json"), layout,
      processingDate = "2026-08-14", batchId = 100L)
    val day2 = Pipeline.runFromBronze(spark, fixture("feed_edge_cases.json"), layout,
      processingDate = "2026-08-15", batchId = 200L)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf[T](body: => T): (T, Int) = {
      ListenerBus.drain(spark)
      jobs.set(0)
      val out = body
      ListenerBus.drain(spark)
      (out, jobs.get)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (tables, registerJobs) = jobsOf(GoldCatalog.register(spark, layout.gold))
      assert(registerJobs == 0)
      val (part, partJobs) = jobsOf(
        SilverToGold.readSilverPartition(spark, layout.silver, "2026-08-15"))
      assert(partJobs == 0)
      // the same columns, types and answers as Spark's own inference
      tables.foreach { t =>
        val inferred = spark.read.parquet(s"${layout.gold}/$t")
        assert(spark.table(t).schema == inferred.schema, t)
        assert(spark.table(t).collect().toSet == inferred.collect().toSet, t)
      }
      val silver = spark.read.parquet(layout.silver)
      assert(day2.silver.schema == silver.schema)
      assert(day2.silver.collect().toSet == silver.collect().toSet)
      assert(part.schema == silver.drop("_processing_date").schema)
      assert(part.count() == 5)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

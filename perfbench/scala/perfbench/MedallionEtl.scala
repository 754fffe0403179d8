package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{BronzeToSilver, GoldCatalog, Pipeline, SilverToGold}

/** The reference's daily pipeline over seeded NeoWs feed days that
  * `run.py` landed as bronze JSON: per day, bronze → partitioned silver →
  * gold star schema → catalog, then `passes` passes over a fixed set of
  * gold-catalog SQL queries. A round is one day plus its queries.
  *
  * Untraced runs call `Pipeline.runFromBronze`. Traced runs call its three
  * stages one by one, in the same order and with the same arguments, so
  * each stage gets its own span. After each day (untimed) the run records
  * the day's silver row count, each gold table's row count and the bytes
  * the day added under the warehouse; `run.py` compares counts and query
  * answers with values computed from the generator. */
final class MedallionEtl(spark: SparkSession, rec: Recorder, cfg: Map[String, Any]) extends Workload {
  private val work = cfg("work_dir").toString
  private def days(k: String): Seq[Map[String, Any]] =
    cfg(k).asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala.map(_.asScala.toMap).toSeq
  private val measured = days("days")
  private val history = days("history").head
  private val queries = cfg("queries").asInstanceOf[java.util.List[java.util.Map[String, String]]]
    .asScala.map(m => m.get("name") -> m.get("sql")).toSeq
  private val passes = cfg("passes").toString.toInt
  private def layout(rep: Int) = Pipeline.Layout(s"$work/medallion/w$rep")
  private var live = layout(3)
  private val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  private def runDay(d: Map[String, Any], l: Pipeline.Layout): Unit = {
    val path = d("path").toString
    val date = d("date").toString
    val batch = d("batch").toString.toLong
    if (!rec.traced) Pipeline.runFromBronze(spark, path, l, date, batch)
    else {
      rec.span("etl.bronze_to_silver") {
        BronzeToSilver.write(BronzeToSilver.transform(BronzeToSilver.readBronze(spark, path), batch,
          Some(java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC).toInstant)),
          l.silver)
      }
      rec.span("etl.silver_to_gold") { SilverToGold.run(spark, l.silver, l.gold, date) }
      rec.span("etl.catalog_register") { GoldCatalog.register(spark, l.gold) }
      spark.read.parquet(l.silver)
    }
  }

  /** Each fixture is the history day through the whole pipeline into its
    * own warehouse; the third one is the warehouse the run extends. */
  def fixture(rep: Int): Unit = runDay(history, layout(rep))

  private def bytesUnder(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map((p: Path) => Files.size(p)).sum
    finally s.close()
  }

  private def values(rows: Array[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case x: java.math.BigDecimal => x.doubleValue
    case x => x
  }).toSeq

  /** Checks the history day's state and warms the catalog queries. */
  def warmup(): Unit = {
    GoldCatalog.register(spark, live.gold)
    checks += check(history, queries.map { case (n, q) =>
      Map("name" -> n, "rows" -> values(GoldCatalog.sql(spark, q).collect())) })
  }

  private def check(d: Map[String, Any], got: Seq[Map[String, Any]]): Map[String, Any] = Map(
    "date" -> d("date"),
    "silver_rows" -> spark.read.parquet(live.silver)
      .filter(col("_processing_date") === lit(d("date").toString)).count(),
    "gold_rows" -> Seq("dim_asteroid", "dim_date", "dim_celestial_body", "fact_asteroid_approach")
      .map(t => t -> spark.read.parquet(s"${live.gold}/$t").count()).toMap,
    "answers" -> got,
    "bytes" -> bytesUnder(live.warehouse))

  def hasRound(r: Int): Boolean = r < measured.size

  def round(r: Int): Unit = {
    val d = measured(r)
    rec.op("day", d("date").toString, r, spark) { _ => runDay(d, live) }
    val got = Seq.fill(passes)(queries).flatten.map { case (n, q) =>
      var rows: Seq[Seq[Any]] = Nil
      rec.op("catalog", n, r, spark) { _ =>
        val df = rec.span("etl.catalog_query") { GoldCatalog.sql(spark, q) }
        rows = values(rec.span("action") { df.collect() })
      }
      Map("name" -> n, "rows" -> rows)
    }
    checks += check(d, got)
  }

  def result: Map[String, Any] = Map("checks" -> checks.toSeq)
}

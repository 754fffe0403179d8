package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Cheap `SparkEntry.queries` pinned by name, visited in a seeded order
  * each round. Each op is the builder call plus a noop-sink write, the
  * same timed path `graft.Bench` uses. The warm-up executes every query
  * once into parquet under `<work>/results/<name>`, which `run.py` checks
  * against DuckDB running `SparkEntry.oracleSql`, then once more on the
  * timed path, so the timed rounds start closer to a steady JIT state. */
final class FloorMix(spark: SparkSession, rec: Recorder, cfg: Map[String, Any]) extends Workload {
  private val dir = cfg("data_dir").toString
  private val work = cfg("work_dir").toString
  private val names = cfg("queries").asInstanceOf[java.util.List[String]].asScala.toSeq
  private val order = cfg("order").asInstanceOf[java.util.List[java.util.List[String]]]
    .asScala.map(_.asScala.toSeq).toSeq
  private val builders = graft.SparkEntry.queries

  def fixture(rep: Int): Unit = graft.core.Tables.registerAll(spark, dir)

  def warmup(): Unit = {
    names.foreach { n =>
      builders(n)(spark, dir).write.mode("overwrite").parquet(s"$work/results/$n")
      spark.catalog.clearCache()
    }
    names.foreach { n =>
      builders(n)(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
  }

  def hasRound(r: Int): Boolean = r < order.size

  def round(r: Int): Unit = order(r).foreach { n =>
    rec.op("query", n, r, spark) { _ =>
      val df = rec.span("build") { builders(n)(spark, dir) }
      rec.span("action") { df.write.format("noop").mode("overwrite").save() }
    }
    spark.catalog.clearCache()
  }

  def result: Map[String, Any] = Map(
    "oracle_sql" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
}

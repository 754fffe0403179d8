package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Linear pipeline runner: bronze → silver → gold → catalog, replacing the
  * reference's Airflow DAG (`airflow/dags/nasa_asteroids_pipeline_venv.py`,
  * SURVEY §2.10 — daily cron, linear deps `bronze >> silver >> gold`).
  * Scheduling/retry stay with the caller; the engine exposes one idempotent
  * run per feed day.
  */
object Pipeline {

  case class Layout(warehouse: String) {
    val bronze = s"$warehouse/bronze"
    val silver = s"$warehouse/silver/nasa_asteroids"
    val gold = s"$warehouse/gold"
  }

  /** Run silver→gold→catalog from an already-landed bronze document (the
    * testable surface; `BronzeIngest.ingest` fronts this with the HTTP GET). */
  case class Result(silver: DataFrame, gold: SilverToGold.Gold, tables: Seq[String])

  def runFromBronze(spark: SparkSession, bronzePath: String, layout: Layout,
                    processingDate: String, batchId: Long): Result = {
    val silverDf = BronzeToSilver.transform(
      BronzeToSilver.readBronze(spark, bronzePath), batchId,
      Some(java.time.LocalDate.parse(processingDate)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    BronzeToSilver.write(silverDf, layout.silver)
    val gold = SilverToGold.run(spark, layout.silver, layout.gold, processingDate)
    val tables = GoldCatalog.register(spark, layout.gold)
    Result(ParquetDir.read(spark, layout.silver), gold, tables)
  }
}

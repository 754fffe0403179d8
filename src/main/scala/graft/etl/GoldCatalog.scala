package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL catalog over the gold directory: one view per table folder, name =
  * folder name — the Spark analog of the reference's DuckDB view catalog
  * (`/root/reference/src/gold_catalog.py:39-84`, C1-C4 in SURVEY §2.9).
  *
  * The reference globs each `*.parquet` under `gold/` subdirs; Spark
  * reads the directory natively (all part-files, partition discovery), so
  * discovery is just `listStatus` on the gold root. Each view binds its
  * schema from one footer ([[ParquetDir.read]]), so registering runs no
  * Spark job.
  */
object GoldCatalog {

  /** Gold-table discovery shared by the temp-view and persistent paths. */
  private def discover(spark: SparkSession, goldDir: String): Seq[String] = {
    val root = new Path(goldDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      throw new IllegalArgumentException(s"no gold tables found under $goldDir")
    val tables = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    if (tables.isEmpty)
      throw new IllegalArgumentException(s"no gold tables found under $goldDir")
    tables
  }

  /** C1: discover gold tables and register temp views. Returns table names. */
  def register(spark: SparkSession, goldDir: String): Seq[String] = {
    val tables = discover(spark, goldDir)
    tables.foreach { t =>
      ParquetDir.read(spark, s"$goldDir/$t").createOrReplaceTempView(t)
    }
    tables
  }

  /** C1-persistent: register every gold table as an EXTERNAL table in a
    * metastore-backed database, so the catalog survives the session — the
    * semantic twin of the reference's DuckDB catalog file
    * (`gold_catalog.py:19-20,52-61`: views created in `nasa_asteroids
    * .duckdb` persist across processes). EXTERNAL (`LOCATION` points at
    * the existing gold parquet) means registration moves no data and a
    * re-run after a new ETL day just refreshes the same locations;
    * `DROP TABLE` on an external table drops metadata only. Requires a
    * session whose catalog is metastore-backed
    * ([[graft.core.GraftSession.persistent]]); on the default in-memory
    * catalog this still works but persists nothing — same as `register`. */
  def registerPersistent(spark: SparkSession, goldDir: String,
                         database: String = "gold"): Seq[String] = {
    val tables = discover(spark, goldDir)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`")
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS `$database`.`$t`")
      spark.sql(s"CREATE TABLE `$database`.`$t` USING parquet LOCATION '$goldDir/$t'")
    }
    tables
  }

  /** C2: SHOW TABLES. */
  def showTables(spark: SparkSession): DataFrame = spark.sql("SHOW TABLES")

  /** C3: DESCRIBE <table>. */
  def describe(spark: SparkSession, table: String): DataFrame =
    spark.sql(s"DESCRIBE $table")

  /** C4: ad-hoc SQL (the reference's demo query runs verbatim,
    * `gold_catalog.py:80-84`). */
  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)
}

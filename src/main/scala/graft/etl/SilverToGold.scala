package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold layer: Kimball star schema — 3 dims + 1 fact.
  *
  * Capability twin of `/root/reference/src/etl/silver_to_gold.py:31-96`
  * (A1-A3, J1-J2, F9-F12, P4-P5, S6-S7) with the reference's two correctness
  * hazards fixed (SURVEY.md §7 "hard parts"):
  *
  *   1. Surrogate keys. The reference assigns `celestial_body_id` /
  *      `approach_event_id` with `monotonically_increasing_id()` (`:59,:67`)
  *      and then re-executes the dim plan inside the fact plan (four
  *      independent write actions, `:82-96`) — the fact can join against ids
  *      that were never written. We use content-derived keys: `dense_rank`
  *      over the natural key for the tiny body dim, `xxhash64` of the natural
  *      key for the fact event id. Both are deterministic at ANY parallelism
  *      and need no global coordination — `row_number` over an unpartitioned
  *      window would serialize on one task at 100 TB.
  *
  *   2. Recompute. The silver scan ran 4x in the reference; we compute each
  *      dim once and reuse the DataFrames (plans share the cached silver).
  *
  *   3. Dedup determinism. `dropDuplicates(key)` keeps an arbitrary row; we
  *      keep min-by-full-row via row_number so replays are byte-identical.
  *
  * Dims join into the fact via broadcast (they are bounded categoricals —
  * dates and orbiting bodies — and stay tiny at any data scale).
  */
object SilverToGold {

  /** A1: dim_asteroid — deduped on asteroid_id, deterministic winner. */
  def dimAsteroid(silver: DataFrame): DataFrame = {
    val cols = Seq("asteroid_id", "neo_id", "asteroid_name", "magnitude",
      "is_hazardous", "is_sentry", "diameter_min_km", "diameter_max_km",
      "diameter_min_m", "diameter_max_m", "jpl_url")
    val w = Window.partitionBy(col("asteroid_id"))
      .orderBy(cols.filterNot(_ == "asteroid_id").map(c => asc_nulls_last(c)): _*)
    silver.select(cols.map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** A2 + F9-F11: dim_date — smart int key + calendar attributes. Adopts the
    * pandas twin's dropna on the date (reference divergence, SURVEY §2.2 P5). */
  def dimDate(silver: DataFrame): DataFrame =
    silver.select(col("approach_date")).na.drop().distinct()
      .select(
        date_format(col("approach_date"), "yyyyMMdd").cast("int").as("date_id"),
        col("approach_date"),
        year(col("approach_date")).as("year"),
        month(col("approach_date")).as("month"),
        dayofmonth(col("approach_date")).as("day"),
        date_format(col("approach_date"), "E").as("weekday"))

  /** A3: dim_celestial_body — deterministic surrogate key (vs the reference's
    * partition-dependent monotonically_increasing_id, `:58-61`). Content-
    * derived (xxhash64 of the natural key) rather than rank-derived: ranks
    * shift as new bodies appear in later batches, hashes never do — required
    * for cross-day dim merging (writeMerged). */
  def dimCelestialBody(silver: DataFrame): DataFrame =
    silver.select(col("approaching_body")).na.drop().distinct()
      .select(
        abs(xxhash64(col("approaching_body"))).as("celestial_body_id"),
        col("approaching_body"))

  /** J1 + J2 + P4: fact — silver ⋈ dim_date (expression join) ⋈
    * dim_celestial_body (USING join), then the 12-column projection. */
  def factApproach(silver: DataFrame, dimDateDf: DataFrame,
                   dimBodyDf: DataFrame): DataFrame = {
    val dd = dimDateDf.select(col("date_id"), col("approach_date").as("__dd_date"))
    silver
      .join(broadcast(dd), silver("approach_date") === dd("__dd_date"), "left")
      .join(broadcast(dimBodyDf), Seq("approaching_body"), "left")
      .select(
        // deterministic event id from the natural key (replaces F12)
        abs(xxhash64(col("asteroid_id"), col("approach_datetime"),
          col("approaching_body"), col("_etl_batch_id"))).as("approach_event_id"),
        col("asteroid_id"), col("date_id"), col("celestial_body_id"),
        col("approach_datetime"), col("velocity_km_s"), col("velocity_km_h"),
        col("miss_distance_km"), col("miss_distance_au"), col("miss_distance_lunar"),
        col("_etl_batch_id"), col("_processing_timestamp"))
  }

  case class Gold(dimAsteroid: DataFrame, dimDate: DataFrame,
                  dimCelestialBody: DataFrame, fact: DataFrame)

  /** Build all four frames off one cached silver scan. */
  def build(silver: DataFrame): Gold = {
    val s = silver.cache()
    val dd = dimDate(s)
    val db = dimCelestialBody(s)
    Gold(dimAsteroid(s), dd, db, factApproach(s, dd, db))
  }

  /** S7: append-mode parquet writes, one directory per gold table (reference
    * `:82-96`; the cross-day dim-duplication quirk is preserved under append —
    * callers wanting idempotent dims should overwrite). */
  def write(g: Gold, goldDir: String, mode: SaveMode = SaveMode.Append): Unit = {
    g.dimAsteroid.write.mode(mode).parquet(s"$goldDir/dim_asteroid")
    g.dimDate.write.mode(mode).parquet(s"$goldDir/dim_date")
    g.dimCelestialBody.write.mode(mode).parquet(s"$goldDir/dim_celestial_body")
    g.fact.write.mode(mode).parquet(s"$goldDir/fact_asteroid_approach")
  }

  /** Idempotent dim maintenance (the warehouse-correct alternative to the
    * reference's append duplication, SURVEY §7): union the incoming dim with
    * the stored one, keep a deterministic winner per natural key, then
    * atomically swap via staging-dir rename (never overwrite a path that is
    * an input of the running plan). */
  def mergeDim(spark: SparkSession, incoming: DataFrame, path: String,
               keyCols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(new Path(path)))
        spark.read.parquet(path).unionByName(incoming)
      else incoming
    val orderCols: Seq[org.apache.spark.sql.Column] = {
      val rest = merged.columns.filterNot(keyCols.contains).map(asc_nulls_last).toSeq
      if (rest.nonEmpty) rest else Seq(asc_nulls_last(keyCols.head))
    }
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    val deduped = merged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val staging = new Path(path + ".__staging")
    deduped.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val target = new Path(path)
    if (fs.exists(target)) fs.delete(target, true)
    fs.rename(staging, target)
  }

  /** Merge-mode gold write: dims stay unique across daily runs, fact appends. */
  def writeMerged(spark: SparkSession, g: Gold, goldDir: String): Unit = {
    mergeDim(spark, g.dimAsteroid, s"$goldDir/dim_asteroid", Seq("asteroid_id"))
    mergeDim(spark, g.dimDate, s"$goldDir/dim_date", Seq("date_id"))
    mergeDim(spark, g.dimCelestialBody, s"$goldDir/dim_celestial_body", Seq("approaching_body"))
    g.fact.write.mode(SaveMode.Append).parquet(s"$goldDir/fact_asteroid_approach")
  }

  /** Read one processing-date partition of silver via a partition-pruning
    * filter (NOT path splice — keeps the partition column in schema; we drop
    * it to match the reference's path-spliced read, SURVEY §2.1 S6). */
  def readSilverPartition(spark: SparkSession, silverDir: String,
                          processingDate: String): DataFrame =
    ParquetDir.read(spark, silverDir)
      .filter(col("_processing_date") === lit(processingDate))
      .drop("_processing_date")

  def run(spark: SparkSession, silverDir: String, goldDir: String,
          processingDate: String): Gold = {
    val silver = readSilverPartition(spark, silverDir, processingDate)
    val g = build(silver)
    write(g, goldDir)
    silver.unpersist()
    g
  }
}

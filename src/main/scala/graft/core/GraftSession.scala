package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the session concerns of the reference
  * (`/root/reference/src/etl/bronze_to_silver.py:21-29`: appName + object-store
  * config) but tuned for Spark 4.x analytics at scale:
  *   - AQE on (runtime coalescing / skew-join splitting — essential on real
  *     clusters where per-partition sizes are unknowable at plan time),
  *   - UTC session timezone + CORRECTED time parser (locale-stable parsing of
  *     the reference's `yyyy-MMM-dd HH:mm` timestamps),
  *   - nested-schema pruning (the reference projects 4-deep JSON paths;
  *     pruning keeps the parquet/JSON scan narrow),
  *   - shuffle partitions sized for the local harness via `SPARK_GRAFT_CPUS`
  *     (a real deployment would size this to ~2-3x total executor cores),
  *   - a generated-class cache that holds the engine's working set
  *     ([[CodegenCacheEntries]]), so repeated work compiles nothing,
  *   - caller literals bound as generated-class references
  *     ([[graft.plans.BindLiterals]]), so the same plan shape with new
  *     values compiles nothing either.
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Capacity of Spark's generated-class cache (`CodeGenerator`'s,
    * `spark.sql.codegen.cache.maxEntries`, 100 by default in Spark 4.1).
    * A medallion round (one day through bronze, silver, gold and the
    * catalog, then two passes of seven catalog queries) touches about 100
    * distinct classes, so at the default the day and the queries evict
    * each other: every round compiled again 29-38 classes for the day
    * and 36-44 for the first catalog pass, 1.4-2.0 s of compile per round
    * of a 7.8 s round (traced medallion_etl, seed 7, 4 vCPUs). Measured
    * with the cap out of the way, one whole benchmark run (set-up,
    * warm-up and every round) compiles 74 distinct classes on floor_mix,
    * 126 on medallion_etl and 193 on txlog_dml (measured before [[tune]]
    * bound caller literals; a TxLog verb now compiles once per plan shape,
    * and the per-call compiles left on txlog_dml are the benchmark's own
    * `spark.range` sources, whose bounds `RangeExec` spells into the
    * code). 1000 is five times the largest of these: Guava splits the capacity across segments and may evict
    * from a full segment before the whole cache is full. At 8-11 KB of
    * source per class on average, a full cache holds tens of MB.
    *
    * The cache is ONE per JVM, sized from the session conf on the first
    * codegen in the JVM; the entry is a static conf, so it takes effect
    * only through the SparkConf that [[tune]] builds. A session created
    * without [[tune]] that runs a query first fixes the size (Spark's
    * default) for the whole JVM, whatever later sessions set. */
  private val CodegenCacheEntries = 1000

  /** Apply engine defaults onto an arbitrary builder (so Verify/Bench can
    * keep their own master/memory settings). The literal-binding rule is
    * added through the builder's extensions, so a `spark.sql.extensions`
    * the caller set still applies; sessions made by `newSession()` share
    * it. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(graft.plans.BindLiterals.install)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
      // some generator vintages stamp events.ts as INT64 TIMESTAMP(NANOS),
      // which Spark's reader rejects; read those as long nanos and convert
      // in Tables.events (micros-NTZ vintages are normalized there too).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // streaming state on RocksDB: the default HDFS-backed provider keeps
      // every key in executor heap — at 100 TB-scale state (stream-stream
      // join buffers, session maps) that is an OOM, RocksDB spills to
      // local disk with changelog checkpointing. All streaming parity
      // specs run on this provider.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // split-size ceiling: with executor memory sized for ~4 concurrent
      // 128 MB columnar batches per core, scans neither spill nor starve
      // parallelism at 100 TB (tune with executor memory, not per query)
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the cache is keyed by the generated source; with the stage id in
      // the class name, an unchanged pipeline whose AQE stage number
      // shifts (AQE numbers stages in the order concurrent stages finish)
      // compiles again under its new name
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Aggressive ContextCleaner cadence for LONG-RUNNING multi-query
    * sessions (Verify's 270+-query dump; any app looping queries for
    * minutes): the default 30-min periodic GC is longer than the whole
    * run, so torrent broadcast blocks from hundreds of broadcast joins
    * accrue on the heap until an allocation-pressure GC happens to run
    * finalizers in time (round-11: a pass-2 q213 OOM at -Xmx8g killed a
    * whole bench artifact). Deliberately NOT in [[tune]] (round-12,
    * ADVICE): a 2-min driver System.gc is the wrong default for ordinary
    * sessions — the entry points that loop queries opt in. (Bench opts
    * OUT even of this: it collects explicitly between queries, in the
    * untimed region, so no GC stall can land inside a timed run.) */
  def longSession(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.cleaner.periodicGC.interval", "2min")

  /** Local session for tests / ad-hoc runs. */
  def local(appName: String = "graft", cores: Int = defaultParallelism): SparkSession = {
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session whose catalog PERSISTS across processes — the Spark analog of
    * the reference's DuckDB catalog FILE
    * (`/root/reference/src/gold_catalog.py:19-20` connects to
    * `nasa_asteroids.duckdb`: views registered in one run are visible to
    * the next). Uses the Hive catalog implementation with a caller-pinned
    * Derby metastore + warehouse directory: `metaDir` IS the catalog file,
    * and any later session pointed at the same `metaDir` sees every table
    * registered through [[graft.etl.GoldCatalog.registerPersistent]]. On a
    * real cluster the same two configs point at the shared metastore
    * (thrift URI) instead of a local Derby path — nothing else changes. */
  def persistent(appName: String, metaDir: String,
                 cores: Int = defaultParallelism): SparkSession = {
    // a prior embedded-Derby engine shutdown (the documented way to release
    // a metastore between same-JVM sessions) also DEREGISTERS the JDBC
    // driver; instantiating EmbeddedDriver is Derby's documented reboot
    try Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
      .getDeclaredConstructor().newInstance()
    catch { case _: Throwable => () }
    val spark = tune(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", s"$metaDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$metaDir/metastore_db;create=true")
      // forked JVMs don't service-discover the Derby driver off the
      // unmanaged Spark classpath — name it explicitly for DataNucleus
      .config("javax.jdo.option.ConnectionDriverName",
        "org.apache.derby.jdbc.EmbeddedDriver")
      .enableHiveSupport()
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

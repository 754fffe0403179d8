package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** GraftExtensions: engine functions reachable from pure SQL in a session
  * built with spark.sql.extensions. Separate suite: needs its own session. */
class ExtensionsInstallSpec extends AnyFunSuite {

  test("spark.sql.extensions=graft.GraftExtensions exposes engine functions to SQL") {
    // getOrCreate would silently reuse a prior suite's session (without the
    // extensions conf) — make sure none is active
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = GraftSession.tune(
      SparkSession.builder().master("local[2]").appName("ext-install")
        .config("spark.sql.extensions", "graft.GraftExtensions"),
      shufflePartitions = 2).getOrCreate()
    try {
      val r = spark.sql(
        """SELECT
          |  cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c1,
          |  cosine_sim(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS c0,
          |  size(word_shingles('a b c d', 3)) AS n_sh,
          |  size(hashed_word_shingles('a b c d', 3)) AS n_hsh
          |""".stripMargin).collect().head
      assert(r.getDouble(0) == 1.0)
      assert(r.getDouble(1) == 0.0)
      assert(r.getInt(2) == 2)
      assert(r.getInt(3) == 2)
      // tune adds the literal-binding rule beside the caller's extensions;
      // GraftExtensions injects it too, and applying it twice is harmless
      assert(spark.sessionState.columnarRules
        .count(_.preColumnarTransitions eq graft.plans.BindLiterals) == 2)
      assert(spark.sql("SELECT sum(id * 3 + 1) FROM range(10) WHERE id > 2")
        .head().getLong(0) == 133L)

      // optimizer rule: a shingle projection over the (tiny) documents
      // relation gains a repartition below the project...
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .createOrReplaceTempView("docs_ext")
      val small = spark.sql(
        "SELECT doc_id, hashed_word_shingles(text, 3) AS sh FROM docs_ext")
      val smallPlan = small.queryExecution.optimizedPlan.toString
      assert(smallPlan.contains("Repartition"),
        s"rule did not fire on a small relation:\n$smallPlan")
      assert(small.count() > 0)
      // ...but a plain projection (no expensive expression) does not
      val cheap = spark.sql("SELECT doc_id, length(text) AS n FROM docs_ext")
      assert(!cheap.queryExecution.optimizedPlan.toString.contains("Repartition"))
      // ...and a relation above the size threshold is left alone
      spark.conf.set("spark.graft.parallelize.maxBytes", "1024")
      val big = spark.sql(
        "SELECT doc_id, hashed_word_shingles(text, 3) AS sh FROM docs_ext")
      assert(!big.queryExecution.optimizedPlan.toString.contains("Repartition"))
      spark.conf.unset("spark.graft.parallelize.maxBytes")
    } finally spark.stop()
  }

  test("extensions session runs OPTIMIZE / VACUUM maintenance SQL on TxLog tables") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    val spark = GraftSession.tune(
      SparkSession.builder().master("local[2]").appName("ext-maint")
        .config("spark.sql.extensions", "graft.GraftExtensions"),
      shufflePartitions = 2).getOrCreate()
    try {
      import spark.implicits._
      import graft.etl.TxLog
      val t = java.nio.file.Files.createTempDirectory("graft-maint")
        .resolve("t").toString
      (0 until 4).foreach(i => TxLog.append(spark, t,
        Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1)))
      assert(TxLog.snapshot(t).size == 4)
      val name = s"maint_t_${System.nanoTime()}"
      spark.sql(s"CREATE TABLE $name (id BIGINT, s STRING) USING " +
        s"graft.sources.TxLogSource OPTIONS (path '$t')")
      // OPTIMIZE by table name, clustered: 4 files -> 2 sorted files
      spark.sql(s"OPTIMIZE $name INTO 2 FILES CLUSTER BY (id)")
      assert(TxLog.snapshot(t).size == 2)
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 4L)
      // VACUUM by quoted path; young pre-compaction files survive the
      // default retention window (mtime guard), so nothing is deleted
      spark.sql(s"VACUUM '$t' RETAIN 1 VERSIONS")
      assert(spark.sql(s"SELECT count(*) FROM $name").head().getLong(0) == 4L)
      // parser passthrough: ordinary SQL is untouched by the delegate
      assert(spark.sql("SELECT 1 + 1 AS x").head().getInt(0) == 2)
      // ...and a maintenance verb on a non-TxLog table fails loudly
      intercept[Exception] {
        spark.sql("OPTIMIZE nonexistent_table_xyz")
      }
      spark.sql(s"DROP TABLE $name")
    } finally spark.stop()
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** DSv2 write path for TxLog tables (round-11 VERDICT #5): SQL
  * CREATE TABLE / INSERT INTO / INSERT OVERWRITE / SELECT over the
  * commit-log format, every statement an ACID commit. */
class TxLogSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-source-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private var n = 0
  private def freshTable(): (String, String) = synchronized {
    n += 1
    val path = Files.createTempDirectory("graft-txsrc").resolve("t").toString
    val name = s"txsrc_$n"
    spark.sql(s"CREATE TABLE $name (id BIGINT, s STRING) " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$path')")
    (name, path)
  }

  test("SQL INSERT INTO lands a TxLog commit; SELECT and TxLog.read see it") {
    val (t, path) = freshTable()
    // a freshly created table SELECTs empty, not an error
    assert(spark.sql(s"SELECT * FROM $t").count() == 0)
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    assert(TxLog.versions(path) == Seq(1L), "INSERT did not publish version 1")
    assert(spark.sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // the API read path sees the SQL write (one format, two surfaces)
    assert(TxLog.read(spark, path).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // and the commit carries the schema declaration + footer stats
    assert(TxLog.schemaOf(path).exists(_.fieldNames.toSeq == Seq("id", "s")))
    assert(TxLog.describe(path).exists(_.rows == 2L))
  }

  test("INSERT OVERWRITE is a transactional overwrite; time travel intact") {
    val (t, path) = freshTable()
    spark.sql(s"INSERT INTO $t VALUES (1, 'a')")
    spark.sql(s"INSERT OVERWRITE $t VALUES (10, 'x'), (11, 'y')")
    assert(TxLog.versions(path) == Seq(1L, 2L))
    assert(spark.sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(10L, 11L))
    // v1 still reads the pre-overwrite content
    assert(TxLog.read(spark, path, asOf = Some(1L)).select(col("id"))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("racing SQL INSERTs serialize on the version CAS; none lost") {
    val (t, path) = freshTable()
    val writers = 4
    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val futs = (0 until writers).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = { start.await()
          spark.sql(s"INSERT INTO $t VALUES ($w, 'w$w')"); () }
      })
    }
    start.countDown()
    futs.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(TxLog.versions(path) == (1L to writers.toLong),
      "racing INSERTs must serialize into sequential versions")
    assert(spark.sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == (0L until writers.toLong))
  }

  test("readStream tails committed versions; emissions ≡ batch changes; replay-idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val path = Files.createTempDirectory("graft-cdcstream").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft-cdcstream-ckpt").toString
    (1 to 3).foreach(i => TxLog.append(spark, path,
      Seq((i.toLong, s"v$i")).toDF("id", "s")))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Unit = spark.readStream
      .format("graft.sources.TxLogSource").load(path)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select(col("id")).collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    drain()
    // stream emissions ≡ batch changes(0, head) union (the VERDICT contract)
    val batch = TxLog.changes(spark, path, 0L).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted.toSeq == batch)
    assert(batch == Seq(1L, 2L, 3L))
    // restart on the SAME checkpoint: already-consumed versions are NOT
    // re-emitted; only the new commits arrive (exactly-once tail)
    TxLog.append(spark, path, Seq((4L, "v4")).toDF("id", "s"))
    TxLog.append(spark, path, Seq((5L, "v5")).toDF("id", "s"))
    got.clear()
    drain()
    assert(got.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted.toSeq
      == Seq(4L, 5L), "restart must emit exactly the un-consumed versions")
    // nothing new: a third drain emits nothing
    got.clear()
    drain()
    assert(got.isEmpty)
  }

  test("table-to-table streaming pipeline: exactly-once end to end") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // the medallion shape over the format: commits land in A, a stream
    // tails A and commits into B with per-batch idempotence markers —
    // source offsets are checkpointed, sink commits are marker-gated, so
    // BOTH halves of a crash replay are no-ops
    val a = Files.createTempDirectory("graft-pipe-a").resolve("t").toString
    val b = Files.createTempDirectory("graft-pipe-b").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft-pipe-ckpt").toString
    (1 to 3).foreach(i => TxLog.append(spark, a,
      Seq((i.toLong, s"v$i")).toDF("id", "s")))
    def pump(): Unit = spark.readStream
      .format("graft.sources.TxLogSource").load(a)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.streaming.TxLogStream.processBatch(spark, batch, b, "pipe", id)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    pump()
    def ids(t: String): Seq[Long] = TxLog.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(b) == Seq(1L, 2L, 3L))
    // more source commits; second pump moves ONLY the delta
    TxLog.append(spark, a, Seq((4L, "v4")).toDF("id", "s"))
    pump()
    assert(ids(b) == Seq(1L, 2L, 3L, 4L))
    // crash replay of an already-committed batch: the sink marker makes
    // it a no-op even when the SOURCE offset checkpoint is lost
    val replayed = TxLog.changes(spark, b, 0L)
    graft.streaming.TxLogStream.processBatch(spark, TxLog.read(spark, a), b, "pipe", 0L)
    assert(ids(b) == Seq(1L, 2L, 3L, 4L), "replayed batch 0 must not duplicate")
    assert(replayed.count() == 4L)
  }

  test("SQL reads prune through the commit-log stats (pushed filter)") {
    val (t, path) = freshTable()
    // two single-file commits with disjoint id ranges → a selective
    // predicate must open only one file underneath the SQL view
    spark.sql(s"INSERT INTO $t SELECT id, 'lo' FROM range(0, 100)")
    spark.sql(s"INSERT INTO $t SELECT id, 'hi' FROM range(1000, 1100)")
    val pr = TxLog.prune(spark, path, col("id") < 50L)
    assert(pr.skipped.nonEmpty, "stats should prove the hi file irrelevant")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t WHERE id < 50")
      .head().getLong(0) == 50L)
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** Deletion vectors (merge-on-read DELETE): write cost O(deleted rows),
  * readers anti-filter (file, position) pairs, optimize materializes. */
class TxLogDvSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-dv-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-txdv").resolve("t").toString

  private def ids(t: String, asOf: Option[Long] = None): Seq[Long] =
    TxLog.read(spark, t, asOf).select(col("id")).collect()
      .map(_.getLong(0)).sorted.toSeq

  test("MoR delete drops rows without rewriting any data file") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.append(spark, t, (10L to 12L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    val before = TxLog.snapshot(t).toSet
    val v = TxLog.deleteWhereMerge(spark, t, col("id") % 2 === 0)
    assert(v.contains(3L))
    // every original file is STILL live (zero rewrite) — the deletes are
    // vectors, not copies
    assert(TxLog.snapshot(t).toSet == before)
    assert(ids(t) == Seq(1L, 3L, 5L, 11L))
    // time travel before the delete reads everything
    assert(ids(t, Some(2L)) == (1L to 6L) ++ (10L to 12L))
    // readWhere composes with DVs (pruning stays conservative)
    assert(TxLog.readWhere(spark, t, col("id") <= 5L).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("MoR deletes are cumulative; no-match commits nothing; nulls survive") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]))
        .toDF("id", "s").coalesce(1))
    assert(TxLog.deleteWhereMerge(spark, t, col("s") === "zzz").isEmpty)
    assert(TxLog.versions(t) == Seq(1L))
    assert(TxLog.deleteWhereMerge(spark, t, col("s") === "a").contains(2L))
    // second MoR delete on the SAME file must keep the first's positions
    assert(TxLog.deleteWhereMerge(spark, t, col("s") === "b").contains(3L))
    // NULL-predicate row survives both (TRUE deletes only)
    assert(ids(t) == Seq(3L))
    // already-deleted rows can't re-match: deleting s='a' again is a no-op
    assert(TxLog.deleteWhereMerge(spark, t, col("s") === "a").isEmpty)
  }

  test("optimize materializes DVs; describe refuses partial knowledge meanwhile") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 8L).map(i => (i, i * 10)).toDF("id", "v").coalesce(2))
    assert(TxLog.describe(t).exists(_.rows == 8L))
    TxLog.deleteWhereMerge(spark, t, col("id") <= 3L)
    // footer stats now over-count: describe must refuse, not guess
    assert(TxLog.describe(t).isEmpty)
    assert(TxLog.dvsAt(t).nonEmpty)
    val vOpt = TxLog.optimize(spark, t, targetFiles = 1)
    assert(vOpt.isDefined)
    // compaction dropped the deleted rows and cleared the vectors
    assert(TxLog.dvsAt(t).isEmpty)
    assert(ids(t) == (4L to 8L))
    assert(TxLog.describe(t).exists(_.rows == 5L))
    // historical snapshot still reads through its contemporaneous DVs
    assert(ids(t, Some(2L)) == (4L to 8L))
    assert(ids(t, Some(1L)) == (1L to 8L))
  }

  test("CoW delete and MERGE read through DVs (no resurrection)") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhereMerge(spark, t, col("id") === 2L)
    // a copy-on-write delete of id=5 rewrites the file: the rewrite must
    // NOT bring id=2 back
    TxLog.deleteWhere(spark, t, col("id") === 5L)
    assert(ids(t) == Seq(1L, 3L, 4L, 6L))
    assert(TxLog.dvsAt(t).isEmpty, "rewrite should clear the file's DV")
    // now a MoR delete then a MERGE touching the same file
    TxLog.deleteWhereMerge(spark, t, col("id") === 3L)
    TxLog.merge(spark, t,
      Seq((4L, "R4"), (7L, "r7")).toDF("id", "s"), Seq("id"))
    assert(TxLog.read(spark, t).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == Seq((1L, "r1"), (4L, "R4"), (6L, "r6"), (7L, "r7")))
  }

  test("DV table: TxLog.read and SQL SELECT filter exact rows and prune files") {
    import spark.implicits._
    val t = tmp()
    // three single-file commits with disjoint id ranges, then a MoR delete
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxLog.append(spark, t, r.map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    }
    TxLog.deleteWhereMerge(spark, t, col("id") === 150L)
    assert(TxLog.dvsAt(t).size == 1)
    val want = (100L until 200L).filterNot(_ == 150L)
    val df = TxLog.read(spark, t)
    assert(df.filter(col("id") >= 100L && col("id") < 200L).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq == want)
    assert(Scans.index(df).lastPrunedCount == 2,
      "the DV anti-join must not stop the range from pruning 2 of 3 files")
    // the SQL read path is the same reader: DVs applied, files pruned
    val name = "txdv_sql_t"
    spark.sql(s"CREATE TABLE $name (id BIGINT, s STRING) " +
      s"USING graft.sources.TxLogSource OPTIONS (path '$t')")
    try {
      val n = Scans.recordsRead(spark) {
        // sorted on the driver: an ORDER BY's range sampling would scan twice
        assert(spark.sql(s"SELECT id FROM $name WHERE id >= 100 AND id < 200")
          .collect().map(_.getLong(0)).sorted.toSeq == want)
      }
      assert(n <= 150L, s"the range should read 1 of 3 files, read $n rows")
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("checkpoint persists DV state; replay-from-checkpoint keeps deletes") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 10L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    TxLog.deleteWhereMerge(spark, t, col("id") <= 4L)
    val cpv = TxLog.checkpoint(t)
    // force replay THROUGH the checkpoint: delete the pre-checkpoint
    // version files' content influence by appending after it, then read —
    // snapshotAdds/dvsAt start from the checkpoint body, so the DV lines
    // it carries are the only way the deletes survive
    TxLog.append(spark, t, Seq((100L, 100L)).toDF("id", "v"))
    assert(TxLog.dvsAt(t).nonEmpty, "checkpoint must carry the DV state")
    assert(ids(t) == (5L to 10L) :+ 100L)
    // time travel to the checkpointed version reads through its DVs too
    assert(ids(t, Some(cpv)) == (5L to 10L))
    // post-checkpoint optimize still materializes and clears
    TxLog.optimize(spark, t, targetFiles = 1)
    assert(TxLog.dvsAt(t).isEmpty)
    assert(ids(t) == (5L to 10L) :+ 100L)
  }

  test("racing MoR deletes on one file serialize without losing positions") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 20L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val f1 = pool.submit(new Runnable { def run(): Unit = { start.await()
      TxLog.deleteWhereMerge(spark, t, col("id") <= 5L); () } })
    val f2 = pool.submit(new Runnable { def run(): Unit = { start.await()
      TxLog.deleteWhereMerge(spark, t, col("id") >= 16L); () } })
    start.countDown()
    f1.get(120, TimeUnit.SECONDS); f2.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    // both deletes present: the DV-state validation forces the loser to
    // rebase onto the winner's vector instead of overwriting it
    assert(ids(t) == (6L to 15L))
    // vacuum with age-0 GCs the superseded sidecar, keeps the live one
    val deleted = TxLog.vacuum(t, retainVersions = 1, minAgeMillis = 0)
    assert(ids(t) == (6L to 15L), "vacuum must not break the live DV")
  }

  test("executor-side sidecar writes: multi-file delete, driver-path parity") {
    import spark.implicits._
    val t = tmp()
    // 4 files × 250 rows: the matched set spans every file, so the
    // grouped executor write produces one sidecar per file — driver state
    // is 4 (file, rel, count) rows, never the 500 matched positions
    (0 until 4).foreach { b =>
      TxLog.append(spark, t,
        (b * 250L until (b + 1) * 250L).map(i => (i, i % 2)).toDF("id", "par")
          .coalesce(1))
    }
    assert(TxLog.snapshot(t).size == 4)
    val v = TxLog.deleteWhereMerge(spark, t, col("par") === 1L)
    assert(v.contains(5L))
    // parity with the reference semantics: exactly the odd ids are gone
    assert(ids(t) == (0L until 1000L).filter(_ % 2 == 0))
    // every file carries a DV naming exactly its own deleted positions:
    // cardinality sums to the matched count, and a SECOND delete on the
    // same files merges executor-side with the existing sidecars
    assert(TxLog.dvCardinality(t) == 500L)
    assert(TxLog.deleteWhereMerge(spark, t, col("id") < 10L).contains(6L))
    assert(TxLog.dvCardinality(t) == 505L)
    assert(ids(t) == (10L until 1000L).filter(_ % 2 == 0))
    // optimize still materializes executor-written DVs away
    TxLog.optimize(spark, t, targetFiles = 2)
    assert(TxLog.dvCardinality(t) == 0L)
    assert(ids(t) == (10L until 1000L).filter(_ % 2 == 0))
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** Round 16: filter/column PUSHDOWN through the DSv2 catalog scan —
  * before this, SQL over a graft catalog table read every file with
  * every column and filtered above the scan; now pushed predicates
  * reach the stats file index (file skipping) and the parquet reader
  * (row-group skipping), and the projection narrows the relation. */
class TxLogSqlPushdownSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-sql-pushdown", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def recordsRead(body: => Unit): Long = Scans.recordsRead(spark)(body)

  private def mkTable(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-sqlpush").resolve("t").toString
    // three single-file commits with DISJOINT id ranges
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxLog.append(spark, t,
        r.map(i => (i, s"s$i", i % 7)).toDF("id", "s", "grp").coalesce(1))
    }
    t
  }

  test("SQL WHERE over a catalog table prunes files via the stats index") {
    val t = mkTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val all = recordsRead {
      assert(spark.sql(s"SELECT id FROM graft.`$t`").collect().length == 300)
    }
    assert(all >= 300L, s"baseline read should touch all rows, got $all")
    val pruned = recordsRead {
      val got = spark.sql(s"SELECT id FROM graft.`$t` WHERE id < 100")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 100L))
    }
    assert(pruned <= all / 2,
      s"id<100 should read ~1 of 3 files: read $pruned rows vs $all baseline")
    // the pushdown decision is visible in EXPLAIN
    val plan = spark.sql(s"SELECT id FROM graft.`$t` WHERE id < 100")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan"),
      s"explain must show the pushed filter:\n${plan.take(800)}")
  }

  test("aggregates and joins over the catalog table prune the same way") {
    val t = mkTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = recordsRead {
      val got = spark.sql(
        s"SELECT grp, count(*) AS n FROM graft.`$t` WHERE id >= 200 GROUP BY grp")
        .collect().map(_.getLong(1)).sum
      assert(got == 100L)
    }
    assert(n <= 150L, s"id>=200 rollup should read ~1 of 3 files, got $n")
  }

  test("DV-carrying tables prune too (read() lists through the stats index)") {
    val t = mkTable()
    // a merge-on-read delete publishes a DV — the plain file-index
    // relation refuses such tables, so this exercises the TxLog.read path
    TxLog.deleteWhereMerge(spark, t, col("id") === 250L)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = recordsRead {
      val got = spark.sql(
        s"SELECT id FROM graft.`$t` WHERE id BETWEEN 0 AND 50").collect()
      assert(got.length == 51)
    }
    assert(n <= 160L,
      s"DV table with id<=50 should still skip non-matching files, got $n")
  }

  test("metadata-only aggregates: count/min/max answered with ZERO data I/O") {
    val t = mkTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val read = recordsRead {
      val r = spark.sql(
        s"SELECT count(*), min(id), max(id), count(s) FROM graft.`$t`")
        .collect().head
      assert(r.getLong(0) == 300L && r.getLong(1) == 0L &&
        r.getLong(2) == 299L && r.getLong(3) == 300L, r.toString)
    }
    // the one-row answer comes from the driver's stats fold: the single
    // local row read is the pushed-down result itself, never file data
    assert(read <= 1L, s"metadata-only aggregate read $read input rows")
    // a WHERE keeps the aggregate on the normal scan path (filters are
    // residual) — result stays exact
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$t` WHERE id >= 100").collect()
      .head.getLong(0) == 200L)
    // grouped aggregates are never pushed
    assert(spark.sql(
      s"SELECT grp, count(*) FROM graft.`$t` GROUP BY grp").collect()
      .map(_.getLong(1)).sum == 300L)
  }

  test("aggregate pushdown refuses on DV tables and distinct counts") {
    import spark.implicits._
    val t = mkTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // distinct count: normal scan, exact
    assert(spark.sql(s"SELECT count(DISTINCT grp) FROM graft.`$t`")
      .collect().head.getLong(0) == 7L)
    // a DV makes describe() refuse -> aggregate falls back to the scan
    TxLog.deleteWhereMerge(spark, t, col("id") === 5L)
    val read = recordsRead {
      assert(spark.sql(s"SELECT count(*) FROM graft.`$t`").collect()
        .head.getLong(0) == 299L)
    }
    assert(read >= 299L,
      s"DV table count must scan (stats overcount deleted rows), read $read")
  }

  test("column pruning narrows the scan schema") {
    val t = mkTable()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val df = spark.sql(s"SELECT id FROM graft.`$t`")
    assert(df.schema.fieldNames.toSeq == Seq("id"))
    // the bridged relation itself carries only the required column
    val rdd = df.queryExecution.executedPlan.toString
    assert(!rdd.contains("ReadSchema: struct<id:bigint,s:string,grp:bigint>"),
      "scan must not read the full row shape for a 1-column projection")
  }
}

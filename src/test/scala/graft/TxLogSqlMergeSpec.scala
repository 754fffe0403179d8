package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** SQL MERGE has one plan: every statement with an UPDATE or INSERT
  * clause runs [[TxLog.mergeClauses]], so a SET list changes only the
  * columns it names, a star updates every matching target row, and the
  * engine-owned columns (generated, identity) keep their rules. Also the
  * merge-on-read delete's DV anti-join, which follows the read path's
  * join choice. */
class TxLogSqlMergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-sql-merge", cores = 2)
  override def beforeAll(): Unit = graft.sources.TxLogSqlDml.install(spark)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-sqlmerge").resolve("t").toString

  private val schema = new StructType()
    .add("id", "bigint").add("w", "string").add("n", "bigint")

  /** Rows of `t` as (id, w, n) strings, sorted; null prints as "null". */
  private def rows(t: String): Seq[String] =
    TxLog.read(spark, t).select(col("id"), col("w"), col("n")).collect()
      .map(r => s"${r.get(0)},${r.get(1)},${r.get(2)}").sorted.toSeq

  /** A table `(id, w, n)` holding `data`, registered as a SQL table for
    * the duration of `body`, which gets its name. */
  private def withTable(data: Seq[(Long, String, Long)], declare: String => Unit = _ => ())(
      body: String => Unit): String = {
    import spark.implicits._
    val t = tmp()
    TxLog.create(t, schema)
    declare(t)
    TxLog.append(spark, t, data.toDF("id", "w", "n").coalesce(1))
    val name = s"sqlmerge_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name (id BIGINT, w STRING, n BIGINT) USING " +
      s"graft.sources.TxLogSource OPTIONS (path '$t')")
    try body(name) finally spark.sql(s"DROP TABLE IF EXISTS $name")
    t
  }

  private val ab = Seq((1L, "a", 10L), (2L, "b", 20L))

  private def partialSet(name: String, nValue: String): Unit = spark.sql(
    s"""MERGE INTO $name USING (SELECT 1L AS id, 99L AS n UNION ALL
       |SELECT 3L, 30L) src ON $name.id = src.id
       |WHEN MATCHED THEN UPDATE SET n = $nValue
       |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (src.id, src.n)""".stripMargin)

  test("a partial SET list leaves the unassigned columns as they were") {
    val t = withTable(ab)(partialSet(_, "src.n"))
    assert(rows(t) == Seq("1,a,99", "2,b,20", "3,null,30"))
  }

  test("SET n = src.n + 0 keeps w like SET n = src.n + 1 does") {
    val plus0 = withTable(ab)(partialSet(_, "src.n + 0"))
    val plus1 = withTable(ab)(partialSet(_, "src.n + 1"))
    assert(rows(plus0) == Seq("1,a,99", "2,b,20", "3,null,30"))
    assert(rows(plus1) == Seq("1,a,100", "2,b,20", "3,null,30"))
  }

  test("a star MERGE updates every target row of a matched key") {
    val t = withTable(Seq((1L, "a", 10L), (1L, "b", 11L), (2L, "c", 20L))) { name =>
      spark.sql(
        s"""MERGE INTO $name USING (SELECT 1L AS id, 'x' AS w, 5L AS n UNION ALL
           |SELECT 9L, 'y', 90L) src ON $name.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(rows(t) == Seq("1,x,5", "1,x,5", "2,c,20", "9,y,90"))
  }

  test("a star MERGE on a generated-column table recomputes the column") {
    val t = withTable(Seq((1L, "a", 2L), (2L, "b", 4L)),
        TxLog.addGeneratedColumn(spark, _, "n", "id * 2")) { name =>
      spark.sql(
        s"""MERGE INTO $name USING (SELECT 1L AS id, 'x' AS w, 2L AS n UNION ALL
           |SELECT 5L, 'y', 10L) src ON $name.id = src.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(rows(t) == Seq("1,x,2", "2,b,4", "5,y,10"))
    assert(TxLog.versions(t).size == 4, "create, declare, append, one merge")
  }

  test("a star MERGE keeps matched identity values and inserts explicit BY DEFAULT ones") {
    val t = withTable(Seq((1L, "a", 10L), (2L, "b", 20L)),
        TxLog.addIdentityColumn(_, "id", allowExplicitInsert = true)) { name =>
      spark.sql(
        s"""MERGE INTO $name USING (SELECT 700L AS id, 'x' AS w, 10L AS n UNION ALL
           |SELECT 800L, 'y', 80L) src ON $name.n = src.n
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    val byN = TxLog.read(spark, t).collect()
      .map(r => r.getAs[Long]("n") -> (r.getAs[Long]("id"), r.getAs[String]("w"))).toMap
    assert(byN(10L)._2 == "x" && byN(10L)._1 != 700L,
      s"UPDATE SET * must not rewrite an identity value: $byN")
    assert(byN(80L) == (800L -> "y"), s"BY DEFAULT insert keeps its value: $byN")
    assert(byN(20L)._2 == "b" && byN.size == 3)
  }

  test("a merge-on-read delete past the distributed threshold plans no broadcast") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, (1L to 200L).map(i => (i, s"r$i")).toDF("id", "s")
      .coalesce(4))
    TxLog.deleteWhereMerge(spark, t, col("id") % 3 === 0)
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // 66 live positions, threshold 4: the existing DVs take the
    // shuffled anti-join the read path takes
    System.setProperty("graft.txlog.dv.distributed", "4")
    spark.listenerManager.register(listener)
    try {
      ListenerBus.drain(spark)
      plans.clear()
      assert(TxLog.deleteWhereMerge(spark, t, col("id") === 1L).isDefined)
      ListenerBus.drain(spark)
    } finally {
      spark.listenerManager.unregister(listener)
      System.clearProperty("graft.txlog.dv.distributed")
    }
    val ps = plans.asScala.toSeq
    assert(ps.exists(_.contains("SortMergeJoin")), ps.mkString("\n----\n"))
    assert(!ps.exists(_.contains("BroadcastExchange")), ps.mkString("\n----\n"))
    assert(TxLog.read(spark, t).select(col("id")).collect().map(_.getLong(0))
      .sorted.toSeq == (2L to 200L).filter(_ % 3 != 0))
  }
}

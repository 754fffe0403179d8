package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.CommandResult
import org.apache.spark.sql.execution.command.ExecutedCommandExec
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog
import graft.sources.{GraftSqlParser, TxLogCommand, TxLogDmlStrategy}

/** The SQL maintenance verbs are Spark commands: each parses to one
  * [[TxLogCommand]], which Spark plans as `ExecutedCommandExec` and runs
  * once, in a session with no strategy installed and no extensions. */
class TxLogSqlCommandSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val root = GraftSession.local("txlog-sql-cmd-spec", cores = 2)
  // a fresh session state: no TxLogSqlDml.install, no extensions
  private lazy val spark: SparkSession = root.newSession()
  override def afterAll(): Unit = root.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-sqlcmd").resolve("t").toString

  /** Plan and run one statement the way the oracle queries do. */
  private def statement(sql: String): DataFrame =
    GraftSqlBridge.ofRows(spark, GraftSqlParser.maintenance(sql)
      .getOrElse(fail(s"not recognized: $sql")))

  /** The Spark command nodes the statement ran through. */
  private def commandNodes(df: DataFrame): Seq[ExecutedCommandExec] =
    df.queryExecution.commandExecuted.collect {
      case c: CommandResult => c.commandPhysicalPlan.collect {
        case e: ExecutedCommandExec => e
      }
    }.flatten

  private def files(t: String): Seq[Path] = {
    val s = Files.walk(java.nio.file.Paths.get(t))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sorted
    finally s.close()
  }

  private def partitionedTable(): String = {
    import spark.implicits._
    val t = tmp()
    val rows = (1L to 6L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      i.toInt, s"s$i", i * 10))
    TxLog.append(spark, t, rows.take(3).toDF("id", "p", "k", "s", "d"),
      partitionBy = Seq("p"), commitTs = Some(1000L))
    TxLog.append(spark, t, rows.drop(3).toDF("id", "p", "k", "s", "d"),
      commitTs = Some(2000L))
    t
  }

  test("every maintenance verb plans as ExecutedCommandExec and takes effect once, with no strategy installed") {
    assert(!spark.sessionState.planner.strategies.contains(TxLogDmlStrategy))
    assert(!spark.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    val t = partitionedTable()
    val dst = tmp()
    // age the appends' files past VACUUM's mtime guard, so the DRY RUN
    // after OPTIMIZE has candidates to list
    val anHourAgo = FileTime.fromMillis(System.currentTimeMillis() - 3600000L)
    files(t).foreach(Files.setLastModifiedTime(_, anHourAgo))
    // (statement, versions it adds to t); the real VACUUM retains every
    // version so that RESTORE can still reach v2, and RESTORE runs before
    // the RENAME and the TYPE change, which it refuses to cross
    val script = Seq(
      s"OPTIMIZE '$t'" -> 1,
      s"VACUUM '$t' RETAIN 1 VERSIONS DRY RUN" -> 0,
      s"VACUUM '$t' RETAIN 3 VERSIONS" -> 0,
      s"DESCRIBE HISTORY '$t'" -> 0,
      s"DESCRIBE DETAIL '$t'" -> 0,
      s"SHOW PARTITIONS '$t'" -> 0,
      s"CREATE TABLE '$dst' SHALLOW CLONE '$t'" -> 0,
      s"TRUNCATE TABLE '$t'" -> 1,
      s"RESTORE TABLE '$t' TO VERSION AS OF 3" -> 1,
      s"RESTORE '$t' TO TIMESTAMP AS OF 2500" -> 1,
      s"ALTER TABLE '$t' SET TBLPROPERTIES ('owner'='graft', 'tier'='gold')" -> 1,
      s"ALTER TABLE '$t' UNSET TBLPROPERTIES ('tier')" -> 1,
      s"SHOW TBLPROPERTIES '$t'" -> 0,
      s"ALTER TABLE '$t' ADD COLUMNS (extra STRING)" -> 1,
      s"ALTER TABLE '$t' RENAME COLUMN s TO label" -> 1,
      s"ALTER TABLE '$t' DROP COLUMN extra" -> 1,
      s"ALTER TABLE '$t' ALTER COLUMN k TYPE BIGINT" -> 1,
      s"ALTER TABLE '$t' ALTER COLUMN d SET DEFAULT CAST(9 AS BIGINT)" -> 1,
      s"ALTER TABLE '$t' ALTER COLUMN d DROP DEFAULT" -> 1)
    val out = script.map { case (sql, added) =>
      val before = TxLog.versions(t).size
      val onDisk = files(t)
      val df = statement(sql)
      val rows = df.collect()
      val nodes = commandNodes(df)
      assert(nodes.size == 1 && nodes.head.cmd.isInstanceOf[TxLogCommand],
        s"$sql planned as:\n${df.queryExecution.analyzed}")
      assert(TxLog.versions(t).size == before + added, sql)
      if (sql.contains("DRY RUN")) {
        assert(rows.nonEmpty, "OPTIMIZE superseded the aged files")
        assert(files(t) == onDisk, "DRY RUN must delete nothing")
      }
      sql -> rows.toSeq
    }
    def rowsOf(head: String) =
      out.collectFirst { case (sql, rows) if sql.startsWith(head) => rows }.get
    assert(rowsOf("DESCRIBE HISTORY").map(_.getLong(0)) == Seq(1L, 2L, 3L))
    assert(rowsOf("DESCRIBE HISTORY")(2).getString(2) == "OPTIMIZE")
    assert(rowsOf("DESCRIBE DETAIL").head.getString(6) == "p")
    assert(rowsOf("SHOW PARTITIONS").map(_.getString(0)).toSet ==
      Set("p=even", "p=odd"))
    assert(rowsOf("CREATE TABLE").map(_.getLong(0)) == Seq(1L))
    assert(TxLog.versions(dst).size == 1)
    assert(TxLog.read(spark, dst).count() == 6L)
    assert(rowsOf("RESTORE TABLE").map(r => (r.getLong(0), r.getLong(1))) ==
      Seq(3L -> 5L))
    assert(rowsOf("RESTORE '").map(r => (r.getLong(0), r.getLong(1))) ==
      Seq(2L -> 6L))
    assert(rowsOf("SHOW TBLPROPERTIES").map(r =>
      (r.getString(0), r.getString(1))) == Seq("owner" -> "graft"))
    assert(TxLog.read(spark, t).count() == 6L)
    assert(TxLog.read(spark, t).columns.toSet ==
      Set("id", "p", "k", "label", "d"))
    val rendered =
      commandNodes(statement(s"DESCRIBE DETAIL '$t'")).head.toString
    assert(rendered.contains(s"TxLogCommand DESCRIBE DETAIL txlog('$t')"),
      rendered)
  }

  test("row-returning verbs keep their output columns (names, types, order)") {
    val t = partitionedTable()
    def cols(sql: String): Seq[(String, DataType)] =
      statement(sql).schema.map(f => (f.name, f.dataType))
    assert(cols(s"DESCRIBE HISTORY '$t'") == Seq("version" -> LongType,
      "timestamp" -> LongType, "operation" -> StringType,
      "numAdds" -> IntegerType, "numRemoves" -> IntegerType,
      "numDvs" -> IntegerType, "dataChange" -> BooleanType))
    assert(cols(s"DESCRIBE DETAIL '$t'") == Seq("numVersions" -> LongType,
      "numFiles" -> LongType, "numRows" -> LongType,
      "numDeletedRows" -> LongType, "numConstraints" -> IntegerType,
      "bloomCols" -> StringType, "partitionColumns" -> StringType))
    assert(cols(s"SHOW PARTITIONS '$t'") == Seq("partition" -> StringType,
      "numFiles" -> LongType, "numRows" -> LongType))
    assert(cols(s"SHOW TBLPROPERTIES '$t'") ==
      Seq("key" -> StringType, "value" -> StringType))
    assert(cols(s"VACUUM '$t' DRY RUN") == Seq("path" -> StringType))
    assert(cols(s"CREATE TABLE '${tmp()}' CLONE '$t'") ==
      Seq("cloned_version" -> LongType))
    assert(cols(s"RESTORE TABLE '$t' TO VERSION AS OF 1") == Seq(
      "restored_to_version" -> LongType, "committed_version" -> LongType))
  }

  test("SQL DML plans as ExecutedCommandExec over a TxLogCommand") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    graft.sources.TxLogSqlDml.install(spark)
    val name = s"sqlcmd_dml_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name (id BIGINT, s STRING) USING " +
      s"graft.sources.TxLogSource OPTIONS (path '$t')")
    try {
      for (sql <- Seq(s"DELETE FROM $name WHERE id = 2",
                      s"UPDATE $name SET s = 'z' WHERE id = 1")) {
        val nodes = commandNodes(spark.sql(sql))
        assert(nodes.map(_.cmd.asInstanceOf[TxLogCommand].verb) ==
          Seq(sql.takeWhile(_ != ' ')), sql)
      }
      assert(TxLog.versions(t).size == 3)
      assert(TxLog.read(spark, t).as[(Long, String)].collect().toSeq ==
        Seq(1L -> "z"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog
import graft.etl.TxLog.MergeClause

/** Round 15: DEFAULT column values (VERDICT r14 #4) — declaration,
  * write-time fill across every writer, DDL interactions, SQL verbs. */
class Round15DefaultsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("round15-defaults", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-r15d").resolve("t").toString

  private def scores(t: String): Seq[(Long, Long)] =
    TxLog.read(spark, t).select(col("id"), col("score")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .sortBy(_._1).toSeq

  test("SET DEFAULT fills absent columns on later writes; history stays null") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.addColumns(t, org.apache.spark.sql.types.StructType.fromDDL(
      "score BIGINT"))
    TxLog.setColumnDefault(spark, t, "score", "CAST(7 AS BIGINT)")
    // absent column -> filled; pre-ALTER row 1 stays null
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1))
    // supplied column -> never overridden
    TxLog.append(spark, t,
      Seq((3L, "c", 30L)).toDF("id", "s", "score").coalesce(1))
    assert(scores(t) == Seq((1L, -1L), (2L, 7L), (3L, 30L)))
    // DROP DEFAULT: later omissions are null again
    TxLog.dropColumnDefault(t, "score")
    TxLog.append(spark, t, Seq((4L, "d")).toDF("id", "s").coalesce(1))
    assert(scores(t) == Seq((1L, -1L), (2L, 7L), (3L, 30L), (4L, -1L)))
    // the declaration is versioned
    assert(TxLog.defaultsOf(t).isEmpty)
    assert(TxLog.defaultsOf(t, Some(3L)) == Map("score" -> "CAST(7 AS BIGINT)"))
  }

  test("SET DEFAULT validation: constant-only, declared type, not generated") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, 2L)).toDF("id", "n").coalesce(1))
    val eCol = intercept[IllegalArgumentException] {
      TxLog.setColumnDefault(spark, t, "n", "id + 1") // references a column
    }
    assert(eCol.getMessage.contains("constant"), eCol.getMessage)
    val eType = intercept[IllegalArgumentException] {
      TxLog.setColumnDefault(spark, t, "n", "'x'")
    }
    assert(eType.getMessage.contains("declared"), eType.getMessage)
    intercept[IllegalArgumentException] {
      TxLog.setColumnDefault(spark, t, "nope", "CAST(1 AS BIGINT)")
    }
    // generated columns can never take a default
    val t2 = tmp()
    TxLog.create(t2, org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, twice BIGINT"))
    TxLog.addGeneratedColumn(spark, t2, "twice", "CAST(id * 2 AS BIGINT)")
    val eGen = intercept[IllegalArgumentException] {
      TxLog.setColumnDefault(spark, t2, "twice", "CAST(0 AS BIGINT)")
    }
    assert(eGen.getMessage.contains("GENERATED"), eGen.getMessage)
  }

  test("a decimal literal assigns to DOUBLE/FLOAT; lossy assignments still refuse") {
    import spark.implicits._
    val t = tmp()
    TxLog.create(t, org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, d DOUBLE, f FLOAT, n INT, g DOUBLE"))
    // exact -> approximate numeric: the SQL store assignment Spark's own
    // INSERT makes, stored behind a cast
    TxLog.setColumnDefault(spark, t, "d", "1.5")
    TxLog.setColumnDefault(spark, t, "f", "2.25")
    TxLog.addGeneratedColumn(spark, t, "g", "id * 0.5")
    assert(TxLog.defaultsOf(t) == Map(
      "d" -> "CAST((1.5) AS DOUBLE)", "f" -> "CAST((2.25) AS FLOAT)"))
    assert(TxLog.generatedColsOf(t) == Map("g" -> "CAST((id * 0.5) AS DOUBLE)"))
    // lossy or cross-family assignments keep refusing
    for (lossy <- Seq("1.5", "'x'")) {
      val e = intercept[IllegalArgumentException] {
        TxLog.setColumnDefault(spark, t, "n", lossy)
      }
      assert(e.getMessage.contains("declared int"), e.getMessage)
    }
    val eGen = intercept[IllegalArgumentException] {
      TxLog.addGeneratedColumn(spark, t, "n", "id * 0.5")
    }
    assert(eGen.getMessage.contains("declared IntegerType"), eGen.getMessage)
    TxLog.append(spark, t, Seq((4L, 1)).toDF("id", "n").coalesce(1))
    val r = TxLog.read(spark, t).select("d", "f", "g").head()
    assert((r.getDouble(0), r.getFloat(1), r.getDouble(2)) == (1.5, 2.25f, 2.0))
  }

  test("defaults fill through merge and mergeClauses inserts") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      Seq((1L, "a", 10L)).toDF("id", "s", "score").coalesce(1))
    TxLog.setColumnDefault(spark, t, "score", "CAST(7 AS BIGINT)")
    // star merge: source omits the defaulted column -> filled on insert
    // AND on the replacing row
    TxLog.merge(spark, t, Seq((1L, "a2"), (2L, "b")).toDF("id", "s"),
      Seq("id"))
    assert(scores(t) == Seq((1L, 7L), (2L, 7L)))
    // clause merge: an INSERT clause leaving score unassigned takes the
    // default, not null
    TxLog.mergeClauses(spark, t, Seq((9L, "i")).toDF("id", "s"), Seq("id"),
      matched = Nil,
      notMatched = Seq(MergeClause("insert", None,
        Map("id" -> expr("s.id"), "s" -> expr("s.s")))))
    assert(scores(t) == Seq((1L, 7L), (2L, 7L), (9L, 7L)))
  }

  test("generated columns see defaulted values (fill order)") {
    import spark.implicits._
    val t = tmp()
    TxLog.create(t, org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, base BIGINT, twice BIGINT"))
    TxLog.addGeneratedColumn(spark, t, "twice", "CAST(base * 2 AS BIGINT)")
    TxLog.setColumnDefault(spark, t, "base", "CAST(21 AS BIGINT)")
    TxLog.append(spark, t, Seq(Tuple1(1L)).toDF("id").coalesce(1))
    val r = TxLog.read(spark, t).select(col("base"), col("twice")).head()
    assert((r.getLong(0), r.getLong(1)) == (21L, 42L))
  }

  test("RENAME re-keys a default; DROP COLUMN clears it") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, 0L)).toDF("id", "score").coalesce(1))
    TxLog.setColumnDefault(spark, t, "score", "CAST(7 AS BIGINT)")
    TxLog.renameColumn(t, "score", "pts")
    assert(TxLog.defaultsOf(t) == Map("pts" -> "CAST(7 AS BIGINT)"))
    TxLog.append(spark, t, Seq(Tuple1(2L)).toDF("id").coalesce(1))
    assert(TxLog.read(spark, t).filter(col("id") === 2L)
      .select(col("pts")).head().getLong(0) == 7L)
    TxLog.dropColumn(t, "pts")
    assert(TxLog.defaultsOf(t).isEmpty)
  }

  test("CREATE TABLE … DEFAULT through the catalog; INSERT column-list fills") {
    val t = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, s STRING, " +
      "score BIGINT DEFAULT 7)")
    // the DEFAULT clause became a log declaration (upcast-wrapped: the
    // literal 7 is an INT, the column a BIGINT)
    assert(TxLog.defaultsOf(t).keySet == Set("score"))
    // subset-column INSERT: the analyzer fills score from the default
    spark.sql(s"INSERT INTO graft.`$t` (id, s) VALUES (1, 'a')")
    // full-row INSERT: explicit value wins
    spark.sql(s"INSERT INTO graft.`$t` VALUES (2, 'b', 20)")
    // the DEFAULT keyword resolves too
    spark.sql(s"INSERT INTO graft.`$t` VALUES (3, 'c', DEFAULT)")
    assert(scores(t) == Seq((1L, 7L), (2L, 20L), (3L, 7L)))
    // upcast wrapping also rides the API verb
    val t2 = tmp()
    import spark.implicits._
    TxLog.append(spark, t2, Seq((1L, 0L)).toDF("id", "score").coalesce(1))
    TxLog.setColumnDefault(spark, t2, "score", "7") // int literal, bigint col
    TxLog.append(spark, t2, Seq(Tuple1(2L)).toDF("id").coalesce(1))
    assert(scores(t2) == Seq((1L, 0L), (2L, 7L)))
  }

  test("CREATE TABLE … GENERATED ALWAYS AS through the catalog") {
    import spark.implicits._
    val t = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, " +
      "twice BIGINT GENERATED ALWAYS AS (id * 2))")
    assert(TxLog.generatedColsOf(t).keySet == Set("twice"))
    // an INSERT omitting the generated column materializes it; one
    // supplying a LYING value bounces (the applyGenerated gate)
    TxLog.append(spark, t, Seq(Tuple1(3L)).toDF("id").coalesce(1))
    val r = TxLog.read(spark, t).select(col("id"), col("twice")).head()
    assert((r.getLong(0), r.getLong(1)) == (3L, 6L))
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, Seq((4L, 9L)).toDF("id", "twice").coalesce(1))
    }
  }

  test("CREATE TABLE TBLPROPERTIES persist (CDF active from birth)") {
    import spark.implicits._
    val t = tmp()
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"CREATE TABLE graft.`$t` (id BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.changeDataFeed'='true', 'team'='ml')")
    val props = TxLog.propertiesOf(t)
    assert(props == Map("graft.changeDataFeed" -> "true", "team" -> "ml"),
      s"reserved keys must not persist: $props")
    // CDF is live from the first DML — the delete stages an exact record
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1))
    val v0 = TxLog.versions(t).last
    TxLog.deleteWhere(spark, t, col("id") === 1L)
    val feed = TxLog.changeFeed(spark, t, v0)
    assert(feed.select(col(TxLog.ChangeTypeCol), col("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("delete", 1L)))
  }

  test("automatic checkpoints every N commits shortcut replay") {
    import spark.implicits._
    val t = tmp()
    (1 to 12).foreach { i =>
      TxLog.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s")
        .coalesce(1))
    }
    // the 10th commit auto-published a checkpoint
    assert(TxLog.checkpoints(t).nonEmpty,
      s"expected an auto-checkpoint, have ${TxLog.checkpoints(t)}")
    // replay (through the checkpoint) and pre-checkpoint time travel
    // both stay exact
    assert(TxLog.read(spark, t).count() == 12L)
    assert(TxLog.read(spark, t, Some(5L)).count() == 5L)
  }

  test("SQL: ALTER COLUMN SET DEFAULT / DROP DEFAULT verbs") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, 0L)).toDF("id", "score").coalesce(1))
    graft.sources.TxLogSqlDml.install(spark)
    def run(sql: String): Unit =
      org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
        graft.sources.GraftSqlParser.maintenance(sql).getOrElse(
          fail(s"not recognized: $sql"))).collect()
    run(s"ALTER TABLE '$t' ALTER COLUMN score SET DEFAULT CAST(9 AS BIGINT)")
    TxLog.append(spark, t, Seq(Tuple1(2L)).toDF("id").coalesce(1))
    assert(scores(t) == Seq((1L, 0L), (2L, 9L)))
    run(s"ALTER TABLE '$t' ALTER COLUMN score DROP DEFAULT")
    TxLog.append(spark, t, Seq(Tuple1(3L)).toDF("id").coalesce(1))
    assert(scores(t) == Seq((1L, 0L), (2L, 9L), (3L, -1L)))
  }
}

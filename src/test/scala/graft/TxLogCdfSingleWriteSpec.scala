package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.{TxLog, TxStats}
import graft.etl.TxLog.MergeClause

/** A copy-on-write commit on a CDF-on table stages its data rows and its
  * change rows in one write. Each CoW verb runs on a CDF-on table and on
  * its CDF-off twin, for two layouts: a partitioned table with a
  * TIMESTAMP column and a bloom column (the one-write path), and a table
  * with a renamed column (column mapping: data files carry physical
  * names, change files logical ones, so it keeps two writes). Per verb:
  * the change feed is exactly the expected rows, the snapshot equals the
  * twin's, no data file's stats token names `_change_type`, every cdc
  * file carries it, and no commit writes more cdc files than the
  * two-write path did on the same data. Reads, the feed and OPTIMIZE
  * still work after a VACUUM keeping 4 versions. */
class TxLogCdfSingleWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-cdf-single-write", cores = 2)
  override def afterAll(): Unit = spark.stop()

  private val Ct = TxLog.ChangeTypeCol

  /** `v` is the value column's logical name: `q`, or `qty` once renamed. */
  private final case class Layout(name: String, v: String, partitioned: Boolean)
  private val layouts = Seq(
    Layout("partitioned, timestamp + bloom", "q", partitioned = true),
    Layout("renamed column", "qty", partitioned = false))

  /** Rows for ids [lo, hi]; `salt` changes every non-key column. */
  private def rows(lo: Long, hi: Long, salt: Long, v: String): DataFrame =
    spark.range(lo, hi + 1).select(
      col("id"),
      (col("id") / 100).cast("long").as("p"),
      ((col("id") + salt) % 7).cast("double").as(v),
      concat(lit("k"), (col("id") + salt).cast("string")).as("tag"),
      timestamp_seconds(lit(1700000000L) + (col("id") + salt) * 3600).as("ts"))

  private def table(l: Layout, cdf: Boolean): String = {
    val t = Files.createTempDirectory("graft-cdf1").resolve("t").toString
    if (cdf) TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
    val seed = rows(0, 599, 0, "q").repartition(3)
    if (l.partitioned) {
      TxLog.append(spark, t, seed, partitionBy = Seq("p"))
      TxLog.setBloomColumns(t, Seq("tag"))
    } else {
      TxLog.append(spark, t, seed)
      TxLog.renameColumn(t, "q", "qty")
    }
    t
  }

  private val cols = Seq("id", "p", "tag", "ts")
  private def sorted(df: DataFrame, v: String, withCt: Boolean = false): Seq[String] =
    df.select(((cols :+ v) ++ (if (withCt) Seq(Ct) else Nil)).map(col): _*)
      .collect().map(_.toString).sorted.toSeq

  private def tagged(df: DataFrame, ct: String): DataFrame = df.withColumn(Ct, lit(ct))

  /** One verb: what it does to a table, and the change rows it must
    * record given the snapshot before it. */
  private final case class Verb(name: String, run: String => Option[Long],
                                expected: DataFrame => DataFrame)

  private def verbs(v: String): Seq[Verb] = {
    val delSrc = rows(100, 119, 0, v).select("id").unionByName(
      spark.range(5000, 5001).select(col("id")))
    val mergeSrc = rows(300, 319, 3, v).unionByName(rows(1000, 1009, 3, v))
    val clauseSrc = rows(400, 409, 5, v).unionByName(rows(2000, 2004, 5, v))
    val upd = col("id").between(200, 260) && col("id") % 2 === 0
    def semi(df: DataFrame, keys: DataFrame) = df.join(keys.select("id"), Seq("id"), "left_semi")
    def anti(df: DataFrame, keys: DataFrame) = df.join(keys.select("id"), Seq("id"), "left_anti")
    Seq(
      Verb("deleteWhere",
        t => TxLog.deleteWhere(spark, t, col("id").between(10, 29)),
        b => tagged(b.filter(col("id").between(10, 29)), "delete")),
      Verb("deleteMatched",
        t => TxLog.deleteMatched(spark, t, delSrc, Seq("id")),
        b => tagged(semi(b, delSrc), "delete")),
      Verb("updateWhere",
        t => TxLog.updateWhere(spark, t, upd, Map(v -> (col(v) + 10.0))),
        b => tagged(b.filter(upd), "update_preimage").unionByName(
          tagged(b.filter(upd).withColumn(v, col(v) + 10.0), "update_postimage"))),
      Verb("merge",
        t => Some(TxLog.merge(spark, t, mergeSrc, Seq("id"))),
        b => tagged(semi(b, mergeSrc), "update_preimage")
          .unionByName(tagged(semi(mergeSrc, b), "update_postimage"))
          .unionByName(tagged(anti(mergeSrc, b), "insert"))),
      Verb("mergeClauses",
        t => TxLog.mergeClauses(spark, t, clauseSrc, Seq("id"),
          matched = Seq(
            MergeClause("delete", Some(expr("t.id < 405")), Map.empty),
            MergeClause("update", None, Map(v -> col(s"s.$v")))),
          notMatched = Seq(MergeClause("insert", None,
            (cols :+ v).map(c => c -> col(s"s.$c")).toMap))),
        b => tagged(semi(b, clauseSrc.filter(col("id") < 405)), "delete")
          .unionByName(tagged(semi(b, clauseSrc.filter(col("id") >= 405)), "update_preimage"))
          .unionByName(tagged(semi(b, clauseSrc.filter(col("id") >= 405)).drop(v)
            .join(clauseSrc.select("id", v), "id"), "update_postimage"))
          .unionByName(tagged(anti(clauseSrc, b), "insert"))))
  }

  /** Most cdc files each verb's commit wrote through the two-write path
    * on these tables (local[2]); the single write must not exceed it. */
  private val cdcFilesBefore = Map(
    "deleteWhere" -> 2, "deleteMatched" -> 2, "updateWhere" -> 4,
    "merge" -> 6, "mergeClauses" -> 8)

  private def cdcFiles(t: String, v: Long): Seq[String] =
    TxLog.cdfPlan(t, v - 1, v).collect { case ("cdc", p, _) => p }

  test("a declared _change_type column survives every CoW verb") {
    // such a table keeps two writes: the one-write union would null it
    def withCt(df: DataFrame) = df.withColumn(Ct, concat(lit("u"), col("id").cast("string")))
    def mk(cdf: Boolean): String = {
      val t = Files.createTempDirectory("graft-cdf1").resolve("t").toString
      if (cdf) TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
      TxLog.append(spark, t, withCt(rows(0, 599, 0, "q")).repartition(3), partitionBy = Seq("p"))
      t
    }
    val (on, off) = (mk(cdf = true), mk(cdf = false))
    val src = withCt(rows(300, 319, 3, "q").unionByName(rows(1000, 1009, 3, "q")))
    Seq[(String, String => Any)](
      "deleteWhere" -> (t => TxLog.deleteWhere(spark, t, col("id").between(10, 29))),
      "deleteMatched" -> (t => TxLog.deleteMatched(spark, t,
        spark.range(100, 120).select(col("id")), Seq("id"))),
      "updateWhere" -> (t => TxLog.updateWhere(spark, t, col("id").between(200, 260),
        Map("q" -> (col("q") + 10.0)))),
      "merge" -> (t => TxLog.merge(spark, t, src, Seq("id"))),
      "mergeClauses" -> (t => TxLog.mergeClauses(spark, t, src.withColumn("q", lit(9.0)),
        Seq("id"), matched = Seq(MergeClause("update", None, Map("q" -> col("s.q")))),
        notMatched = Nil))
    ).foreach { case (name, run) =>
      run(on); run(off)
      withClue(s"$name: ") {
        val got = sorted(TxLog.read(spark, on), "q", withCt = true)
        assert(got == sorted(TxLog.read(spark, off), "q", withCt = true))
        assert(TxLog.read(spark, on).filter(col(Ct).isNull).isEmpty)
      }
    }
  }

  layouts.foreach { l =>
    test(s"every CoW verb records the exact change feed in one write: ${l.name}") {
      val on = table(l, cdf = true)
      val off = table(l, cdf = false)
      verbs(l.v).foreach { verb =>
        val before = TxLog.read(spark, on)
        val expected = sorted(verb.expected(before), l.v, withCt = true)
        val v = verb.run(on).getOrElse(fail(s"${verb.name} committed nothing"))
        assert(verb.run(off).isDefined)
        withClue(s"${verb.name}: ") {
          assert(sorted(TxLog.changeFeed(spark, on, v - 1, Some(v)), l.v, withCt = true) ==
            expected)
          assert(sorted(TxLog.read(spark, on), l.v) == sorted(TxLog.read(spark, off), l.v))
          assert(TxLog.snapshotAdds(on).forall(
            _.stats.flatMap(TxStats.decode).forall(!_.cols.contains(Ct))))
          val cdc = cdcFiles(on, v)
          info(s"${verb.name}: ${cdc.size} cdc files")
          assert(cdc.nonEmpty)
          assert(cdc.forall(f => spark.read.parquet(f).columns.contains(Ct)))
          assert(cdc.size <= cdcFilesBefore(verb.name),
            s"${cdc.size} cdc files, the two-write path wrote at most ${cdcFilesBefore(verb.name)}")
        }
      }
      // a VACUUM keeping 4 versions leaves reads, the feed and OPTIMIZE whole
      val last = TxLog.versions(on).last
      val feed = sorted(TxLog.changeFeed(spark, on, last - 3, Some(last)), l.v, withCt = true)
      val range = col("id").between(250, 420)
      TxLog.vacuum(on, retainVersions = 4, minAgeMillis = 0L)
      val twin = sorted(TxLog.read(spark, off), l.v)
      assert(sorted(TxLog.read(spark, on), l.v) == twin)
      assert(sorted(TxLog.readWhere(spark, on, range), l.v) ==
        sorted(TxLog.read(spark, off).filter(range), l.v))
      assert(sorted(TxLog.changeFeed(spark, on, last - 3, Some(last)), l.v, withCt = true) == feed)
      assert(TxLog.optimize(spark, on).isDefined)
      assert(sorted(TxLog.read(spark, on), l.v) == twin)
    }
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** PARTITIONED BY for the TxLog format (round-13): identity
  * partitioning with per-add partition tuples, exact partition pruning
  * through the existing stats evaluator, partition-aligned
  * replaceWhere/OPTIMIZE, and the SQL CREATE TABLE surface. The
  * partition columns remain ordinary data columns in every file, so
  * every pre-existing read path stays correct without consulting the
  * new metadata. */
class TxLogPartitionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("txlog-part-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-txpart").resolve("t").toString

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "lang")
  }

  test("partitioned append: one tuple per file, values round-trip, content intact") {
    val t = tmp()
    TxLog.append(spark, t,
      df(Seq((1L, "en"), (2L, "fr"), (3L, "en"), (4L, null))),
      partitionBy = Seq("lang"))
    assert(TxLog.partColsOf(t) == Seq("lang"))
    assert(TxLog.protocolOf(t).contains("partitioning"))
    val adds = TxLog.snapshotAdds(t)
    assert(adds.nonEmpty && adds.forall(_.part.isDefined))
    val tuples = adds.map(a => TxLog.decodePartValues(a.part.get))
    // every file single-valued; the three distinct tuples (en, fr, null) all present
    assert(tuples.forall(_.map(_._1) == Seq("lang")))
    assert(tuples.map(_.head._2).toSet == Set(Some("en"), Some("fr"), None))
    // content identical to an unpartitioned write, partition col included
    val got = TxLog.read(spark, t).select(col("id"), col("lang"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got == Set((1L, Some("en")), (2L, Some("fr")), (3L, Some("en")),
      (4L, None)))
  }

  test("declaration is validated and immutable") {
    val t = tmp()
    // unsupported type
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t,
        spark.range(3).select(col("id"), (col("id") * 1.5).as("x")),
        partitionBy = Seq("x"))
    }
    // missing column
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, df(Seq((1L, "en"))), partitionBy = Seq("nope"))
    }
    TxLog.append(spark, t, df(Seq((1L, "en"))), partitionBy = Seq("lang"))
    // re-partitioning refused
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, df(Seq((2L, "fr"))), partitionBy = Seq("id"))
    }
    // later writes inherit the declaration without restating it
    TxLog.append(spark, t, df(Seq((3L, "de"))))
    assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
    // renaming a partition column refused
    intercept[IllegalArgumentException] { TxLog.renameColumn(t, "lang", "l2") }
  }

  test("declaring partitioning on a live unpartitioned table needs OVERWRITE") {
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"))))
    intercept[IllegalArgumentException] {
      TxLog.append(spark, t, df(Seq((2L, "fr"))), partitionBy = Seq("lang"))
    }
    // an overwrite replaces every live file, so it MAY declare
    TxLog.overwrite(spark, t, df(Seq((2L, "fr"), (3L, "en"))),
      partitionBy = Seq("lang"))
    assert(TxLog.partColsOf(t) == Seq("lang"))
    assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
    // time travel BEFORE the declaration still reads the unpartitioned
    // snapshot (its files carry no tuples; the resolver passes footer
    // stats through untouched)
    assert(TxLog.read(spark, t, asOf = Some(1L))
      .select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(TxLog.partColsOf(t, asOf = Some(1L)).isEmpty)
  }

  test("partition pruning is exact — with and without footer stats") {
    val t = tmp()
    TxLog.append(spark, t,
      df(Seq((1L, "en"), (2L, "fr"), (3L, "de"), (4L, null))),
      partitionBy = Seq("lang"))
    val adds = TxLog.snapshotAdds(t)
    assert(adds.size == 4) // one file per lang value
    val pr = TxLog.prune(spark, t, col("lang") === "fr")
    assert(pr.kept.size == 1 && pr.skipped.size == 3)
    // IS NULL prunes to exactly the null-partition file
    val prNull = TxLog.prune(spark, t, col("lang").isNull)
    assert(prNull.kept.size == 1)
    assert(TxLog.decodePartValues(prNull.kept.head.part.get).head._2.isEmpty)
    // result identity: pruned read == full filter
    assert(TxLog.readWhere(spark, t, col("lang") === "fr")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // partition pruning must survive a file with NO footer stats: the
    // tuple alone yields exact point stats through the resolver
    val resolve = TxLog.statsResolver(t, None)
    val frAdd = adds.find(a =>
      TxLog.decodePartValues(a.part.get).head._2.contains("fr")).get
    val fs = resolve(frAdd.copy(stats = None)).get
    val cs = fs.cols("lang")
    val frTok = java.util.Base64.getEncoder.encodeToString("fr".getBytes)
    assert(cs.min.contains(frTok) && cs.max.contains(frTok) && cs.nulls == 0L)
  }

  test("file-index relation (SQL path) prunes on partition predicates") {
    val t = tmp()
    TxLog.append(spark, t,
      df(Seq((1L, "en"), (2L, "fr"), (3L, "de"))),
      partitionBy = Seq("lang"))
    val frame = TxLog.read(spark, t)
    val idx = Scans.index(frame)
    val n = frame.filter(col("lang") === "de").count()
    assert(n == 1L)
    assert(idx.lastPrunedCount == 2) // en + fr files never opened
    // SQL over a view of the same snapshot prunes the same way
    frame.createOrReplaceTempView("txpart_view")
    assert(spark.sql("SELECT id FROM txpart_view WHERE lang = 'fr'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(idx.lastPrunedCount == 2)
  }

  test("date-typed partitions prune on range predicates") {
    val t = tmp()
    val d = spark.sql(
      """SELECT id, DATE'2024-01-01' + CAST(id AS INT) AS day
        |FROM RANGE(4)""".stripMargin)
    TxLog.append(spark, t, d, partitionBy = Seq("day"))
    assert(TxLog.snapshotAdds(t).size == 4)
    val pr = TxLog.prune(spark, t, col("day") >= "2024-01-03")
    assert(pr.kept.size == 2 && pr.skipped.size == 2)
    assert(TxLog.readWhere(spark, t, col("day") >= "2024-01-03").count() == 2L)
  }

  test("replaceWhere swaps exactly the named region") {
    val t = tmp()
    TxLog.append(spark, t,
      df(Seq((1L, "en"), (2L, "fr"), (3L, "en"))), partitionBy = Seq("lang"))
    val keepFr = TxLog.snapshotAdds(t)
      .filter(a => TxLog.decodePartValues(a.part.get).head._2.contains("fr"))
      .map(_.path).toSet
    TxLog.replaceWhere(spark, t, df(Seq((10L, "en"), (11L, "en"))),
      col("lang") === "en")
    // fr file bit-identical (never read, never rewritten)
    val after = TxLog.snapshotAdds(t).map(_.path).toSet
    assert(keepFr.subsetOf(after))
    val got = TxLog.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 10L, 11L))
    // incoming rows outside the region are refused
    intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, t, df(Seq((12L, "de"))), col("lang") === "en")
    }
    // non-partition predicates are refused
    intercept[IllegalArgumentException] {
      TxLog.replaceWhere(spark, t, df(Seq((12L, "en"))), col("id") > 0L)
    }
  }

  test("optimize compacts per partition and keeps tuples + pruning") {
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"), (2L, "fr"))),
      partitionBy = Seq("lang"))
    TxLog.append(spark, t, df(Seq((3L, "en"), (4L, "fr"))))
    assert(TxLog.snapshotAdds(t).size == 4)
    TxLog.optimize(spark, t)
    val adds = TxLog.snapshotAdds(t)
    // one file per partition value, tuple preserved, marked non-change
    assert(adds.size == 2 && adds.forall(_.part.isDefined))
    assert(adds.forall(!_.dataChange))
    assert(TxLog.prune(spark, t, col("lang") === "en").kept.size == 1)
    assert(TxLog.read(spark, t).count() == 4L)
    // checkpoint replay keeps the tuples (part rides the rendered add)
    TxLog.checkpoint(t)
    assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
  }

  test("SQL CREATE TABLE ... PARTITIONED BY declares through first INSERT") {
    val t = tmp()
    val name = s"part_sql_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name (id BIGINT, lang STRING) USING " +
      s"graft.sources.TxLogSource OPTIONS (path '$t') PARTITIONED BY (lang)")
    try {
      spark.sql(s"INSERT INTO $name VALUES (1, 'en'), (2, 'fr'), (3, 'en')")
      assert(TxLog.partColsOf(t) == Seq("lang"))
      assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
      assert(spark.sql(s"SELECT id FROM $name WHERE lang = 'fr'")
        .collect().map(_.getLong(0)).toSeq == Seq(2L))
      // second INSERT inherits and re-verifies the declaration
      spark.sql(s"INSERT INTO $name VALUES (4, 'de')")
      assert(TxLog.prune(spark, t, col("lang") === "de").kept.size == 1)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("multi-column partitioning: tuple order, conjunct pruning, listing") {
    import spark.implicits._
    val t = tmp()
    val d = Seq((1L, "en", 0L), (2L, "en", 1L), (3L, "fr", 0L), (4L, "fr", 1L))
      .toDF("id", "lang", "bucket")
    TxLog.append(spark, t, d.coalesce(1), partitionBy = Seq("lang", "bucket"))
    assert(TxLog.partColsOf(t) == Seq("lang", "bucket"))
    val adds = TxLog.snapshotAdds(t)
    assert(adds.size == 4)
    // tuples carry BOTH columns in declared order
    assert(adds.forall(a =>
      TxLog.decodePartValues(a.part.get).map(_._1) == Seq("lang", "bucket")))
    // conjunct across both partition dimensions prunes to one file
    val pr = TxLog.prune(spark, t,
      col("lang") === "fr" && col("bucket") === 1L)
    assert(pr.kept.size == 1 && pr.skipped.size == 3)
    // single-dimension predicate prunes to that dimension's slice
    assert(TxLog.prune(spark, t, col("bucket") === 0L).kept.size == 2)
    assert(TxLog.readWhere(spark, t,
      col("lang") === "fr" && col("bucket") === 1L)
      .select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(4L))
    // listing shows 4 tuples, 1 row each
    val ps = TxLog.partitions(t)
    assert(ps.size == 4 && ps.forall(_.numRows.contains(1L)))
    // replaceWhere on a two-dimensional region
    TxLog.replaceWhere(spark, t,
      Seq((10L, "fr", 1L)).toDF("id", "lang", "bucket"),
      col("lang") === "fr" && col("bucket") === 1L)
    assert(TxLog.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 10L))
  }

  test("SHOW PARTITIONS lists tuples + DV-net rows from metadata only") {
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"), (2L, "fr"), (3L, null))),
      partitionBy = Seq("lang"))
    TxLog.deleteWhereMerge(spark, t, col("lang") === "fr")
    val ps = TxLog.partitions(t)
    assert(ps.size == 3 && ps.forall(_.numFiles == 1L))
    def rowsOf(v: Option[String]): Option[Long] =
      ps.find(_.values.head._2 == v).get.numRows
    assert(rowsOf(Some("en")).contains(1L))
    assert(rowsOf(Some("fr")).contains(0L)) // DV-masked, file still live
    assert(rowsOf(None).contains(1L))       // null partition listed
    intercept[IllegalArgumentException] {
      val t2 = tmp()
      TxLog.append(spark, t2, df(Seq((1L, "en"))))
      TxLog.partitions(t2) // unpartitioned refused
    }
  }

  test("exactly-once streaming append inherits partitioning") {
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"))), partitionBy = Seq("lang"))
    assert(TxLog.appendOnce(spark, t, df(Seq((2L, "fr"))),
      txn = "batch-1").isDefined)
    // crash-replay of the same batch is a no-op, not a duplicate
    assert(TxLog.appendOnce(spark, t, df(Seq((2L, "fr"))),
      txn = "batch-1").isEmpty)
    assert(TxLog.read(spark, t).count() == 2L)
    assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
  }

  test("OPTIMIZE WHERE compacts only the named partition (API + SQL)") {
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"), (2L, "fr"))),
      partitionBy = Seq("lang"))
    TxLog.append(spark, t, df(Seq((3L, "en"), (4L, "fr"))))
    assert(TxLog.snapshotAdds(t).size == 4)
    def paths(lang: String): Set[String] = TxLog.snapshotAdds(t)
      .filter(a => TxLog.decodePartValues(a.part.get).head._2.contains(lang))
      .map(_.path).toSet
    val frBefore = paths("fr")
    TxLog.optimize(spark, t, where = Some(col("lang") === "en"))
    assert(paths("en").size == 1)          // en compacted 2 -> 1
    assert(paths("fr") == frBefore)        // fr files bit-identical
    assert(TxLog.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // SQL form through the maintenance parser + DML strategy
    graft.sources.TxLogSqlDml.install(spark)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.sources.GraftSqlParser.maintenance(
        s"OPTIMIZE '$t' WHERE lang = 'fr'").get).collect()
    assert(paths("fr").size == 1)
    assert(TxLog.read(spark, t).count() == 4L)
    // non-partition predicates are refused
    intercept[IllegalArgumentException] {
      TxLog.optimize(spark, t, where = Some(col("id") > 0L))
    }
  }

  test("replaceWhere racing an append serializes: both linearizations valid, nothing lost") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val t = tmp()
    TxLog.append(spark, t, df(Seq((1L, "en"), (2L, "fr"))),
      partitionBy = Seq("lang"))
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    val fAppend = pool.submit(new Runnable {
      def run(): Unit = { gate.await()
        TxLog.append(spark, t, df(Seq((3L, "en"), (4L, "de")))) }
    })
    val fReplace = pool.submit(new Runnable {
      def run(): Unit = { gate.await()
        TxLog.replaceWhere(spark, t, df(Seq((10L, "en"))),
          col("lang") === "en") }
    })
    gate.countDown()
    fAppend.get(120, TimeUnit.SECONDS); fReplace.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    val got = TxLog.read(spark, t).select(col("id"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // fr and de rows survive under EVERY linearization; en is either
    // the replacement alone (append-then-replace: the racer's en row
    // was part of the redefined region) or replacement + appended row
    // (replace-then-append)
    assert(got.contains((2L, "fr")) && got.contains((4L, "de")), got)
    val en = got.filter(_._2 == "en").map(_._1)
    assert(en == Set(10L) || en == Set(10L, 3L), got)
    // history is gapless — the CAS admitted one winner per version
    val vs = TxLog.versions(t)
    assert(vs == (1L to vs.size))
  }

  test("CoW delete stays correct on a partitioned table (URI-decoded match)") {
    val t = tmp()
    // a partition value with a char hive escapes (space) exercises the
    // input_file_name URI-decoding in the affected-file match
    TxLog.append(spark, t,
      df(Seq((1L, "en US"), (2L, "fr FR"), (3L, "en US"))),
      partitionBy = Seq("lang"))
    TxLog.deleteWhere(spark, t, col("id") === 1L)
    val got = TxLog.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L))
    // the rewritten survivor file kept its partition tuple
    assert(TxLog.snapshotAdds(t).forall(_.part.isDefined))
  }

  test("VACUUM reclaims a partitioned table's data files and their dirs") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val t = tmp()
    def rows(from: Long): DataFrame =
      (from until from + 40L).map(i => (i, s"b${i % 4}")).toDF("id", "lang")
        .repartition(2)
    // the four-bucket history that used to strand every data file:
    // append, append, OPTIMIZE, then a CDF-on copy-on-write delete
    TxLog.append(spark, t, rows(0L), partitionBy = Seq("lang"))
    TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
    TxLog.append(spark, t, rows(40L))
    TxLog.optimize(spark, t)
    TxLog.deleteWhere(spark, t, col("id") % 10 === 3L)
    val last = TxLog.versions(t).last
    def ids(df: DataFrame): Seq[Long] =
      df.select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    def feed(): Seq[(Long, String, Long)] =
      TxLog.changeFeed(spark, t, last - 2, Some(last))
        .select(col("id"), col(TxLog.ChangeTypeCol), col(TxLog.CommitVersionCol))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    val (now, prev, changes) =
      (ids(TxLog.read(spark, t)), ids(TxLog.read(spark, t, Some(last - 1))), feed())
    assert(changes.nonEmpty)
    val root = java.nio.file.Paths.get(t)
    val dataRoot = root.resolve("data")
    def under(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(_ != p).toSeq finally s.close()
    }
    def parquet(p: java.nio.file.Path): Boolean = {
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }
    def rel(p: java.nio.file.Path): String = root.relativize(p).toString
    val live = (TxLog.snapshot(t) ++ TxLog.snapshot(t, Some(last - 1))).toSet
    val stale = under(dataRoot).filter(parquet).map(rel).filterNot(live)
    assert(stale.exists(_.split('/').last.startsWith("p")),
      s"expected unreferenced partitioned (p<i>-part-*) files, got $stale")
    val deleted = TxLog.vacuum(t, retainVersions = 2, minAgeMillis = 0L)
    assert(stale.toSet.subsetOf(deleted.toSet),
      s"VACUUM left ${stale.toSet -- deleted} on disk")
    // only live data files stay; every data dir still holds one, no hive
    // dir survives the flatten, and no checksum outlives its file
    val after = under(dataRoot)
    assert(after.filter(parquet).map(rel).toSet == live)
    after.filter(Files.isDirectory(_)).foreach { d =>
      assert(!d.getFileName.toString.contains("="), s"hive dir $d left behind")
      assert(Files.list(d).iterator().asScala.exists(parquet), s"empty data dir $d")
    }
    after.map(_.getFileName.toString).filter(_.endsWith(".parquet.crc")).foreach { c =>
      assert(after.exists(_.getFileName.toString == c.stripPrefix(".").stripSuffix(".crc")),
        s"stranded checksum $c")
    }
    // reads, time travel inside the retention window and the feed are unchanged
    assert(ids(TxLog.read(spark, t)) == now)
    assert(ids(TxLog.read(spark, t, Some(last - 1))) == prev)
    assert(feed() == changes)
  }
}

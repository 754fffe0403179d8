package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.TxLog

/** Round-13 TxLog audit + undo surface: per-commit operation metadata
  * (history / DESCRIBE HISTORY) and RESTORE-to-version as a new commit —
  * file set, deletion vectors, schema, and CHECK constraints all diffed
  * back to the target snapshot, with history preserved. */
class TxLogRestoreHistorySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local("restore-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def tmp(): String =
    Files.createTempDirectory("graft-restore").resolve("t").toString

  private def rows(t: String, asOf: Option[Long] = None): Seq[(Long, String)] =
    TxLog.read(spark, t, asOf).select(col("id"), col("s")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

  // ------------------------------------------------------- history

  test("history records one operation-tagged row per commit") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1),
      commitTs = Some(1000L))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1),
      commitTs = Some(2000L))
    TxLog.deleteWhere(spark, t, col("id") === 2L, commitTs = Some(3000L))
    TxLog.optimize(spark, t, targetFiles = 1, commitTs = Some(4000L))
    TxLog.addConstraint(spark, t, "pos", "id > 0", commitTs = Some(5000L))
    TxLog.merge(spark, t, Seq((3L, "c2"), (9L, "i")).toDF("id", "s"),
      Seq("id"), commitTs = Some(6000L))
    val h = TxLog.history(t)
    assert(h.map(_.version) == (1L to 6L))
    assert(h.map(_.operation) ==
      Seq("WRITE", "WRITE", "DELETE", "OPTIMIZE", "ADD CONSTRAINT", "MERGE"))
    assert(h.map(_.timestamp) == (1L to 6L).map(v => Some(v * 1000)))
    // dataChange: the OPTIMIZE rearrangement and the metadata-only DDL
    // are the only non-change commits
    assert(h.map(_.dataChange) == Seq(true, true, true, false, false, true))
    // the delete is copy-on-write: it removed the hit file and (here)
    // staged survivors; optimize removed everything it compacted
    assert(h(2).numRemoves == 1 && h(3).numRemoves >= 1)
    assert(h(4).numAdds == 0 && h(4).numRemoves == 0)
    // DataFrame twin carries the same rows in declared column order
    val df = TxLog.historyDf(spark, t)
    assert(df.columns.toSeq == Seq("version", "timestamp", "operation",
      "numAdds", "numRemoves", "numDvs", "dataChange"))
    assert(df.count() == 6)
    assert(df.filter(col("operation") === "MERGE").head().getLong(0) == 6L)
  }

  test("history reports DV commits and pre-operation logs degrade to UNKNOWN") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      (1L to 8L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhereMerge(spark, t, col("id") === 3L)
    val h = TxLog.history(t)
    assert(h(1).operation == "DELETE" && h(1).numDvs == 1 && h(1).dataChange)
    // a legacy commit whose commit action has no operation token
    val legacy = tmp()
    TxLog.append(spark, legacy, Seq((1L, "x")).toDF("id", "s").coalesce(1))
    val vf = java.nio.file.Paths.get(legacy, "_graft_log",
      f"${1L}%020d.json")
    val stripped = new String(Files.readAllBytes(vf)).linesIterator.map {
      l => if (l.contains("\"op\":\"commit\""))
        l.replaceAll(""","stats":"[^"]*"""", "") else l
    }.mkString("\n")
    Files.write(vf, stripped.getBytes)
    TxLog.invalidateActionCache(legacy) // hand-mutation: outside the contract
    assert(TxLog.history(legacy).head.operation == "UNKNOWN")
  }

  // ------------------------------------------------------- restore

  test("restore rolls the file set back as a new commit; history intact") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.append(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhere(spark, t, col("id") <= 2L)
    assert(rows(t) == Seq((3L, "c")))
    val v = TxLog.restore(t, 2L)
    assert(v.contains(4L))
    assert(rows(t) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the rollback is itself history: the deleted state is still
    // addressable, and the restore commit is operation-tagged
    assert(rows(t, asOf = Some(3L)) == Seq((3L, "c")))
    assert(TxLog.history(t).last.operation == "RESTORE")
    // restore to the state the table already has: no-op, no commit
    assert(TxLog.restore(t, 4L).isEmpty)
    assert(TxLog.restore(t, 2L).isEmpty) // v4 == v2 content by file set
    assert(TxLog.versions(t).size == 4)
    // restore targets must be committed versions
    intercept[IllegalArgumentException](TxLog.restore(t, 99L))
  }

  test("restore reinstates and clears deletion-vector state both ways") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhereMerge(spark, t, col("id") === 2L) // v2: DV
    TxLog.deleteWhereMerge(spark, t, col("id") === 4L) // v3: cumulative DV
    assert(rows(t).map(_._1) == Seq(1L, 3L, 5L, 6L))
    // back to v2: the cumulative DV must shrink to {2}
    assert(TxLog.restore(t, 2L).contains(4L))
    assert(rows(t).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L))
    // back to v1: the DV must clear entirely (add-resets-DV replay rule)
    assert(TxLog.restore(t, 1L).contains(5L))
    assert(rows(t).map(_._1) == (1L to 6L))
    // forward again to v3: both deletes return
    assert(TxLog.restore(t, 3L).contains(6L))
    assert(rows(t).map(_._1) == Seq(1L, 3L, 5L, 6L))
  }

  test("restore rolls back schema evolution and CHECK constraints") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.addConstraint(spark, t, "pos", "id > 0")
    TxLog.append(spark, t,
      Seq((2L, "b", 7.5)).toDF("id", "s", "score").coalesce(1),
      mergeSchema = true)
    assert(TxLog.schemaOf(t).get.fieldNames.contains("score"))
    assert(TxLog.restore(t, 1L).contains(4L))
    // declared schema narrowed back; the constraint added after v1 gone
    assert(TxLog.schemaOf(t).get.fieldNames.toSeq == Seq("id", "s"))
    assert(TxLog.constraintsOf(t).isEmpty)
    assert(rows(t) == Seq((1L, "a")))
    // a violating append that the dropped constraint would have blocked
    // now lands (proves the constraint state really rolled back)
    TxLog.append(spark, t, Seq((-5L, "neg")).toDF("id", "s").coalesce(1))
    assert(rows(t).map(_._1).contains(-5L))
  }

  test("restore fails loudly when the target's files were vacuumed") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.overwrite(spark, t, Seq((3L, "c")).toDF("id", "s").coalesce(1))
    // age 0 under test quiescence: v1's file is unreferenced and purged
    TxLog.vacuum(t, retainVersions = 1, minAgeMillis = 0L)
    val e = intercept[IllegalArgumentException](TxLog.restore(t, 1L))
    assert(e.getMessage.contains("vacuumed"))
    // the latest snapshot is untouched by the failed restore
    assert(rows(t) == Seq((3L, "c")))
  }

  test("restore serializes against racing appends (wholly before or after)") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "s").coalesce(1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      val r = Future(TxLog.restore(t, 1L))
      val a = Future(TxLog.append(spark, t,
        Seq((9L, "z")).toDF("id", "s").coalesce(1)))
      val (rv, av) = (Await.result(r, 60.seconds).get,
        Await.result(a, 60.seconds))
      assert(Set(rv, av) == Set(3L, 4L)) // serialized, no lost commit
      val ids = rows(t).map(_._1)
      // append before restore -> rolled back with v2; append after ->
      // survives alongside v1's row. Either is a serial history.
      assert(ids == Seq(1L) || ids == Seq(1L, 9L), s"got $ids")
      if (av > rv) assert(ids == Seq(1L, 9L))
    } finally pool.shutdown()
  }

  // -------------------------------------------------------- clone

  test("clone forks snapshot state; the two logs evolve independently") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    TxLog.append(spark, src,
      (1L to 6L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.addConstraint(spark, src, "pos", "id > 0")
    TxLog.deleteWhereMerge(spark, src, col("id") === 2L) // live DV
    TxLog.append(spark, src, Seq((7L, "late")).toDF("id", "s").coalesce(1))
    // clone AT the DV version (v3): the late append must not cross
    assert(TxLog.cloneTable(src, dst, asOf = Some(3L)) == 1L)
    assert(rows(dst).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L))
    assert(TxLog.history(dst).head.operation == "CLONE")
    // stats tokens crossed: metadata-only describe answers on the clone
    assert(TxLog.describe(dst).isEmpty == TxLog.describe(src).isEmpty)
    // constraints crossed: a violating append on the clone is refused
    intercept[IllegalArgumentException] {
      TxLog.append(spark, dst, Seq((-1L, "bad")).toDF("id", "s").coalesce(1))
    }
    // independence: writes on either side stay invisible to the other
    TxLog.append(spark, dst, Seq((100L, "c")).toDF("id", "s").coalesce(1))
    TxLog.deleteWhere(spark, src, col("id") === 5L)
    assert(rows(src).map(_._1) == Seq(1L, 3L, 4L, 6L, 7L))
    assert(rows(dst).map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 100L))
    // a second clone into the same target is refused
    intercept[IllegalArgumentException](TxLog.cloneTable(src, dst))
  }

  test("clone survives source vacuum (hard links, not path sharing)") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    TxLog.append(spark, src, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.cloneTable(src, dst)
    // rewrite src and purge its history under test quiescence: the v1
    // data file is unlinked from SRC, but the clone holds its own link
    TxLog.overwrite(spark, src, Seq((2L, "b")).toDF("id", "s").coalesce(1))
    TxLog.overwrite(spark, src, Seq((3L, "c")).toDF("id", "s").coalesce(1))
    val purged = TxLog.vacuum(src, retainVersions = 1, minAgeMillis = 0L)
    assert(purged.nonEmpty)
    assert(rows(dst) == Seq((1L, "a")))
    assert(rows(src) == Seq((3L, "c")))
  }

  test("CREATE TABLE CLONE statement plans through the DML strategy") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    TxLog.append(spark, src, Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1))
    TxLog.append(spark, src, Seq((3L, "c")).toDF("id", "s").coalesce(1))
    graft.sources.TxLogSqlDml.install(spark)
    def run(sql: String) = org.apache.spark.sql.graft.GraftSqlBridge
      .ofRows(spark, graft.sources.GraftSqlParser.maintenance(sql).get)
    val r = run(s"CREATE TABLE '$dst' SHALLOW CLONE '$src' VERSION AS OF 1")
    assert(r.head().getLong(0) == 1L)
    assert(rows(dst) == Seq((1L, "a"), (2L, "b"))) // v1 only
  }

  // --------------------------------------- column mapping (RENAME)

  test("RENAME COLUMN is metadata-only; reads, writes, pruning translate") {
    import spark.implicits._
    val t = tmp()
    TxLog.setBloomColumns(t, Seq("id"))
    TxLog.append(spark, t,
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.append(spark, t,
      (101L to 200L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    graft.sources.TxLogSqlDml.install(spark)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.sources.GraftSqlParser.maintenance(
        s"ALTER TABLE '$t' RENAME COLUMN id TO doc_id").get).collect()
    // no data file was touched; the op is tagged
    assert(TxLog.snapshot(t).size == 2)
    assert(TxLog.history(t).last.operation == "RENAME COLUMN")
    assert(TxLog.renameMap(t) == Map("doc_id" -> "id"))
    // reads surface the logical name with the original values
    val r = TxLog.read(spark, t)
    assert(r.columns.toSeq == Seq("doc_id", "s"))
    assert(r.agg(sum(col("doc_id"))).head().getLong(0) == (1L to 200L).sum)
    // stats pruning AND blooms translate logical -> physical: the probe
    // names doc_id, the footers/blooms carry id
    val pr = TxLog.prune(spark, t, col("doc_id") === 150L)
    assert(pr.skipped.size == 1) // range stats alone separate the halves
    assert(TxLog.readWhere(spark, t, col("doc_id") === 150L).count() == 1)
    // writes under the NEW logical name land as the physical column
    TxLog.append(spark, t,
      Seq((201L, "new")).toDF("doc_id", "s").coalesce(1))
    assert(TxLog.read(spark, t).count() == 201)
    // DML through SQL names translate too (deleteWhere is boundRead-based)
    TxLog.deleteWhere(spark, t, col("doc_id") === 201L)
    assert(TxLog.read(spark, t).count() == 200)
    // rename back: identity map again, nothing stored
    TxLog.renameColumn(t, "doc_id", "id")
    assert(TxLog.renameMap(t).isEmpty)
    assert(TxLog.read(spark, t).columns.toSeq == Seq("id", "s"))
  }

  test("column mapping: TxLog.read and SQL SELECT prune on a renamed column") {
    import spark.implicits._
    val t = tmp()
    // three single-file commits with disjoint key ranges, then a rename:
    // files keep the physical name, stats stay keyed by it
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      TxLog.append(spark, t, r.map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    }
    TxLog.renameColumn(t, "id", "key")
    val df = TxLog.read(spark, t)
    assert(df.filter(col("key") < 100L).select(col("key"))
      .collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
    assert(Scans.index(df).lastPrunedCount == 2,
      "a logical-name filter must prune through the physical-keyed stats")
    val name = s"rename_prune_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name (key BIGINT, s STRING) USING " +
      s"graft.sources.TxLogSource OPTIONS (path '$t')")
    try {
      val n = Scans.recordsRead(spark) {
        assert(spark.sql(s"SELECT key, s FROM $name WHERE key >= 200")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
          .toSeq == (200L until 300L).map(i => (i, s"r$i")))
      }
      assert(n <= 150L, s"key >= 200 should read 1 of 3 files, read $n rows")
    } finally spark.sql(s"DROP TABLE $name")
  }

  test("column mapping: capability gates, guards, clone carry") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    TxLog.renameColumn(t, "s", "label")
    // DSv2 relation reads through the mapping-aware reader (correct
    // rows, logical names)
    val name = s"rename_gate_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $name (id BIGINT, label STRING) USING " +
      s"graft.sources.TxLogSource OPTIONS (path '$t')")
    try {
      val row = spark.sql(s"SELECT id, label FROM $name").head()
      assert(row.getLong(0) == 1L && row.getString(1) == "a")
    } finally spark.sql(s"DROP TABLE $name")
    // the streaming tail WORKS on mapped tables (round 15 — the gate
    // was retired: the reader binds the physical-named schema twin)
    locally {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
      spark.readStream.format("graft.sources.TxLogSource").load(t)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("id"), col("label")).collect()
            .foreach(r => got.add((r.getLong(0), r.getString(1))))
          ()
        }
        .option("checkpointLocation",
          Files.createTempDirectory("graft-rn-ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      assert(got.toArray(Array.empty[(Long, String)]).toSeq ==
        Seq((1L, "a")))
    }
    // ADD COLUMNS may not collide with a renamed column's physical name
    intercept[IllegalArgumentException] {
      TxLog.addColumns(t, org.apache.spark.sql.types.StructType.fromDDL("s INT"))
    }
    // RESTORE across the rename refuses
    TxLog.append(spark, t, Seq((2L, "b")).toDF("id", "label").coalesce(1))
    intercept[UnsupportedOperationException](TxLog.restore(t, 1L))
    // clone carries the mapping (chain copied verbatim)
    val c = tmp()
    TxLog.cloneTable(t, c)
    assert(TxLog.renameMap(c) == Map("label" -> "s"))
    assert(TxLog.read(spark, c).columns.toSeq == Seq("id", "label"))
    // describe/detail surface logical names
    TxLog.setBloomColumns(t, Seq("label"))
    assert(TxLog.detail(t).bloomCols == Seq("label"))
    assert(TxLog.describe(c).forall(_.cols.keySet == Set("id", "label")))
  }

  // ------------------------------------- protocol (reader features)

  test("feature-introducing commits declare protocol; unknown features fail replay") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      (1L to 4L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    assert(TxLog.protocolOf(t).isEmpty) // plain tables declare nothing
    TxLog.deleteWhereMerge(spark, t, col("id") === 2L)
    assert(TxLog.protocolOf(t) == Set("deletion-vectors"))
    TxLog.renameColumn(t, "s", "label")
    assert(TxLog.protocolOf(t) == Set("column-mapping", "deletion-vectors"))
    // re-introducing a declared feature adds no second declaration
    val before = TxLog.versions(t).size
    TxLog.deleteWhereMerge(spark, t, col("id") === 3L)
    assert(TxLog.protocolOf(t) == Set("column-mapping", "deletion-vectors"))
    // clone carries the declaration
    val c = tmp()
    TxLog.cloneTable(t, c)
    assert(TxLog.protocolOf(c) == Set("column-mapping", "deletion-vectors"))
    // a FUTURE feature this engine predates: loud structured refusal,
    // never a wrong answer
    val vNext = TxLog.versions(t).last + 1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(t, "_graft_log", f"$vNext%020d.json"),
      """{"op":"protocol","path":"deletion-vectors,frobnication-v2"}"""
        .getBytes)
    val e = intercept[UnsupportedOperationException] {
      TxLog.read(spark, t).count()
    }
    assert(e.getMessage.contains("frobnication-v2"))
    assert(TxLog.read(spark, t, asOf = Some(before.toLong)).count() == 3)
  }

  // ------------------------------------------------ DESCRIBE DETAIL

  test("detail folds the table profile from the log only") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t,
      (1L to 8L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.append(spark, t,
      (9L to 12L).map(i => (i, s"r$i")).toDF("id", "s").coalesce(1))
    TxLog.addConstraint(spark, t, "pos", "id > 0")
    TxLog.deleteWhereMerge(spark, t, col("id") <= 2L)
    val d = TxLog.detail(t)
    assert(d == TxLog.Detail(4L, 2L, Some(10L), 2L, 1, Seq.empty))
    // asOf profiles the historical snapshot
    assert(TxLog.detail(t, Some(2L)) ==
      TxLog.Detail(2L, 2L, Some(12L), 0L, 0, Seq.empty))
    // stats-less files refuse the row count, never guess (None)
    val vf = java.nio.file.Paths.get(t, "_graft_log", f"${1L}%020d.json")
    val stripped = new String(Files.readAllBytes(vf)).linesIterator.map {
      l => if (l.contains("\"op\":\"add\""))
        l.replaceAll(""","stats":"[^"]*"""", "") else l
    }.mkString("\n")
    Files.write(vf, stripped.getBytes)
    // hand-mutating a published version file is outside the format's
    // immutability contract — drop the parsed-action cache explicitly
    TxLog.invalidateActionCache(t)
    assert(TxLog.detail(t).numRows.isEmpty)
  }

  // --------------------------------------------- ALTER ADD COLUMNS

  test("ALTER TABLE ADD COLUMNS widens metadata only; reads/writes follow") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    graft.sources.TxLogSqlDml.install(spark)
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      graft.sources.GraftSqlParser.maintenance(
        s"ALTER TABLE '$t' ADD COLUMNS (score DOUBLE, tag STRING)").get)
      .collect()
    // metadata-only: still one data file, two versions, op tagged
    assert(TxLog.snapshot(t).size == 1)
    assert(TxLog.history(t).last.operation == "ADD COLUMNS")
    assert(TxLog.schemaOf(t).get.fieldNames.toSeq ==
      Seq("id", "s", "score", "tag"))
    // old rows surface null in the new columns
    val r = TxLog.read(spark, t).select(col("id"), col("score"), col("tag"))
      .head()
    assert(r.getLong(0) == 1L && r.isNullAt(1) && r.isNullAt(2))
    // a write carrying the new columns now lands WITHOUT mergeSchema
    TxLog.append(spark, t,
      Seq((2L, "b", 0.5, "x")).toDF("id", "s", "score", "tag").coalesce(1))
    assert(TxLog.read(spark, t).count() == 2)
    // duplicate / empty declarations fail loudly
    intercept[IllegalArgumentException] {
      TxLog.addColumns(t, org.apache.spark.sql.types.StructType.fromDDL("id INT"))
    }
    // unquoted names are NOT claimed: stock ALTER grammar keeps flowing
    assert(graft.sources.GraftSqlParser.maintenance(
      "ALTER TABLE sometable ADD COLUMNS (x INT)").isEmpty)
  }

  // ------------------------------------------- startingVersion stream

  test("startingVersion: the stream tail starts where the consumer asks") {
    import spark.implicits._
    val t = tmp()
    (1 to 4).foreach(i => TxLog.append(spark, t,
      Seq((i.toLong, s"r$i")).toDF("id", "s").coalesce(1)))
    def drain(opts: Map[String, String]): Seq[Long] = {
      val ckpt = Files.createTempDirectory("graft-sv-ckpt").toString
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      var r = spark.readStream.format("graft.sources.TxLogSource")
      opts.foreach { case (k, v) => r = r.option(k, v) }
      r.load(t).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select(col("id")).collect().foreach(x => buf.add(x.getLong(0)))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      buf.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq.sorted
    }
    // absent = full backlog; v3 = changes from version 3 inclusive
    assert(drain(Map.empty) == Seq(1L, 2L, 3L, 4L))
    assert(drain(Map("startingVersion" -> "3")) == Seq(3L, 4L))
    // "latest" at start of stream: nothing until NEW commits land
    assert(drain(Map("startingVersion" -> "latest")) == Seq.empty)
    TxLog.append(spark, t, Seq((9L, "new")).toDF("id", "s").coalesce(1))
    assert(drain(Map("startingVersion" -> "5")) == Seq(9L))
    // invalid values fail loudly at stream build
    intercept[Exception](drain(Map("startingVersion" -> "0")))
  }

  // ------------------------------------------------------ SQL verbs

  test("DESCRIBE HISTORY / RESTORE statements plan through the DML strategy") {
    import spark.implicits._
    val t = tmp()
    TxLog.append(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .coalesce(1), commitTs = Some(1000L))
    TxLog.deleteWhere(spark, t, col("id") === 1L, commitTs = Some(2000L))
    graft.sources.TxLogSqlDml.install(spark)
    def run(sql: String) = org.apache.spark.sql.graft.GraftSqlBridge
      .ofRows(spark, graft.sources.GraftSqlParser.maintenance(sql).get)
    val h = run(s"DESCRIBE HISTORY '$t'")
    assert(h.columns.toSeq.take(3) == Seq("version", "timestamp", "operation"))
    assert(h.select("operation").as[String].collect().toSeq ==
      Seq("WRITE", "DELETE"))
    // timestamp-addressed SQL restore resolves v1 and commits v3
    val r = run(s"RESTORE TABLE '$t' TO TIMESTAMP AS OF 1500").head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 3L)
    assert(rows(t) == Seq((1L, "a"), (2L, "b")))
    // version-addressed form, no-op case: committed_version is null
    assert(run(s"RESTORE '$t' TO VERSION AS OF 3").head().isNullAt(1))
    // unparseable / non-maintenance SQL is not claimed by the grammar
    assert(graft.sources.GraftSqlParser.maintenance("SELECT 1").isEmpty)
  }
}

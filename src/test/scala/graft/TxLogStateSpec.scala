package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.etl.{CommitStore, TxLog}

/** The table state a TxLog reader sees at each version. One scripted
  * history touches every metadata kind the log records, and every public
  * reader is checked at every version against a fixed rendering, so a
  * change to how the log is replayed cannot change what any reader
  * answers. A second test counts the log LISTs each verb issues on an
  * HTTP object store, where every LIST is a round trip. */
class TxLogStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val objectServer = new TestObjectServer
  lazy val spark: SparkSession = GraftSession.local("txlog-state-spec", cores = 2)

  override def beforeAll(): Unit = { objectServer.start(); () }
  override def afterAll(): Unit = { spark.stop(); objectServer.stop() }

  private def sorted[V](m: Map[String, V]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("{", ",", "}")

  /** Every public metadata reader (and the file state's shape) at `v`. */
  private def render(t: String, v: Long): String = {
    val at = Some(v)
    val schema = TxLog.schemaOf(t, at).map(_.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))
    val ids = TxLog.identityColsOf(t, at)
    val d = TxLog.detail(t, at)
    Seq(
      s"v$v",
      s"schema=${schema.getOrElse("-")}",
      s"constraints=${sorted(TxLog.constraintsOf(t, at))}",
      s"properties=${sorted(TxLog.propertiesOf(t, at))}",
      s"protocol=${TxLog.protocolOf(t, at).toSeq.sorted.mkString(",")}",
      s"renames=${sorted(TxLog.renameMap(t, at))}",
      s"dropped=${TxLog.droppedPhysicalOf(t, at).toSeq.sorted.mkString(",")}",
      s"bloom=${TxLog.bloomColsOf(t, at).mkString(",")}",
      s"generated=${sorted(TxLog.generatedColsOf(t, at))}",
      s"defaults=${sorted(TxLog.defaultsOf(t, at))}",
      s"identity=${sorted(ids)}",
      s"watermarks=${sorted(ids.map { case (n, _) =>
        n -> TxLog.identityWatermark(t, n, at) })}",
      s"partCols=${TxLog.partColsOf(t, at).mkString(",")}",
      s"files=${TxLog.snapshot(t, at).size}",
      s"dvs=${TxLog.dvsAt(t, at).size}",
      s"detail=${d.numVersions}/${d.numFiles}/${d.numRows}/${d.numDeletedRows}/" +
        s"${d.numConstraints}/${d.bloomCols.mkString(",")}/" +
        s"${d.partitionColumns.mkString(",")}"
    ).mkString(" ")
  }

  /** A history that sets, replaces and clears every metadata kind:
    * identity and generated columns, a constraint, properties, a default,
    * bloom columns, partitioning, a rename chain a>b>c, a rename then a
    * drop, deletion vectors, and an exactly-once marker. Crosses the
    * automatic checkpoint at version 10. */
  private def scriptedHistory(): String = {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-state").resolve("t").toString
    val ts = Iterator.from(1).map(i => Some(1000L + i))
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType),
      StructField("a", LongType), StructField("g", LongType),
      StructField("k", LongType), StructField("x", StringType),
      StructField("y", DoubleType)))
    TxLog.create(t, schema, partitionBy = Seq("p"), commitTs = ts.next())   // 1
    TxLog.addIdentityColumn(t, "id", start = 10L, step = 5L, commitTs = ts.next())
    TxLog.addGeneratedColumn(spark, t, "g", "k + 1", commitTs = ts.next())
    TxLog.addConstraint(spark, t, "kpos", "k >= 0", commitTs = ts.next())
    TxLog.setProperties(t, Map("owner" -> "ops", "tier" -> "gold"),
      commitTs = ts.next())                                                  // 5
    TxLog.setColumnDefault(spark, t, "y", "CAST(1.5 AS DOUBLE)", commitTs = ts.next())
    TxLog.setBloomColumns(t, Seq("k"), commitTs = ts.next())
    TxLog.append(spark, t, Seq(("fr", 1L, 3L, "u"), ("de", 2L, 4L, "v"),
      ("fr", 3L, 5L, "w")).toDF("p", "a", "k", "x").coalesce(1),
      commitTs = ts.next())                                                  // 8
    TxLog.renameColumn(t, "a", "b", commitTs = ts.next())
    TxLog.renameColumn(t, "b", "c", commitTs = ts.next())                    // 10
    TxLog.dropConstraint(t, "kpos", commitTs = ts.next())
    TxLog.unsetProperties(t, Seq("owner"), commitTs = ts.next())
    TxLog.dropColumnDefault(t, "y", commitTs = ts.next())
    TxLog.renameColumn(t, "x", "x2", commitTs = ts.next())
    TxLog.dropColumn(t, "x2", commitTs = ts.next())                          // 15
    TxLog.append(spark, t, Seq(("de", 7L, 8L), ("it", 9L, 10L))
      .toDF("p", "c", "k").coalesce(1), commitTs = ts.next())
    TxLog.deleteWhereMerge(spark, t, col("k") === 4L, commitTs = ts.next())
    TxLog.appendOnce(spark, t, Seq(("it", 11L, 12L)).toDF("p", "c", "k")
      .coalesce(1), txn = "batch-1", commitTs = ts.next())                  // 18
    t
  }

  /** [[render]] at versions 1..18 of [[scriptedHistory]]. */
  private val Expected: Seq[String] =
    """v1 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={} protocol=partitioning renames={} dropped= bloom= generated={} defaults={} identity={} watermarks={} partCols=p files=0 dvs=0 detail=1/0/Some(0)/0/0//p
      |v2 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={} protocol=partitioning renames={} dropped= bloom= generated={} defaults={} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=2/0/Some(0)/0/0//p
      |v3 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={} protocol=partitioning renames={} dropped= bloom= generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=3/0/Some(0)/0/0//p
      |v4 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={} protocol=partitioning renames={} dropped= bloom= generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=4/0/Some(0)/0/1//p
      |v5 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=partitioning renames={} dropped= bloom= generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=5/0/Some(0)/0/1//p
      |v6 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=partitioning renames={} dropped= bloom= generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=6/0/Some(0)/0/1//p
      |v7 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=partitioning renames={} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=None} partCols=p files=0 dvs=0 detail=7/0/Some(0)/0/1/k/p
      |v8 schema=id:bigint,p:string,a:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=partitioning renames={} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=8/2/Some(3)/0/1/k/p
      |v9 schema=id:bigint,p:string,b:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=column-mapping,partitioning renames={b=a} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=9/2/Some(3)/0/1/k/p
      |v10 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,x:string,y:double constraints={kpos=k >= 0} properties={owner=ops,tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=10/2/Some(3)/0/1/k/p
      |v11 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={owner=ops,tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=11/2/Some(3)/0/0/k/p
      |v12 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped= bloom=k generated={g=k + 1} defaults={y=CAST(1.5 AS DOUBLE)} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=12/2/Some(3)/0/0/k/p
      |v13 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,x:string,y:double constraints={} properties={tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped= bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=13/2/Some(3)/0/0/k/p
      |v14 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,x2:string,y:double constraints={} properties={tier=gold} protocol=column-mapping,partitioning renames={c=a,x2=x} dropped= bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=14/2/Some(3)/0/0/k/p
      |v15 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,y:double constraints={} properties={tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped=x bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(20)} partCols=p files=2 dvs=0 detail=15/2/Some(3)/0/0/k/p
      |v16 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,y:double constraints={} properties={tier=gold} protocol=column-mapping,partitioning renames={c=a} dropped=x bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(30)} partCols=p files=4 dvs=0 detail=16/4/Some(5)/0/0/k/p
      |v17 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,y:double constraints={} properties={tier=gold} protocol=column-mapping,deletion-vectors,partitioning renames={c=a} dropped=x bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(30)} partCols=p files=4 dvs=1 detail=17/4/Some(4)/1/0/k/p
      |v18 schema=id:bigint,p:string,c:bigint,g:bigint,k:bigint,y:double constraints={} properties={tier=gold} protocol=column-mapping,deletion-vectors,partitioning renames={c=a} dropped=x bloom=k generated={g=k + 1} defaults={} identity={id=(10,5,false)} watermarks={id=Some(35)} partCols=p files=5 dvs=1 detail=18/5/Some(5)/1/0/k/p""".stripMargin.linesIterator.toSeq

  test("every public reader answers the recorded value at every version") {
    val t = scriptedHistory()
    assert(TxLog.versions(t) == (1L to 18L))
    assert(TxLog.checkpoints(t) == Seq(10L))
    val got = TxLog.versions(t).map(render(t, _))
    got.zip(Expected).foreach { case (g, e) => assert(g == e) }
    assert(got.size == Expected.size)
    assert(TxLog.txnSeen(t, "batch-1") && !TxLog.txnSeen(t, "batch-2"))
  }

  test("log LISTs per verb on an HTTP-store table") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-state-http").resolve("t").toString
    CommitStore.declareHttp(t, objectServer.endpoint)
    def rows(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i % 3, s"s$i")).toDF("id", "q", "s").coalesce(1)
    TxLog.append(spark, t, rows(1, 20))
    TxLog.append(spark, t, rows(21, 40))
    def lists(body: => Any): Long = {
      val before = objectServer.lists.get()
      body
      objectServer.lists.get() - before
    }
    val counts = Seq(
      "append" -> lists(TxLog.append(spark, t, rows(41, 60))),
      "updateWhere" -> lists(TxLog.updateWhere(spark, t, col("id") < 5,
        Map("s" -> lit("u")))),
      "merge" -> lists(TxLog.merge(spark, t, rows(55, 70), Seq("id"))),
      "dropColumn" -> lists(TxLog.dropColumn(t, "s")),
      "read" -> lists(TxLog.read(spark, t).count()))
    // one listing per table state: a writer lists for its pass and once
    // per claim attempt, a DDL verb and a read list once. The replay that
    // listed per metadata kind issued 13, 21, 24, 9 and 5.
    val bounds = Map("append" -> 2L, "updateWhere" -> 2L, "merge" -> 2L,
      "dropColumn" -> 1L, "read" -> 1L)
    counts.foreach { case (verb, n) =>
      assert(n <= bounds(verb), s"$verb listed the log $n times") }
    assert(TxLog.read(spark, t).count() == 70L)
  }
}

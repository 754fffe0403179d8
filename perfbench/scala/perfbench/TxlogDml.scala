package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.TxLog

/** Seeded writes beside reads on one TxLog table with the change data feed
  * on. The table is `lineitem` plus a dense `id` key and a `bucket =
  * id / bucket_rows` partition column. `run.py` generates the op list; this
  * class replays it and records, after every commit (untimed), the bytes
  * the commit added under the table directory. Reads record the count and
  * hash of what they returned; the op list follows every commit with a
  * `read_latest`, which so checks each new snapshot. `run.py` replays the
  * same ops on a pandas model and compares.
  *
  * Rows that appends and merges write are a pure function of (id, salt),
  * mirrored by `txmodel.rows` in Python. */
final class TxlogDml(spark: SparkSession, rec: Recorder, cfg: Map[String, Any]) extends Workload {
  import TxlogDml._
  private val work = cfg("work_dir").toString
  private val seedPath = cfg("seed_path").toString
  private val bucketRows = cfg("bucket_rows").toString.toLong
  private def opsOf(k: String): Seq[Seq[Map[String, Any]]] =
    cfg(k).asInstanceOf[java.util.List[java.util.List[java.util.Map[String, Any]]]]
      .asScala.map(_.asScala.map(_.asScala.toMap).toSeq).toSeq
  private val rounds = opsOf("rounds")
  private val warmOps = opsOf("warmup")
  private def table(rep: Int) = s"$work/txlog/t$rep"
  private var live = table(3)
  /** Version right after the seed append of the live table; as-of reads and
    * change feeds never reach behind it. */
  private var baseVersion = 0L

  private lazy val schema = spark.read.parquet(seedPath).schema

  def fixture(rep: Int): Unit = {
    val t = table(rep)
    TxLog.setProperties(t, Map(TxLog.CdfProperty -> "true"))
    TxLog.append(spark, t, spark.read.parquet(seedPath), partitionBy = Seq("bucket"))
  }

  /** The warm-up replays its own op list on a fixture copy the timed run
    * never reads, so every verb's code is hot before the first timed op. */
  def warmup(): Unit = {
    live = table(1)
    baseVersion = TxLog.versions(live).last
    warmOps.flatten.foreach(o => run(o, -1, timed = false))
    live = table(3)
    seen = listFiles(live)
    baseVersion = TxLog.versions(live).last
    val (c, h) = countHash(TxLog.read(spark, live))
    commits += Map("version" -> baseVersion, "count" -> c, "hash" -> h,
      "bytes_new" -> 0L, "op" -> -1)
  }

  def hasRound(r: Int): Boolean = r < rounds.size
  def round(r: Int): Unit = rounds(r).foreach(o => run(o, r, timed = true))

  private val commits = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var seen: Map[String, Long] = Map.empty

  private def listFiles(root: String): Map[String, Long] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  private def run(o: Map[String, Any], r: Int, timed: Boolean): Unit = {
    val verb = o("verb").toString
    def long(k: String): Long = o(k).toString.toLong
    val idRange = (k: String) => col("id").between(long(k + "_lo"), long(k + "_hi"))
    val before = if (timed && rec.traced) TxLog.snapshotAdds(live).map(_.path).toSet else Set.empty[String]
    def body(extra: scala.collection.mutable.Map[String, Any]): Unit = verb match {
      case "append" =>
        extra("version") = rec.span("txlog.append") {
          TxLog.append(spark, live, rows(spark, schema, bucketRows, long("new_lo"), long("new_hi"), 0L)) }
      case "update" =>
        extra("version") = rec.span("txlog.update") {
          TxLog.updateWhere(spark, live, idRange("id") && (col("id") % 3 === 0),
            Map("l_quantity" -> (col("l_quantity") + 1.0), "l_tax" -> lit(0.0)))
        }.getOrElse(-1L)
      case "delete" =>
        extra("version") = rec.span("txlog.delete") {
          TxLog.deleteWhere(spark, live, idRange("id")) }.getOrElse(-1L)
      case "merge" =>
        val src = rows(spark, schema, bucketRows, long("old_lo"), long("old_hi"), long("salt"))
          .unionByName(rows(spark, schema, bucketRows, long("new_lo"), long("new_hi"), long("salt")))
        extra("version") = rec.span("txlog.merge") { TxLog.merge(spark, live, src, Seq("id")) }
      case "read_where" =>
        val df = rec.span("txlog.read_where") { TxLog.readWhere(spark, live, idRange("id")) }
        val (c, h) = rec.span("action") { countHash(df) }
        extra ++= Map("count" -> c, "hash" -> h)
      case "read_latest" =>
        val v = TxLog.versions(live).last
        val df = rec.span("txlog.read") { TxLog.read(spark, live) }
        val (c, h) = rec.span("action") { countHash(df) }
        extra ++= Map("count" -> c, "hash" -> h, "as_of" -> v)
      case "read_asof" =>
        val v = math.max(baseVersion, TxLog.versions(live).last - long("back"))
        val df = rec.span("txlog.read_asof") { TxLog.read(spark, live, Some(v)) }
        val (c, h) = rec.span("action") { countHash(df) }
        extra ++= Map("count" -> c, "hash" -> h, "as_of" -> v)
      case "changes" =>
        val hi = TxLog.versions(live).last
        val from = math.max(baseVersion, hi - long("back"))
        val df = rec.span("txlog.changes") { TxLog.changeFeed(spark, live, from, Some(hi)) }
        val minus = col(TxLog.ChangeTypeCol).isin("delete", "update_preimage")
        val got = rec.span("action") {
          df.agg(count(when(minus, 1)), sum(when(minus, hashCol)),
            count(when(!minus, 1)), sum(when(!minus, hashCol))).collect()(0)
        }
        def l(i: Int): Long = if (got.isNullAt(i)) 0L else got.getLong(i)
        extra ++= Map("from" -> from, "to" -> hi, "minus_count" -> l(0), "minus_hash" -> l(1),
          "plus_count" -> l(2), "plus_hash" -> l(3))
      case "checkpoint" =>
        rec.span("txlog.checkpoint") { TxLog.checkpoint(live) }
      case "optimize" =>
        extra("version") = rec.span("txlog.optimize") {
          TxLog.optimize(spark, live, where = Some(col("bucket") >= long("bucket_lo")))
        }.getOrElse(-1L)
      case "vacuum" =>
        // one closed-loop writer, so the table is quiescent: no file age
        // guard is needed (the way the program's own tests call it)
        extra("deleted") = rec.span("txlog.vacuum") {
          TxLog.vacuum(live, retainVersions = long("retain").toInt, minAgeMillis = 0L) }.size
    }
    if (!timed) { body(scala.collection.mutable.Map.empty); return }
    val done = rec.op(kindOf(verb), verb, r, spark)(body)
    done.get("version").map(_.toString.toLong).filter(_ >= 0).foreach { v =>
      val now = listFiles(live)
      val fresh = now.filter { case (p, _) => !seen.contains(p) }
      seen = now
      val trace: Map[String, Any] = if (!rec.traced) Map.empty else {
        val t0 = rec.now()
        val after = TxLog.snapshotAdds(live).map(_.path).toSet
        Map("snapshot_s" -> (rec.now() - t0), "files_added" -> (after -- before).size,
          "files_removed" -> (before -- after).size)
      }
      commits += Map("op" -> done("id"), "version" -> v, "bytes_new" -> fresh.values.sum) ++ trace
    }
    if (rec.traced && verb == "read_where") {
      val p = TxLog.prune(spark, live, idRange("id"))
      commits += Map("op" -> done("id"), "kept" -> p.kept.size, "skipped" -> p.skipped.size)
    }
  }

  def result: Map[String, Any] = Map("commits" -> commits.toSeq,
    "seed_bytes" -> Files.size(Paths.get(seedPath)))
}

object TxlogDml {
  def kindOf(verb: String): String = verb match {
    case "append" | "update" | "delete" | "merge" => "commit"
    case "read_latest" | "read_where" | "read_asof" | "changes" => "read"
    case _ => "maintenance"
  }

  /** Order-free content hash of a row, computable exactly in pandas too. */
  val hashCol: Column = expr(
    "pmod(id * 1000003 + floor(l_quantity * 100 + 0.5) * 10007" +
      " + floor(l_extendedprice * 100 + 0.5) * 101 + floor(l_discount * 100 + 0.5) * 7" +
      " + floor(l_tax * 100 + 0.5) * 3 + l_orderkey * 13 + l_partkey * 17 + l_suppkey * 19" +
      " + l_linenumber * 23 + ascii(l_returnflag) * 29 + ascii(l_linestatus) * 31" +
      " + unix_date(to_date(l_shipdate)) * 37, 2147483647)")

  def countHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(hashCol)).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Rows for ids [lo, hi]; `salt` varies every column but the key. */
  def rows(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
           bucketRows: Long, lo: Long, hi: Long, salt: Long): DataFrame = {
    val k = col("id") + lit(salt)
    val flags = Seq("A", "N", "R")
    val cols: Map[String, Column] = Map(
      "l_orderkey" -> (k * 7919) % 150000,
      "l_partkey" -> (k * 104729) % 20000,
      "l_suppkey" -> k % 1000,
      "l_linenumber" -> (k % 7 + 1),
      "l_quantity" -> (k % 50 + 1).cast("double"),
      "l_extendedprice" -> ((k * 37) % 104100 + 900).cast("double"),
      "l_discount" -> (k % 11).cast("double") / 100.0,
      "l_tax" -> (k % 9).cast("double") / 100.0,
      "l_returnflag" -> element_at(array(flags.map(lit): _*), (k % 3 + 1).cast("int")),
      "l_linestatus" -> when(k % 2 === 0, lit("F")).otherwise(lit("O")),
      "l_shipdate" -> date_add(lit("1995-01-02").cast("date"), (k % 2498).cast("int")),
      "id" -> col("id"),
      "bucket" -> (col("id") - col("id") % bucketRows).divide(bucketRows).cast("long"))
    spark.range(lo, hi + 1).select(schema.fields.map(f => cols(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }
}

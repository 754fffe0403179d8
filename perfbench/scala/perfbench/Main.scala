package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: one process, one workload, one seed.
  *
  * Usage: `perfbench.Main <config.json>`, where the config is written by
  * `run.py` (workload name, seconds, trace flag, cores, data and work
  * directories, and the seeded inputs the workload replays). Writes the raw
  * record to the config's `out` path; `run.py` checks it and reduces it to
  * metrics.
  *
  * Phases: session start, the fixture built three times through the
  * program's API (the median counts toward set-up), an untimed warm-up
  * that is also the correctness pass where the workload has one, then
  * whole rounds until `seconds` have passed and at least `min_rounds`
  * rounds ran.
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Scala values → Jackson-serialisable Java values. */
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readValue(new String(Files.readAllBytes(Paths.get(args(0))),
      StandardCharsets.UTF_8), classOf[java.util.Map[String, Any]]).asScala.toMap
    val traced = cfg("trace").toString.toInt == 1
    val cores = cfg("cores").toString.toInt
    val seconds = cfg("seconds").toString.toDouble
    val minRounds = cfg.get("min_rounds").map(_.toString.toInt).getOrElse(1)
    val work = cfg("work_dir").toString
    // measure HEAD: refuse to run against program classes from anywhere
    // but the jar the build step made from (or verified against) the tree
    val loaded = Paths.get(graft.SparkEntry.getClass.getProtectionDomain.getCodeSource
      .getLocation.toURI).toRealPath()
    val expected = Paths.get(cfg("program_jar").toString).toRealPath()
    if (loaded != expected) {
      System.err.println(s"program classes come from $loaded, expected $expected")
      sys.exit(3)
    }
    val rec = new Recorder(traced)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

    val spark = graft.core.GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.install(spark)
    spark.range(1).count()
    val sessionS = rec.now() - jvmStart

    val w: Workload = cfg("workload") match {
      case "floor_mix" => new FloorMix(spark, rec, cfg)
      case "txlog_dml" => new TxlogDml(spark, rec, cfg)
      case "medallion_etl" => new MedallionEtl(spark, rec, cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val fixtureS = (1 to 3).map { i => val t0 = rec.now(); w.fixture(i); rec.now() - t0 }
    val t0 = rec.now()
    w.warmup()
    val warmupS = rec.now() - t0

    val m0 = rec.now()
    var round = 0
    while (w.hasRound(round) && (round < minRounds || rec.now() - m0 < seconds)) {
      w.round(round)
      round += 1
    }
    val m1 = rec.now()
    rec.drain(spark)

    val out = Map(
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> fixtureS,
        "warmup_s" -> warmupS, "setup_s" -> (sessionS + median(fixtureS) + warmupS)),
      "measure" -> Map("t0" -> m0, "t1" -> m1, "rounds" -> round),
      "peak_rss_mb" -> peakRssMb(),
      "workload" -> w.result) ++ rec.dump()
    Files.write(Paths.get(cfg("out").toString),
      mapper.writeValueAsBytes(toJava(out)))
    spark.stop()
  }
}

/** One workload: a fixture, a warm-up, and numbered rounds of timed ops. */
trait Workload {
  def fixture(rep: Int): Unit
  def warmup(): Unit
  def hasRound(r: Int): Boolean
  def round(r: Int): Unit
  /** Workload-specific record (check values) for `run.py`. */
  def result: Map[String, Any]
}

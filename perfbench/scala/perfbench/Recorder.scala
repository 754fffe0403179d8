package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what one benchmark run did, in memory, for `run.py` to reduce.
  *
  * Every run records its operations (one closed-loop client: each op starts
  * after the previous one ends). A traced run also records child spans
  * (builder call, TxLog verb, ETL stage, action), Spark jobs, stages and
  * tasks from a `SparkListener`, Catalyst phases and scanned-file counts
  * from a `QueryExecutionListener`, and per-op deltas of the codegen and GC
  * counters. All times are epoch seconds: our spans come from
  * `System.nanoTime` shifted by one fixed offset, Spark's events carry
  * epoch milliseconds. Nothing is written until the run ends.
  */
final class Recorder(val traced: Boolean) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Double = (System.nanoTime() + offsetNs) / 1e9

  type Rec = Map[String, Any]
  val ops = new ConcurrentLinkedQueue[Rec]()
  val spans = new ConcurrentLinkedQueue[Rec]()
  val jobs = new ConcurrentLinkedQueue[Rec]()
  val stages = new ConcurrentLinkedQueue[Rec]()
  val tasks = new ConcurrentLinkedQueue[Rec]()
  val queries = new ConcurrentLinkedQueue[Rec]()

  private val nextOp = new AtomicInteger(0)
  @volatile private var current = -1
  private val OpProp = "perfbench.op"

  /** One timed operation. `extra` is filled by the body (e.g. the version
    * a commit produced) and lands in the op record. Failures are recorded,
    * not thrown: the caller decides whether the run can go on. */
  def op(kind: String, name: String, round: Int, spark: SparkSession)
        (body: scala.collection.mutable.Map[String, Any] => Unit): Rec = {
    val id = nextOp.getAndIncrement()
    val extra = scala.collection.mutable.Map.empty[String, Any]
    current = id
    spark.sparkContext.setLocalProperty(OpProp, id.toString)
    val c0 = if (traced) counters() else Map.empty[String, Double]
    val t0 = now()
    val err = try { body(extra); None } catch { case e: Throwable => Some(e) }
    val t1 = now()
    val c1 = if (traced) counters() else Map.empty[String, Double]
    spark.sparkContext.setLocalProperty(OpProp, null)
    current = -1
    val rec: Rec = Map("id" -> id, "kind" -> kind, "name" -> name, "round" -> round,
      "t0" -> t0, "t1" -> t1, "ok" -> err.isEmpty,
      "error" -> err.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)).orNull,
      "counters" -> c1.map { case (k, v) => k -> (v - c0(k)) }) ++ extra
    ops.add(rec)
    rec
  }

  /** A child span of the current op (traced runs only). */
  def span[T](layer: String)(body: => T): T =
    if (!traced) body
    else {
      val t0 = now()
      try body finally spans.add(Map("op" -> current, "layer" -> layer, "t0" -> t0, "t1" -> now()))
    }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Monotone counters sampled at op boundaries. */
  def counters(): Map[String, Double] = Map(
    "gc_s" -> gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3,
    "codegen_compile_s" -> CodeGenerator.compileTime / 1e9,
    "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private val stageOp = TrieMap.empty[Int, Int]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt).getOrElse(-1)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      e.stageIds.foreach(s => stageOp.put(s, op))
      jobs.add(Map("job" -> e.jobId, "op" -> op, "event" -> "start", "t" -> e.time / 1e3))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Map("job" -> e.jobId, "event" -> "end", "t" -> e.time / 1e3))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.add(Map("stage" -> si.stageId, "op" -> stageOp.getOrElse(si.stageId, -1),
        "tasks" -> si.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val base: Rec = Map("op" -> stageOp.getOrElse(e.stageId, -1),
        "launch" -> ti.launchTime / 1e3, "finish" -> ti.finishTime / 1e3)
      tasks.add(if (m == null) base else base ++ Map(
        "run_s" -> m.executorRunTime / 1e3,
        "overhead_s" -> (m.executorDeserializeTime + m.resultSerializationTime) / 1e3,
        "shuffle_read_b" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  /** Scan nodes of a finished plan, looking through adaptive stages. */
  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case _ =>
      (if (p.metrics.contains("numFiles")) Seq(p) else Nil) ++
        p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> Map("t0" -> v.startTimeMs / 1e3, "t1" -> v.endTimeMs / 1e3) }
      val files = try scans(qe.executedPlan).map(_.metrics("numFiles").value).sum
                  catch { case _: Throwable => 0L }
      queries.add(Map("func" -> funcName, "phases" -> phases, "files" -> files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Block until the listener bus has delivered every event posted so far. */
  def drain(spark: SparkSession): Unit = if (traced) {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def dump(): Rec = Map(
    "ops" -> ops.asScala.toSeq, "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq, "queries" -> queries.asScala.toSeq)
}

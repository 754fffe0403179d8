package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ListenerBus

import graft.etl.StatsFileIndex

/** What a spec can observe of a scan: the stats index under a frame, and
  * the rows its tasks read. */
object Scans {

  /** The [[StatsFileIndex]] under a frame's scan — the first one in its
    * analyzed plan — whose `lastPrunedCount` tells what the last planning
    * pass pruned once an action has run. */
  def index(df: DataFrame): StatsFileIndex =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r.relation }
      .collectFirst { case h: HadoopFsRelation => h.location }
      .collect { case idx: StatsFileIndex => idx }
      .getOrElse(throw new IllegalArgumentException(
        s"no StatsFileIndex scan in:\n${df.queryExecution.analyzed}"))

  /** Rows read from input sources while `body` runs (task metrics) — the
    * pruning check for scans a spec cannot reach through a plan, such as
    * SQL over a catalog table. */
  def recordsRead(spark: SparkSession)(body: => Unit): Long = {
    val n = new LongAdder
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          n.add(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBus.drain(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.sum()
  }
}

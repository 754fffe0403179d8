package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The engine's one `FileIndex`: planning-time data skipping over an
  * EXPLICIT `(absolutePath, stats)` file list. `listFiles` receives every
  * query's pushed data filters DURING PLANNING and hands the parquet scan
  * only the files [[TxStats.mayMatch]] keeps — files whose commit-log
  * stats PROVE no row matches are never listed, and stats-less files are
  * never skipped, so correctness cannot depend on the stats (Spark
  * re-applies the filters above the scan). Every snapshot read lists
  * through it ([[TxLog.read]], and with it SQL SELECT over a catalog
  * table), as do [[TxLog.changeFeed]]'s cdc sidecars and add-only insert
  * files — at 100 TB the difference between "scan the whole table or
  * change history" and "open a handful of files".
  *
  * Snapshot isolation: the file set is fixed at construction, so a
  * concurrent commit never changes what a running query reads;
  * `refresh()` is deliberately a no-op. Driver-side metadata only;
  * O(files) per planning pass. */
private[graft] final class StatsFileIndex(
    entries: Seq[(String, Option[TxStats.FileStats])])
    extends FileIndex with org.apache.spark.internal.Logging {

  private val statuses: Seq[(FileStatus, Option[TxStats.FileStats])] =
    entries.map { case (abs, fs) =>
      val p = Paths.get(abs)
      (new FileStatus(Files.size(p), false, 1, 0L,
        Files.getLastModifiedTime(p).toMillis, new Path(p.toUri)), fs)
    }

  override def rootPaths: Seq[Path] = statuses.map(_._1.getPath.getParent).distinct

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = statuses.map(_._1.getLen).sum

  override def inputFiles: Array[String] =
    statuses.map(_._1.getPath.toString).toArray

  override def refresh(): Unit = () // immutable snapshot by construction

  /** Files pruned by the LAST planning pass: the skipping decision,
    * observable next to the plan instead of only through result hashes. */
  @volatile var lastPrunedCount: Int = 0

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = dataFilters.reduceOption(And) match {
      case None => statuses
      case Some(pred) => statuses.filter { case (_, fs) => TxStats.mayMatch(pred, fs) }
    }
    lastPrunedCount = statuses.size - kept.size
    if (lastPrunedCount > 0)
      logInfo(s"StatsFileIndex: pruned $lastPrunedCount of " +
        s"${statuses.size} files via commit-log stats")
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
  }
}

private[graft] object StatsFileIndex {

  /** The pruned-scan relation: a parquet read of `entries` whose file
    * listing happens at PLANNING with the query's pushed filters in
    * hand. Everything below file granularity (row-group pushdown,
    * column pruning, vectorized reading) is the stock parquet path. */
  def scan(spark: SparkSession,
           entries: Seq[(String, Option[TxStats.FileStats])],
           schema: StructType): DataFrame = {
    val rel = HadoopFsRelation(
      location = new StatsFileIndex(entries),
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}

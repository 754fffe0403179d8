package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads whose schema comes from one footer read on the driver.
  *
  * `spark.read.parquet(dir)` infers its schema with a Spark job (one task
  * that opens the footer Spark picks), on every call. The medallion day
  * needs six such frames (the four gold tables the catalog registers, the
  * silver partition gold is built from and the silver frame the pipeline
  * returns); [[read]] binds the same schema from the same footer without
  * the job.
  */
private[etl] object ParquetDir {

  /** One parquet file's Spark schema from its footer alone — what
    * parquet schema inference yields for that file, without its job. */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(file)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()))
    try ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }

  /** Spark's listing rule for a file or directory name: names starting
    * with `_` (unless they hold a `k=v` partition) or `.`, and files still
    * being copied, are not part of the table; the summary files are. */
  private def listed(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) ||
      name.startsWith("_common_metadata") || name.startsWith("_metadata")

  private def leaves(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(s => listed(s.getPath.getName)).flatMap { s =>
      if (s.isDirectory) leaves(fs, s.getPath)
      else if (s.getLen > 0) Seq(s.getPath)
      else Nil
    }

  /** The footer Spark's non-merging inference reads: of the table's files
    * sorted by path, the first `_common_metadata`, else the first
    * `_metadata`, else the first data file. None unless `dir` is a
    * directory holding a file. */
  private def inferenceFile(spark: SparkSession, dir: String): Option[Path] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.isDirectory(root)) return None
    val files = leaves(fs, root).sortBy(_.toString)
    val (summaries, data) = files.partition(p =>
      p.getName == "_common_metadata" || p.getName == "_metadata")
    summaries.find(_.getName == "_common_metadata")
      .orElse(summaries.headOption).orElse(data.headOption)
  }

  /** `spark.read.parquet(dir)` with the inferred schema bound from one
    * footer: same columns, types and partition discovery (a partition
    * column absent from the footer is still inferred from the directory
    * names), no inference job. Anything else (a missing or empty
    * directory, a file) reads through Spark, so it fails or succeeds as
    * Spark's own inference does. */
  def read(spark: SparkSession, dir: String): DataFrame =
    inferenceFile(spark, dir) match {
      case Some(f) => spark.read.schema(footerSchema(spark, f.toString)).parquet(dir)
      case None => spark.read.parquet(dir)
    }
}

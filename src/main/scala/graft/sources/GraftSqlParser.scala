package graft.sources

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DataType, StructType}

import graft.etl.TxLog

/** SQL maintenance statements for TxLog tables: a delegating parser that
  * recognizes these 18 verbs and hands EVERYTHING else to Spark's own
  * parser byte-for-byte (they are not Spark grammar, so the only other
  * door is ANTLR surgery):
  *
  * {{{
  *   OPTIMIZE t [INTO n FILES] [WHERE partition-predicate]
  *     [CLUSTER BY (c1, ...)] [ZORDER BY (a, b)]
  *   VACUUM t [RETAIN n VERSIONS]
  *   VACUUM t [RETAIN n VERSIONS] DRY RUN
  *   DESCRIBE HISTORY t
  *   DESCRIBE DETAIL t
  *   RESTORE [TABLE] t TO {VERSION AS OF n | TIMESTAMP AS OF millis}
  *   CREATE TABLE '<path>' [SHALLOW] CLONE t [VERSION AS OF n]
  *   SHOW PARTITIONS t
  *   SHOW TBLPROPERTIES t
  *   TRUNCATE TABLE t
  *   ALTER TABLE t ADD COLUMNS (name TYPE, ...)
  *   ALTER TABLE t RENAME COLUMN old TO new
  *   ALTER TABLE t DROP COLUMN name
  *   ALTER TABLE t ALTER COLUMN name TYPE wider
  *   ALTER TABLE t ALTER COLUMN name SET DEFAULT expr
  *   ALTER TABLE t ALTER COLUMN name DROP DEFAULT
  *   ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...)
  *   ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)
  * }}}
  *
  * `t` is a quoted table-root path, a session-catalog table created
  * USING TxLogSource, or a [[GraftCatalog]] `cat.`path`` identifier.
  * The stock-grammar-clashing verbs (ALTER TABLE, SHOW TBLPROPERTIES /
  * PARTITIONS, TRUNCATE) intercept an unquoted identifier only when the
  * active session's catalog says it is a TxLog table; every other table
  * keeps Spark's own grammar.
  *
  * Each verb parses straight to a [[TxLogCommand]], which Spark plans
  * and runs itself (`ExecutedCommandExec`, once, eagerly): no planner
  * strategy is involved, so the verbs work in any session. The command
  * calls the matching [[graft.etl.TxLog]] entry point on the driver.
  * CLUSTER BY is sort-clustering compaction (disjoint sort-key ranges
  * per output file, feeding the footer-stats skipping); VACUUM keeps the
  * concurrent-writer mtime retention guard, and DRY RUN lists what the
  * same VACUUM would delete, deleting nothing.
  *
  * Install via `spark.sql.extensions=graft.GraftExtensions` (parsers,
  * unlike strategies, have no imperative per-session hook), or plan a
  * statement directly with [[GraftSqlParser.maintenance]]. Mirrors the
  * public Delta SQL surface's maintenance verbs as a PROTOCOL surface;
  * the grammar here is original and minimal. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.maintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  // whole-statement matches; (?is) = case-insensitive, dot-matches-newline
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*(?:INTO\s+(\d+)\s+FILES)?\s*(?:WHERE\s+(.+?)(?=\s+CLUSTER\s+BY|\s+ZORDER\s+BY|\s*;?\s*$))?\s*(?:CLUSTER\s+BY\s*\(([^)]*)\))?\s*(?:ZORDER\s+BY\s*\(([^)]*)\))?\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*(?:RETAIN\s+(\d+)\s+VERSIONS)?\s*(DRY\s+RUN)?\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val RestoreVersionRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTimestampRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RenameColRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  // the type group admits commas/spaces (DECIMAL(10,2)) so an unsupported
  // widening reaches widenColumn's loud refusal instead of falling through
  // to Spark's parser with an opaque error (round-14, ADVICE r13)
  private val WidenColRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w(),\s]+?)\s*;?\s*""".r
  private val SetDefaultRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+SET\s+DEFAULT\s+(.+?)\s*;?\s*""".r
  private val DropDefaultRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+ALTER\s+COLUMN\s+(\w+)\s+DROP\s+DEFAULT\s*;?\s*""".r
  private val SetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+SET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""".r
  private val UnsetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+UNSET\s+TBLPROPERTIES\s*\(([^)]*)\)\s*;?\s*""".r
  private val ShowPropsRe =
    """(?is)\s*SHOW\s+TBLPROPERTIES\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val TruncateRe =
    """(?is)\s*TRUNCATE\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val DropColRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val AddColumnsRe =
    """(?is)\s*ALTER\s+TABLE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s+ADD\s+COLUMNS?\s*\(([^)]*)\)\s*;?\s*""".r
  private val ShowPartitionsRe =
    """(?is)\s*SHOW\s+PARTITIONS\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+('[^']+')\s+(?:SHALLOW\s+)?CLONE\s+('[^']+'|\w+\.`[^`]+`|[\w.]+)\s*(?:VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*""".r

  /** Parse-time probe for the STOCK-GRAMMAR-CLASHING verbs (ALTER / SHOW
    * / TRUNCATE are valid Spark SQL on ordinary tables): an unquoted
    * identifier is intercepted ONLY when the active session's catalog
    * says it is a TxLog table — everything else keeps Spark's own
    * grammar byte-for-byte (round-14, VERDICT r13 #8: the maintenance
    * verbs work by catalog identifier, not just quoted path). Any
    * lookup failure = not ours. */
  private def txLogIdent(ident: String): Boolean =
    ident.startsWith("'") ||
      org.apache.spark.sql.SparkSession.getActiveSession.exists { s =>
        graftCatalogPath(s, ident).isDefined || (try {
          val meta = s.sessionState.catalog.getTableMetadata(
            s.sessionState.sqlParser.parseTableIdentifier(ident))
          meta.provider.exists(_.toLowerCase.contains("txlog"))
        } catch { case _: Throwable => false })
      }

  /** `cat.`/path`` → the path, when `cat` is a registered
    * [[GraftCatalog]] — the maintenance verbs compose with the DSv2
    * catalog's path-keyed identifiers (round-14, VERDICT r13 #8). */
  private val CatalogPathRe = """(\w+)\.`([^`]+)`""".r
  private def graftCatalogPath(spark: org.apache.spark.sql.SparkSession,
                               ident: String): Option[String] =
    ident match {
      case CatalogPathRe(cat, path)
          if spark.conf.getOption(s"spark.sql.catalog.$cat")
            .contains(classOf[GraftCatalog].getName) => Some(path)
      case _ => None
    }

  /** Parse `'k'='v', 'k2'='v2'`. Quote-aware pair scan (round-14, ADVICE
    * r13): a naive split-on-comma refused any VALUE containing a comma,
    * making the SQL surface accept a narrower value domain than
    * TxLog.setProperties with no hint why — instead, scan pair-by-pair
    * with one anchored regex so commas INSIDE quoted tokens pass. */
  private def parsePropPairs(raw: String): Map[String, String] = {
    if (raw.trim.isEmpty) return Map.empty
    val PairRe = """\s*'([^']*)'\s*=\s*'([^']*)'\s*(?:,|$)""".r
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var pos = 0
    while (pos < raw.length) {
      PairRe.findPrefixMatchOf(raw.subSequence(pos, raw.length)) match {
        case Some(m) => out += (m.group(1) -> m.group(2)); pos += m.end
        case None => throw new IllegalArgumentException(
          s"SET TBLPROPERTIES expects 'key'='value' pairs, got: " +
            raw.substring(pos))
      }
    }
    out.toMap
  }

  /** Parse `'k', 'k2'` (quoted key list). */
  private def parsePropKeys(raw: String): Seq[String] = {
    if (raw.isEmpty) return Nil
    val KeyRe = """\s*'([^']*)'\s*""".r
    raw.split(",").toSeq.map {
      case KeyRe(k) => k
      case other => throw new IllegalArgumentException(
        s"UNSET TBLPROPERTIES expects 'key' entries, got: $other")
    }
  }

  /** A statement on one TxLog table: `rows` gets the session and the
    * table's root, resolved once, when the command runs. */
  private def on(verb: String, ident: String,
                 schema: StructType = new StructType())(
      rows: (SparkSession, String) => Seq[Row]): Option[LogicalPlan] =
    Some(TxLogCommand(verb, ident, schema,
      spark => rows(spark, resolvePath(spark, ident))))

  /** [[on]] for a verb that returns no rows. */
  private def act(verb: String, ident: String)(
      body: (SparkSession, String) => Any): Option[LogicalPlan] =
    on(verb, ident) { (spark, path) => body(spark, path); Nil }

  private val DryRunSchema = StructType.fromDDL("path STRING NOT NULL")
  private val RestoreSchema = StructType.fromDDL(
    "restored_to_version BIGINT NOT NULL, committed_version BIGINT")
  private val CloneSchema = StructType.fromDDL("cloned_version BIGINT NOT NULL")
  private val DetailSchema = StructType.fromDDL(
    "numVersions BIGINT NOT NULL, numFiles BIGINT NOT NULL, numRows BIGINT, " +
      "numDeletedRows BIGINT NOT NULL, numConstraints INT NOT NULL, " +
      "bloomCols STRING NOT NULL, partitionColumns STRING NOT NULL")
  private val PartitionsSchema = StructType.fromDDL(
    "`partition` STRING NOT NULL, numFiles BIGINT NOT NULL, numRows BIGINT")
  private val PropertiesSchema =
    StructType.fromDDL("`key` STRING NOT NULL, `value` STRING NOT NULL")

  /** private[graft]: oracle queries plan maintenance statements directly
    * (GraftSqlBridge.ofRows) — Verify/Bench sessions are built without
    * the extensions conf, and a ParserInterface cannot install post-hoc. */
  private[graft] def maintenance(sql: String): Option[LogicalPlan] =
    sql match {
      case OptimizeRe(ident, files, whereSql, cluster, zorder) =>
        def cols(g: String) = Option(g)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
        val targetFiles = Option(files).map(_.toInt).getOrElse(1)
        val where = Option(whereSql).map(_.trim).filter(_.nonEmpty)
        act("OPTIMIZE", ident) { (spark, path) =>
          TxLog.optimize(spark, path, targetFiles = targetFiles,
            sortBy = cols(cluster), zorderBy = cols(zorder),
            where = where.map(expr))
        }
      case VacuumRe(ident, retain, dry) =>
        val keep = Option(retain).map(_.toInt).getOrElse(2)
        if (dry == null) act("VACUUM", ident) { (_, path) =>
          TxLog.vacuum(path, retainVersions = keep)
        }
        else on("VACUUM DRY RUN", ident, DryRunSchema) { (_, path) =>
          TxLog.vacuum(path, retainVersions = keep, dryRun = true).map(Row(_))
        }
      case HistoryRe(ident) =>
        on("DESCRIBE HISTORY", ident, Encoders.product[TxLog.Commit].schema) {
          (spark, path) => TxLog.historyDf(spark, path).collect().toSeq
        }
      case DetailRe(ident) =>
        on("DESCRIBE DETAIL", ident, DetailSchema) { (_, path) =>
          val t = TxLog.detail(path)
          Seq(Row(t.numVersions, t.numFiles, t.numRows.map(Long.box).orNull,
            t.numDeletedRows, t.numConstraints, t.bloomCols.mkString(","),
            t.partitionColumns.mkString(",")))
        }
      case ShowPartitionsRe(ident) if txLogIdent(ident) =>
        on("SHOW PARTITIONS", ident, PartitionsSchema) { (_, path) =>
          TxLog.partitions(path).map { pi =>
            Row(pi.values.map { case (c, v) =>
                s"$c=${v.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
              }.mkString("/"),
              pi.numFiles, pi.numRows.map(Long.box).orNull)
          }
        }
      case RestoreVersionRe(ident, v) =>
        restore(ident, Some(v.toLong), None)
      case RestoreTimestampRe(ident, ts) =>
        restore(ident, None, Some(ts.toLong))
      case RenameColRe(ident, o, n) if txLogIdent(ident) =>
        act("ALTER", ident)((_, path) => TxLog.renameColumn(path, o, n))
      case DropColRe(ident, c) if txLogIdent(ident) =>
        act("ALTER", ident)((_, path) => TxLog.dropColumn(path, c))
      case SetDefaultRe(ident, c, e) if txLogIdent(ident) =>
        act("ALTER", ident) { (spark, path) =>
          TxLog.setColumnDefault(spark, path, c, e.trim)
        }
      case DropDefaultRe(ident, c) if txLogIdent(ident) =>
        act("ALTER", ident)((_, path) => TxLog.dropColumnDefault(path, c))
      case WidenColRe(ident, c, tpe) if txLogIdent(ident) =>
        act("ALTER", ident) { (_, path) =>
          TxLog.widenColumn(path, c,
            StructType.fromDDL(s"c $tpe").head.dataType)
        }
      case TruncateRe(ident) if txLogIdent(ident) =>
        act("TRUNCATE", ident)((_, path) => TxLog.truncate(path))
      case SetPropsRe(ident, pairs) if txLogIdent(ident) =>
        act("ALTER", ident) { (_, path) =>
          TxLog.setProperties(path, parsePropPairs(pairs.trim))
        }
      case UnsetPropsRe(ident, keys) if txLogIdent(ident) =>
        act("ALTER", ident) { (_, path) =>
          TxLog.unsetProperties(path, parsePropKeys(keys.trim))
        }
      case ShowPropsRe(ident) if txLogIdent(ident) =>
        on("SHOW TBLPROPERTIES", ident, PropertiesSchema) { (_, path) =>
          TxLog.propertiesOf(path).toSeq.sortBy(_._1)
            .map { case (k, v) => Row(k, v) }
        }
      case AddColumnsRe(ident, colsDdl) if txLogIdent(ident) =>
        act("ALTER", ident) { (_, path) =>
          TxLog.addColumns(path, StructType.fromDDL(colsDdl.trim))
        }
      case CloneRe(dst, src, v) =>
        // the destination is always a quoted path: a table that does not
        // exist yet cannot resolve through the catalog
        on("CLONE", src, CloneSchema) { (_, srcPath) =>
          val dstPath = TxLogSource.normalize(dst.substring(1, dst.length - 1))
          Seq(Row(TxLog.cloneTable(srcPath, dstPath, Option(v).map(_.toLong))))
        }
      case _ => None
    }

  /** RESTORE to a version, or to the last version committed at or before
    * a timestamp; returns the target version and the committed restore
    * version (null = live state already equal). */
  private def restore(ident: String, version: Option[Long],
                      timestamp: Option[Long]): Option[LogicalPlan] =
    on("RESTORE", ident, RestoreSchema) { (_, path) =>
      val v = version.getOrElse(
        TxLog.versionAsOf(path, timestamp.get).getOrElse(
          throw new IllegalArgumentException(
            s"RESTORE $ident: no committed version at or before " +
              s"timestamp ${timestamp.get}")))
      Seq(Row(v, TxLog.restore(path, v).map(Long.box).orNull))
    }

  /** Resolve the statement's table reference to a TxLog root: a quoted
    * literal is a path; anything else is a session-catalog table whose
    * CREATE options carry the path. */
  private def resolvePath(spark: SparkSession, ident: String): String = {
    val raw =
      if (ident.startsWith("'") && ident.endsWith("'"))
        ident.substring(1, ident.length - 1)
      else if (graftCatalogPath(spark, ident).isDefined)
        graftCatalogPath(spark, ident).get
      else {
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(ident))
        require(meta.provider.exists(_.toLowerCase.contains("txlog")),
          s"$ident is not a TxLog table (provider ${meta.provider})")
        meta.storage.properties.get("path")
          .orElse(meta.properties.get("path"))
          .orElse(meta.storage.locationUri.map(_.toString))
          .getOrElse(throw new IllegalArgumentException(
            s"$ident carries no path option"))
      }
    TxLogSource.normalize(raw)
  }
}

/** One TxLog SQL statement as a Spark command. Spark plans it itself
  * (`ExecutedCommandExec`) and runs `body` once, on the driver; the rows
  * it returns must match `resultSchema`. `verb` and `target` only name
  * the statement in plan strings. */
case class TxLogCommand(verb: String, target: String,
                        resultSchema: StructType,
                        body: SparkSession => Seq[Row])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    DataTypeUtils.toAttributes(resultSchema)
  override def run(spark: SparkSession): Seq[Row] = body(spark)
  override def simpleString(maxFields: Int): String =
    s"TxLogCommand $verb txlog($target)"
}

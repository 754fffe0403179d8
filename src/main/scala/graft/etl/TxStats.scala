package graft.etl

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level column statistics for [[TxLog]] and the predicate
  * evaluator that turns them into data skipping — the public
  * lakehouse-protocol pattern of carrying per-file min/max/nullCount in
  * each commit's `add` action (Armbrust et al., VLDB 2020 §4; the idea
  * is older: "small materialized aggregates", Moerkotte VLDB 1998) so a
  * selective read consults driver-side METADATA and never opens files
  * whose value ranges cannot satisfy the predicate.
  *
  * Harvesting is metadata-only: the parquet writer already computed
  * row-group min/max/nullCount into the file footers, so commit-time
  * stats collection reads footers (a few KB per file), not data — at
  * 100 TB the write path stays single-pass, and the log stays bytes per
  * file. (A cluster deployment with very wide commits would harvest
  * footers in executors via a `mapPartitions` over the file list; the
  * driver loop here matches the driver-side log authority TxLog already
  * has.)
  *
  * Skipping is CONSERVATIVE by construction: a file is dropped only
  * when the stats PROVE no row can satisfy the predicate; any
  * unsupported expression, missing stats entry, type surprise, or
  * truncated bound keeps the file, and `TxLog.readWhere` always
  * re-applies the predicate to the survivors — so a stats bug can cost
  * I/O, never correctness. The evaluator runs on the OPTIMIZED Catalyst
  * condition (analysis resolves attributes and folds literal casts —
  * e.g. a string date literal arrives as a typed timestamp), tracking
  * may-be-TRUE and may-be-FALSE separately so `NOT` under SQL
  * three-valued logic stays sound (null-valued rows satisfy neither).
  *
  * Reference: the reference repo reads whole parquet directories with
  * no file pruning (src/etl/silver_to_gold.py:20-28) — this is a
  * capability it lacks, not a translation.
  */
object TxStats {

  /** Per-column stats. `tag` names the value domain of `min`/`max`
    * ("int","long","double","float","bool","string","date","ts",
    * "dec:<scale>"); min/max are canonical tokens in that domain (absent
    * when the column is all-null in the file or the footer had no
    * usable bounds); `nulls` is the null count, -1 when unknown. */
  final case class ColStats(tag: String, min: Option[String],
                            max: Option[String], nulls: Long)

  /** Stats for one data file: exact row count + per-leaf-column stats
    * (top-level primitive columns only; nested/unsupported columns are
    * simply untracked — reads stay correct, they just never prune). */
  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  // ------------------------------------------------------------ codec

  private def b64(s: Array[Byte]): String = Base64.getEncoder.encodeToString(s)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  /** Encode to the opaque token an `add` action carries (base64 of a
    * line-oriented body — the log's line codec stays a fixed flat
    * shape, the nested structure rides encoded like schema actions). */
  def encode(fs: FileStats): String = {
    val body = new StringBuilder
    body.append("rows ").append(fs.rows)
    fs.cols.toSeq.sortBy(_._1).foreach { case (name, c) =>
      body.append('\n').append(b64(name.getBytes(StandardCharsets.UTF_8)))
        .append(' ').append(c.tag)
        .append(' ').append(c.nulls)
        .append(' ').append(c.min.getOrElse("-"))
        .append(' ').append(c.max.getOrElse("-"))
    }
    b64(body.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Decode; None on any malformed token (conservative: no pruning). */
  def decode(token: String): Option[FileStats] = Try {
    val lines = new String(unb64(token), StandardCharsets.UTF_8).split('\n')
    val rows = lines.head.stripPrefix("rows ").toLong
    val cols = lines.tail.filter(_.nonEmpty).map { line =>
      val Array(nameB, tag, nulls, mn, mx) = line.split(' ')
      new String(unb64(nameB), StandardCharsets.UTF_8) ->
        ColStats(tag, Option(mn).filter(_ != "-"),
          Option(mx).filter(_ != "-"), nulls.toLong)
    }.toMap
    FileStats(rows, cols)
  }.toOption

  // ------------------------------------------------- footer harvesting

  /** Value domain of one parquet primitive column, or None if the
    * column never participates in skipping. The converter maps the
    * footer's generic min/max object to the canonical token. */
  private def tagOf(pt: PrimitiveType): Option[(String, Any => Option[String])] = {
    val ann = pt.getLogicalTypeAnnotation
    def decTag(d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =
      s"dec:${d.getScale}"
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation =>
          Some(("date", v => Some(v.toString)))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some((decTag(d), v => Some(v.toString)))
        case _ => Some(("int", v => Some(v.toString)))
      }
      case PrimitiveTypeName.INT64 => ann match {
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          Some(("ts", v => Some(v.toString)))
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some((decTag(d), v => Some(v.toString)))
        case _ => Some(("long", v => Some(v.toString)))
      }
      case PrimitiveTypeName.DOUBLE => Some(("double", {
        case d: java.lang.Double if !d.isNaN => Some(d.toString)
        case _ => None // NaN bounds are meaningless — drop the entry
      }))
      case PrimitiveTypeName.FLOAT => Some(("float", {
        case f: java.lang.Float if !f.isNaN => Some(f.toString)
        case _ => None
      }))
      case PrimitiveTypeName.BOOLEAN => Some(("bool", v => Some(v.toString)))
      case PrimitiveTypeName.BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
          Some(("string", { case b: Binary => Some(b64(b.getBytes)); case _ => None }))
        case _ => None // raw binary: no skipping
      }
      case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY => ann match {
        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          Some((decTag(d),
            { case b: Binary => Some(new BigInteger(b.getBytes).toString); case _ => None }))
        case _ => None
      }
      case _ => None // INT96 etc.
    }
  }

  /** Read one file's stats from its parquet footer (metadata I/O only).
    * None on any surprise — a write must never fail, and a missing
    * stats token just means that file is never skipped. */
  def fromFooter(conf: Configuration, file: String): Option[FileStats] = Try {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      var rows = 0L
      // per column: tag, merged bounds (as comparison Keys + tokens),
      // null count, and whether every row group had usable stats
      val acc = scala.collection.mutable.LinkedHashMap[String,
        (String, Option[(Key, String)], Option[(Key, String)], Long, Boolean)]()
      footer.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        block.getColumns.asScala.foreach { cc =>
          if (cc.getPath.size == 1) {
            val name = cc.getPath.iterator().next()
            val pt = cc.getPrimitiveType
            tagOf(pt).foreach { case (tag, conv) =>
              val cur = acc.getOrElseUpdate(name, (tag, None, None, 0L, true))
              if (cur._1 == tag && cur._5) {
                val st = cc.getStatistics
                if (st == null || st.isEmpty || !st.isNumNullsSet)
                  acc(name) = (tag, None, None, -1L, false)
                else {
                  var (lo, hi) = (cur._2, cur._3)
                  var ok = true
                  if (st.hasNonNullValue) {
                    (conv(st.genericGetMin), conv(st.genericGetMax)) match {
                      case (Some(mnT), Some(mxT)) =>
                        (keyOf(tag, mnT), keyOf(tag, mxT)) match {
                          case (Some(mnK), Some(mxK)) =>
                            if (lo.forall(l => keyCmp(mnK, l._1).exists(_ < 0)))
                              lo = Some((mnK, mnT))
                            if (hi.forall(h => keyCmp(mxK, h._1).exists(_ > 0)))
                              hi = Some((mxK, mxT))
                          case _ => ok = false
                        }
                      case _ => ok = false
                    }
                  }
                  if (ok) acc(name) = (tag, lo, hi, cur._4 + st.getNumNulls, true)
                  else acc(name) = (tag, None, None, -1L, false)
                }
              }
            }
          }
        }
      }
      FileStats(rows, acc.collect {
        case (name, (tag, lo, hi, nulls, true)) =>
          name -> ColStats(tag, lo.map(_._2), hi.map(_._2), nulls)
      }.toMap)
    } finally reader.close()
  }.toOption

  // ------------------------------------------------ bloom file probes

  /** Does `file` PROVABLY lack `value` in `col`, per the parquet BLOOM
    * FILTERS its writer embedded? True only when EVERY row group carries
    * a bloom for the column, the value's type matches the column's
    * parquet primitive exactly, and no bloom might contain it — any
    * surprise (no bloom, type mismatch, I/O error) answers false, the
    * keep-the-file direction, mirroring [[mayTrue]]'s conservatism.
    * Metadata-plus-bloom I/O only (blooms are a few KB per row group);
    * the complement of min/max skipping: an UNCLUSTERED high-cardinality
    * point lookup defeats range stats (every file spans the domain) but
    * a bloom answers it per file. Same construct as the Delta/parquet
    * bloom filter index (public docs); false positives only ever KEEP a
    * file. Spark's vectorized reader independently applies the same
    * blooms at row-group level once the file IS scheduled — this probe
    * removes the file from the plan entirely. */
  def bloomExcludes(conf: Configuration, file: String, col: String,
                    value: Any): Boolean = Try {
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      blocks.nonEmpty && blocks.forall { block =>
        block.getColumns.asScala.find(cc =>
          cc.getPath.size == 1 && cc.getPath.iterator().next() == col) match {
          case None => false
          case Some(cc) =>
            val bf = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
            if (bf == null) false
            else {
              val hash = (cc.getPrimitiveType.getPrimitiveTypeName, value) match {
                case (PrimitiveTypeName.INT64, l: java.lang.Long) =>
                  Some(bf.hash(l.longValue()))
                case (PrimitiveTypeName.INT32, i: java.lang.Integer) =>
                  Some(bf.hash(i.intValue()))
                case (PrimitiveTypeName.DOUBLE, d: java.lang.Double) =>
                  Some(bf.hash(d.doubleValue()))
                case (PrimitiveTypeName.FLOAT, f: java.lang.Float) =>
                  Some(bf.hash(f.floatValue()))
                case (PrimitiveTypeName.BINARY, s: UTF8String) =>
                  Some(bf.hash(Binary.fromConstantByteArray(s.getBytes)))
                case (PrimitiveTypeName.BINARY, s: String) =>
                  Some(bf.hash(Binary.fromString(s)))
                case _ => None // type surprise: never exclude
              }
              hash.exists(h => !bf.findHash(h))
            }
        }
      }
    } finally reader.close()
  }.getOrElse(false)

  // ------------------------------------------- comparison value domain

  /** Comparison key: exact decimal for every numeric-ish domain
    * (int/long/date/ts/decimal/bool, and doubles via their exact binary
    * expansion — `new BigDecimal(double)` is value-exact), unsigned
    * byte-lexicographic for strings (UTF-8 byte order == code-point
    * order, which is also parquet's and Spark's binary string order;
    * Java String.compareTo is NOT — it orders by UTF-16 code unit). */
  private[etl] sealed trait Key
  private[etl] case object NegInf extends Key
  private[etl] case object PosInf extends Key
  private[etl] final case class Num(v: JBigDecimal) extends Key
  private[etl] final case class Str(b: Array[Byte]) extends Key

  private[etl] def keyCmp(a: Key, b: Key): Option[Int] = (a, b) match {
    case (NegInf, NegInf) | (PosInf, PosInf) => Some(0)
    case (NegInf, _) => Some(-1)
    case (_, NegInf) => Some(1)
    case (PosInf, _) => Some(1)
    case (_, PosInf) => Some(-1)
    case (Num(x), Num(y)) => Some(x.compareTo(y))
    case (Str(x), Str(y)) =>
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) Some(java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff))
      else Some(java.lang.Integer.compare(x.length, y.length))
    case _ => None // cross-domain: caller keeps the file
  }

  /** Token (from a stats entry) → Key. */
  private[etl] def keyOf(tag: String, token: String): Option[Key] = Try {
    tag match {
      case "int" | "long" | "date" | "ts" => Num(new JBigDecimal(token))
      case "bool" => Num(JBigDecimal.valueOf(if (token == "true") 1L else 0L))
      case "double" | "float" => token.toDouble match {
        case d if d.isNaN => throw new IllegalArgumentException("NaN")
        case Double.PositiveInfinity => PosInf
        case Double.NegativeInfinity => NegInf
        case d => Num(new JBigDecimal(d))
      }
      case t if t.startsWith("dec:") =>
        Num(new JBigDecimal(new BigInteger(token), t.stripPrefix("dec:").toInt))
      case "string" => Str(unb64(token))
      case _ => throw new IllegalArgumentException(tag)
    }
  }.toOption

  /** Catalyst literal value (internal representation) → Key. None for
    * unsupported types, null values, or NaN (Spark orders NaN above
    * +Inf and equates NaN=NaN — not worth modeling; never prune). */
  private[etl] def keyOfLiteral(value: Any, dt: DataType): Option[Key] =
    if (value == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(Num(JBigDecimal.valueOf(value.asInstanceOf[Number].longValue())))
      case DateType => Some(Num(JBigDecimal.valueOf(value.asInstanceOf[Int].toLong)))
      case TimestampType | TimestampNTZType =>
        Some(Num(JBigDecimal.valueOf(value.asInstanceOf[Long])))
      case DoubleType => value.asInstanceOf[Double] match {
        case d if d.isNaN => None
        case Double.PositiveInfinity => Some(PosInf)
        case Double.NegativeInfinity => Some(NegInf)
        case d => Some(Num(new JBigDecimal(d)))
      }
      case FloatType => keyOfLiteral(value.asInstanceOf[Float].toDouble, DoubleType)
      case _: DecimalType =>
        Some(Num(value.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal))
      case BooleanType =>
        Some(Num(JBigDecimal.valueOf(if (value.asInstanceOf[Boolean]) 1L else 0L)))
      case StringType => Some(Str(value.asInstanceOf[UTF8String].getBytes))
      case _ => None
    }

  // -------------------------------------------------------- evaluator

  /** One column's decoded interval: bounds as Keys (None = unknown),
    * null count (-1 unknown), file row count. */
  private final case class Interval(lo: Option[Key], hi: Option[Key],
                                    nulls: Long, rows: Long) {
    def allNull: Boolean = lo.isEmpty && nulls >= 0 && nulls == rows
    def mayHaveNull: Boolean = nulls != 0 // unknown (-1) counts as maybe
    def mayHaveNonNull: Boolean = lo.nonEmpty || nulls < 0 || nulls < rows
  }

  private def interval(fs: FileStats, name: String): Option[Interval] =
    fs.cols.get(name).flatMap { c =>
      val lo = c.min.map(t => keyOf(c.tag, t))
      val hi = c.max.map(t => keyOf(c.tag, t))
      (lo, hi) match {
        case (Some(None), _) | (_, Some(None)) => None // undecodable: keep
        case _ => Some(Interval(lo.flatten, hi.flatten, c.nulls, fs.rows))
      }
    }

  /** Strip value-exact widening casts the analyzer wraps around the
    * column side of a comparison (e.g. `int_col = 3L` compares
    * `cast(int_col as bigint)`): integral widenings, int/short/byte →
    * double, float → double, and integral → decimal wide enough for any
    * 64-bit value — each preserves the value exactly, so comparing the
    * ORIGINAL column's stats in the exact-decimal Key domain is sound.
    * Everything else (long→double, string casts, date→timestamp, which
    * are lossy or zone-dependent) keeps the cast and disables pruning. */
  private def unwrapAttr(e: Expression): Option[AttributeReference] = e match {
    case a: AttributeReference => Some(a)
    case c: Cast if widensExactly(c.child.dataType, c.dataType) => unwrapAttr(c.child)
    case _ => None
  }

  private def widensExactly(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (ByteType | ShortType | IntegerType | LongType, d: DecimalType) =>
      d.precision - d.scale >= 20
    case (s: DecimalType, d: DecimalType) =>
      d.precision - d.scale >= s.precision - s.scale && d.scale >= s.scale
    case _ => false
  }

  /** The one keep-or-skip rule for a file under predicate `pred`, shared
    * by planning-time listing ([[StatsFileIndex]]) and [[TxLog.prune]]:
    * a stats-less file is always kept; a file with stats is kept unless
    * it holds no rows or its stats prove no row satisfies `pred`. */
  private[etl] def mayMatch(pred: Expression, fs: Option[FileStats]): Boolean =
    fs.forall(s => s.rows > 0 && mayTrue(pred, s))

  /** May some row of a file with stats `fs` evaluate `e` to TRUE? */
  private[etl] def mayTrue(e: Expression, fs: FileStats): Boolean = e match {
    case And(l, r) => mayTrue(l, fs) && mayTrue(r, fs)
    case Or(l, r) => mayTrue(l, fs) || mayTrue(r, fs)
    case Not(c) => mayFalse(c, fs)
    case Literal(v, BooleanType) => v == true
    case IsNull(a) => unwrapAttr(a) match {
      case Some(attr) => interval(fs, attr.name).forall(_.mayHaveNull)
      case None => true
    }
    case IsNotNull(a) => unwrapAttr(a) match {
      case Some(attr) => interval(fs, attr.name).forall(_.mayHaveNonNull)
      case None => true
    }
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      unwrapAttr(a) match {
        case Some(attr) => interval(fs, attr.name).forall { iv =>
          !iv.allNull && list.exists { case Literal(v, dt) =>
            keyOfLiteral(v, dt) match {
              case Some(k) => containsKey(iv, k)
              case None => true
            }
          }
        }
        case None => true
      }
    case InSet(a, set) => unwrapAttr(a) match {
      case Some(attr) => interval(fs, attr.name).forall { iv =>
        !iv.allNull && set.asInstanceOf[Set[Any]].exists { v =>
          keyOfLiteral(v, a.dataType) match {
            case Some(k) => containsKey(iv, k)
            case None => true
          }
        }
      }
      case None => true
    }
    case StartsWith(a, Literal(p, StringType)) if p != null =>
      unwrapAttr(a) match {
        case Some(attr) => interval(fs, attr.name).forall { iv =>
          !iv.allNull && {
            val prefix = p.asInstanceOf[UTF8String].getBytes
            val geMax = iv.hi.forall(h => keyCmp(h, Str(prefix)).forall(_ >= 0))
            val ltNext = prefixSuccessor(prefix) match {
              case Some(next) => iv.lo.forall(l => keyCmp(l, Str(next)).forall(_ < 0))
              case None => true
            }
            geMax && ltNext
          }
        }
        case None => true
      }
    case _: EqualNullSafe => true // <=> is never null: bounds logic differs
    case cmp: BinaryComparison => cmpBounds(cmp, fs, wantTrue = true)
    case _ => true
  }

  /** May some row evaluate `e` to FALSE (not null — the distinction
    * `NOT` needs under three-valued logic)? */
  private[etl] def mayFalse(e: Expression, fs: FileStats): Boolean = e match {
    case And(l, r) => mayFalse(l, fs) || mayFalse(r, fs)
    case Or(l, r) => mayFalse(l, fs) && mayFalse(r, fs)
    case Not(c) => mayTrue(c, fs)
    case Literal(v, BooleanType) => v == false
    case IsNull(a) => unwrapAttr(a) match { // IsNull never yields null
      case Some(attr) => interval(fs, attr.name).forall(_.mayHaveNonNull)
      case None => true
    }
    case IsNotNull(a) => unwrapAttr(a) match {
      case Some(attr) => interval(fs, attr.name).forall(_.mayHaveNull)
      case None => true
    }
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      unwrapAttr(a) match {
        case Some(attr) => interval(fs, attr.name).forall { iv =>
          // FALSE needs a non-null value outside the whole list; if the
          // file is a single repeated value that IS in the list, no row
          // is false (matches are true, nulls are null)
          iv.mayHaveNonNull && !(singleValue(iv).exists(k =>
            list.exists { case Literal(v, dt) =>
              keyOfLiteral(v, dt).flatMap(keyCmp(k, _)).contains(0)
            }))
        }
        case None => true
      }
    case _: EqualNullSafe => true // FALSE on null rows: all-null ≠ no-false
    case cmp: BinaryComparison => cmpBounds(cmp, fs, wantTrue = false)
    case _ => true
  }

  private def singleValue(iv: Interval): Option[Key] =
    for { l <- iv.lo; h <- iv.hi; c <- keyCmp(l, h) if c == 0 } yield l

  private def containsKey(iv: Interval, k: Key): Boolean =
    iv.lo.forall(l => keyCmp(l, k).forall(_ <= 0)) &&
      iv.hi.forall(h => keyCmp(h, k).forall(_ >= 0))

  /** Smallest byte string greater than every string with prefix `p`
    * (increment last non-0xFF byte); None when p is all 0xFF. */
  private def prefixSuccessor(p: Array[Byte]): Option[Array[Byte]] = {
    val out = p.clone()
    var i = out.length - 1
    while (i >= 0 && out(i) == 0xff.toByte) i -= 1
    if (i < 0) None
    else { out(i) = (out(i) + 1).toByte; Some(out.take(i + 1)) }
  }

  /** Bounds check for `attr <op> literal` (either side). `wantTrue`
    * asks may-TRUE; otherwise may-FALSE. Conservative true on any
    * non-literal operand, unknown column, or cross-domain compare. */
  private def cmpBounds(cmp: BinaryComparison, fs: FileStats,
                        wantTrue: Boolean): Boolean = {
    // normalize to attr-on-left; flip the operator when the literal led
    val norm: Option[(AttributeReference, Key, String)] = (cmp.left, cmp.right) match {
      case (l, Literal(v, dt)) => unwrapAttr(l).flatMap(a =>
        keyOfLiteral(v, dt).map(k => (a, k, opName(cmp))))
      case (Literal(v, dt), r) => unwrapAttr(r).flatMap(a =>
        keyOfLiteral(v, dt).map(k => (a, k, flip(opName(cmp)))))
      case _ => None
    }
    norm match {
      case None => true
      case Some((attr, k, op)) => interval(fs, attr.name) match {
        case None => true
        case Some(iv) =>
          if (iv.allNull) false // every comparison is null: neither T nor F
          else if (iv.lo.isEmpty || iv.hi.isEmpty) true // bounds unknown
          else {
            val lo = iv.lo.get; val hi = iv.hi.get
            def lt(a: Key, b: Key) = keyCmp(a, b).forall(_ < 0)
            def le(a: Key, b: Key) = keyCmp(a, b).forall(_ <= 0)
            val effective = if (wantTrue) op else negate(op)
            effective match {
              case "=" => le(lo, k) && le(k, hi)
              case "!=" => !singleValue(iv).exists(s => keyCmp(s, k).contains(0))
              case "<" => lt(lo, k)
              case "<=" => le(lo, k)
              case ">" => lt(k, hi)
              case ">=" => le(k, hi)
              case _ => true
            }
          }
      }
    }
  }

  private def opName(c: BinaryComparison): String = c match {
    case _: EqualTo => "="
    case _: LessThan => "<"
    case _: LessThanOrEqual => "<="
    case _: GreaterThan => ">"
    case _: GreaterThanOrEqual => ">="
    case _ => "?"
  }
  private def flip(op: String): String = op match {
    case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
    case other => other
  }
  private def negate(op: String): String = op match {
    case "=" => "!="; case "!=" => "="
    case "<" => ">="; case "<=" => ">"; case ">" => "<="; case ">=" => "<"
    case other => "?" + other
  }

  /** Harvest stats for every part file of a freshly staged directory.
    * Returns absolute-path → encoded token (missing on harvest failure). */
  def harvest(conf: Configuration, files: Seq[String]): Map[String, String] =
    files.flatMap(f => fromFooter(conf, f).map(fs => f -> encode(fs))).toMap

  // ------------------------------------------- metadata-only aggregates

  /** Table-level aggregate of one column folded across files: canonical
    * min/max tokens in the column's domain (absent when every row is
    * null), total null count, and the table row count. */
  final case class ColAgg(tag: String, min: Option[String],
                          max: Option[String], nulls: Long)
  final case class TableAgg(rows: Long, cols: Map[String, ColAgg])

  /** Fold per-file stats into exact TABLE-level aggregates — the
    * metadata-only `count(*)` / `min` / `max` / null-count answer a
    * log-backed table can give without opening one data file. Returns
    * None when `files` is empty. A column survives into the result only
    * when EVERY file tracks it with decodable bounds (or is provably
    * all-null there) — file min/max are only global min/max if no file
    * is missing; partial knowledge is dropped, never guessed. */
  def aggregate(files: Seq[FileStats]): Option[TableAgg] =
    if (files.isEmpty) None
    else Some(TableAgg(
      files.map(_.rows).sum,
      files.head.cols.keySet
        .filter(n => files.forall(_.cols.contains(n)))
        .flatMap(n => colAgg(files, n).map(n -> _)).toMap))

  /** Comparison DOMAIN of a stats tag: tags whose Keys share one total
    * order. After ALTER COLUMN TYPE widening, old files keep their
    * narrow tag (int) while new files carry the wide one (long/double) —
    * all four numeric tags decode into the same exact-decimal Num
    * domain, so mixed-tag columns still aggregate exactly instead of
    * being silently dropped from describe()'s metadata profile until an
    * OPTIMIZE rewrites every pre-widen file (round-14, ADVICE r13). */
  private def domainOf(tag: String): String = tag match {
    case "int" | "long" | "float" | "double" => "num"
    case other => other
  }

  /** The widest tag present (the declared type after widening): double
    * beats long beats int/float — matches the [[graft.etl.TxLog]]
    * WidenOk graph (int→long, int→double, float→double). */
  private def widestTag(tags: Seq[String]): String =
    if (tags.contains("double")) "double"
    else if (tags.contains("long")) "long"
    else tags.head

  private def colAgg(files: Seq[FileStats], name: String): Option[ColAgg] = {
    val pairs = files.map(f => (f.rows, f.cols(name)))
    val dom = domainOf(pairs.head._2.tag)
    val usable = pairs.forall { case (rows, c) =>
      domainOf(c.tag) == dom && c.nulls >= 0 &&
        // bounds present, or the column is provably all-null in that file
        ((c.min.nonEmpty && c.max.nonEmpty) || c.nulls == rows)
    }
    if (!usable) None
    else {
      val tag = widestTag(pairs.map(_._2.tag))
      val nulls = pairs.map(_._2.nulls).sum
      val bounded = pairs.map(_._2).filter(c => c.min.nonEmpty && c.max.nonEmpty)
      if (bounded.isEmpty) Some(ColAgg(tag, None, None, nulls))
      else {
        // decode each file's bounds under ITS OWN tag (mixed-era tables)
        val lo = bounded.map(c => c.min.get -> keyOf(c.tag, c.min.get))
        val hi = bounded.map(c => c.max.get -> keyOf(c.tag, c.max.get))
        if ((lo ++ hi).exists(_._2.isEmpty)) None // undecodable: drop column
        else Some(ColAgg(tag,
          // same domain ⇒ same Key order ⇒ keyCmp is total here
          Some(lo.reduceLeft((a, b) =>
            if (keyCmp(b._2.get, a._2.get).exists(_ < 0)) b else a)._1),
          Some(hi.reduceLeft((a, b) =>
            if (keyCmp(b._2.get, a._2.get).exists(_ > 0)) b else a)._1),
          nulls))
      }
    }
  }
}

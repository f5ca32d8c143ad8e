package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.Base64
import scala.jdk.CollectionConverters._

/** Per-file column statistics for the snapshot layer — the data-skipping
  * metadata that lets a reader DROP files before the scan plans them.
  *
  * The reference prunes at partition-directory granularity only (its
  * date-range enumeration, `CommonUtils.java:151-163`, decides which
  * directories to touch); this is the same idea pushed down to file
  * granularity using metadata parquet already wrote: every footer carries
  * per-column min/max/null-count, so collecting stats costs one FOOTER
  * read per new file — never a data scan. At 100 TB a publish of 10k new
  * files collects stats with 10k metadata reads fanned out across
  * executors, and a time-range query over a range-clustered table plans
  * over only the files whose [min,max] intersect the predicate — scan
  * avoidance is the single biggest lever a 100 TB reader has.
  *
  * Encoding: one manifest header line per (file, column) —
  * `#stats=<file>\t<col>\t<tag>\t<nulls>\t<min>\t<max>` — so old readers
  * (which skip `#` lines) are unaffected and stats survive rollback /
  * merge / append by carrying lines forward with their files. min/max are
  * tag-domain strings (long micros for ts, epoch-day for date, base64
  * UTF-8 bytes for strings — parquet's binary stats order IS unsigned
  * byte-lexicographic, so byte comparison is the correct order).
  * Conservative by construction: a column with unusable stats in any row
  * group simply has no line, and pruning KEEPS files without stats.
  */
object SnapshotStats {

  final case class ColStats(tag: String, nulls: Long, min: String, max: String)

  private val Prefix = "#stats="
  private val RowsPrefix = "#rows="
  private val BytesPrefix = "#bytes="

  private[operators] def encode(file: String, colName: String, s: ColStats): String =
    s"$Prefix$file\t$colName\t${s.tag}\t${s.nulls}\t${s.min}\t${s.max}"

  private[operators] def encodeRows(file: String, n: Long): String =
    s"$RowsPrefix$file\t$n"

  private[operators] def encodeBytes(file: String, n: Long): String =
    s"$BytesPrefix$file\t$n"

  /** Parse a manifest's stats lines → file → column → stats. */
  def parse(lines: Seq[String]): Map[String, Map[String, ColStats]] =
    lines.filter(_.startsWith(Prefix))
      .flatMap { l =>
        l.drop(Prefix.length).split("\t", -1) match {
          case Array(f, c, tag, nulls, mn, mx) =>
            Some((f, c, ColStats(tag, nulls.toLong, mn, mx)))
          case _ => None // malformed line: ignore (stats are advisory)
        }
      }
      .groupBy(_._1)
      .map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap }

  /** Parse a manifest's per-file row-count lines → file → rows. */
  def parseRows(lines: Seq[String]): Map[String, Long] =
    lines.filter(_.startsWith(RowsPrefix))
      .flatMap { l =>
        l.drop(RowsPrefix.length).split("\t", -1) match {
          case Array(f, n) => Some(f -> n.toLong)
          case _ => None
        }
      }.toMap

  /** Parse a manifest's per-file byte-length lines → file → bytes. The
    * manifest-resident answer to "how big is this file" — what lets
    * plan-time statistics and scan-partition sizing run with ZERO
    * per-file filesystem RPCs (at ~10⁶ files a getFileStatus-per-file
    * plan loop is a NameNode storm per query).
    */
  def parseBytes(lines: Seq[String]): Map[String, Long] =
    lines.filter(_.startsWith(BytesPrefix))
      .flatMap { l =>
        l.drop(BytesPrefix.length).split("\t", -1) match {
          case Array(f, n) => Some(f -> n.toLong)
          case _ => None
        }
      }.toMap

  /** The in-process footer-read pool of the small-commit path, shared by
    * every commit: eight daemon threads (a hung read can never pin the
    * JVM at exit), created on first use.
    */
  private lazy val footerPool: scala.concurrent.ExecutionContext = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
        val t = new Thread(r, s"graft-footer-stats-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }))
  }

  /** Upper bound on one commit's in-process footer reads: a hung footer
    * read fails the commit loudly instead of stalling it forever.
    */
  private val FooterTimeout = scala.concurrent.duration.Duration(10, "minutes")

  /** Collect stats lines for `relFiles` under `root`. Footer reads only;
    * distributed when the file count justifies a job, driver-side for the
    * handful-of-files case (a job would cost more than the reads).
    * The driver-side branch fans the opens out over a bounded thread
    * pool: footer reads are independent metadata IO (open + footer
    * parse, on object stores a round-trip each), and reading them
    * one-after-another put the whole latency chain in the commit path's
    * driver gap — profiles attributed ~1.6 s per streaming query to this
    * serial loop alone.
    */
  def collect(spark: SparkSession, root: String, relFiles: Seq[String]): Seq[String] = {
    if (relFiles.isEmpty) return Nil
    val hconf = spark.sparkContext.hadoopConfiguration
    val qualified = new Path(root).getFileSystem(hconf).makeQualified(new Path(root)).toString
    if (relFiles.size <= 16) {
      if (relFiles.size == 1) footerStats(qualified, relFiles.head, hconf).sorted
      else {
        import scala.concurrent.{Await, Future}
        implicit val ec: scala.concurrent.ExecutionContext = footerPool
        Await.result(
          Future.traverse(relFiles)(rel =>
            Future(footerStats(qualified, rel, hconf))),
          FooterTimeout).flatten.sorted
      }
    } else {
      val conf = new SerializableConfiguration(hconf)
      val slices = math.min(64, math.max(1, relFiles.size / 16))
      spark.sparkContext.parallelize(relFiles, slices)
        .flatMap(rel => footerStats(qualified, rel, conf.value))
        .collect().toSeq.sorted
    }
  }

  /** One file's stats lines from its parquet footer. Columns whose stats
    * are missing/unknown in ANY row group are omitted (conservative).
    */
  private def footerStats(qualifiedRoot: String, rel: String, conf: Configuration): Seq[String] = {
    // fromPath already stats the file, so the byte length is free here —
    // recording it in the manifest is what spares every future reader a
    // per-file getFileStatus at plan time
    val inputFile = HadoopInputFile.fromPath(new Path(s"$qualifiedRoot/$rel"), conf)
    val reader = ParquetFileReader.open(inputFile)
    try {
      // per column: tag, null count, non-null count, running min/max (null
      // until a non-null chunk lands); a column any row group makes
      // unusable is poisoned and emits nothing
      final case class Acc(tag: String, nulls: Long, nonNulls: Long, min: Any, max: Any)
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, Acc]
      val poisoned = scala.collection.mutable.Set.empty[String]
      for (block <- reader.getFooter.getBlocks.asScala;
           cc <- block.getColumns.asScala) {
        val path = cc.getPath.toArray
        if (path.length == 1 && !poisoned(path(0))) { // top-level primitives only
          val name = path(0)
          val tag = tagOf(cc.getPrimitiveType)
          val st = cc.getStatistics
          def poison(): Unit = { poisoned += name; acc.remove(name) }
          if (tag == null || st == null || st.isEmpty || !st.isNumNullsSet) poison()
          else {
            val nulls = st.getNumNulls
            val nonNull = cc.getValueCount - nulls
            if (nonNull > 0 && !st.hasNonNullValue) poison() // truncated/absent stats
            else {
              val (mn, mx) =
                if (nonNull > 0) (st.genericGetMin: Any, st.genericGetMax: Any)
                else (null, null)
              acc.get(name) match {
                case None => acc(name) = Acc(tag, nulls, nonNull, mn, mx)
                case Some(p) if p.tag != tag => poison()
                case Some(p) => acc(name) = Acc(tag, p.nulls + nulls, p.nonNulls + nonNull,
                  if (p.min == null) mn else if (mn == null) p.min else minOf(tag, p.min, mn),
                  if (p.max == null) mx else if (mx == null) p.max else maxOf(tag, p.max, mx))
              }
            }
          }
        }
      }
      val rows = reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      encodeRows(rel, rows) +: encodeBytes(rel, inputFile.getLength) +:
        acc.toSeq.sortBy(_._1).map {
        case (name, a) if a.nonNulls == 0 =>
          encode(rel, name, ColStats("allnull", a.nulls, "", ""))
        case (name, a) =>
          encode(rel, name, ColStats(a.tag, a.nulls, render(a.tag, a.min), render(a.tag, a.max)))
      }
    } finally reader.close()
  }

  private def tagOf(pt: org.apache.parquet.schema.PrimitiveType): String =
    pt.getPrimitiveTypeName match {
      case INT64 => pt.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS => "ts"
        case null => "long"
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => "long"
        case _ => null
      }
      case INT32 => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "date"
        case null => "long"
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => "long"
        case _ => null
      }
      case DOUBLE | FLOAT => "double"
      case BINARY => pt.getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => "string"
        case _ => null
      }
      case _ => null
    }

  private def minOf(tag: String, a: Any, b: Any): Any = if (cmp(tag, a, b) <= 0) a else b
  private def maxOf(tag: String, a: Any, b: Any): Any = if (cmp(tag, a, b) >= 0) a else b

  private def cmp(tag: String, a: Any, b: Any): Int = tag match {
    case "double" => java.lang.Double.compare(num(a), num(b))
    case "string" => byteCompare(
      a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
      b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
    case _ => java.lang.Long.compare(lnum(a), lnum(b))
  }

  private def num(a: Any): Double = a.asInstanceOf[Number].doubleValue()
  private def lnum(a: Any): Long = a.asInstanceOf[Number].longValue()

  private def render(tag: String, v: Any): String = tag match {
    case "double" => num(v).toString
    case "string" => Base64.getEncoder.encodeToString(
      v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
    case _ => lnum(v).toString
  }

  /** Unsigned byte-lexicographic compare — parquet's binary stats order. */
  private def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Decode a stored min/max back to a JVM value of the column's external
    * type (the inverse of [[render]]): Long, Double, String,
    * java.sql.Date, or java.sql.Timestamp.
    */
  def decode(tag: String, s: String): Any = tag match {
    case "long" => s.toLong
    case "double" => s.toDouble
    case "string" => new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
    case "date" => java.sql.Date.valueOf(LocalDate.ofEpochDay(s.toLong))
    case "ts" =>
      val micros = s.toLong
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    case other => sys.error(s"cannot decode stats tag '$other'")
  }

  /** Order two decoded values in their tag's domain (strings by UTF-8
    * unsigned bytes — the order [[footerStats]] aggregated under).
    */
  def decodedMin(tag: String, a: Any, b: Any): Any = if (decodedCompare(tag, a, b) <= 0) a else b
  def decodedMax(tag: String, a: Any, b: Any): Any = if (decodedCompare(tag, a, b) >= 0) a else b

  /** Compare two [[decode]]d values in their tag's domain. */
  def decodedCompare(tag: String, a: Any, b: Any): Int = tag match {
    case "double" => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case "string" => byteCompare(
      a.asInstanceOf[String].getBytes(StandardCharsets.UTF_8),
      b.asInstanceOf[String].getBytes(StandardCharsets.UTF_8))
    case "long" => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case "date" => a.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay
      .compareTo(b.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay)
    case "ts" => a.asInstanceOf[java.sql.Timestamp].compareTo(b.asInstanceOf[java.sql.Timestamp])
    case other => sys.error(s"cannot compare stats tag '$other'")
  }

  /** Can any row of a file with stats `cs` satisfy `column BETWEEN lo AND
    * hi`? False only when the footer PROVES no row can (the pruning
    * guarantee; BETWEEN never matches NULL, so an all-null file prunes).
    */
  def overlaps(cs: ColStats, lo: Any, hi: Any): Boolean = cs.tag match {
    case "allnull" => false
    case "double" =>
      val (l, h) = (toDouble(lo), toDouble(hi))
      !(cs.max.toDouble < l || cs.min.toDouble > h)
    case "string" =>
      val (l, h) = (lo.toString.getBytes(StandardCharsets.UTF_8),
        hi.toString.getBytes(StandardCharsets.UTF_8))
      !(byteCompare(Base64.getDecoder.decode(cs.max), l) < 0 ||
        byteCompare(Base64.getDecoder.decode(cs.min), h) > 0)
    case "date" =>
      val (l, h) = (toEpochDay(lo), toEpochDay(hi))
      !(cs.max.toLong < l || cs.min.toLong > h)
    case "ts" =>
      val (l, h) = (toMicros(lo), toMicros(hi))
      !(cs.max.toLong < l || cs.min.toLong > h)
    case "long" =>
      val (l, h) = (toLongBound(lo), toLongBound(hi))
      !(cs.max.toLong < l || cs.min.toLong > h)
    case _ => true // unknown tag from a future writer: never prune on it
  }

  /** Can any row of a file with stats `cs` satisfy `column >= v`? False
    * only when the footer max PROVES no row can. One-sided companions to
    * [[overlaps]] for pushed catalyst comparisons (`>`, `>=`): strict and
    * non-strict share the non-strict test — keeping a file whose max
    * equals a strict bound is a superset, and pruning stays advisory.
    */
  def admitsAtLeast(cs: ColStats, v: Any): Boolean = cs.tag match {
    case "allnull" => false
    case "double" => cs.max.toDouble >= toDouble(v)
    case "string" => byteCompare(Base64.getDecoder.decode(cs.max),
      v.toString.getBytes(StandardCharsets.UTF_8)) >= 0
    case "date" => cs.max.toLong >= toEpochDay(v)
    case "ts" => cs.max.toLong >= toMicros(v)
    case "long" => cs.max.toLong >= toLongBound(v)
    case _ => true // unknown tag from a future writer: never prune on it
  }

  /** Mirror of [[admitsAtLeast]]: can any row satisfy `column <= v`? */
  def admitsAtMost(cs: ColStats, v: Any): Boolean = cs.tag match {
    case "allnull" => false
    case "double" => cs.min.toDouble <= toDouble(v)
    case "string" => byteCompare(Base64.getDecoder.decode(cs.min),
      v.toString.getBytes(StandardCharsets.UTF_8)) <= 0
    case "date" => cs.min.toLong <= toEpochDay(v)
    case "ts" => cs.min.toLong <= toMicros(v)
    case "long" => cs.min.toLong <= toLongBound(v)
    case _ => true // unknown tag from a future writer: never prune on it
  }

  private def toDouble(v: Any): Double = v match {
    case n: Number => n.doubleValue()
    case s: String => s.toDouble
    case other => sys.error(s"unsupported double bound: $other")
  }

  private def toLongBound(v: Any): Long = v match {
    case n: Number => n.longValue()
    case s: String => s.toLong
    case other => sys.error(s"unsupported long bound: $other")
  }

  private def toEpochDay(v: Any): Long = v match {
    case d: LocalDate => d.toEpochDay
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case s: String => LocalDate.parse(s).toEpochDay
    case other => sys.error(s"unsupported date bound: $other")
  }

  /** Bound → µs since epoch, UTC (the session timezone the engine pins). */
  private def toMicros(v: Any): Long = v match {
    // floorDiv, not /: pre-epoch getTime is negative and truncation
    // toward zero would misplace the seconds part by one (getNanos is
    // always the non-negative within-second part — floor matches it)
    case t: java.sql.Timestamp =>
      math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) + t.getNanos / 1000
    case i: java.time.Instant => math.multiplyExact(i.getEpochSecond, 1000000L) + i.getNano / 1000
    case s: String =>
      val ldt = if (s.contains(" ") || s.contains("T"))
        LocalDateTime.parse(s.replace(' ', 'T'))
      else LocalDate.parse(s).atStartOfDay()
      math.multiplyExact(ldt.toEpochSecond(ZoneOffset.UTC), 1000000L) + ldt.getNano / 1000
    case other => sys.error(s"unsupported timestamp bound: $other")
  }
}

package graftbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Compact, FileMigrate, Migrate, Reconcile}

/** The reference's own cron job. Each day's source lands as many small
  * parquet files under `src/dt=<date>`; a cycle lands a small and a big
  * day, migrates them together with the last migrated day (the skip probe
  * leaves that one alone), verifies them by manifest, copies their leaves
  * to a replica warehouse and serves point reads from the previous cycle's
  * big day. In-place compaction follows every cycle. Source, destination
  * and replica keep a fixed window of days, so every cycle does the same
  * work on the same layout.
  */
final class WarehouseDaily(b: Bench, dir: String) extends Workload {
  import WarehouseDaily._

  private val spark = b.spark
  private val src = s"$dir/src"
  private val dest = s"$dir/dest"
  private val replica = s"$dir/replica"

  /** The newest day landed and migrated; each cycle lands the next two. */
  private var today = Window - 1

  /** Amount column of every row of every day in the window: the oracle. */
  private val amounts = mutable.HashMap.empty[Int, Array[Long]]

  private def date(d: Int): String = Epoch.plusDays(d.toLong).toString
  private def key(d: Int): String = date(d).replace("-", "")
  private def leaf(root: String, d: Int): String = s"$root/par_key=${key(d)}"
  private def srcDay(d: Int): String = s"$src/dt=${date(d)}"

  /** Land day `d` at the source: skewed sizes, so big days exceed the
    * migration's target file size and take its salted split, small days
    * do not. Returns (rows, bytes).
    */
  private def land(d: Int): (Long, Long) = {
    val mult = SizePattern(Math.floorMod(d, SizePattern.length))
    val n = BaseRows * mult
    val rnd = new java.util.SplittableRandom(b.seed * 1000003L + d)
    val dayStart = Epoch.plusDays(d.toLong).toEpochDay * 86400L * 1000000L
    val amt = new Array[Long](n)
    val rows = (0 until n).map { i =>
      amt(i) = rnd.nextLong(100000L)
      Row(d.toLong * 10000000L + i, new java.sql.Timestamp((dayStart + rnd.nextLong(86400L * 1000000L)) / 1000),
        rnd.nextLong(5000L), amt(i), Categories(rnd.nextInt(Categories.length)), Gen.word(rnd, 12))
    }
    amounts(d) = amt
    spark.createDataFrame(spark.sparkContext.parallelize(rows, FilesPerMult * mult), Schema)
      .write.parquet(srcDay(d))
    (n.toLong, b.duBytes(srcDay(d)))
  }

  private def dropDay(d: Int): Unit = {
    Seq(srcDay(d), leaf(dest, d), leaf(replica, d)).foreach(p => b.fs.delete(new Path(p), true))
    amounts.remove(d)
  }

  private def migrate(from: Int, to: Int): Migrate.Result =
    Migrate.migrateRange(spark, src, dest, "ts", date(from), date(to),
      skipExisting = true, targetBytes = TargetBytes)

  /** A day's rows with the source's column order, whichever tree. */
  private def dayRows(paths: String*): DataFrame =
    spark.read.parquet(paths: _*).select(Columns.map(col): _*)

  def setup(): Unit = {
    (0 until Window).foreach(land)
    migrate(0, Window - 1)
    (0 until Window).foreach(d => FileMigrate.copyTree(spark, leaf(dest, d), leaf(replica, d)))
    Compact.rewriteInPlacePartitioned(spark, dest, "ts", targetBytes = TargetBytes)
  }

  def cycle(c: Int): Unit = {
    // two days land per cycle, one of each size, so every cycle does the
    // same work; the range starts at the last day migrated, which the
    // skip probe finds and leaves alone
    val days = Seq(today + 1, today + 2)
    val landed = days.map(land)
    val rows = landed.map(_._1).sum
    b.ingested(rows, landed.map(_._2).sum)
    val res = b.call("Migrate.migrateRange", "write")(migrate(today, today + 2))
    val written = days.map(d => Compact.pathStats(spark, leaf(dest, d)))
    b.note("files_written", written.map(_._1).sum.toDouble)
    b.note("skipped_frac", res.partitionsSkipped.toDouble /
      math.max(1L, res.partitionsSkipped + res.partitionsWritten))
    b.check("migrate wrote the new days and skipped the migrated one")(
      res.partitionsWritten == 2 && res.partitionsSkipped == 1 && res.rowsWritten == rows)
    today += 2

    val pk = date_format(col("ts"), "yyyyMMdd")
    val clean = b.call("Reconcile.isClean")(
      Reconcile.isClean(Reconcile.manifest(dayRows(days.map(srcDay): _*), pk),
        Reconcile.manifest(dayRows(days.map(leaf(dest, _)): _*), pk)))
    b.check("reconcile reports the migrated days clean")(clean)

    days.foreach { d =>
      val copied = b.call("FileMigrate.copyTree")(
        FileMigrate.copyTree(spark, leaf(dest, d), leaf(replica, d)))
      b.note("bytes_copied", copied.bytesCopied.toDouble)
      val same = b.call("FileMigrate.verified")(FileMigrate.verified(spark, leaf(dest, d), leaf(replica, d)))
      b.check("replica leaf verifies")(same)
    }

    // point reads: one key each of the previous cycle's big day, which the
    // last compaction rewrote; checked against the oracle
    val rnd = new java.util.SplittableRandom(b.seed * 7919L + c)
    val day = today - SizePattern.length
    (0 until ReadsPerCycle).foreach { _ =>
      val i = rnd.nextInt(amounts(day).length)
      val id = day.toLong * 10000000L + i
      val got = b.call("SparkRead.point", "read")(
        spark.read.parquet(leaf(dest, day)).filter(col("id") === id).select("amount").collect())
      b.check("point read returns the landed row")(got.length == 1 && got(0).getLong(0) == amounts(day)(i))
    }
    days.foreach(d => dropDay(d - Window))
  }

  def maintain(): Unit = {
    val st = b.call("Compact.rewriteInPlacePartitioned", "maint")(
      Compact.rewriteInPlacePartitioned(spark, dest, "ts", targetBytes = TargetBytes))
    b.note("files_in", st.filesBefore.toDouble)
    b.note("files_out", st.filesAfter.toDouble)
    b.note("bytes_rewritten", st.bytesBefore.toDouble)
  }

  private def days: Seq[Int] = amounts.keys.toSeq.sorted

  def layout(): (Long, Long, Long, Long) = {
    val files = days.map(d => Compact.pathStats(spark, leaf(dest, d))._1).sum
    (files, days.size.toLong, b.duBytes(dest), days.map(d => b.duBytes(srcDay(d))).sum)
  }

  def verify(): Unit = {
    def digest(path: String): (Long, BigDecimal) = {
      val r = dayRows(path).agg(count(lit(1)), sum(xxhash64(Columns.map(col): _*).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    days.foreach { d =>
      val s = digest(srcDay(d))
      b.check(s"day $d source holds the landed rows")(s._1 == amounts(d).length)
      b.check(s"day $d destination matches the source")(digest(leaf(dest, d)) == s)
      b.check(s"day $d replica matches the source")(digest(leaf(replica, d)) == s)
    }
  }
}

object WarehouseDaily {
  private val Epoch = LocalDate.of(2024, 1, 1)
  /** Days kept in source, destination and replica. */
  private val Window = 4
  private val BaseRows = 10000
  /** Day size multipliers, cycled by day number: the skew. A cycle lands
    * one period, and the period divides the window; a cycle's last day is
    * its big one.
    */
  private val SizePattern = Array(1, 3)
  private val FilesPerMult = 6
  private val TargetBytes = 512L * 1024
  private val ReadsPerCycle = 6
  private val Categories = Array.tabulate(20)(i => s"cat$i")
  private val Columns = Seq("id", "ts", "user_id", "amount", "category", "note")
  private val Schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("amount", LongType, nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("note", StringType, nullable = false)))
}

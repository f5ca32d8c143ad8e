package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Mv, Snapshots}

/** A read/write mix on one keyed snapshot table, bucket-clustered on the
  * key, with one aggregate MV registered for routing. Each cycle merges a
  * CDC batch (zipf-skewed updates favouring recent keys, inserts of new
  * keys, tombstones), refreshes the MV, then serves blocks of point
  * lookups, key-range scans and SQL aggregates. A maintenance pass after
  * every cycle deletes the oldest keys (retention) back to a fixed live
  * count, compacts, and expires/vacuums both tables, so every cycle starts
  * from the same table shape; the next refresh folds the maintenance
  * versions in.
  */
final class SnapshotCdc(b: Bench, dir: String) extends Workload {
  import SnapshotCdc._

  private val spark = b.spark
  private val base = s"$dir/base"
  private val mv = s"$dir/mv"

  // the oracle: a serial replay of every generated batch
  private val live = mutable.HashMap.empty[Long, Rec]
  private val groupN = new Array[Long](Groups)
  private val groupSum = new Array[Long](Groups)
  private var lo = 0L // every key below lo is gone
  private var hi = 0L // next new key
  private val zipf = new Gen.Zipf(InitialKeys, 1.1)

  private def put(k: Long, r: Rec): Unit = {
    live.put(k, r).foreach { old => groupN(old.g) -= 1; groupSum(old.g) -= old.v }
    groupN(r.g) += 1; groupSum(r.g) += r.v
  }

  private def remove(k: Long): Unit =
    live.remove(k).foreach { old => groupN(old.g) -= 1; groupSum(old.g) -= old.v }

  private def rec(rnd: SplittableRandom): Rec =
    Rec(rnd.nextInt(Groups), rnd.nextLong(100000L), Gen.word(rnd, 20))

  def setup(): Unit = {
    val rnd = new SplittableRandom(b.seed)
    val rows = (0L until InitialKeys.toLong).map { k =>
      val r = rec(rnd); put(k, r); Row(k, r.g, r.v, r.s, 0)
    }
    hi = InitialKeys.toLong
    Snapshots.publish(spark, base,
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Schema),
      clusterBy = Some(s"bucket($Buckets, k)"))
    Mv.create(spark, mv, base, Seq("k"), Seq("g"), Seq("v"), mvBuckets = 4)
    Mv.register(spark, mv)
  }

  /** Cycle c's CDC batch, applied to the oracle as it is drawn. */
  private def batch(c: Int): Seq[Row] = {
    val rnd = new SplittableRandom(b.seed * 1000003L + c)
    val taken = mutable.HashSet.empty[Long]
    def draw(pick: => Long): Long = {
      var k = pick
      while (!live.contains(k) || taken.contains(k)) k = pick
      taken += k
      k
    }
    val updates = (0 until Updates).map { _ =>
      val k = draw(hi - 1 - zipf.next(rnd) % (hi - lo))
      val old = live(k)
      val r = Rec(if (rnd.nextInt(5) == 0) rnd.nextInt(Groups) else old.g, rnd.nextLong(100000L),
        Gen.word(rnd, 20))
      k -> r
    }
    val deletes = (0 until Deletes).map(_ => draw(lo + rnd.nextLong(hi - lo)))
    val inserts = (0 until Inserts).map { i => (hi + i) -> rec(rnd) }
    hi += Inserts
    updates.foreach { case (k, r) => put(k, r) }
    inserts.foreach { case (k, r) => put(k, r) }
    deletes.foreach(remove)
    (updates ++ inserts).map { case (k, r) => Row(k, r.g, r.v, r.s, c, false) } ++
      deletes.map(k => Row(k, null, null, null, null, true))
  }

  def cycle(c: Int): Unit = {
    val path = s"$dir/batches/c$c"
    val rows = batch(c)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), DeltaSchema).write.parquet(path)
    b.ingested(rows.size.toLong, b.duBytes(path))
    val delta = spark.read.parquet(path)
    val before = Snapshots.files(spark, base, Snapshots.versions(spark, base).last).toSet
    b.call("Snapshots.mergeByKey", "write")(
      Snapshots.mergeByKey(spark, base, delta, Seq("k"), tombstoneCol = Some("__del")))
    val after = Snapshots.files(spark, base, Snapshots.versions(spark, base).last).toSet
    b.note("files_added", (after -- before).size.toDouble)
    b.note("files_removed", (before -- after).size.toDouble)
    b.note("delta_rows", rows.size.toDouble)
    b.fs.delete(new org.apache.hadoop.fs.Path(path), true)

    val mvBefore = mvFiles()
    val r = b.call("Mv.refresh")(Mv.refresh(spark, mv))
    b.note("groups_touched", r.groupsTouched.toDouble)
    b.note("incremental", if (r.mode == "incremental") 1.0 else 0.0)
    b.note("files_added", (mvFiles() -- mvBefore).size.toDouble)
    val rnd = new SplittableRandom(b.seed * 7919L + c)
    (0 until PointReads).foreach(_ => pointRead(lo + rnd.nextLong(hi - lo)))
    (0 until Scans).foreach(_ => scan(lo + rnd.nextLong(hi - lo - ScanKeys)))
    (0 until Aggs).foreach(i => aggregate(rollup = i % 2 == 1))
  }

  private def mvFiles(): Set[String] = Snapshots.files(spark, mv, Snapshots.versions(spark, mv).last).toSet

  private def pointRead(k: Long): Unit = {
    val got = b.call("Snapshots.readPoint", "read")(
      Snapshots.readPoint(spark, base, "k", Seq(k)).select("g", "v").collect())
    if (b.tracing) b.note("files_scanned",
      Snapshots.pointFiles(spark, base, Snapshots.versions(spark, base).last, "k", Seq(k)).size.toDouble)
    b.check("point lookup matches the replay")(live.get(k) match {
      case Some(r) => got.length == 1 && got(0).getInt(0) == r.g && got(0).getLong(1) == r.v
      case None => got.isEmpty
    })
  }

  private def scan(from: Long): Unit = {
    val to = from + ScanKeys - 1
    val got = b.call("Snapshots.readWhere")(
      Snapshots.readWhere(spark, base, Map("k" -> (from, to))).agg(count(lit(1)), sum("v")).head())
    if (b.tracing) {
      val v = Snapshots.versions(spark, base).last
      b.note("files_scanned_frac", Snapshots.filesWhere(spark, base, v, Map("k" -> (from, to))).size.toDouble /
        Snapshots.files(spark, base, v).size)
    }
    val expect = (from to to).flatMap(live.get)
    b.check("range scan matches the replay")(got.getLong(0) == expect.size &&
      (expect.isEmpty || got.getLong(1) == expect.map(_.v).sum))
  }

  private def aggregate(rollup: Boolean): Unit = {
    val sql = if (rollup) "SELECT count(*) AS n, sum(v) AS s FROM cdc_base"
      else "SELECT g, count(*) AS n, sum(v) AS s FROM cdc_base GROUP BY g"
    val (rows, plan) = b.call("MvRoute.agg") {
      spark.read.format("graft-snapshot").option("root", base).load().createOrReplaceTempView("cdc_base")
      val df = spark.sql(sql)
      (df.collect(), df.queryExecution.optimizedPlan.toString)
    }
    val routed = plan.contains(s"graft-snapshot($mv)")
    b.note("routed", if (routed) 1.0 else 0.0)
    b.note("files_scanned", (if (routed) mvFiles().size
      else Snapshots.files(spark, base, Snapshots.versions(spark, base).last).size).toDouble)
    b.check("aggregate matches the replay")(
      if (rollup) rows.length == 1 && rows(0).getLong(0) == live.size && rows(0).getLong(1) == groupSum.sum
      else rows.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap ==
        (0 until Groups).filter(groupN(_) > 0).map(g => g -> (groupN(g), groupSum(g))).toMap)
  }

  def maintain(): Unit = {
    // retention: drop the oldest live keys until the live count is back
    // to its initial size
    var cut = lo
    var excess = live.size - InitialKeys
    while (excess > 0) { if (live.contains(cut)) excess -= 1; cut += 1 }
    (lo until cut).foreach(remove)
    val keep = cut
    b.reclaiming("Snapshots.deleteWhere", base)(
      Snapshots.deleteWhere(spark, base, col("k") < keep, pruneRanges = Map("k" -> (0L, keep - 1))))
    lo = cut
    b.reclaiming("Snapshots.compact", base)(Snapshots.compact(spark, base, targetBytes = CompactBytes))
    // the MV's watermark is the version before the retention delete: keep it
    b.reclaiming("Snapshots.expire", base)(Snapshots.expire(spark, base, keepLast = 3))
    b.reclaiming("Snapshots.expire", mv)(Snapshots.expire(spark, mv, keepLast = 2))
    b.reclaiming("Snapshots.vacuum", base)(Snapshots.vacuum(spark, base, graceMs = 0L))
    b.reclaiming("Snapshots.vacuum", mv)(Snapshots.vacuum(spark, mv, graceMs = 0L))
  }

  def layout(): (Long, Long, Long, Long) = b.snapshotLayout(Seq(base, mv))

  def verify(): Unit = {
    val table = Snapshots.read(spark, base).select("k", "g", "v", "s").collect()
      .map(r => r.getLong(0) -> Rec(r.getInt(1), r.getLong(2), r.getString(3))).toMap
    b.check("table equals the serial replay of every batch")(table == live)
    // the last maintenance versions are not in the MV yet
    Mv.refresh(spark, mv)
    Mv.unregister(spark, mv)
    val recompute = Snapshots.read(spark, base).groupBy("g").agg(count(lit(1)), sum("v")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val view = Mv.read(spark, mv).select("g", "n_rows", "sum_v").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    b.check("MV equals a group-by recompute from the base")(view == recompute)
    b.check("MV equals the replay's groups")(
      view == (0 until Groups).filter(groupN(_) > 0).map(g => g -> (groupN(g), groupSum(g))).toMap)
  }
}

object SnapshotCdc {
  private final case class Rec(g: Int, v: Long, s: String)
  private val InitialKeys = 20000
  private val Groups = 50
  private val Buckets = 8
  private val Updates = 1400
  private val Inserts = 400
  private val Deletes = 200
  private val PointReads = 4
  private val Scans = 2
  private val ScanKeys = 400L
  private val Aggs = 2
  private val CompactBytes = 8L << 20
  private val Schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g", IntegerType),
    StructField("v", LongType),
    StructField("s", StringType),
    StructField("ep", IntegerType)))
  private val DeltaSchema = Schema.add(StructField("__del", BooleanType, nullable = false))
}

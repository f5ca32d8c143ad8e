package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.operators.Snapshots

/** The closed-loop harness shared by every workload: one driver thread
  * issues each call only after the previous one returned. It times calls,
  * counts the bytes the program writes, runs the correctness checks and
  * keeps everything the report needs in memory.
  */
final class Bench(val spark: SparkSession, val seed: Long) {
  val calls = mutable.ArrayBuffer.empty[CallRec]
  val rounds = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var checks = 0L
  var failedChecks = 0L

  /** Calls are recorded only while a round runs; set-up calls are not. */
  private var round = -1
  private var op = ""
  private var tracer: Option[Tracer] = None

  def fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  def beginRound(r: Int, traced: Option[Tracer]): Unit = {
    round = r
    tracer = traced
    rounds += mutable.LinkedHashMap("round" -> r.toDouble, "traced" -> (if (traced.isDefined) 1.0 else 0.0),
      "rows" -> 0.0, "user_bytes" -> 0.0)
  }

  def endRound(): Unit = { round = -1; tracer = None }

  def operation[T](name: String)(f: => T): T = {
    op = name
    try f finally op = ""
  }

  /** Time one public call of the engine. `kind` is the end-to-end class it
    * feeds: write, read or maint (anything else only feeds the cycle).
    */
  def call[T](name: String, kind: String = "other")(f: => T): T = {
    if (round < 0) return f
    val id = calls.size
    val sc = spark.sparkContext
    tracer.foreach(_ => sc.setLocalProperty(Tracer.CallKey, id.toString))
    val bw0 = Bench.bytesWritten()
    val gc0 = Bench.gcMs()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      tracer.foreach(_ => sc.setLocalProperty(Tracer.CallKey, null))
      calls += new CallRec(id, op, name, kind, round, s0, s1, (t1 - t0) / 1e9,
        Bench.bytesWritten() - bw0, (Bench.gcMs() - gc0) / 1000.0, tracer.isDefined)
      System.err.println(f"[graftbench] $op%s $name%s ${(t1 - t0) / 1e9}%.3f s")
    }
  }

  /** True while a traced round runs: the workloads then also take the
    * audit counts that cost extra reads, outside the timed calls.
    */
  def tracing: Boolean = round >= 0 && tracer.isDefined

  /** A maintenance call, noting the bytes it freed under `root` when
    * traced (negative: the tree grew).
    */
  def reclaiming[T](name: String, root: String)(f: => T): T = {
    val before = if (tracing) duBytes(root) else 0L
    val out = call(name, "maint")(f)
    if (tracing) note("bytes_reclaimed", (before - duBytes(root)).toDouble)
    out
  }

  /** Attach a layer-specific count to the call just made. */
  def note(key: String, value: Double): Unit =
    if (round >= 0) calls.last.extra(key) = value

  /** Rows and input bytes handed to the workload's write operation. */
  def ingested(rows: Long, bytes: Long): Unit = if (round >= 0) {
    val r = rounds.last
    r("rows") += rows.toDouble
    r("user_bytes") += bytes.toDouble
  }

  def check(name: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch { case e: Exception =>
      System.err.println(s"[graftbench] check $name threw: $e"); false
    }
    if (!passed) { failedChecks += 1; failures += name }
  }

  /** Bytes under a directory tree, every file counted (manifests, checksum
    * sidecars and garbage too): the on-disk footprint.
    */
  def duBytes(dir: String): Long = {
    val p = new Path(dir)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  /** Full GC, then the heap still in use — sampled between rounds. The
    * second collection takes what Spark's cleaner released after the first.
    */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** (data files, leaf directories, bytes on disk, live bytes) of the
    * current versions of snapshot tables.
    */
  def snapshotLayout(roots: Seq[String]): (Long, Long, Long, Long) = {
    val per = roots.map { r =>
      val v = Snapshots.versions(spark, r).last
      val files = Snapshots.files(spark, r, v)
      val sizes = Snapshots.byteCountsOf(spark, r, v)
      (files.size.toLong, files.map(f => f.take(math.max(0, f.lastIndexOf('/')))).distinct.size.toLong,
        duBytes(r), files.map(f => sizes.getOrElse(f, fs.getFileStatus(new Path(s"$r/$f")).getLen)).sum)
    }
    (per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum)
  }

  def roundStat(key: String, value: Double): Unit = rounds.last(key) = value
}

object Bench {
  /** Bytes written through every Hadoop filesystem of this JVM. In local
    * mode executors share the JVM, so this counts all the program's writes.
    */
  def bytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

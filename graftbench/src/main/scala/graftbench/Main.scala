package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A workload: set-up, then rounds of one cycle followed by one
  * maintenance pass, so every cycle starts from the same table shape.
  * Every input derives from the seed and the cycle number, never from
  * timing, so a seed fixes the operation sequence.
  */
trait Workload {
  def setup(): Unit
  def cycle(c: Int): Unit
  def maintain(): Unit
  /** (data files, leaf directories, bytes on disk, live bytes) now. */
  def layout(): (Long, Long, Long, Long)
  /** End-of-run correctness checks against the workload's own oracle. */
  def verify(): Unit
}

object Main {
  private val SetupBuilds = 3
  /** Rounds every untraced run completes, however fast: the deterministic
    * prefix the count metrics are taken from. A traced run's prefix is one
    * round longer, its rounds alternately traced and untraced.
    */
  private val PrefixRounds = 3
  private val HardStopS = 150.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val out = opt("out")
    val procs = Runtime.getRuntime.availableProcessors
    if (procs != cores) {
      System.err.println(s"[graftbench] the JVM sees $procs processors, the run claims $cores; refusing")
      sys.exit(3)
    }
    val make: (Bench, String) => Workload = workload match {
      case "warehouse_daily" => new WarehouseDaily(_, _)
      case "snapshot_cdc" => new SnapshotCdc(_, _)
      case "stream_neardup" => new StreamNearDup(_, _)
      case other =>
        System.err.println(s"[graftbench] unknown workload $other")
        sys.exit(2)
    }

    val t0 = System.nanoTime()
    val spark = graft.SparkEnv.session("graftbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val bench = new Bench(spark, seed)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "jvm_processors" -> procs, "session_s" -> sessionS)
    var error: Option[String] = None
    try {
      // the initial state is built several times from scratch (the median
      // is reported); the first build also runs the warm-up, and the last
      // build's state is the one the timed phase continues from
      var wl: Workload = null
      var warmupS = 0.0
      val builds = (0 until SetupBuilds).map { i =>
        val dir = s"$work/setup$i"
        if (i > 0) bench.fs.delete(new Path(s"$work/setup${i - 1}"), true)
        val s = System.nanoTime()
        wl = make(bench, dir)
        wl.setup()
        val took = (System.nanoTime() - s) / 1e9
        if (i == 0) {
          val w = System.nanoTime()
          wl.cycle(0) // one untimed round of every operation type
          wl.maintain()
          warmupS = (System.nanoTime() - w) / 1e9
        }
        System.err.println(f"[graftbench] set-up build $i%d $took%.3f s")
        took
      }
      result("setup_builds_s") = builds
      result("warmup_s") = warmupS

      // traced runs alternate traced and untraced rounds, so the same run
      // measures the tracing overhead
      val prefix = if (trace) PrefixRounds + 1 else PrefixRounds
      val tracer = if (trace) Some(new Tracer) else None
      val sc = spark.sparkContext
      val timed0 = System.nanoTime()
      def elapsed = (System.nanoTime() - timed0) / 1e9
      var r = 0
      var lastRound = 0.0
      // rounds are whole; past the prefix, one starts only if it should
      // end within the measuring time
      while ((r < prefix || elapsed + lastRound <= seconds) && elapsed < HardStopS) {
        val roundStart = elapsed
        val traced = tracer.filter(_ => r % 2 == 0)
        traced.foreach(sc.addSparkListener)
        bench.beginRound(r, traced)
        try {
          bench.operation(s"cycle-${r + 1}")(wl.cycle(r + 1))
          bench.operation(s"maint-$r")(wl.maintain())
        } finally {
          bench.endRound()
          traced.foreach(t => Tracer.detach(sc, t))
        }
        lastRound = elapsed - roundStart
        bench.roundStat("heap_after_gc_mb", bench.heapAfterGcMb())
        if (r == prefix - 1) {
          val (files, leaves, disk, live) = wl.layout()
          result("layout") = Map("data_files" -> files, "leaves" -> leaves,
            "disk_bytes" -> disk, "live_bytes" -> live)
        }
        r += 1
      }
      result("timed_wall_s") = elapsed
      result("prefix_rounds") = prefix
      wl.verify()

      tracer.foreach { t =>
        val (perCall, spans) = t.resolve(bench.calls.filter(_.traced).toSeq)
        result("call_spark") = perCall.map { case (k, v) => k.toString -> v }
        result("job_spans") = spans
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        error = Some(e.toString)
    }
    result("calls") = bench.calls.map { c =>
      Map("id" -> c.id, "op" -> c.op, "name" -> c.name, "kind" -> c.kind, "round" -> c.round,
        "start_ms" -> c.startMs, "end_ms" -> c.endMs, "dur_s" -> c.durS,
        "bytes_written" -> c.bytesWritten, "gc_s" -> c.gcS, "traced" -> c.traced,
        "extra" -> c.extra)
    }
    result("rounds") = bench.rounds
    result("checks") = bench.checks
    result("failed_checks") = bench.failedChecks
    result("check_failures") = bench.failures.take(20)
    result("error") = error
    Files.write(Paths.get(out), Json(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Per-query profiling main (optimization tooling, not on any query path).
  *
  * Runs the named `SparkEntry.queries` entries exactly like [[Bench]]
  * (same env contract: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS, noop
  * materialize) but instruments the run with a SparkListener:
  * per-job wall duration plus the DRIVER GAP before each job (time since
  * the previous job ended with no job running — manifest IO, planning,
  * listings, commit bookkeeping all land there). Output: a sorted
  * breakdown per query, aggregated by job description, so a 20-second
  * fixture decomposes into "which phase pays".
  */
object Profile {
  private case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0L)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Profile <queryName> [more...] [-k N] [-explain <dir> <suffix>]")
    // -explain <dir> <suffix>: instead of profiling, run each query once and
    // write the returned frame's explain("formatted") to <dir>/<q>_<suffix>.txt
    val explainIdx = args.indexOf("-explain")
    val explainTo: Option[(String, String)] =
      if (explainIdx >= 0) Some((args(explainIdx + 1), args(explainIdx + 2))) else None
    val rest =
      if (explainIdx >= 0) args.patch(explainIdx, Nil, 3) else args
    val (flags, names) = rest.partition(_.startsWith("-k"))
    val reps = flags.headOption.map(_.stripPrefix("-k").trim.toInt).getOrElse(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEnv.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val taskCounts = mutable.Map.empty[Int, Int] // jobId -> task count
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(e.stageInfos.headOption.map(_.name))
          .getOrElse("?")
        taskCounts(e.jobId) = e.stageInfos.map(_.numTasks).sum
        jobs += JobRec(e.jobId, desc, e.time)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    explainTo.foreach { case (dir, suffix) =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      names.foreach { name =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val short = "^q\\d+".r.findFirstIn(name).getOrElse(name)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/${short}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"wrote $dir/${short}_$suffix.txt")
      }
      spark.stop()
      return
    }
    // same warm-up as Bench
    spark.range(1000000).selectExpr("sum(id)").collect()

    // driver-side stack sampler: every ~100ms, find the thread actually
    // driving the query (deepest graft.* frame outside this sampler) and
    // count its innermost graft frame + the JVM frame just below it —
    // attributes the DRIVER GAP (wall minus job time) that the job
    // listener cannot see (planning, commits, footer reads, FS renames)
    val sampleOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = new Thread(() => {
      var running = true
      while (running) {
        try {
          if (sampleOn.get()) {
            val all = Thread.getAllStackTraces
            samples.merge("(ticks)", 1, (a, b) => a + b)
            all.forEach { (t, st) =>
              if (t.getName != "graft-profile-sampler") {
                // getClassName, not toString: JDK 9+ prefixes toString
                // with the classloader name ("app//graft. ..."), which
                // defeats a startsWith("graft.") match
                val gi = st.indexWhere(e => e.getClassName.startsWith("graft.") &&
                  !e.getClassName.startsWith("graft.Profile"))
                if (gi >= 0) {
                  def nm(e: StackTraceElement) = s"${e.getClassName}.${e.getMethodName}"
                  val below = if (gi > 0) " <- " + nm(st(gi - 1)) else ""
                  samples.merge(nm(st(gi)) + below, 1, (a, b) => a + b)
                }
              }
            }
          }
        } catch { case scala.util.control.NonFatal(e) =>
          samples.merge(s"(sampler error: ${e.getClass.getSimpleName})", 1, (a, b) => a + b)
        }
        // outside the catch: a throwing iteration still pauses, and an
        // interrupt stops the sampler instead of being swallowed
        try Thread.sleep(100)
        catch { case _: InterruptedException => running = false }
      }
    }, "graft-profile-sampler")
    sampler.setDaemon(true)
    sampler.start()

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
        jobs.synchronized(jobs.clear())
        samples.clear(); sampleOn.set(true)
        val t0 = System.nanoTime()
        materialize(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        sampleOn.set(false)
        // drain listener queue before reading (private API — sleep instead)
        Thread.sleep(300)
        val snap = jobs.synchronized(jobs.toVector).sortBy(_.start)
        val jobSum = snap.map(j => (j.end - j.start).max(0L)).sum / 1e3
        println(f"\n== $name rep $rep: wall $wall%.2f s, ${snap.size} jobs, " +
          f"job time $jobSum%.2f s, driver gap ${wall - jobSum}%.2f s ==")
        // aggregate by description
        val counts = jobs.synchronized(taskCounts.toMap)
        val byDesc = snap.groupBy(_.desc).map { case (d, js) =>
          (d, js.size, js.map(j => (j.end - j.start).max(0L)).sum / 1e3,
            js.map(j => counts.getOrElse(j.id, 0)).sum)
        }.toSeq.sortBy(-_._3)
        byDesc.take(40).foreach { case (d, n, t, tk) =>
          println(f"  $t%8.2f s  x$n%-4d tasks=$tk%-6d ${d.take(100)}")
        }
        // driver stack attribution (100ms samples, deepest graft frame)
        println("  -- driver stack samples (~0.1s each) --")
        import scala.jdk.CollectionConverters._
        samples.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, n) =>
          println(f"  ${n * 0.1}%6.1f s  $k")
        }
        // timeline with gaps > 200ms
        println("  -- gaps > 0.2s between jobs --")
        var prevEnd = snap.headOption.map(_.start).getOrElse(0L)
        snap.foreach { j =>
          val gap = (j.start - prevEnd) / 1e3
          if (gap > 0.2)
            println(f"  gap $gap%6.2f s before job ${j.id} [${j.desc.take(80)}]")
          prevEnd = prevEnd.max(j.end)
        }
      }
    }
    spark.stop()
  }
}

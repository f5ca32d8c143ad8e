package graftbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into the engine: the middle level of the span tree
  * operation (a cycle or a maintenance round) → public call → Spark job.
  * `extra` holds the layer-specific counts the workload records for it.
  */
final class CallRec(val id: Int, val op: String, val name: String, val kind: String,
    val round: Int, val startMs: Long, val endMs: Long, val durS: Double,
    val bytesWritten: Long, val gcS: Double, val traced: Boolean) {
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** Spark-side half of the tracer. Each traced call sets a thread-local job
  * property naming its call id, so a job started from the calling thread
  * carries its owner; a job started from some other thread (a pool the
  * engine owns) is attributed by time window instead. Calls never overlap,
  * so both rules are exact. Everything is kept in memory and resolved
  * once, after the bus has drained.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private final class Job(val callId: Int, val start: Long) { var end: Long = -1L }
  private final class StageAgg {
    var tasks, failures = 0L
    var shuffleBytes, spillBytes, inputBytes, outputBytes, outputRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val cid = Option(e.properties).flatMap(p => Option(p.getProperty(CallKey)))
      .flatMap(_.toIntOption).getOrElse(-1)
    jobs(e.jobId) = new Job(cid, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (e.reason != Success) a.failures += 1
    Option(e.taskMetrics).foreach { m =>
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Per-call Spark counts for `calls` (the traced ones), and the raw job
    * spans. Call after [[detach]].
    */
  def resolve(calls: Seq[CallRec]): (Map[Int, Map[String, Double]], Seq[Map[String, Any]]) =
    synchronized {
      val byId = calls.map(c => c.id -> c).toMap
      def owner(j: Job): Option[CallRec] =
        byId.get(j.callId).orElse(calls.find(c => c.startMs <= j.start && j.start <= c.endMs))
      val owned = jobs.toSeq.flatMap { case (id, j) => owner(j).map(c => (id, j, c)) }
      val jobStages = stageJob.toSeq.groupMap(_._2)(_._1)
      val perCall = owned.groupBy(_._3.id).map { case (cid, js) =>
        val c = byId(cid)
        val aggs = js.flatMap { case (id, _, _) => jobStages.getOrElse(id, Nil) }
          .flatMap(stages.get)
        // time inside the call covered by at least one running job
        val spans = js.map { case (_, j, _) =>
          (math.max(j.start, c.startMs), math.min(if (j.end < 0) c.endMs else j.end, c.endMs))
        }.filter(s => s._2 > s._1).sortBy(_._1)
        var covered = 0L; var reach = Long.MinValue
        spans.foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) covered += e - from
          reach = math.max(reach, e)
        }
        cid -> Map[String, Double](
          "jobs" -> js.size.toDouble,
          "tasks" -> aggs.map(_.tasks).sum.toDouble,
          "task_failures" -> aggs.map(_.failures).sum.toDouble,
          "shuffle_bytes" -> aggs.map(_.shuffleBytes).sum.toDouble,
          "spill_bytes" -> aggs.map(_.spillBytes).sum.toDouble,
          "input_bytes" -> aggs.map(_.inputBytes).sum.toDouble,
          "output_bytes" -> aggs.map(_.outputBytes).sum.toDouble,
          "output_records" -> aggs.map(_.outputRecords).sum.toDouble,
          "driver_gap_s" -> math.max(0.0, c.durS - covered / 1000.0))
      }
      val spans = owned.map { case (id, j, c) =>
        Map[String, Any]("job" -> id, "call" -> c.id, "start_ms" -> j.start, "end_ms" -> j.end,
          "stages" -> jobStages.getOrElse(id, Nil).sorted)
      }
      (perCall, spans)
    }
}

object Tracer {
  val CallKey = "graftbench.call"

  def detach(sc: SparkContext, t: Tracer): Unit = {
    org.apache.spark.graftbench.BusDrain(sc)
    sc.removeSparkListener(t)
  }
}

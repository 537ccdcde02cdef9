package perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark reports through its public listener interfaces
  * while a traced pass runs: one record per job (interval, stages,
  * task metrics) and one per query execution (the planning tracker's
  * phase intervals and the executed plan's DSv2 scan nodes). Records
  * carry wall-clock milliseconds so they can be matched to the
  * benchmark's own op spans by interval. Events arrive on Spark's
  * listener bus asynchronously; the runner waits for a marker job
  * ([[Trace.MarkerPrefix]]) to come through before reading records. */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JMap[String, Any]]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val queries = new JList[JMap[String, Any]]()
  @volatile private var flushedMarker: Option[String] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (desc.startsWith(Trace.MarkerPrefix)) flushedMarker = Some(desc)
    else {
      jobs(e.jobId) = Runner.rec("start_ms" -> e.time.toDouble, "end_ms" -> e.time.toDouble,
        "stages" -> 0, "tasks" -> 0, "cpu_ns" -> 0L, "gc_ms" -> 0L,
        "shuffle_write" -> 0L, "shuffle_read" -> 0L, "spill" -> 0L)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.put("end_ms", e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (j <- stageToJob.get(info.stageId); r <- jobs.get(j)) {
      def add(k: String, v: Long): Unit =
        r.put(k, r.get(k).asInstanceOf[Long] + v)
      r.put("stages", r.get("stages").asInstanceOf[Int] + 1)
      r.put("tasks", r.get("tasks").asInstanceOf[Int] + info.numTasks)
      Option(info.taskMetrics).foreach { m =>
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = new JMap[String, Any]()
    qe.tracker.phases.foreach { case (name, p) =>
      phases.put(name, java.util.List.of(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
    var partitions = 0L
    var scanRows = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case b: BatchScanExec =>
        partitions += b.inputPartitions.size
        scanRows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => (other.children ++ other.subqueries).foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    val r = Runner.rec("phases" -> phases, "scan_partitions" -> partitions,
      "scan_rows" -> scanRows)
    synchronized { queries.add(r); () }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** True once the marker job `marker` has been seen on the bus. */
  def sawMarker(marker: String): Boolean = flushedMarker.contains(marker)

  /** Jobs and query executions recorded so far, then cleared. */
  def drain(): (JList[JMap[String, Any]], JList[JMap[String, Any]]) = synchronized {
    val j = new JList[JMap[String, Any]]()
    jobs.values.foreach(j.add)
    val q = new JList[JMap[String, Any]](queries)
    jobs.clear(); stageToJob.clear(); queries.clear()
    (j, q)
  }
}

object Trace {
  val MarkerPrefix = "perfbench-flush-"
}

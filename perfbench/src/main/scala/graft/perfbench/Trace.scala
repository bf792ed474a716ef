package graft.perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Spans kept in memory and written out when the run ends. Times are
  * epoch milliseconds (fractional), on the same clock as Spark's listener
  * events, so job intervals and spans can be laid over each other. */
final class Spans {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val buf = ArrayBuffer.empty[(String, Double, Double, String, Int)]

  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def record(name: String, start: Double, end: Double, parent: String,
      sid: Int): Unit = synchronized { buf += ((name, start, end, parent, sid)) }

  def toJson: ArrayNode = synchronized {
    val out = JsonNodeFactory.instance.arrayNode()
    buf.foreach { case (n, s, e, p, sid) =>
      out.addObject().put("name", n).put("start", s).put("end", e)
        .put("parent", p).put("sid", sid)
    }
    out
  }
}

/** Job, stage and task counts per statement, keyed by the job group each
  * statement runs under (every group this listener tracks starts with
  * `prefix`). Only the benchmark registers it, and only for the traced
  * replay. */
final class StmtListener(prefix: String) extends SparkListener {
  private final class StageAgg(val group: String) {
    @volatile var submitMs: Long = -1L
    val durations = ArrayBuffer.empty[Long]
    val waits = ArrayBuffer.empty[Long]
    var cpuNs, inBytes, inRecords, shufWrite, spillDisk, spillMem, gcMs = 0L
  }
  private final class JobAgg(val group: String, val start: Long) {
    @volatile var end: Long = -1L
  }

  private val jobs = TrieMap.empty[Int, JobAgg]
  private val stages = TrieMap.empty[Int, StageAgg]
  private val execGroup = TrieMap.empty[Long, String]
  private val execPlan = TrieMap.empty[Long, SparkPlanInfo]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(prefix)).foreach { g =>
        jobs.put(e.jobId, new JobAgg(g, e.time))
        e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageAgg(g)))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get(e.stageId).foreach { s =>
      s.synchronized {
        val ti = e.taskInfo
        s.durations += (ti.finishTime - ti.launchTime)
        if (s.submitMs > 0) s.waits += math.max(0L, ti.launchTime - s.submitMs)
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.inBytes += m.inputMetrics.bytesRead
          s.inRecords += m.inputMetrics.recordsRead
          s.shufWrite += m.shuffleWriteMetrics.bytesWritten
          s.spillDisk += m.diskBytesSpilled
          s.spillMem += m.memoryBytesSpilled
          s.gcMs += m.jvmGCTime
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.filter(_.startsWith(prefix)).foreach { g =>
        execGroup.put(s.executionId, g)
        execPlan.put(s.executionId, s.sparkPlanInfo)
      }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      if (execGroup.contains(u.executionId))
        execPlan.put(u.executionId, u.sparkPlanInfo)
    case _ =>
  }

  private def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0) +
      p.children.map(exchanges).sum

  /** Per group: job intervals, stage/task counts and task metrics. */
  def toJson: ObjectNode = {
    val nf = JsonNodeFactory.instance
    val out = nf.objectNode()
    def rec(g: String): ObjectNode =
      Option(out.get(g)).map(_.asInstanceOf[ObjectNode]).getOrElse {
        val o = out.putObject(g)
        o.putArray("jobs"); o.putArray("stages")
        o.put("exchanges", 0)
        o
      }
    jobs.toSeq.sortBy(_._1).foreach { case (_, j) =>
      rec(j.group).withArray[ArrayNode]("jobs").addArray().add(j.start).add(j.end)
    }
    stages.toSeq.sortBy(_._1).foreach { case (id, s) => s.synchronized {
      if (s.durations.nonEmpty) {
        val o = rec(s.group).withArray[ArrayNode]("stages").addObject()
        o.put("id", id).put("tasks", s.durations.size).put("cpu_ns", s.cpuNs)
          .put("input_bytes", s.inBytes).put("input_records", s.inRecords)
          .put("shuffle_write_bytes", s.shufWrite).put("spill_disk_bytes", s.spillDisk)
          .put("spill_mem_bytes", s.spillMem).put("gc_ms", s.gcMs)
        val d = o.putArray("durations"); s.durations.foreach(d.add(_))
        val w = o.putArray("waits"); s.waits.foreach(w.add(_))
      }
    }}
    execGroup.foreach { case (id, g) =>
      execPlan.get(id).foreach { p =>
        val o = rec(g)
        o.put("exchanges", o.get("exchanges").asInt() + exchanges(p))
      }
    }
    out
  }
}

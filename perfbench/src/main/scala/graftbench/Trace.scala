package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store. A span is (kind, name, tag, start, end) plus
  * attributes; `tag` names the benchmark operation that caused it, and
  * the operation span's own id is its tag. Written out once, at the end
  * of the run. Times are epoch milliseconds. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
  def add(kind: String, name: String, tag: String, start: Double, end: Double,
          attrs: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", kind); m.put("name", name); m.put("tag", tag)
    m.put("start", start); m.put("end", end)
    attrs.foreach { case (k, v) => m.put(k, v) }
    q.add(m)
  }
  def all: Seq[java.util.Map[String, Any]] = q.asScala.toSeq
}

object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Job, stage and task listener for the traced run. Attributes each job
  * to the benchmark operation through the `graftbench.op` local property
  * (inherited by threads a query spawns) and to a streaming micro-batch
  * through Spark's own `streaming.sql.batchId` property. */
final class JobRecorder(spans: Spans) extends SparkListener {
  private final class JobAcc(val id: Int, val start: Long, val tag: String, val batch: String,
                             val execution: String, val scans: Seq[Int]) {
    var end = 0L
    var failed = false
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spillDisk = 0L
    var spillMem = 0L
    var outBytes = 0L
    var outRows = 0L
    var inRows = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, JobAcc]()
  private val sqlStart = new ConcurrentHashMap[Long, (Long, Boolean)]()

  /** Root directory of the dedup signature index. A SQL execution that
    * scans the whole index or overwrites it statically is its fold
    * (the per-batch path reads touched buckets and overwrites its tail
    * partition dynamically). */
  @volatile var indexRoot: String = ""

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val d = s.physicalPlanDescription
      val root = indexRoot
      val fold = root.nonEmpty && (d.contains(s"$root]") ||
        d.contains(s"InsertIntoHadoopFsRelationCommand file:$root,") && !d.contains("partitionOverwriteMode"))
      sqlStart.put(s.executionId, (s.time, fold))
    case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(end.executionId)).foreach { case (t0, fold) =>
        spans.add("sql", s"sql-${end.executionId}", "", t0.toDouble, end.time.toDouble,
          "execution" -> end.executionId, "fold" -> fold)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty(Main.OpProperty))).getOrElse("")
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).getOrElse("")
    val execution = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse("")
    val scans = e.stageInfos.flatMap(_.rddInfos).filter(_.name == "FileScanRDD").map(_.id).distinct
    val j = new JobAcc(e.jobId, e.time, tag, batch, execution, scans)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j.end = e.time
    j.failed = e.jobResult != JobSucceeded
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.taskMs += m.executorRunTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spillDisk += m.diskBytesSpilled
      j.spillMem += m.memoryBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRows += m.outputMetrics.recordsWritten
      j.inRows += m.inputMetrics.recordsRead
    }
  }

  /** Emit one span per finished job; call after the bus has drained. */
  def flush(): Unit = jobs.values().asScala.filter(_.end > 0).foreach { j =>
    spans.add("job", s"job-${j.id}", j.tag, j.start.toDouble, j.end.toDouble,
      "batch" -> j.batch, "execution" -> j.execution, "failed" -> j.failed,
      "task_ms" -> j.taskMs, "shuffle_write_bytes" -> j.shuffleWrite,
      "shuffle_read_bytes" -> j.shuffleRead, "spill_disk_bytes" -> j.spillDisk,
      "spill_mem_bytes" -> j.spillMem, "output_bytes" -> j.outBytes,
      "output_rows" -> j.outRows, "input_rows" -> j.inRows,
      "scan_rdds" -> j.scans.asJava)
  }
}

/** Catalyst phase spans (analysis, optimization, planning) of every
  * QueryExecution that reaches the listener; the operation they belong
  * to is found afterwards by time containment. */
final class PlanRecorder(spans: Spans) extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      spans.add("plan", phase, "", s.startTimeMs.toDouble, s.endTimeMs.toDouble)
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Small statistics helpers shared by every workload. */
object Stats {
  /** Nearest-rank percentile of `xs` (p in [0, 1]). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Harrell-Davis estimate of the p-quantile (p in [0, 1]): a weighted
    * mean of every order statistic, the weights being the Beta(p(n+1),
    * (1-p)(n+1)) mass of each rank's slice of [0, 1]. On a few samples it
    * varies less from run to run than one order statistic does. */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size == 1 || p <= 0.0 || p >= 1.0) pct(xs, p)
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      val steps = 2000 * n
      val w = new Array[Double](n)
      var j = 0
      while (j < steps) {
        val x = (j + 0.5) / steps
        w(j * n / steps) += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
        j += 1
      }
      val total = w.sum
      s.indices.map(i => w(i) / total * s(i)).sum
    }
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
  /** `covered` restricted to the window [lo, hi). */
  def coveredWithin(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    covered(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => str(other.toString)
  }
}

/** One traced interval. Times are epoch milliseconds (fractional). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Double, end: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def dur: Double = end - start
}

/** In-memory span store. Spans are written out once, at the end of the
  * run, with the self time of each layer: a span's duration minus the
  * part of it that its children cover. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  def add(parent: Long, name: String, layer: String, start: Double, end: Double,
          attrs: Map[String, Any] = Map.empty): Long = synchronized {
    val id = nextId; nextId += 1
    buf += Span(id, parent, name, layer, start, end, attrs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toSeq)
  def setEnd(id: Long, end: Double): Unit = synchronized {
    val i = buf.indexWhere(_.id == id)
    if (i >= 0) buf(i) = buf(i).copy(end = end)
  }

  def selfTimeByLayer: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val childIv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        s.dur - Stats.coveredWithin(childIv, s.start, s.end)
      }.sum
    }
  }

  def toJsonLines: Iterator[String] = all.iterator.map { s =>
    Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
  }
}

/** Writes the spans of a traced run (one JSON object per line) and the
  * per-layer self time next to the run's result file. */
object TraceOut {
  def write(a: Args, spans: Spans, selfTime: Map[String, Double]): Unit = {
    a.get("trace-out").foreach { path =>
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.write(p, spans.toJsonLines.toSeq.:+(Json(Map("self_time_ms_by_layer" -> selfTime)))
        .mkString("\n").getBytes("UTF-8"))
    }
  }
}

object Clock {
  private val base = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  /** Epoch ms with sub-ms resolution, on the same axis as Spark's
    * listener timestamps. */
  def now(): Double = base + System.nanoTime() / 1e6
}

final case class TaskRec(stageId: Int, launch: Double, finish: Double, runMs: Double,
                         cpuMs: Double, schedDelayMs: Double, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, outBytes: Long, outRecords: Long)
final case class JobRec(jobId: Int, start: Double, var end: Double, stageIds: Seq[Int],
                        execId: Option[Long], batchId: Option[Long], description: String,
                        callSite: String)
final case class StageRec(stageId: Int, submit: Double, end: Double)
/** The planning phases of one action, from its `QueryExecution` tracker. */
final case class QeRec(phases: Map[String, (Double, Double)])

/** Spark-side recorder of the traced run: jobs, stages, tasks and each
  * action's planning phases, all timestamped on the
  * listener's clock. Registered only for traced runs. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = TrieMap[Int, JobRec]()
  val stages = TrieMap[Int, StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeRec]()

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }
  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
  def clear(): Unit = { jobs.clear(); stages.clear(); tasks.clear(); qes.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds,
      prop("spark.sql.execution.id").map(_.toLong),
      prop("streaming.sql.batchId").map(_.toLong),
      prop("spark.job.description").getOrElse(""),
      e.stageInfos.map(_.details).mkString("\n"))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId,
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      tasks.add(TaskRec(e.stageId, info.launchTime.toDouble, info.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime / 1e6, sched.toDouble,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qes.add(QeRec(qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  import scala.jdk.CollectionConverters._
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def qeList: Seq[QeRec] = qes.asScala.toSeq
  def stageToJob: Map[Int, Int] =
    jobs.values.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap

  /** Adds job spans, and stage spans under them, below the request or
    * phase span whose interval holds the job's start (`parentOf`). */
  def addJobSpans(spans: Spans, layer: String, parentOf: JobRec => Option[Long],
                  attrsOf: JobRec => Map[String, Any] = _ => Map.empty): Unit = {
    val byStage = taskList.groupBy(_.stageId)
    jobs.values.toSeq.sortBy(_.jobId).foreach { j =>
      parentOf(j).foreach { p =>
        val jid = spans.add(p, s"job ${j.jobId}", layer, j.start,
          if (j.end.isNaN) j.start else j.end, attrsOf(j))
        j.stageIds.flatMap(stages.get).foreach { s =>
          val ts = byStage.getOrElse(s.stageId, Nil)
          spans.add(jid, s"stage ${s.stageId}", layer, s.submit, s.end, Map(
            "tasks" -> ts.size, "task_run_ms" -> ts.map(_.runMs).sum,
            "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum,
            "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum))
        }
      }
    }
  }
}

/** Execution-layer totals over a set of jobs: counts, task time, CPU,
  * scheduler delay, shuffle and spill bytes, and the share of `windows`
  * in which no task ran (the driver gap). */
object ExecTotals {
  def apply(rec: Recorder, jobsIn: Seq[JobRec], windows: Seq[(Double, Double)],
            cores: Int): Map[String, Double] = {
    val stageIds = jobsIn.flatMap(_.stageIds).toSet
    val ts = rec.taskList.filter(t => stageIds.contains(t.stageId))
    val wall = windows.map(w => w._2 - w._1).sum
    val busy = windows.map { case (lo, hi) =>
      Stats.coveredWithin(ts.map(t => (t.launch, t.finish)), lo, hi) }.sum
    val run = ts.map(_.runMs).sum
    Map(
      "exec.ms" -> wall,
      "exec.jobs" -> jobsIn.size.toDouble,
      "exec.stages" -> stageIds.count(rec.stages.contains).toDouble,
      "exec.task_run_ms" -> run,
      "exec.task_cpu_ms" -> ts.map(_.cpuMs).sum,
      "exec.sched_delay_ms" -> ts.map(_.schedDelayMs).sum,
      "exec.busy_frac" -> (if (wall > 0) run / (wall * cores) else 0.0),
      "exec.driver_gap_ms" -> (wall - busy),
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spill.bytes" -> ts.map(_.spill).sum.toDouble)
  }
}

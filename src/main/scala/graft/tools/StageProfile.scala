package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Queries, Tuning}

/** Stage-level shuffle/spill profiler (judge brief r17 #5): runs the
  * named catalog queries at the given SF dir with a listener that
  * records, per completed stage, the aggregate task metrics Spark
  * already tracks — run/CPU time, shuffle bytes+records both
  * directions, and memory/disk spill — then prints a table per query
  * sorted by executor run time.
  *
  * Purpose: attribute a super-linear decade ratio to its physical
  * cause. A stage whose shuffle WRITE grows ~10×/decade while its
  * runtime grows ~14× and `diskBytesSpilled` stays 0 is paying
  * shuffle-to-disk constants (compression/serialization of more bytes
  * per partition), not agg hash spill — the distinction the r16
  * FIXTURES continuation argued from partition-count A/B; this tool
  * measures it directly.
  *
  * Usage: runMain graft.tools.StageProfile <sfDir> <query> [query...]
  * Session: [[graft.Tuning.localSession]]; SPARK_GRAFT_AQE=false gives
  * stages their real call-site names (AQE wraps every query stage in a
  * CompletableFuture whose name hides the action).
  * Env: SPARK_GRAFT_PROFILE_RUNS (default 2 — run N times inside one
  * JVM; each run prints its wall time; read the LAST run's table for
  * steady state: a single cold run at sf1 took up to 2x the steady
  * state, so SPARK_GRAFT_PROFILE_RUNS=3 gives a warm-up plus two timed
  * runs).
  */
object StageProfile {

  final case class StageRow(run: Int, query: String, stageId: Int,
      name: String, tasks: Int, runMs: Long, cpuMs: Long,
      shufReadMB: Double, shufReadRec: Long,
      shufWriteMB: Double, shufWriteRec: Long,
      memSpillMB: Double, diskSpillMB: Double, peakExecMemMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProfile <sfDir> <query> [query...]")
    val sfDir = args(0)
    val queries = Queries.resolve(args.drop(1).toSeq)
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = Tuning.localSession()
    println(s"datagen_id=${DataGenId.of(sfDir)} dir=$sfDir " +
      s"cpus=${spark.sparkContext.defaultParallelism}")

    val rows = new ConcurrentLinkedQueue[StageRow]()
    // Attribution is keyed by JOB GROUP, not by when the stage-completed
    // event happens to arrive: each run sets a unique job-group id
    // "run|query", SparkListenerJobStart (which carries the group
    // property and the job's stage ids) records stageId→group, and
    // stage-completed events look the group up — a slow event arriving
    // after the driver moved to the next query still attributes to the
    // stage's own run (ADVICE r17). The post-run sleep remains only to
    // DRAIN events before printing, no longer for correctness.
    val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (g.contains('|')) e.stageIds.foreach(id => stageGroup.put(id, g))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val g = stageGroup.getOrDefault(si.stageId, "")
        val (curRun, curQuery) = g.split('|') match {
          case Array(r, q) => (r.toInt, q)
          case _           => (0, "?")
        }
        if (m != null) rows.add(StageRow(curRun, curQuery, si.stageId,
          si.name.takeWhile(_ != '\n').take(60), si.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled / 1048576.0,
          m.diskBytesSpilled / 1048576.0,
          m.peakExecutionMemory / 1048576.0))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (r <- 1 to runs; (q, plan) <- queries) {
      spark.sparkContext.setJobGroup(s"$r|$q", s"StageProfile $q run $r")
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try plan(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally spark.sparkContext.clearJobGroup()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async — drain this run's stage events before
      // printing its table (attribution itself is job-group-keyed and
      // does not depend on this)
      Thread.sleep(2000)
      println(f"%n== run $r $q: $sec%.1f s ==")
      println(f"${"stage"}%-7s ${"tasks"}%5s ${"run_s"}%8s ${"cpu_s"}%8s " +
        f"${"sh_rd_MB"}%9s ${"sh_rd_rec"}%10s ${"sh_wr_MB"}%9s " +
        f"${"sh_wr_rec"}%10s ${"spill_mem"}%9s ${"spill_dsk"}%9s " +
        f"${"peak_MB"}%8s  name")
      import scala.jdk.CollectionConverters._
      val mine = rows.asScala.filter(s => s.run == r && s.query == q).toSeq
        .sortBy(-_.runMs)
      mine.foreach { s =>
        println(f"${s.stageId}%-7d ${s.tasks}%5d ${s.runMs / 1000.0}%8.1f " +
          f"${s.cpuMs / 1000.0}%8.1f ${s.shufReadMB}%9.1f " +
          f"${s.shufReadRec}%10d ${s.shufWriteMB}%9.1f " +
          f"${s.shufWriteRec}%10d ${s.memSpillMB}%9.1f " +
          f"${s.diskSpillMB}%9.1f ${s.peakExecMemMB}%8.1f  ${s.name}")
      }
      val totSpillD = mine.map(_.diskSpillMB).sum
      val totSpillM = mine.map(_.memSpillMB).sum
      val totShW = mine.map(_.shufWriteMB).sum
      println(f"totals: shuffle_write=${totShW}%.1f MB " +
        f"spill_mem=${totSpillM}%.1f MB spill_disk=${totSpillD}%.1f MB " +
        f"stages=${mine.size}")
    }
    spark.stop()
  }
}

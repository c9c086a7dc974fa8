package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run (see run.py, which builds
  * the inputs and calls this program). */
final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = kv.get(k)
  def double(k: String): Double = apply(k).toDouble
  def workload: String = apply("workload")
  def seconds: Double = double("seconds")
  def trace: Boolean = apply("trace") == "1"
  def cores: Int = apply("cores").toInt
  def seed: Long = apply("seed").toLong
  def work: String = apply("work")
  def out: String = apply("out")
  def list(k: String): Seq[String] = get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
}

/** What a workload hands back: correctness counts, the end-to-end
  * figures (named as in workloads.json), the per-layer figures of a
  * traced run, and free-form details for the trace file. */
final case class Result(attempted: Long, failed: Long, failures: Seq[String],
                        e2e: Map[String, Double], layers: Map[String, Double],
                        details: Map[String, Any])

/** JVM-wide memory and GC readings. */
object Jvm {
  /** Heap in use after a full collection: what the run still holds. Queued
    * listener events are delivered first. Each collection lets Spark's
    * context cleaner and status-store trimming (both asynchronous) release
    * more, so the reading is the smallest of four collections 250 ms apart. */
  def retainedHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.BenchBus.drain(sc)
    (1 to 4).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(250)
      used
    }.min
  }
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** The JIT compiler threads' scheduler statistics files. run.py starts
    * the JVM with a fixed set of compiler threads, so the set found on
    * first use stays complete; other threads may end while it is listed. */
  private lazy val compilerThreads: Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get("/proc/self/task"))
    try s.iterator().asScala.filter { t =>
      val comm = scala.util.Try(Files.readString(t.resolve("comm")).trim).getOrElse("")
      comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
    }.map(_.resolve("schedstat")).toSeq
    finally s.close()
  }
  /** CPU time of the process without its JIT compiler threads, ms: the
    * program's threads (Spark tasks, the driver, the streaming engine) and
    * GC. Compilation runs on two or three threads beside the program in a
    * fresh JVM, took about two thirds of the process's CPU time in a
    * stream_catchup run, and varies with what the compiler picks up when. */
  def cpuMs: Double = {
    val jitNs = compilerThreads.map(f => Files.readString(f).trim.split(' ')(0).toDouble).sum
    (os.getProcessCpuTime - jitNs) / 1e6
  }
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
}

/** Progress lines on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f] $msg")
}

object PerfBench {
  def session(a: Args, cores: Int): SparkSession = {
    val s = graft.Tuning.engineDefaults(SparkSession.builder())
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    Files.createDirectories(Paths.get(a.work))
    Jvm.cpuMs // finds the compiler threads before Spark starts its own
    val t0 = Clock.now()
    var spark = session(a, a.cores)
    val sessionStartS = (Clock.now() - t0) / 1e3
    Log(s"session started")
    val result =
      try a.workload match {
        case "catalog_tail" | "catalog_iterative" => Catalog.run(spark, a)
        case "stream_catchup" | "stream_live" =>
          Streams.run(spark, a, () => { spark.stop(); spark = session(a, 1); spark })
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    val json = Json(Map(
      "attempted" -> result.attempted, "failed" -> result.failed,
      "failures" -> result.failures.take(50), "e2e" -> result.e2e,
      "layers" -> result.layers,
      "details" -> (result.details + ("session_start_s" -> sessionStartS))))
    Files.writeString(Paths.get(a.out), json)
  }
}

package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The loader contract: `events.ts` is epoch-nanos LongType no matter
  * which physical parquet type the driver's testdata generation used
  * (timestamp[ns] in rounds 1-8, timestamp[us] from round 9). A
  * regeneration of the testdata must never ripple into the 14
  * ts-consuming catalog queries again. The loader's schema cache must
  * keep that contract on a hit and launch no schema-inference job. */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  /** `f`'s result and the Spark jobs it launches from this thread. Its
    * jobs carry a unique job group; the listener bus delivers job starts
    * in order, so once the sentinel job run after `f` arrives, every job
    * of `f` has. */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-${java.util.UUID.randomUUID()}"
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "tables")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      (result, Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map { g => assert(g != null, "sentinel job start never arrived"); g }
        .takeWhile(_ != s"$group-end").count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def writeTable(dir: String, name: String, sql: String): Unit =
    spark.sql(sql).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("driver testdata events.ts loads as epoch-nanos LongType") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    val f = df.schema.fields.find(_.name == "ts").get
    assert(f.dataType == LongType, s"ts is ${f.dataType}")
    // sanity: values are epoch NANOS (year-2000+ data ⇒ > 9.4e17),
    // not micros/millis/seconds
    val mn = df.agg(min(col("ts"))).head().getLong(0)
    assert(mn > 940000000000000000L, s"min ts $mn is not nanos-scale")
  }

  test("a us-precision timestamp ts column normalizes to the same nanos") {
    val tmp = Files.createTempDirectory("graft-tables").toString
    // Spark writes timestamp columns as us-precision parquet (the
    // round-9+ testdata generation); 1700000000.123456s epoch
    spark.sql("SELECT timestamp_micros(1700000000123456) AS ts, 1L AS event_id")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = Tables.events(spark, tmp)
    assert(got.schema("ts").dataType == LongType)
    assert(got.head().getAs[Long]("ts") == 1700000000123456000L)
  }

  test("loader does not leak the NTZ-inference conf to other readers") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.get(key)
    // the first call infers or hits depending on suite order; the second hits
    (1 to 2).foreach { _ =>
      Tables.events(spark, sf)
      assert(spark.conf.get(key) == before,
        s"$key leaked: was $before, now ${spark.conf.get(key)}")
    }
    // and the leak would be observable: a fresh NTZ-typed parquet read
    // outside the loader still infers TIMESTAMP_NTZ (default true)
    if (before == "true") {
      val tmp = Files.createTempDirectory("graft-ntz").toString
      spark.sql("SELECT timestamp_ntz '2024-01-01 00:00:00' AS t")
        .write.mode("overwrite").parquet(s"$tmp/t.parquet")
      assert(spark.read.parquet(s"$tmp/t.parquet").schema("t").dataType
        == org.apache.spark.sql.types.TimestampNTZType)
    }
  }

  test("the epoch-nanos ts rewrite is keyed to the events table only") {
    val tmp = Files.createTempDirectory("graft-tables-other").toString
    spark.sql("SELECT timestamp_micros(1700000000123456) AS ts, 1L AS k")
      .write.mode("overwrite").parquet(s"$tmp/audit.parquet")
    val got = Tables.table(spark, tmp, "audit")
    assert(got.schema("ts").dataType
      == org.apache.spark.sql.types.TimestampType,
      s"non-events ts was rewritten to ${got.schema("ts").dataType}")
  }

  test("tables without a ts column pass through untouched") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    assert(!li.schema.fieldNames.contains("ts"))
    assert(li.count() > 0)
  }

  test("a second load of the same path launches no Spark job and returns an equal schema") {
    val tmp = Files.createTempDirectory("graft-tables-hit").toString
    writeTable(tmp, "audit", "SELECT 1L AS k, 'a' AS v")
    val (first, missJobs) = withJobCount(Tables.table(spark, tmp, "audit").schema)
    val (second, hitJobs) = withJobCount(Tables.table(spark, tmp, "audit").schema)
    assert(missJobs == 1 && hitJobs == 0, s"jobs: miss $missJobs, hit $hitJobs")
    assert(second == first)
  }

  test("events.ts stays epoch-nanos LongType on a cache hit") {
    val tmp = Files.createTempDirectory("graft-tables-ts-hit").toString
    writeTable(tmp, "events", "SELECT timestamp_micros(1700000000123456) AS ts, 1L AS event_id")
    Seq(sf, tmp).foreach { dir =>
      Tables.events(spark, dir)
      val (hit, jobs) = withJobCount(Tables.events(spark, dir))
      assert(jobs == 0)
      assert(hit.schema("ts").dataType == LongType, s"$dir: ts is ${hit.schema("ts").dataType}")
      val mn = hit.agg(min(col("ts"))).head().getLong(0)
      assert(mn > 940000000000000000L, s"$dir: min ts $mn is not nanos-scale")
    }
    assert(Tables.events(spark, tmp).head().getAs[Long]("ts") == 1700000000123456000L)
  }

  test("a rewritten table with a new schema is inferred again") {
    val tmp = Files.createTempDirectory("graft-tables-rewrite").toString
    writeTable(tmp, "audit", "SELECT 1L AS k")
    assert(Tables.table(spark, tmp, "audit").schema.fieldNames.toSeq == Seq("k"))
    writeTable(tmp, "audit", "SELECT 2L AS k, 'b' AS added")
    val got = Tables.table(spark, tmp, "audit")
    assert(got.schema.fieldNames.toSeq == Seq("k", "added"))
    assert(got.head().getAs[String]("added") == "b")
  }

  test("changing a parquet conf misses the cache; the old entry still hits") {
    val tmp = Files.createTempDirectory("graft-tables-conf").toString
    writeTable(tmp, "audit", "SELECT 1L AS k")
    val key = "spark.sql.parquet.binaryAsString"
    // the explicitly set value (getOption would also return a default):
    // the cache keys on set confs, so restoring must unset an unset key
    val prev = spark.conf.getAll.get(key)
    Tables.table(spark, tmp, "audit")
    try {
      spark.conf.set(key, (!spark.conf.get(key).toBoolean).toString)
      assert(withJobCount(Tables.table(spark, tmp, "audit"))._2 == 1)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    assert(withJobCount(Tables.table(spark, tmp, "audit"))._2 == 0)
  }
}

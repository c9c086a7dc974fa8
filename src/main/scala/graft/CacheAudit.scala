package graft

/** Catalog-wide cache-release audit (VERDICT r13 #3's catalog-wide
  * form): run every catalog query, materialize its result, and report
  * any persisted RDDs left registered beyond the one allowance — the
  * eagerly-materialized final (or final iterative round) that the
  * ContextCleaner reclaims when the caller drops the reference (the
  * [[operators.Rounds]] contract). Anything more is a leak the
  * session cache would hold until `clearCache()`: rounds× executor
  * block copies at cluster scale. Prints one line per offender and a
  * summary; exit 1 on any offender (CI-shaped). */
object CacheAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Tuning.localSession()
    val sc = spark.sparkContext
    var offenders = 0
    Queries.all.keys.toSeq.sorted.foreach { name =>
      spark.catalog.clearCache()
      val before = sc.getPersistentRDDs.keySet
      try {
        val res = Queries.all(name)(spark, sfDir)
        res.write.format("noop").mode("overwrite").save()
        val after = sc.getPersistentRDDs.keySet -- before
        // The allowance is not "any one RDD": the single permitted
        // survivor must be blocks the RESULT itself reads — its eager
        // final (LogicalRDD) or a cached relation in its plan. A query
        // returning a lazy plan that leaks one stray .cache() must
        // still flag (ADVICE r15).
        val foreign = after.filterNot(operators.Rounds.ownBlocks(res))
        if (after.size > 1 || foreign.nonEmpty) {
          offenders += 1
          println(s"""{"q":"$name","leaked_rdds":${after.size},"foreign_rdds":${foreign.size}}""")
        }
      } catch { case scala.util.control.NonFatal(e) =>
        offenders += 1
        println(s"""{"q":"$name","error":"${e.getClass.getSimpleName}"}""")
      }
    }
    println(s"""{"metric":"cache_audit_offenders","value":$offenders,"n_queries":${Queries.all.size},"sf":"$sfDir"}""")
    spark.stop()
    if (offenders > 0) sys.exit(1)
  }
}

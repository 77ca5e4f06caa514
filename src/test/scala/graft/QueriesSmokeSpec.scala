package graft

/** Every declared query must execute at sf0.001 (the oracle hash-match
  * itself is the driver's t2 gate; this is the in-repo smoke). */
class QueriesSmokeSpec extends SparkSpec {

  Queries.all.foreach { q =>
    test(s"query ${q.name} executes and has a schema") {
      val df = q.run(spark, sf001)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      assert(q.oracle.forall(_.trim.toLowerCase.startsWith("select") ||
        q.oracle.get.trim.toLowerCase.startsWith("with")))
    }
  }

  /** Queries that still run Spark jobs while their DataFrame is being
    * built, with the reason. Every other query whose `eagerPlan` is false
    * must build without running one; a query that stops running build
    * jobs must leave this list. */
  private val buildJobsAllowed: Map[String, String] = Map(
    "bloom_semi_join" -> "BloomJoin.bloomFilterFor collects the sketch the probe filter embeds",
    "x1_cross_corpus_bloom" -> "BloomJoin.bloomFilterFor collects the reference fingerprints' sketch",
    "a_mad_outliers" -> "AggOps.exactQuantiles: each refine level is gated on a count",
    "s3_winsorize" -> "AggOps.exactQuantiles: each refine level is gated on a count",
    "x5_approx_quantile" -> "AggOps.exactQuantiles: each refine level is gated on a count",
    "x1_containment_pairs" -> "Dedup.containmentPairs counts the cached candidates to size the verify",
    "x1_edit_distance_join" -> "Dedup.editDistancePairs counts the cached keys to size the verify",
    "x1_edit_join_topk" -> "Dedup.editDistancePairs counts the cached keys to size the verify",
    "x1_edit_join_capped" -> "Dedup.editDistancePairs counts the cached keys to size the verify",
    "x1_edit_topk_capped" -> "Dedup.editDistancePairs counts the cached keys to size the verify")

  test("building a lazy query runs no Spark job outside the allow-list") {
    import org.apache.spark.sql.GraftPlanBridge
    val sc = spark.sparkContext
    val jobs = new tools.Probe.Jobs
    sc.addSparkListener(jobs)
    val built = try Queries.all.filterNot(_.eagerPlan).map { q =>
      Engine.isolate(spark)
      GraftPlanBridge.drainListeners(sc)
      jobs.reset()
      val t0 = System.currentTimeMillis()
      q.run(spark, sf001)
      val t1 = System.currentTimeMillis()
      GraftPlanBridge.drainListeners(sc)
      q.name -> jobs.run(t0, t1).jobs
    } finally {
      sc.removeSparkListener(jobs)
      Engine.isolate(spark)
    }
    val running = built.filter(_._2 > 0).toMap
    info(s"${built.length} lazy queries built; build jobs: $running")
    assert(running.keySet == buildJobsAllowed.keySet,
      s"unlisted: ${running.keySet -- buildJobsAllowed.keySet}, " +
        s"no longer running jobs: ${buildJobsAllowed.keySet -- running.keySet}")
  }

  test("flagship entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys with matching names") {
    val qk = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qk))
  }
}

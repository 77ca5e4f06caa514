package graft.tools

/** Dev-only arg-driven profiler.
  *
  * Usage: runMain graft.tools.Profile <mode>
  * (engine profile at SPARK_GRAFT_CPUS cores; per-query timings are
  * `graft.tools.Probe`'s)
  *   entry      — the driver's t1 smoke (SparkEntry.entry rows>0)
  *   explain    — formatted physical plan of one declared query
  *                (runMain graft.tools.Profile explain <query> [sfDir])
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("entry")
    val spark = graft.Engine.session()
    mode match {
      case "entry" =>
        val df = graft.SparkEntry.entry(spark)
        df.show(5, 40)
        println(s"entry rows = ${df.count()}")
      case "explain" | "explainExec" =>
        val name = args.lift(1).getOrElse(sys.error("explain needs a query name"))
        val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
        val q = graft.Queries.all.find(_.name == name)
          .getOrElse(sys.error(s"no query named '$name'"))
        val df = q.run(spark, sfDir)
        df.explain("formatted")
        if (mode == "explainExec") {
          // execute THIS queryExecution (a noop write would plan its own),
          // then print the final adaptive plan — AQE-time effects
          // (ReusedExchange, runtime join strategy switches) only show here
          df.collect()
          println(df.queryExecution.executedPlan.toString)
        }
      case other => sys.error(s"unknown mode '$other' (entry|explain|explainExec)")
    }
    spark.stop()
  }
}

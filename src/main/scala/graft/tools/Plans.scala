package graft.tools

/** Dev-only: dump formatted physical plans for selected queries to spot
  * missing pushdown/pruning/broadcast before they cost anything at scale. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session()
    // r22: overridable — gated operators (exactQuantiles' lazy levels)
    // produce DIFFERENT plan shapes per data scale; the quantile-family
    // plan dumps need the sf0.1 bucket-path shape, not just sf0.001's
    // all-small fast path.
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSet
      else Set("s1_ingest_transitions", "join_star_revenue", "x2_similarity_topk",
        "j1_deterministic_sample", "w1_discounted_return", "x1_exact_dedup")
    graft.Queries.all.filter(q => names(q.name)).foreach { q =>
      println(s"\n========== ${q.name} ==========")
      q.run(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops._
import graft.sources.Tables

/** Dev-only arg-driven profiler (consolidates the round 3-5 one-off
  * Profile2/3/4 + Scratch probes).
  *
  * Usage: runMain graft.tools.Profile <mode> [sfDir]
  * (engine profile at SPARK_GRAFT_CPUS cores; per-query timings are
  * `graft.tools.Probe`'s)
  *   minhash    — stage timings of the minhash/LSH pipeline
  *   simhash    — stage timings of simhash fingerprints + banded pairs
  *   components — per-round timings of distributed connected components
  *   entry      — the driver's t1 smoke (SparkEntry.entry rows>0)
  *   explain    — formatted physical plan of one declared query
  *                (runMain graft.tools.Profile explain <query> [sfDir])
  */
object Profile {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("entry")
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Engine.session()
    mode match {
      case "minhash"    => minhash(spark, dir)
      case "simhash"    => simhash(spark, dir)
      case "components" => components(spark, dir)
      case "entry"      => entry(spark)
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
      case other => sys.error(s"unknown mode '$other' (minhash|simhash|components|entry|explain|explainExec)")
    }
    spark.stop()
  }

  private def minhash(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    time("docs.count")(docs.count())
    val sets = Dedup.docShingleSets(docs, "doc_id", "text").cache()
    time("shingle sets (cache)")(sets.count())
    time("shingle explode")(sets.select(explode(col("toks"))).count())
    time("signatures")(Dedup.minhashSignatures(docs, "doc_id", "text").count())
    time("lsh pairs")(Dedup.minhashLshPairs(docs, "doc_id", "text").count())
    time("lsh pairs x2")(Dedup.minhashLshPairs(docs, "doc_id", "text").count())
  }

  private def simhash(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val sets = Dedup.docShingleSets(docs, "doc_id", "text").cache()
    time("shingle sets (cache)")(sets.count())
    val sig = Dedup.simhashFromSets(sets, 48).cache()
    time("48-bit fingerprints")(sig.count())
    val bandBits = 12; val mask = (1L << bandBits) - 1L
    val bands = (0 until 4).map { b =>
      sig.select(col("doc_id"), col("simhash"), lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask)).as("bucket"))
    }.reduce(_ unionAll _)
    time("bands")(bands.count())
    val joined = bands.as("l").join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket"))
      .where(col("l.doc_id") < col("r.doc_id"))
    time("bucket join raw pairs")(println("  raw pairs: " + joined.count()))
    time("full simhashPairs")(
      Dedup.simhashPairs(docs, "doc_id", "text", 48, 4, 3).count())
    time("full simhashPairs x2")(
      Dedup.simhashPairs(docs, "doc_id", "text", 48, 4, 3).count())
  }

  private def components(spark: SparkSession, dir: String): Unit = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 8, r = 4, estMin = 0.75, threshold = 0.8)
    time("pairs")(println("  pairs: " + pairs.count()))
    // per-round instrumentation of the distributed min-label path
    val fwd = pairs.select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    time("edges")(println("  edges: " + edges.count()))
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).cache()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < 20) {
      val viaNeighbors = edges
        .join(labels.select(col("id").as("src"), col("component")), "src")
        .select(col("dst").as("id"), col("component"))
      val jumped = labels
        .join(labels.select(col("id").as("component"), col("component").as("__j")),
          "component")
        .select(col("id"), col("__j").as("component"))
      val next = labels.unionAll(viaNeighbors).unionAll(jumped)
        .groupBy(col("id")).agg(min(col("component")).as("component")).cache()
      changed = time(s"round $it") {
        next.join(labels.select(col("id"), col("component").as("__old")), "id")
          .where(col("component") =!= col("__old")).count()
      }
      println(s"  changed: $changed")
      labels.unpersist()
      labels = next
      it += 1
    }
  }

  private def entry(spark: SparkSession): Unit = {
    val df = graft.SparkEntry.entry(spark)
    df.show(5, 40)
    println(s"entry rows = ${df.count()}")
  }
}

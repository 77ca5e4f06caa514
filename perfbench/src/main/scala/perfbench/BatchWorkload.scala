package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftPlanBridge
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions._
import graft.sources.Tables

/** The batch workloads: registered queries run in the order `run.py`
  * passes, in whole passes, each isolated the way `graft.Bench` isolates
  * them and forced through the noop sink. */
object BatchWorkload {
  /** The query names, in run order, from `args.json`. */
  def names(args: Map[String, Any]): Seq[String] = args("queries").toString.split(",").toSeq

  /** Bench's per-query isolation: drop cached plans and RDD persistence. */
  def isolate(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over `names`. With a tracer, the leftover cached MiB after
    * each query's isolation is recorded too. */
  def pass(spark: SparkSession, names: Seq[String], dir: String,
           tracer: Option[Tracer]): Seq[Map[String, Any]] = {
    val queries = SparkEntry.queries
    names.map { name =>
      isolate(spark)
      val leftover = tracer.map { t => t.drain(); t.cachedMb }
      val t0 = Clock.now()
      var built = t0
      val error = try {
        val df = queries(name)(spark, dir)
        built = Clock.now()
        tracer.foreach(_.record(df.queryExecution, Set("analysis")))
        force(df)
        null
      } catch {
        case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      val t1 = Clock.now()
      Map("name" -> name, "start" -> t0, "built" -> built, "end" -> t1,
        "error" -> error) ++ leftover.map("leftover_mb" -> _)
    }
  }

  def run(spark: SparkSession, args: Map[String, Any],
          out: mutable.Map[String, Any]): Unit = {
    val dir = args("data_dir").toString
    val names = this.names(args)
    val traced = args("trace") == 1
    val passes = mutable.ArrayBuffer.tabulate(args("passes").asInstanceOf[Int])(
      _ => pass(spark, names, dir, None))
    if (traced) {
      val tracer = new Tracer(spark)
      tracer.attach()
      out("traced_pass") = pass(spark, names, dir, Some(tracer))
      isolate(spark)
      tracer.detach()
      // one more untraced pass, so the untraced passes bracket the traced one
      passes += pass(spark, names, dir, None)
      out("trace") = tracer.toJson
      out("kernels") = kernels(spark, dir)
      out("sources") = sources(spark, dir)
    }
    out("passes") = passes.toList
    isolate(spark)
  }

  /** The output check, run before any timing: each result dumped with
    * graft.Verify for the DuckDB oracle. Verify stops the session when it
    * is done. */
  def check(args: Map[String, Any]): Unit =
    graft.Verify.main((Seq(args("data_dir").toString, args("verify_dump").toString)
      ++ names(args)).toArray)

  /** Rows per second of each of the engine's 15 codegen kernels, applied
    * to a cached text or vector column of the workload's data. Each
    * input is replicated to at least `MinRows` rows so the kernel, not
    * job start-up, dominates the timing. */
  private val MinRows = 40000L

  def kernels(spark: SparkSession, dir: String): Map[String, Any] = {
    def replicated(df: DataFrame): DataFrame = {
      val n = math.max(1L, df.count())
      val copies = math.max(1L, (MinRows + n - 1) / n)
      val r = df.crossJoin(spark.range(copies).withColumnRenamed("id", "__copy"))
        .drop("__copy").cache()
      r.count()
      r
    }
    val text = replicated(Tables.documents(spark, dir).select(col("text")))
    val vecs = replicated(Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("v")))
    val sample = vecs.limit(16).collect().map(_.getSeq[Double](0))
    val cells = array(sample.zipWithIndex.map { case (v, i) =>
      struct(lit(i.toLong).as("cell"), typedLit(v).as("cv"))
    }.toIndexedSeq: _*)
    val refs = typedLit(sample.toSeq)
    def e(c: Column) = GraftPlanBridge.expression(c)
    val t = e(col("text"))
    val v = e(col("v"))
    val suite: Seq[(String, DataFrame, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
      ("graft_tokens", text, TokenizeWords(t)),
      ("graft_shingles", text, WordShingles(t, 3)),
      ("graft_text_stats", text, TextStatsExpr(t)),
      ("graft_gram_hashes", text, WordGramHashes(t, 8)),
      ("graft_nfc", text, NfcNormalize(t)),
      ("graft_strip_accents", text, StripAccents(t)),
      ("graft_cdc_cuts", text, CdcCuts(t, 8, 31L, 64L)),
      // Ed-Join applies it to short keys, not whole documents
      ("graft_pos_qgrams", text, PositionalQGrams(e(substring(col("text"), 1, 32)), 3)),
      ("graft_bracket", text, BracketChunks(t, 4)),
      ("graft_dot", vecs, DotProductD(v, e(reverse(col("v"))))),
      ("graft_norm2", vecs, SquaredNormD(v)),
      ("graft_dense", vecs, DenseElements(v)),
      ("graft_sign_lsh", vecs, SignLshBucket(v, 8)),
      ("graft_nearest_cell", vecs, NearestCell(v, e(cells))),
      ("graft_max_cosine", vecs, MaxCosine(v, e(refs))))
    val rows = Map(text -> text.count(), vecs -> vecs.count())
    val res = suite.map { case (name, df, expr) =>
      val q = df.select(GraftPlanBridge.column(expr).as("k"))
      val times = (1 to 3).map { _ =>
        val s = Clock.now(); force(q); Clock.now() - s
      }.sorted
      name -> Map("rows" -> rows(df), "seconds" -> times(1))
    }.toMap
    text.unpersist(); vecs.unpersist()
    res
  }

  /** Seconds to force each `sources.Tables` loader through the noop sink. */
  def sources(spark: SparkSession, dir: String): Map[String, Any] = {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    loaders.map { case (name, load) =>
      val s = Clock.now(); force(load(spark, dir)); name -> (Clock.now() - s)
    }.toMap
  }
}

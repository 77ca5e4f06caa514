package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}

import graft.sources.Parquet

/** Dev tool: materialize an N× replica of a testdata scale-factor dir
  * with CONSISTENT key shifts — every join key (primary and foreign)
  * moves by the same `copy · span`, so each copy joins exactly its own
  * copy and join hit-rates/selectivities match the source corpus. Used
  * for off-anchor bench points (e.g. a 3× sf0.1 ≈ sf0.3 sweep) where no
  * generated parquet exists.
  *
  * `span` is divisible by 33600 = lcm(64, 48, 80, 60, 100, 7, 10), the
  * small moduli the query surface derives features from (`doc_id % 64`
  * image widths, `% 10` eval stripes, …), so id-derived distributions
  * are IDENTICAL per copy instead of drifting with the shift.
  *
  * Duplicate-rate control (arg 5, `dupRate`, default 1.0 = legacy
  * verbatim replication): with dupRate < 1, each REPLICA document
  * (copy ≥ 1) is kept as an exact duplicate with probability `dupRate`
  * (deterministic xxhash64 coin on (doc_id, copy)) and otherwise
  * perturbed — ~1 in 4 text tokens gets a deterministic single-char
  * suffix (breaking most shingles, so MinHash/SimHash stop seeing a
  * clique) and every embedding dimension gets a deterministic ±0.05
  * jitter (breaking cosine≈1). The corpus then carries a KNOWN,
  * configurable duplicate fraction of (n−1)·dupRate/n instead of the
  * worst-case (n−1)/n exact-clique shape verbatim replication produces
  * (see BASELINE.md's sf0.3 r12 caveat). All noise is keyed on
  * (doc_id/vec_id, copy, position) — re-runs are bit-identical. */
object MakeScaled {
  private val keyCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_nationkey"),
    "supplier" -> Seq("s_suppkey", "s_nationkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Deterministic keep-as-exact-duplicate coin for a replica row. */
  private def dupCoin(id: Column, copy: Int, dupRate: Double): Column =
    pmod(xxhash64(id, lit(copy)), lit(10000)) < lit((dupRate * 10000).toInt)

  /** ~25 % of tokens get a deterministic single-char suffix: enough to
    * break most 8-gram shingles while leaving the text realistic. */
  private def perturbText(id: Column, copy: Int, text: Column): Column =
    array_join(transform(split(text, " "), (t, i) =>
      when(pmod(xxhash64(id, lit(copy), i), lit(4)) === 0,
        concat(t, chr(lit(97) + pmod(xxhash64(id, lit(copy), i, t), lit(26)))))
        .otherwise(t)), " ")

  /** Deterministic per-dimension jitter in (−0.05, 0.05). */
  private def perturbVec(id: Column, copy: Int, vec: Column,
                         elemType: org.apache.spark.sql.types.DataType): Column =
    transform(vec, (x, i) => (x.cast("double") +
      (pmod(xxhash64(id, lit(copy), i), lit(1000)).cast("double") / lit(1000.0)
        - lit(0.5)) * lit(0.1)).cast(elemType))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val n = args.lift(2).map(_.toInt).getOrElse(3)
    val span = args.lift(3).map(_.toLong).getOrElse(33600000L)
    val dupRate = args.lift(4).map(_.toDouble).getOrElse(1.0)
    require(dupRate >= 0.0 && dupRate <= 1.0, s"dupRate $dupRate outside [0,1]")
    val spark = graft.Engine.session()
    keyCols.foreach { case (table, keys) =>
      val src = Parquet.read(spark, s"$srcDir/$table.parquet")
      // int32 key columns: the largest shift must leave half the int
      // range for the original ids, or the cast back silently wraps
      keys.foreach { k =>
        val narrow = src.schema(k).dataType == IntegerType
        require(!narrow || (n - 1).toLong * span <= Int.MaxValue / 2,
          s"key shift ${(n - 1).toLong * span} would overflow int32 column $k " +
            "— lower n or span, or widen the column")
      }
      val shifted: DataFrame = (0 until n).map { c =>
        val base = keys.foldLeft(src)((d, k) =>
          d.withColumn(k, (col(k).cast("long") + lit(c * span)).cast(src.schema(k).dataType)))
        if (c == 0 || dupRate >= 1.0) base
        else table match {
          case "documents" =>
            // the coin keys on the SOURCE id (shift-invariant) so the
            // same original doc flips the same way in every run
            val srcId = col("doc_id").cast("long") - lit(c * span)
            base.withColumn("text", when(dupCoin(srcId, c, dupRate), col("text"))
              .otherwise(perturbText(srcId, c, col("text"))))
          case "embeddings" =>
            val srcId = col("vec_id").cast("long") - lit(c * span)
            val elemType = src.schema("embedding").dataType
              .asInstanceOf[ArrayType].elementType
            base.withColumn("embedding",
              when(dupCoin(srcId, c, dupRate), col("embedding"))
                .otherwise(perturbVec(srcId, c, col("embedding"), elemType)))
          case _ => base
        }
      }.reduce(_ unionAll _)
      shifted.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[make-scaled] $table x$n dupRate=$dupRate -> $outDir/$table.parquet")
    }
    spark.stop()
  }
}

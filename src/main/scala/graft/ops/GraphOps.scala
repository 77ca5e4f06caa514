package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators over event-derived transition graphs (X8): the
  * importance-ranking pass a large-scale data pipeline runs over its
  * domain/link/interaction graph — here PageRank over the per-user
  * state-transition graph (the ItemRank shape: rank catalog states by
  * session flows), with the iteration loop expressed as k unrolled
  * join+aggregate rounds, the same bounded-lineage discipline as the
  * k-step training loop.
  *
  * Scale design: the per-node frames (ranks, out-weights, dangling set)
  * are NODE-cardinality — they shuffle on node id and are never collected
  * or broadcast (nodes can be web-scale). The only broadcasts are
  * one-row scalars (node count, dangling mass). Each iteration is one
  * keyed join (edges ⋈ ranks on src, shuffle on src) and one groupBy
  * (dst) with map-side partials; each iteration's rank vector is
  * materialized via eager localCheckpoint, so plan size and execution
  * stay linear in k (a lazy unroll would double both per iteration —
  * rₜ feeds the dangling-mass scalar AND the contribution join).
  *
  * Determinism: per-node in-sums are engine-order-dependent float
  * aggregates, so every iteration RE-SYNCHRONIZES by rounding ranks at
  * `roundDigits` (the PCA power-iteration contract — after each round
  * both engines hold bit-identical rank vectors, so divergence cannot
  * compound; boundary risk per node·iteration ~1e−16/1e−`roundDigits`). */
object GraphOps {

  /** Shared edge prep for the iterative ops: project (src, dst, w) and
    * DROP null-endpoint edges — a NULL state is an ingest gap (e.g. a
    * `props` payload missing the key), not a graph node. Dropping them
    * here is also the engine-parity guard: the DuckDB oracles filter
    * `src IS NOT NULL` in their edge CTE and compute the dangling set
    * with `NOT EXISTS`, so neither engine ever runs a three-valued
    * `NOT IN` membership test over a NULL src (which silently empties
    * the dangling set while the anti-join side still treats the NULL
    * node as dangling). */
  private def dropNullEdges(edges: DataFrame): DataFrame =
    edges.where(col("src").isNotNull && col("dst").isNotNull)

  private def prepEdges(edges: DataFrame): DataFrame =
    dropNullEdges(edges)
      .select(col("src"), col("dst"), col("weight").cast("double").as("w"))

  /** Consecutive-state transition edges per session key: order each
    * user's events by `orderCols`, pair each state with its successor
    * (`lead` window), count multiplicity. Output: (src, dst, weight) —
    * the weighted directed graph. Self-loops are real transitions and
    * are kept. One window partitioned by user (bounded per-user rows),
    * one counting groupBy — both shuffles keyed, nothing broadcast. */
  def transitionEdges(events: DataFrame, userCol: String,
                      orderCols: Seq[Column], state: Column): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(orderCols: _*)
    events.select(Seq(col(userCol), state.as("src")) ++ orderCols: _*)
      .withColumn("dst", lead(col("src"), 1).over(w))
      .where(col("dst").isNotNull)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
  }

  /** X8 — top-k session paths: the most frequent n-step state sequences
    * (funnel/path mining, the event-analytics sibling of the transition
    * graph — where [[transitionEdges]] keeps 1-step pairs, this keeps
    * the full n-gram of the journey). One user-partitioned window
    * produces all n−1 leads; incomplete tails (fewer than n further
    * events) are dropped, not padded. Top-k via TakeOrdered (count desc,
    * path asc) — no global sort. */
  def topPaths(events: DataFrame, userCol: String, orderCols: Seq[Column],
               state: Column, n: Int = 3, topK: Int = 20): DataFrame = {
    require(n >= 2, "a path needs at least 2 steps")
    val w = Window.partitionBy(col(userCol)).orderBy(orderCols: _*)
    val base = events.select(Seq(col(userCol), state.cast("string").as("s0"))
      ++ orderCols: _*)
    val steps = (1 until n).map(i => lead(col("s0"), i).over(w))
    base.select(concat_ws(">", col("s0") +: steps: _*).as("path"),
        steps.last.isNotNull.as("__full"))
      .where(col("__full"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(topK)
  }

  /** Weighted PageRank with uniform teleport and dangling-mass
    * redistribution, k unrolled iterations:
    *
    *   r₀(v)    = 1/N
    *   dmₜ      = Σ_{dangling u} rₜ(u) / N
    *   rₜ₊₁(v) = round( (1−β)/N + β·(Σ_{u→v} w(u,v)/out(u)·rₜ(u) + dmₜ) )
    *
    * Edges: (src, dst, weight). Output: (node, rank); rank values carry
    * the per-iteration rounding, so ordering by (rank desc, node) is
    * engine-stable. */
  def pagerank(edges: DataFrame, beta: Double = 0.85, iters: Int = 5,
               roundDigits: Int = 8,
               caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    // the static graph frames are read every iteration — cache once
    // (session-lifetime, the dedup-family default; a long-lived service
    // unpersists after materializing)
    val e = caches.track(prepEdges(edges))
    val nodes = caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
    val outw = caches.track(e.groupBy(col("src")).agg(sum(col("w")).as("ow")))
    // loop-invariant: every iteration's dangling-mass aggregate reads this
    // anti-join — cache it once instead of re-deriving nodes⋈outw 5× (r21)
    val dangling = caches.track(nodes.join(outw.select(col("src").as("node")),
      Seq("node"), "left_anti"))
    val r0 = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    (1 to iters).foldLeft(r0) { (ranks, _) =>
      val dm = dangling.join(ranks, Seq("node"))
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dsum"))
        .crossJoin(broadcast(nn))
        .select((col("dsum") / col("n")).as("dm"))
      val contrib = e.join(outw, Seq("src")).join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") / col("ow") * col("r")).as("insum"))
      // eager localCheckpoint: each iteration references rₜ TWICE
      // (dangling mass + contributions), so a lazy unroll doubles the
      // plan per iteration (2^k subtrees — the blow-up the BPE scaladoc
      // warns about); materializing rₜ₊₁ keeps plan size and execution
      // linear in k — the GraphX iteration discipline and the
      // e2e_train_kstep bounded-lineage contract
      val next = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dm)).crossJoin(broadcast(nn))
        .select(col("node"),
          pr(lit(1.0 - beta) / col("n")
            + lit(beta) * (coalesce(col("insum"), lit(0.0)) + col("dm"))).as("r"))
      next.localCheckpoint(eager = true)
    }.select(col("node"), col("r").as("rank"))
  }

  /** X8 — HITS hubs & authorities (Kleinberg 1999), k unrolled
    * iterations, max-normalized:
    *
    *   h₀(v)    = 1
    *   aₜ(v)    = round( (Σ_{u→v} w·hₜ₋₁(u)) / max_v Σ w·hₜ₋₁ )
    *   hₜ(u)    = round( (Σ_{u→v} w·aₜ(v)) / max_u Σ w·aₜ )
    *
    * Max normalization instead of the textbook L2/L1: the max of a
    * column is ORDER-EXACT (no float-sum reassociation), so the
    * normalizer is the identical double on any engine, and the scores it
    * yields are scale-equivalent to the normalized fixed point (HITS
    * ranks are invariant to the normalizer choice). Nodes with no
    * in-edges hold authority 0; no out-edges ⇒ hub 0.
    *
    * Same scale/lineage discipline as [[pagerank]]: edge-keyed shuffled
    * aggregations, one-row max broadcasts, per-iteration rounding +
    * eager localCheckpoint (each iteration reads hₜ₋₁ once and aₜ twice
    * — normalization and the hub step — so a lazy unroll compounds).
    * Output: (node, hub, authority). */
  def hits(edges: DataFrame, iters: Int = 5, roundDigits: Int = 8,
           caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    val e = caches.track(prepEdges(edges))
    val nodes = caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val h0 = nodes.select(col("node"), lit(1.0).as("h"))
    val (hK, aK) = (1 to iters).foldLeft((h0, h0.select(col("node"),
        lit(0.0).as("a")))) { case ((h, _), _) =>
      // araw/hraw are each referenced TWICE (the max normalizer's scalar
      // subtree and the normalize join) — uncached, the edge-keyed
      // aggregate ran once per reference, doubling every iteration's
      // edge-scan work (r21; same rationale as the dedup family's
      // signature caches, and it also pins one evaluation's partial-sum
      // order for both consumers)
      val araw = caches.track(
        e.join(h.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("w") * col("h")).as("araw")))
      val amax = araw.agg(max(col("araw")).as("am"))
      val a = nodes.join(araw, Seq("node"), "left")
        .crossJoin(broadcast(amax))
        .select(col("node"),
          pr(coalesce(col("araw"), lit(0.0)) / col("am")).as("a"))
        .localCheckpoint(eager = true)
      val hraw = caches.track(
        e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node"))
          .agg(sum(col("w") * col("a")).as("hraw")))
      val hmax = hraw.agg(max(col("hraw")).as("hm"))
      val hNext = nodes.join(hraw, Seq("node"), "left")
        .crossJoin(broadcast(hmax))
        .select(col("node"),
          pr(coalesce(col("hraw"), lit(0.0)) / col("hm")).as("h"))
        .localCheckpoint(eager = true)
      (hNext, a)
    }
    hK.join(aK, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** X8 — multi-source BFS hop distance: the minimum number of directed
    * edges from ANY seed node to each node (distance-to/from-conversion
    * analyses; seeds is a one-column (node) frame, joined, never
    * collected). k unrolled Bellman-Ford rounds with unit edge cost:
    *
    *   d₀(v)    = 0 if v ∈ S else ∞ (absent)
    *   dₜ₊₁(v) = min(dₜ(v), 1 + min_{u→v} dₜ(u))
    *
    * After k rounds dₜ(v) is exact for every node within k hops;
    * unreachable-within-k nodes report NULL. All-integer arithmetic —
    * exact engine parity, no rounding discipline. Same bounded-lineage
    * iteration as [[pagerank]] (per-round localCheckpoint: each round
    * reads dₜ twice — keep + relax). Output: (node, hops). */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int = 5,
                   caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    // unweighted op — edge frames without a weight column are legal here
    val e = caches.track(dropNullEdges(edges)
      .select(col("src"), col("dst")).distinct())
    val nodes = caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val d0 = nodes.join(seeds.select(col("node")), Seq("node"), "left_semi")
      .select(col("node"), lit(0L).as("hops"))
    val dK = (1 to maxHops).foldLeft(d0) { (d, _) =>
      val relaxed = e.join(d.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg((min(col("hops")) + lit(1L)).as("relax"))
      val next = d.join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("hops"), col("relax")),
            coalesce(col("relax"), col("hops"))).as("hops"))
      next.localCheckpoint(eager = true)
    }
    nodes.join(dK, Seq("node"), "left")
      .select(col("node"), col("hops"))
  }

  /** X8 — per-node triangle counts over the undirected simple graph
    * (self-loops dropped, parallel edges collapsed, weights ignored).
    * The local clustering signal: how interlinked a node's neighborhood
    * is.
    *
    * Scale shape — the degree-ordered orientation (Schank/Wagner; the
    * standard MapReduce/GraphX formulation): orient every edge from the
    * (degree, id)-smaller endpoint to the larger, making the graph a DAG
    * where every node's OUT-degree is O(√m) regardless of its real
    * degree. Wedges are generated only between out-neighbors of a common
    * pivot, so a degree-10⁷ hub (every crawl graph has one) contributes
    * wedges bounded by its out-degree, not its degree squared — without
    * the orientation, the wedge self-join on a skewed key is the
    * quadratic blow-up. Each triangle has exactly one pivot (its
    * order-minimal node) and survives the closing-edge join exactly once
    * — so the count is exact, not sampled. All-integer arithmetic: no
    * rounding discipline needed for engine parity. */
  def triangleCounts(edges: DataFrame,
                     caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val und = caches.track(dropNullEdges(edges)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    val nodes = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node"))).distinct()
    // tracked (r21): referenced twice (a-side and b-side orientation
    // joins) — uncached, the corpus-wide degree aggregate ran twice
    val deg = caches.track(und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val oriented = caches.track(und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(col("da") < col("db")
          || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") =!= col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    // both (u,v,w) and (u,w,v) wedges are generated; only the one whose
    // (y,z) matches the closing edge's orientation joins — each triangle
    // lands exactly once, no double-count filter needed
    val tris = wedges.join(oriented.select(col("u").as("y"), col("v").as("z")),
      Seq("y", "z"))
    val corners = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** X8 — PERSONALIZED PageRank: teleport (and dangling mass) flow to a
    * seed set instead of uniformly, so ranks measure proximity to the
    * seeds — the related-items / topic-affinity ranking
    * (random-walk-with-restart). Recurrence per iteration:
    *
    *   tp(v)   = 1/|S| if v ∈ S else 0        (the teleport vector)
    *   r₀      = tp
    *   rₜ₊₁(v) = round( (1−β)·tp(v) + β·(Σ_{u→v} w/out·rₜ(u) + dmₜ·tp(v)) )
    *
    * Same scale/lineage discipline as [[pagerank]]: node-keyed frames,
    * one-row scalar broadcasts, eager per-iteration localCheckpoint,
    * per-iteration rounding for engine re-synchronization. `seeds` is a
    * one-column (node) frame; it joins the node table (never collected),
    * so web-scale seed sets are fine. */
  def pagerankPersonalized(edges: DataFrame, seeds: DataFrame,
                           beta: Double = 0.85, iters: Int = 5,
                           roundDigits: Int = 8,
                           caches: DedupCaches = DedupCaches.unmanaged): DataFrame = {
    val s = math.pow(10.0, roundDigits)
    def pr(c: Column): Column = floor(c * lit(s) + lit(0.5)) / lit(s)
    val e = caches.track(prepEdges(edges))
    val nodes = caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val outw = caches.track(e.groupBy(col("src")).agg(sum(col("w")).as("ow")))
    // loop-invariant, read every iteration — cached (see pagerank, r21)
    val dangling = caches.track(nodes.join(outw.select(col("src").as("node")),
      Seq("node"), "left_anti"))
    val seedNodes = nodes.join(seeds.select(col("node")), Seq("node"), "left_semi")
    val ns = seedNodes.agg(count(lit(1)).cast("double").as("n_seeds"))
    val tp = caches.track(nodes
      .join(seedNodes.select(col("node"), lit(true).as("__s")), Seq("node"), "left")
      .crossJoin(broadcast(ns))
      .select(col("node"),
        when(col("__s"), lit(1.0) / col("n_seeds")).otherwise(lit(0.0)).as("tp")))
    val r0 = tp.select(col("node"), col("tp").as("r"))
    (1 to iters).foldLeft(r0) { (ranks, _) =>
      val dm = dangling.join(ranks, Seq("node"))
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dmt"))
      val contrib = e.join(outw, Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("w") / col("ow") * col("r")).as("insum"))
      val next = tp.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(dm))
        .select(col("node"),
          pr(lit(1.0 - beta) * col("tp")
            + lit(beta) * (coalesce(col("insum"), lit(0.0))
              + col("dmt") * col("tp"))).as("r"))
      next.localCheckpoint(eager = true)
    }.select(col("node"), col("r").as("rank"))
  }
}

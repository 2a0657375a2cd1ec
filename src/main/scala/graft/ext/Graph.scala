package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over relational edge lists — the corpus/curation graphs
  * this engine already produces (near-dup pair graphs from [[Dedup]],
  * entity bipartite graphs from the lake tables) ranked and counted
  * without a graph framework: every step is a keyed join or groupBy, so
  * Catalyst plans it like any other query and the DuckDB oracle replays
  * it exactly.
  *
  * Determinism: PageRank runs in exact integer MICROS with floor division
  * (`div`) — bit-identical across engines, no floating-point drift, no
  * convergence test (fixed iteration count; callers pick the depth).
  */
object Graph {

  /** Fixed-iteration PageRank in integer micros over DIRECTED edges
    * `(src, dst)`. Every vertex starts at 10^6; each round a vertex keeps
    * the teleport share (1000−d)‰ of 10^6 and receives d‰ of the floor-
    * split contributions `pr div outdeg` of its in-neighbors.
    *
    * Dangling vertices (no out-edges): by default they leak their mass —
    * the standard simplification; ranks stay comparable, totals are not
    * conserved. With `redistributeDangling` their pooled mass is split
    * uniformly (floor division by |V|) into every vertex's damped share
    * each round — totals are then conserved up to per-vertex floor losses.
    * The flag costs one |V| count up front (driver scalar, computed once)
    * plus a per-round broadcast scalar aggregate over the dangling set.
    *
    * Scale shape: each round is ONE src-keyed join (pr ⋈ edges ⋈ outdeg)
    * + one dst-keyed groupBy — shuffles keyed on vertex ids, partition-even
    * for real graphs after AQE skew splitting. Each round's TREE embeds the
    * edge subplan (twice: contrib join + outdeg), so deep runs would pay
    * O(iters²) re-analysis of the edge pipeline; past `checkpointEvery`
    * iterations the inputs and every k-th label frame are LOCAL-CHECKPOINTED
    * (the [[Components.labelPropagate]] cure — flat per-round plans at the
    * cost of recomputability: an executor loss fails the job; use reliable
    * checkpoint() on a cluster where that trade matters). The checkpoints
    * are leased: [[CacheLease.releaseAll]] frees them once the result is
    * materialized. Shallow ranking runs (iters ≤ checkpointEvery) keep the
    * fully-lazy plan.
    *
    * @return (vid, pr_micros). */
  def pagerankMicros(edges: DataFrame, iters: Int = 3,
                     dampingPermille: Int = 850,
                     checkpointEvery: Int = 8,
                     redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && dampingPermille > 0 && dampingPermille < 1000)
    require(checkpointEvery >= 1)
    val deep = iters > checkpointEvery
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (deep) CacheLease.localCheckpoint(e0) else e0
    val outdeg0 = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val outdeg = if (deep) CacheLease.localCheckpoint(outdeg0) else outdeg0
    val verts0 = e.select(col("src").as("vid"))
      .union(e.select(col("dst").as("vid"))).distinct()
    val verts = if (deep) CacheLease.localCheckpoint(verts0) else verts0
    val teleport = (1000L - dampingPermille) * 1000000L / 1000L
    // |V| IN-PLAN as a broadcast scalar aggregate (like dsum below): the
    // function stays fully lazy — the previous eager verts.count() at
    // plan-construction time scanned the edge frame before the caller ever
    // executed anything, and on shallow runs (no checkpoint) re-ran the
    // distinct twice (ADVICE r7)
    val nvDf = verts.agg(count(lit(1)).as("_nv"))
    var pr = verts.withColumn("pr", lit(1000000L))
    for (round <- 1 to iters) {
      val contrib = e
        .join(pr.withColumnRenamed("vid", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst").as("vid"), expr("pr div outdeg").as("c"))
        .groupBy("vid").agg(sum(col("c")).as("cs"))
      val withC = verts.join(contrib, Seq("vid"), "left")
      val next =
        if (redistributeDangling) {
          val dsum = pr
            .join(outdeg.select(col("src").as("vid")), Seq("vid"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("dsum"))
          withC.crossJoin(broadcast(dsum)).crossJoin(broadcast(nvDf))
            .select(col("vid"),
              (lit(teleport) + expr(
                s"($dampingPermille * (coalesce(cs, 0L) + dsum div _nv)) div 1000"))
                .as("pr"))
        } else
          withC.select(col("vid"),
            (lit(teleport) +
              expr(s"($dampingPermille * coalesce(cs, 0L)) div 1000")).as("pr"))
      // every checkpoint is leased: CacheLease.releaseAll frees its blocks
      // once the caller has materialized the result
      pr = if (deep && round % checkpointEvery == 0 && round < iters)
        CacheLease.localCheckpoint(next)
      else next
    }
    pr.select(col("vid"), col("pr").as("pr_micros"))
  }

  /** Exact per-vertex triangle counts over an UNDIRECTED graph given as
    * canonical `(a, b)` edges with `a < b`, using the degree-ordered
    * orientation (Cohen 2009 / Suri–Vassilvitskii 2011): re-orient every
    * edge from its lower-(degree, id) endpoint, enumerate wedges only at
    * the LOW vertex, and close them against the oriented edge list. The
    * wedge count is Σ outdeg(v)² with outdeg bounded by O(√|E|) for any
    * graph — the hot-vertex (celebrity-node) blowup Σ deg² of the naive
    * two-path join cannot happen, because a high-degree vertex is the low
    * endpoint of almost none of its edges.
    *
    * Input is normalized defensively (canonicalize to least/greatest, drop
    * self-loops, distinct): duplicate rows, self-loops, or a > b edges
    * would silently corrupt degrees and wedge enumeration otherwise
    * (ADVICE r6). Callers feeding already-canonical pairs pay one distinct
    * — an edge-keyed shuffle, the same scale class as the joins below.
    *
    * @return (vid, n_triangles) for every vertex in at least one triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(
        least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient each edge from the smaller (degree, id) endpoint
    val withDeg = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val orient = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
        .otherwise(col("b")).as("u"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("b"))
        .otherwise(col("a")).as("w"),
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("db"))
        .otherwise(col("da")).as("dw"))
    // wedges at the low vertex u: (v, w) both out-neighbors, v before w in
    // the same (degree, id) order — the closing edge, if present, is
    // oriented v → w by transitivity of the total order
    val e1 = orient.select(col("u"), col("w").as("v"), col("dw").as("dv"))
    val e2 = orient.select(col("u"), col("w"), col("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .select(col("u"), col("v"), col("w"))
    val tris = wedges.join(orient.select(col("u").as("v"), col("w")),
      Seq("v", "w"), "left_semi")
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("vid"))
      .groupBy("vid").agg(count(lit(1)).as("n_triangles"))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic k-means over quantized embeddings — the learned-centroid
  * IVF coarse quantizer (vs [[Similarity.ivfTopK]]'s given labels).
  *
  * Everything is exact integer arithmetic plus one controlled rounding per
  * centroid component per iteration, so the whole iterative algorithm is
  * bit-reproducible AND replayable as SQL (the DuckDB oracle unrolls the
  * same iterations):
  *
  *  - seeds: the k vectors with the lowest ids (deterministic, no RNG);
  *  - distance: Σ(q−c)² on quantized ints, computed as qq − 2·qc + cc with
  *    the codegen'd [[graft.functions.LongArrayDot]] — exact;
  *  - assignment: per-row argmin over (dist, cluster) — total order, no
  *    arg-min tie ambiguity, zero shuffle ([[graft.functions.NearestCentroids]]);
  *  - update: per-dimension floor(mean + 0.5) back to ints — sums/counts
  *    are exact, the division is one IEEE op on exact ints.
  *
  * Scale shape: assignment is vectors × k (broadcast centroids, k tiny);
  * the update is one posexplode + groupBy per iteration; centroids live on
  * the driver between iterations (k·dim longs — metadata-sized).
  */
object KMeans {

  private[ext] def withQq(prepared: DataFrame, idCol: String): DataFrame =
    prepared.select(col(idCol), col("qe"))
      .withColumn("qq", expr("array_dot_long(qe, qe)"))

  /** Centroids as a broadcastable frame (cluster, c, cc). */
  private[ext] def centroidDf(spark: SparkSession,
      cs: Seq[(Int, Seq[Long])]): DataFrame = {
    import spark.implicits._
    cs.toDF("cluster", "c")
      .withColumn("cc", expr("array_dot_long(c, c)"))
  }

  /** The nearest cluster id of `qe` under literal centroids — argmin by the
    * total order (dist, cluster), per-row, zero shuffle: exactly the window
    * form's `row_number() over (order by dist, cluster) = 1`, computed by
    * the native [[graft.functions.NearestCentroids]] loop (a `least()` fold
    * over per-centroid structs is equivalent but its O(k·dim) expression
    * tree crosses Janino's 64 KB codegen limit at PQ sizes and falls back
    * to interpreted evaluation — measured 10-20x slower). The caller must
    * have registered [[graft.functions.GraftFunctions]] on the session. */
  private[ext] def nearestClusterExpr(cs: Seq[(Int, Seq[Long])],
      qe: Column): Column =
    element_at(nearestClustersExpr(cs, qe, 1), 1)

  /** The `n` nearest cluster ids of `qe` in (dist, cluster) order, as an
    * array — the per-row form of the probe-list window (`rn <= nProbe`);
    * min(n, k) entries, like the window form's `rn <= n` filter. */
  private[ext] def nearestClustersExpr(cs: Seq[(Int, Seq[Long])],
      qe: Column, n: Int): Column =
    call_function("nearest_centroids", qe,
      typedlit(cs.map(_._1)), typedlit(cs.map(_._2)), lit(n))

  /** Nearest-centroid assignment under a fixed codebook: (idCol, qe,
    * cluster). Total order (dist, cluster) — no arg-min tie ambiguity.
    * Computed as a per-row argmin expression over the k literal centroids
    * (guide §2.4: the former crossJoin→row_number form materialized N·k
    * rows carrying the qe array and shuffled them through a window just to
    * keep rank 1 — one full exchange+sort per assignment, per Lloyd
    * iteration; the expression form is the same integer arithmetic with
    * zero shuffle). Ignores any `qq` column on the input: the row norm is
    * a constant shift that cannot change the (dist, cluster) order. */
  private[ext] def assignmentUnder(vecs: DataFrame, cs: Seq[(Int, Seq[Long])],
      idCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    vecs.select(col(idCol), col("qe"),
      nearestClusterExpr(cs, col("qe")).as("cluster"))
  }

  /** The deterministic integer Lloyd loop: final centroids after `iters`
    * assign→update rounds (seeds = the k lowest ids). Public seam for
    * consumers that need the CODEBOOK, not just assignments — [[PQ]] trains
    * one of these per subspace. */
  def lloyd(prepared: DataFrame, k: Int, iters: Int, dim: Int = 64,
      idCol: String = "vec_id"): Seq[(Int, Seq[Long])] = {
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    // the loop runs 1 + iters actions over `vecs` (seed collect, then one
    // update collect per round) — cache it once instead of re-deriving the
    // quantized vectors from the source scan every action (no qq column:
    // the per-row assignment expression never needs the row norm)
    val vecs = prepared.select(col(idCol), col("qe"))
    vecs.persist()

    // seeds: k lowest ids, cluster = rank-1
    var centroids: Seq[(Int, Seq[Long])] =
      vecs.orderBy(col(idCol)).limit(k).collect().zipWithIndex.map {
        case (r, i) => i -> r.getSeq[Long](1).toSeq
      }.toSeq

    for (_ <- 1 to iters) {
      val assigned = assignmentUnder(vecs, centroids, idCol)
      val updated = assigned
        .select(col("cluster"), posexplode(col("qe")).as(Seq("dim", "q")))
        .groupBy("cluster", "dim")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .withColumn("v", floor(col("s").cast("double") / col("n") + lit(0.5)).cast("long"))
        .collect()
      // empty clusters drop out (mirrors the SQL twin, where a cluster with
      // no assigned rows simply has no centroid row next iteration)
      centroids = updated.groupBy(_.getAs[Int]("cluster")).toSeq.map {
        case (cid, rows) =>
          val m = rows.map(r => r.getAs[Int]("dim") -> r.getAs[Long]("v")).toMap
          cid -> (0 until dim).map(d => m(d))
      }.sortBy(_._1)
    }
    vecs.unpersist()
    centroids
  }

  /** @param prepared frame from [[Similarity.prepare]] (id, qe, …)
    * @return (idCol, cluster) assignment after `iters` Lloyd iterations. */
  def assign(prepared: DataFrame, k: Int, iters: Int, dim: Int = 64,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared) // shared by the Lloyd loop AND the final assignment
    assignmentUnder(prepared, lloyd(prepared, k, iters, dim, idCol),
      idCol).select(col(idCol), col("cluster"))
  }

  /** DuckDB twin: the same seeds/iterations/rounding unrolled as SQL. Kept
    * here (not in the oracle file) so the iteration logic and its SQL twin
    * live side by side. */
  /** The quantization CTE: (vec_id, qe) for every embeddings row. */
  private def quantCte: String = """n AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x * 1048576 + 0.5) AS BIGINT)) AS qe
  FROM embeddings)"""

  /** Training CTEs c0..c{iters} (seeds + unrolled assign→update rounds)
    * over the vector CTE `src`. */
  private def unrolled(src: String, k: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, qe AS c
  FROM (SELECT vec_id, qe FROM $src ORDER BY vec_id LIMIT $k))
""")
    for (it <- 1 to iters) {
      val prev = s"c${it - 1}"
      sb.append(s""", a$it AS (
  SELECT vec_id, qe, cluster FROM (
    SELECT n.vec_id, n.qe, c.cluster,
      row_number() OVER (PARTITION BY n.vec_id ORDER BY
        list_sum(list_transform(range($dim), i -> (n.qe[i+1] - c.c[i+1]) * (n.qe[i+1] - c.c[i+1]))),
        c.cluster) AS rn
    FROM $src n, $prev c) WHERE rn = 1)
""")
      sb.append(s""", c$it AS (
  SELECT cluster, list(v ORDER BY dim) AS c FROM (
    SELECT a.cluster, i AS dim,
      CAST(floor(CAST(sum(a.qe[i+1]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v
    FROM a$it a, LATERAL (SELECT unnest(range($dim)) AS i) t
    GROUP BY a.cluster, i)
  GROUP BY cluster)
""")
    }
    sb.toString
  }

  /** Nearest-centroid assignment of `src` rows under centroid CTE `cs`
    * (the closing-assignment pattern; works for ANY vector set, which is
    * what the cross-corpus twin exploits). */
  private def assignSelect(src: String, cs: String, dim: Int): String =
    s"""SELECT vec_id, cluster FROM (
  SELECT n.vec_id, c.cluster,
    row_number() OVER (PARTITION BY n.vec_id ORDER BY
      list_sum(list_transform(range($dim), i -> (n.qe[i+1] - c.c[i+1]) * (n.qe[i+1] - c.c[i+1]))),
      c.cluster) AS rn
  FROM $src n, $cs c) WHERE rn = 1"""

  /** Nearest-centroid assignment of a [[Similarity.prepare]]d frame under a
    * FIXED codebook — the public seam maintained-index consumers compose on
    * ([[graft.sync.Maintain.ivfPostings]] rescores only the changed vectors
    * per batch; retraining the coarse quantizer stays an offline decision,
    * the standard IVF discipline). Output: (idCol, cluster). */
  def assignUnder(prepared: DataFrame, cs: Seq[(Int, Seq[Long])],
      idCol: String = "vec_id"): DataFrame =
    assignmentUnder(prepared, cs, idCol)
      .select(col(idCol), col("cluster"))

  def oracleSql(k: Int, iters: Int, dim: Int = 64): String =
    // final assignment under the post-update centroids (matches the Spark
    // loop: iters × (assign → update), then one closing assignment)
    s"WITH $quantCte,\n" + unrolled("n", k, iters, dim) +
      assignSelect("n", s"c$iters", dim)

  /** WITH prefix for the INCREMENTAL twin: train on the rows matching
    * `corpusWhere` only, then expose `asgc` (corpus assignment) and
    * `asgn` (rows matching `newWhere` assigned under the SAME centroids)
    * — the corpus is never re-clustered per batch. Append further CTEs
    * and a final SELECT. */
  def crossAssignCteSql(k: Int, iters: Int, dim: Int,
      corpusWhere: String, newWhere: String): String =
    s"WITH $quantCte,\n" +
      s"nc AS (SELECT * FROM n WHERE $corpusWhere),\n" +
      s"nn AS (SELECT * FROM n WHERE $newWhere),\n" +
      unrolled("nc", k, iters, dim) +
      s", asgc AS (\n${assignSelect("nc", s"c$iters", dim)})\n" +
      s", asgn AS (\n${assignSelect("nn", s"c$iters", dim)})\n"

  /** Train-on-one-CTE / assign-another CTE block for oracles whose
    * training corpus differs from the assigned rows (the maintained-IVF
    * twins train on the INITIAL lake state and assign the replayed FINAL
    * state). The caller's WITH prefix must define `trainSrc` and
    * `assignSrc` as (vec_id, qe) CTEs and end with ",\n"; the block closes
    * with CTE `asg` = (vec_id, cluster). */
  def trainAssignCteSql(k: Int, iters: Int, dim: Int,
      trainSrc: String, assignSrc: String): String =
    unrolled(trainSrc, k, iters, dim) +
      s", asg AS (\n${assignSelect(assignSrc, s"c$iters", dim)})\n"

  /** The quantization SELECT over an arbitrary (vec_id, embedding) CTE —
    * the [[quantCte]] body with the source parameterized, so a fixture
    * oracle can quantize a DERIVED embedding set (keep the arithmetic in
    * lockstep with [[Similarity.QuantScale]]). */
  def quantSelect(src: String): String =
    s"""SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x * 1048576 + 0.5) AS BIGINT)) AS qe
  FROM $src"""

  /** The same unrolled iterations as [[oracleSql]], reshaped as a WITH
    * prefix whose last CTE `asg` is the (vec_id, cluster) assignment — for
    * oracles that COMPOSE on the assignment (e.g. SemDeDup's within-cluster
    * pair scan). Append further `, cte AS (...)` blocks and a final SELECT. */
  def assignmentCteSql(k: Int, iters: Int, dim: Int = 64): String =
    // composed from the same parts as oracleSql (ADVICE r5: no substring
    // surgery — marker matching silently broke if any CTE wording converged)
    s"WITH $quantCte,\n" + unrolled("n", k, iters, dim) +
      s", asg AS (\n${assignSelect("n", s"c$iters", dim)})\n"
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §7.4):
  * brute-force cosine top-k as the baseline, and an IVF-style bucketed
  * variant as the scale path.
  *
  * Determinism: embeddings are quantized to 20-bit fixed-point integers
  * (`floor(x·2^20 + 0.5)` — one IEEE op per element), dot products and
  * norms are then EXACT integer sums (order-independent), and cosine is a
  * fixed sequence of three IEEE ops on exactly-representable integers — so
  * Spark and DuckDB agree bit-for-bit, and top-k ranking is stable
  * (ties broken by id).
  *
  * Scale: the quantized array + norm are computed once per vector (map-side).
  * Brute force is queries × corpus — fine for a bounded query set; the IVF
  * variant joins on the cluster id so each vector only scores against its
  * bucket (the 1000-executor path: buckets are the shuffle key and the
  * per-bucket work is independent).
  */
object Similarity {

  val QuantScale = 1048576L // 2^20

  /** Quantize + pre-compute the norm, via the native codegen expressions in
    * [[graft.functions]] (the interpreted HOF equivalent is ~100× slower on
    * the pair join). Output: (id, label?, qe, nrm). */
  def prepare(df: DataFrame, idCol: String, embCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("qe", expr(s"quantize_array($embCol, $QuantScale)"))
      .withColumn("nrm", sqrt(expr("array_dot_long(qe, qe)").cast("double")))
  }

  /** Pairwise cosine between two prepared frames (aliased x/y). */
  def cosine: Column =
    (expr("array_dot_long(x.qe, y.qe)").cast("double") / col("x.nrm")) / col("y.nrm")

  /** Brute-force cosine top-k: a bounded query set against the full corpus.
    * The query side is broadcast; the per-query `row_number` window sees all
    * |Q|·N scored pairs, but Spark ≥3.5's InferWindowGroupLimit rule inserts
    * a partial top-k below the exchange, so only ~k·|Q| rows survive the
    * shuffle — parity with the explicit bounded aggregate is measured in the
    * bench (`topk_agg_vs_window_shuffle_x` ≈ 1). */
  /** Shared cosine top-k shape (brute force / IVF / hard negatives): the
    * caller picks the join predicate and the output column; rank ties
    * break on the neighbor id; Spark's InferWindowGroupLimit bounds the
    * window's exchange to ~k rows per query (the property PlanQualitySpec
    * pins) — one copy so a tie-break or plan-shape fix lands everywhere. */
  private def cosineTopK(queries: DataFrame, corpus: DataFrame,
      joinCond: Column, k: Int, idCol: String, outCol: String): DataFrame = {
    val pairs = queries.as("x").join(corpus.as("y"), joinCond)
      .select(col(s"x.$idCol").as("query_id"), col(s"y.$idCol").as(outCol),
        cosine.as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col(outCol).asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", outCol)
  }

  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id"): DataFrame =
    cosineTopK(queries, corpus,
      col(s"x.$idCol") =!= col(s"y.$idCol"), k, idCol, "neighbor_id")

  /** HARD-NEGATIVE MINING for contrastive training: per query, the top-k
    * most-similar corpus vectors with a DIFFERENT label — the negatives
    * nearest the decision boundary, which a contrastive loss learns most
    * from (random negatives are trivially separable and teach nothing).
    * Same plan as [[bruteForceTopK]] with the label-disagreement predicate
    * pushed into the join, so the scored pair volume shrinks by the
    * same-label fraction BEFORE the window's partial group-limit. */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame =
    cosineTopK(queries, corpus,
      col(s"x.$idCol") =!= col(s"y.$idCol") &&
        col(s"x.$labelCol") =!= col(s"y.$labelCol"),
      k, idCol, "neg_id")

  /** IVF-style bucketed top-k: score only within the assigned cluster
    * (`labelCol` plays the role of the coarse-quantizer assignment). */
  def ivfTopK(prepared: DataFrame, k: Int,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame =
    cosineTopK(prepared, prepared,
      col(s"x.$labelCol") === col(s"y.$labelCol") &&
        col(s"x.$idCol") =!= col(s"y.$idCol"),
      k, idCol, "neighbor_id")

  /** [[ivfTopK]] served from a MAINTAINED postings table (id → cluster,
    * [[graft.sync.Maintain.ivfPostings]]) instead of an in-plan
    * assignment: the embedding store and its index stay separate tables —
    * the 100 TB layout, where postings are incrementally maintained and
    * vectors live in the lake — joined on the key at serve time. */
  def ivfTopKFromPostings(prepared: DataFrame, postings: DataFrame, k: Int,
      idCol: String = "vec_id", clusterCol: String = "cluster"): DataFrame =
    ivfTopK(prepared.join(postings, Seq(idCol)), k, idCol, clusterCol)

  /** Random-hyperplane LSH: 12 fixed hyperplanes over the quantized space,
    * signature bit j = sign(q · c_j), banded 3×4 bits. Constants derive
    * deterministically from md5 at build time and are inlined as literals
    * in BOTH the Spark plan and the DuckDB oracle — the whole ANN pipeline
    * stays oracle-checkable. This is the scale path when no cluster
    * assignment exists (vs [[ivfTopK]]'s given-centroid buckets): bucket
    * join on band signatures, never all-pairs.
    */
  val NumPlanes = 12
  val PlaneBands = 3 // 3 bands × 4 bits
  /** Embedding dimensionality of the stock fixtures (and the oracle SQL,
    * which inlines the same plane constants — keep in lockstep). */
  val DefaultDim = 64

  /** Hyperplane constants for a given embedding dimensionality. Derived
    * deterministically from md5, so any engine can replay them; a non-64-dim
    * corpus passes its own `dim` (a shorter plane would silently zero the
    * signature bits past the plane length — the r2 bug). */
  def hyperplanes(dim: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h32(s: String): Long = {
      md.reset()
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    }
    (0 until NumPlanes).map(j => (0 until dim).map(i => h32(s"lsh_${j}_$i") % 2001 - 1000))
  }

  lazy val Hyperplanes: Seq[Seq[Long]] = hyperplanes(DefaultDim)

  /** Append the hyperplane signature column to a prepared frame. */
  def withLshSignature(prepared: DataFrame, dim: Int = DefaultDim): DataFrame = {
    val sigExpr = hyperplanes(dim).zipWithIndex.map { case (plane, j) =>
      val arr = plane.map(v => s"${v}L").mkString("array(", ", ", ")")
      s"(CASE WHEN aggregate(zip_with(qe, $arr, (x, y) -> x * y), 0L, (a, v) -> a + v) > 0 THEN ${1L << j}L ELSE 0L END)"
    }.mkString(" + ")
    prepared.withColumn("lsh_sig", expr(sigExpr))
  }

  /** LSH-bucketed near-dup pairs: candidates share at least one 4-bit band
    * of the hyperplane signature; verified with exact quantized cosine.
    * Recall < 1 by construction (pairs in no common band are unseen) — the
    * deliberate ANN trade; the oracle replays the identical banding. */
  def lshNearDupPairs(prepared: DataFrame, threshold: Double,
      idCol: String = "vec_id", dim: Int = DefaultDim): DataFrame = {
    val bandBits = NumPlanes / PlaneBands
    val sig = withLshSignature(prepared, dim)
    val bandCols = (0 until PlaneBands).map { k =>
      struct(lit(k).as("band"),
        shiftright(col("lsh_sig"), k * bandBits).bitwiseAND((1L << bandBits) - 1).as("bsig"))
    }
    val bands = sig.select(col(idCol), col("qe"), col("nrm"),
        explode(array(bandCols: _*)).as("b"))
      .select(col(idCol), col("qe"), col("nrm"),
        col("b.band").as("band"), col("b.bsig").as("bsig"))
    bands.as("x").join(bands.as("y"), Seq("band", "bsig"))
      .filter(col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"), cosine.as("cos"))
      .distinct()
      .filter(col("cos") >= threshold)
  }

  /** Measured recall of the banded-LSH candidate set against brute-force
    * ground truth over a sampled query side (`id % sampleMod == 0`): the
    * deliberate ANN recall trade-off reported as a NUMBER, not a comment.
    * One row: (n_true, n_hit, recall_millis); counts are integer-exact and
    * the single division is one IEEE op, so the result is oracle-checkable.
    * The ground-truth side is |sample| × corpus (never corpus²) — bounded
    * like [[bruteForceTopK]]'s query side. */
  def annRecall(prepared: DataFrame, threshold: Double, sampleMod: Int,
      idCol: String = "vec_id", dim: Int = DefaultDim): DataFrame = {
    val truth = prepared.filter(col(idCol) % sampleMod === 0).as("x")
      .join(prepared.as("y"), col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        cosine.as("cos"))
      .filter(col("cos") >= threshold)
    val lsh = lshNearDupPairs(prepared, threshold, idCol, dim)
      .filter(col("id_a") % sampleMod === 0)
    val hits = truth.join(lsh, Seq("id_a", "id_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold within the cluster bucket
    * (IVF-assisted — cross-bucket near-dups are out of scope by design,
    * the standard IVF recall trade-off). */
  def nearDupPairs(prepared: DataFrame, threshold: Double,
      idCol: String = "vec_id", labelCol: String = "label"): DataFrame =
    prepared.as("x").join(prepared.as("y"),
        col(s"x.$labelCol") === col(s"y.$labelCol") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"),
        cosine.as("cos"))
      .filter(col("cos") >= threshold)

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"): when
    * no labels exist, LEARN the buckets — k-means clusters the corpus, the
    * ε-neighbor scan runs within each cluster only, and a row is dropped
    * iff some LOWER-ID cluster-mate sits at cosine ≥ threshold (the star
    * rule: deterministic min-id survivors, no transitive chasing — compose
    * with [[Components.starComponents]] over [[nearDupPairs]] output when
    * component-granular resolution is wanted).
    *
    * Scale shape: the pair scan is per-cluster (corpus²/k expected, the
    * SemDeDup trade — cross-cluster near-dups are unseen by design), the
    * only driver state is the k·dim centroid codebook, and both the Lloyd
    * loop and the pair scan shuffle on the cluster id.
    *
    * @return survivors as (idCol, cluster). */
  def semanticDedup(prepared: DataFrame, k: Int, iters: Int,
      threshold: Double, dim: Int = 64, idCol: String = "vec_id"): DataFrame = {
    // shared: Lloyd loop + pair scan + output. Not unpersisted here — the
    // returned frame is lazy, so the cache must outlive this call — but the
    // persist is LEASED (CacheLease.acquire): sweep drivers
    // reclaim it with CacheLease.releaseAll after materializing, so nothing
    // orphans across a query family (VERDICT r6 #3).
    CacheLease.acquire(prepared)
    val withC = prepared.join(
      KMeans.assign(prepared, k, iters, dim, idCol), Seq(idCol))
    val dropped = withC.as("x").join(withC.as("y"),
        col("x.cluster") === col("y.cluster") &&
        col(s"x.$idCol") > col(s"y.$idCol"))
      .filter(cosine >= threshold)
      .select(col(s"x.$idCol").as(idCol)).distinct()
    withC.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }

  /** Incremental (cross-corpus) semantic dedup — the continuous-ingest
    * twin of [[semanticDedup]], mirroring [[Dedup.crossCorpusJaccardPairs]]
    * for the embedding modality: centroids are trained on the EXISTING
    * corpus once, the new batch is assigned under those fixed centroids,
    * and the ε-scan compares new×corpus within shared clusters only — a
    * new row drops iff some corpus row sits at cosine ≥ threshold in its
    * cluster. Corpus×corpus is never recompared and the corpus is never
    * re-clustered per batch: the work is O(|new| · cluster-co-residents),
    * the shape a 100 TB ingest pipeline actually runs (within-batch dups
    * are [[semanticDedup]]'s job, handled separately).
    *
    * @return new-batch survivors as (idCol, cluster). */
  def crossCorpusSemanticDedup(newPrepared: DataFrame, corpusPrepared: DataFrame,
      k: Int, iters: Int, threshold: Double, dim: Int = 64,
      idCol: String = "vec_id"): DataFrame = {
    // Lloyd loop + assignment + ε-scan; lifecycle as in semanticDedup
    // (lazy result ⇒ cache outlives the call; leased for
    // CacheLease.releaseAll reclamation after materialization)
    CacheLease.acquire(corpusPrepared)
    CacheLease.acquire(newPrepared)
    val cs = KMeans.lloyd(corpusPrepared, k, iters, dim, idCol)
    // per-row assignment expression — no id-keyed self-join to re-attach
    // the cluster (guide §2.4)
    def assigned(prep: DataFrame) =
      prep.withColumn("cluster", KMeans.nearestClusterExpr(cs, col("qe")))
    val nw = assigned(newPrepared)
    val cw = assigned(corpusPrepared)
    val dropped = nw.as("x").join(cw.as("y"),
        col("x.cluster") === col("y.cluster"))
      .filter(cosine >= threshold)
      .select(col(s"x.$idCol").as(idCol)).distinct()
    nw.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster"))
  }
}

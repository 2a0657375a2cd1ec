package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization over embedding columns — the memory-side ANN scale
  * path (IVF bounds WORK per query; PQ bounds BYTES per vector: m small
  * codes instead of dim floats, ~64× compression at m=2×4-bit here).
  *
  * The quantized vector is split into `m` contiguous subspaces; each
  * subspace trains its own deterministic integer-Lloyd codebook
  * ([[KMeans.lloyd]] on the slice — same seeds/rounding rules, so the whole
  * trainer stays bit-reproducible and SQL-replayable). A vector's code is
  * its nearest centroid per subspace. Asymmetric distance (ADC): a query
  * precomputes its distance to every subspace centroid (an m·ksub lookup
  * table, metadata-sized, broadcast), and any corpus vector's approximate
  * distance is the sum of m table lookups — never a dim-wide dot product
  * per pair.
  *
  * Scale shape: training state is m·ksub·subDim longs on the driver;
  * encoding is vectors × ksub per subspace under a broadcast codebook; the
  * ADC join is (corpus codes, exploded to m rows) ⋈ broadcast LUT, then a
  * per-query top-k window — corpus-sized shuffle of 3 small ints/row, no
  * all-pairs anywhere.
  */
object PQ {

  /** The s-th of m contiguous subspace slices of the quantized embedding. */
  private def sliceFrame(prepared: DataFrame, s: Int, subDim: Int,
      idCol: String): DataFrame =
    prepared.select(col(idCol),
      slice(col("qe"), s * subDim + 1, subDim).as("qe"))

  /** Per-subspace codebooks (deterministic: seeds = lowest ids, integer
    * Lloyd — see [[KMeans.lloyd]]). */
  def trainCodebooks(prepared: DataFrame, m: Int, ksub: Int, iters: Int,
      dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): Seq[Seq[(Int, Seq[Long])]] = {
    // m independent Lloyd loops all slice the same prepared frame — cache
    // it once so the m·(1+iters) training actions re-derive slices from
    // memory, not from the source scan. Ownership-guarded: when an outer
    // composition (encode/adcTopK/pqRecall) already cached it, keep theirs.
    val mine = CacheLease.acquire(prepared)
    val sub = dim / m
    val books = (0 until m).map(s =>
      KMeans.lloyd(sliceFrame(prepared, s, sub, idCol), ksub, iters, sub, idCol))
    if (mine) prepared.unpersist()
    books
  }

  /** PQ-encode every vector: (idCol, code_0 … code_{m-1}). */
  def encode(prepared: DataFrame, m: Int, ksub: Int, iters: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    // cached for training AND the m encode branches below (the returned
    // frame keeps the reference; the context cleaner reaps the metadata-
    // sized cache once it becomes unreachable)
    CacheLease.acquire(prepared)
    encodeUnder(prepared, trainCodebooks(prepared, m, ksub, iters, dim, idCol),
      dim, idCol)
  }

  private def encodeUnder(prepared: DataFrame,
      codebooks: Seq[Seq[(Int, Seq[Long])]], dim: Int, idCol: String): DataFrame = {
    // all m codes in ONE projection: each subspace's code is a per-row
    // argmin expression over its ksub literal centroids (guide §2.4 — the
    // former per-subspace assignment frames joined m-ways on the id cost
    // m−1 id-keyed joins and m window shuffles; this is the same integer
    // arithmetic, zero shuffle, one pass over the vectors)
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    val sub = dim / codebooks.size
    val codeCols = codebooks.zipWithIndex.map { case (cb, s) =>
      KMeans.nearestClusterExpr(cb, slice(col("qe"), s * sub + 1, sub))
        .as(s"code_$s")
    }
    prepared.select(col(idCol) +: codeCols: _*)
  }

  /** Per-query ADC lookup table: ‖q_s − c‖² for every (sampled query,
    * subspace, code) — |Q| · m · ksub rows, metadata-sized, broadcastable. */
  private def queryLut(prepared: DataFrame, codebooks: Seq[Seq[(Int, Seq[Long])]],
      sampleMod: Int, dim: Int, idCol: String): DataFrame = {
    val spark = prepared.sparkSession
    val sub = dim / codebooks.size
    codebooks.zipWithIndex.map { case (cb, s) =>
      KMeans.withQq(
          sliceFrame(prepared.filter(col(idCol) % sampleMod === 0), s, sub, idCol),
          idCol)
        .crossJoin(broadcast(KMeans.centroidDf(spark, cb)))
        .select(col(idCol).as("query_id"), lit(s).as("s"), col("cluster").as("code"),
          (col("qq") - lit(2L) * expr("array_dot_long(qe, c)") + col("cc")).as("d"))
    }.reduce(_.unionByName(_))
  }

  /** Encoded corpus in long form: (neighbor_id, s, code) — m rows/vector. */
  private def codesLong(encoded: DataFrame, m: Int, idCol: String): DataFrame = {
    val codeStructs = (0 until m).map(s =>
      struct(lit(s).as("s"), col(s"code_$s").as("code")))
    encoded
      .select(col(idCol).as("neighbor_id"), explode(array(codeStructs: _*)).as("c"))
      .select(col("neighbor_id"), col("c.s").as("s"), col("c.code").as("code"))
  }

  /** ADC top-k: approximate nearest neighbors of the sampled query side
    * (`idCol % sampleMod == 0`) over the PQ-encoded corpus. Distances are
    * exact integer sums of per-subspace ‖q_s − c_code‖² (the quantization
    * error IS the approximation); ties break by neighbor id — fully
    * deterministic, so the DuckDB twin replays it bit-for-bit. */
  def adcTopK(prepared: DataFrame, m: Int, ksub: Int, iters: Int, k: Int,
      sampleMod: Int, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared) // training + encode + LUT all slice it
    val codebooks = trainCodebooks(prepared, m, ksub, iters, dim, idCol)
    val codes = codesLong(encodeUnder(prepared, codebooks, dim, idCol), m, idCol)
    val lut = queryLut(prepared, codebooks, sampleMod, dim, idCol)

    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("s", "code"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("d")).as("adist"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** IVF-ADC top-k (the FAISS IVFADC composition): a full-dim coarse
    * k-means quantizer assigns every corpus vector to one of `kCoarse`
    * inverted lists; a query scores ONLY the vectors in its `nProbe`
    * nearest lists, via the same PQ/ADC table lookups as [[adcTopK]].
    *
    * This is the shape that survives 100 TB: plain ADC still touches every
    * corpus code per query (corpus·m·|Q| intermediate rows); IVF cuts that
    * by ~nProbe/kCoarse at the cost of pruning loss that [[ivfPqRecall]]
    * measures. Plan shape: the cell attaches to the codes with ONE
    * id-keyed corpus join (in a stored deployment codes+cell persist
    * together and this join disappears); the probe list (|Q|·nProbe rows)
    * and the LUT broadcast — the corpus never shuffles on anything but its
    * own id, and nothing is ever corpus².
    *
    * Codebooks here quantize raw vectors; [[ivfResidualAdcTopK]] is the
    * residual-trained variant (the FAISS default), with the measured
    * trade documented there. */
  def ivfAdcTopK(prepared: DataFrame, kCoarse: Int, nProbe: Int, m: Int,
      ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    val spark = prepared.sparkSession
    CacheLease.acquire(prepared) // coarse + m subspace trainings + LUT
    val coarse = KMeans.lloyd(prepared, kCoarse, iters, dim, idCol)
    // inverted lists: every corpus vector's nearest coarse centroid
    val lists = KMeans.assignmentUnder(prepared, coarse, idCol)
      .select(col(idCol).as("neighbor_id"), col("cluster"))
    // probe set: each sampled query's nProbe nearest cells (ties by
    // cluster) — per-row top-n expression over the literal centroids, no
    // crossJoin/window stage (guide §2.4)
    val probes = prepared.filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("query_id"),
        explode(KMeans.nearestClustersExpr(coarse, col("qe"), nProbe))
          .as("cluster"))

    val codebooks = trainCodebooks(prepared, m, ksub, iters, dim, idCol)
    val codes = codesLong(encodeUnder(prepared, codebooks, dim, idCol), m, idCol)
    val lut = queryLut(prepared, codebooks, sampleMod, dim, idCol)

    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    codes.join(lists, Seq("neighbor_id"))         // attach the cell (id-keyed)
      .join(broadcast(probes), Seq("cluster"))    // IVF prune: probed cells only
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(lut), Seq("query_id", "s", "code"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Exact L2 top-k ground truth (integer squared distance on the full
    * quantized vectors): the metric ADC approximates, so recall against it
    * isolates QUANTIZATION loss — cosine truth would conflate it with the
    * L2-vs-cosine metric gap. */
  def l2TopK(prepared: DataFrame, k: Int, sampleMod: Int,
      idCol: String = "vec_id"): DataFrame = {
    val vecs = KMeans.withQq(prepared.select(col(idCol), col("qe")), idCol)
    // the sampled query side is 1/sampleMod of the corpus — broadcast it
    // EXPLICITLY (over a cached input the optimizer's size estimate loses
    // the filter selectivity and can flip to streaming the big side)
    val pairs = broadcast(vecs.filter(col(idCol) % sampleMod === 0)).as("x")
      .join(vecs.as("y"), col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("query_id"), col(s"y.$idCol").as("neighbor_id"),
        (col("x.qq") - lit(2L) * expr("array_dot_long(x.qe, y.qe)") + col("y.qq"))
          .as("dist"))
    val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Measured ADC recall against exact-L2 top-k ground truth over the same
    * sampled query side — the PQ approximation loss as an oracle-checkable
    * NUMBER (same discipline as [[Similarity.annRecall]]).
    * One row: (n_true, n_hit, recall_millis). */
  def pqRecall(prepared: DataFrame, m: Int, ksub: Int, iters: Int, k: Int,
      sampleMod: Int, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared) // shared by truth, training, ADC
    val truth = l2TopK(prepared, k, sampleMod, idCol)
      .select("query_id", "neighbor_id")
    val approx = adcTopK(prepared, m, ksub, iters, k, sampleMod, dim, idCol)
      .select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  /** Exact re-rank over ADC candidates — the refine stage of the standard
    * ANN serving stack: the compressed index proposes `candK` candidates
    * per query (cheap, quantization-lossy), then the TRUE integer-L2
    * distance re-orders just those candidates and keeps the top `k`. The
    * exact pass touches |Q|·candK vectors — never the corpus — so the
    * recall lost to PQ quantization is bought back at a per-query cost
    * that stays independent of corpus size. Candidates and the sampled
    * query vectors broadcast; the corpus is probed once for candidate
    * payloads. */
  /** Exact integer-L2 re-rank of a (query_id, neighbor_id) candidate set:
    * keep each query's top `k` by TRUE distance. Candidates and sampled
    * query vectors broadcast; the corpus is probed once for candidate
    * payloads — the exact pass costs |Q|·candK, independent of corpus. */
  private def exactRerank(prepared: DataFrame, cands: DataFrame, k: Int,
      sampleMod: Int, idCol: String): DataFrame = {
    val vecs = KMeans.withQq(prepared.select(col(idCol), col("qe")), idCol)
    val q = vecs.filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("query_id"), col("qe").as("q_qe"), col("qq").as("q_qq"))
    val nb = vecs.select(col(idCol).as("neighbor_id"),
      col("qe").as("n_qe"), col("qq").as("n_qq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("neighbor_id").asc)
    nb.join(broadcast(cands.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("dist",
        col("q_qq") - lit(2L) * expr("array_dot_long(q_qe, n_qe)") + col("n_qq"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Measured recall of any (query_id, neighbor_id) approximation against
    * the exact-L2 ground truth — the shared harness behind every recall
    * number in this family. One row: (n_true, n_hit, recall_millis). */
  private def recallVsL2(prepared: DataFrame, approx: DataFrame, k: Int,
      sampleMod: Int, idCol: String): DataFrame = {
    val truth = l2TopK(prepared, k, sampleMod, idCol)
      .select("query_id", "neighbor_id")
    val hits = truth.join(approx.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  def adcRerankTopK(prepared: DataFrame, m: Int, ksub: Int, iters: Int,
      k: Int, candK: Int, sampleMod: Int, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared)
    exactRerank(prepared,
      adcTopK(prepared, m, ksub, iters, candK, sampleMod, dim, idCol),
      k, sampleMod, idCol)
  }

  /** Refine over the IVF path — the full production composition: inverted
    * lists bound the WORK (nProbe/kCoarse of the corpus), PQ codes bound
    * the BYTES (~64×), and the exact re-rank of candK survivors buys the
    * recall back. */
  def ivfAdcRerankTopK(prepared: DataFrame, kCoarse: Int, nProbe: Int,
      m: Int, ksub: Int, iters: Int, k: Int, candK: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared)
    exactRerank(prepared,
      ivfAdcTopK(prepared, kCoarse, nProbe, m, ksub, iters, candK, sampleMod,
        dim, idCol),
      k, sampleMod, idCol)
  }

  /** Measured recall of the IVF+ADC+refine stack vs the same exact-L2
    * truth: read against [[ivfPqRecall]] (no refine) and [[rerankRecall]]
    * (refine, no IVF) to see what each stage costs and buys. */
  def ivfRerankRecall(prepared: DataFrame, kCoarse: Int, nProbe: Int,
      m: Int, ksub: Int, iters: Int, k: Int, candK: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared)
    recallVsL2(prepared,
      ivfAdcRerankTopK(prepared, kCoarse, nProbe, m, ksub, iters, k, candK,
        sampleMod, dim, idCol),
      k, sampleMod, idCol)
  }

  /** Measured rerank recall vs the same exact-L2 truth: the number that
    * shows the refine stage buying back the quantization loss
    * ([[pqRecall]]'s plain-ADC number is the baseline). */
  def rerankRecall(prepared: DataFrame, m: Int, ksub: Int, iters: Int,
      k: Int, candK: Int, sampleMod: Int, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared)
    val truth = l2TopK(prepared, k, sampleMod, idCol)
      .select("query_id", "neighbor_id")
    val approx = adcRerankTopK(prepared, m, ksub, iters, k, candK, sampleMod,
      dim, idCol).select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  /** Residual IVF-ADC (the FAISS IVFPQ default): PQ codebooks are trained
    * on RESIDUALS `v − c(v)` against the coarse quantizer instead of raw
    * vectors. The theory: residuals cluster tighter than the vectors, so
    * the same m·ksub budget quantizes finer. The codebooks are SHARED
    * across cells (one training, not kCoarse of them); the price is a
    * per-(query, probed-cell) lookup table — the query's residual differs
    * per cell — still |Q|·nProbe·m·ksub rows, metadata-sized, broadcast.
    * All arithmetic stays exact integer (residuals are differences of
    * quantized longs), so the whole thing remains SQL-replayable.
    *
    * MEASURED finding (sf0.01, kCoarse=8): the theory's premise fails on
    * this corpus — coarse cells cut vector variance only ~7%, and the
    * synthetic embeddings carry discrete per-dimension structure that raw
    * slices expose to Lloyd while per-cell shifts fragment it into a
    * kCoarse-fold mixture. At equal budget (ksub=32) residual codes
    * measure 107‰ vs raw 246‰; once the budget resolves the mixture
    * (ksub=128) residual wins 338‰ vs 292‰. The implementation itself is
    * exact: at kCoarse=1 the residual is one constant integer shift,
    * every stage is translation-equivariant, and recall equals
    * [[ivfPqRecall]]'s to the last digit (pinned in ResidualPQSpec) —
    * the gap is the data, not the code. */
  def ivfResidualAdcTopK(prepared: DataFrame, kCoarse: Int, nProbe: Int,
      m: Int, ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    val spark = prepared.sparkSession
    val sub = dim / m
    CacheLease.acquire(prepared)
    val coarse = KMeans.lloyd(prepared, kCoarse, iters, dim, idCol)
    val cdf = KMeans.centroidDf(spark, coarse) // (cluster, c, cc)
    // corpus residuals against the assigned cell
    val resid = KMeans.assignmentUnder(prepared, coarse, idCol)
      .join(broadcast(cdf.select("cluster", "c")), Seq("cluster"))
      .select(col(idCol), col("cluster"),
        expr("zip_with(qe, c, (a, b) -> a - b)").as("qe"))
    CacheLease.acquire(resid) // m trainings + the encode slice it
    val codebooks = trainCodebooks(resid.select(col(idCol), col("qe")),
      m, ksub, iters, dim, idCol)
    val codes = codesLong(encodeUnder(resid, codebooks, dim, idCol), m, idCol)
      .join(resid.select(col(idCol).as("neighbor_id"), col("cluster")),
        Seq("neighbor_id"))
    // probe set: each sampled query's nProbe nearest cells (as ivfAdcTopK —
    // per-row top-n expression, no crossJoin/window stage)
    val probes = prepared.filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("query_id"), col("qe"),
        explode(KMeans.nearestClustersExpr(coarse, col("qe"), nProbe))
          .as("cluster"))
    // per-(query, probed cell) residual → per-subspace code distances
    val qres = probes.join(broadcast(cdf.select("cluster", "c")), Seq("cluster"))
      .select(col("query_id"), col("cluster"),
        expr("zip_with(qe, c, (a, b) -> a - b)").as("qres"))
    val lut = codebooks.zipWithIndex.map { case (cb, s) =>
      qres.select(col("query_id"), col("cluster"),
          slice(col("qres"), s * sub + 1, sub).as("qe"))
        .withColumn("qq", expr("array_dot_long(qe, qe)"))
        .crossJoin(broadcast(KMeans.centroidDf(spark, cb)
          .select(col("cluster").as("code"), col("c"), col("cc"))))
        .select(col("query_id"), col("cluster"), lit(s).as("s"), col("code"),
          (col("qq") - lit(2L) * expr("array_dot_long(qe, c)") + col("cc")).as("d"))
    }.reduce(_.unionByName(_))

    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    codes.join(broadcast(lut), Seq("cluster", "s", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(sum(col("d")).as("adist"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Measured residual-IVFPQ recall vs the same exact-L2 truth — read
    * against [[ivfPqRecall]] (raw-vector codes, same lists/budget) for the
    * residual-training win. */
  def ivfResidualRecall(prepared: DataFrame, kCoarse: Int, nProbe: Int,
      m: Int, ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared)
    recallVsL2(prepared,
      ivfResidualAdcTopK(prepared, kCoarse, nProbe, m, ksub, iters, k,
        sampleMod, dim, idCol),
      k, sampleMod, idCol)
  }

  /** OPQ-style pre-rotation: multiply every quantized vector by the
    * dim×dim Walsh–Hadamard matrix `H[i][j] = (−1)^popcount(i AND j)`
    * before PQ. H is ±1 and `H·Hᵀ = dim·I`, so the transform is
    * orthogonal up to a uniform ×dim scale — every pairwise L2 distance
    * scales by exactly dim, rankings (and the brute-force truth) are
    * preserved bit-for-bit, and the arithmetic stays exact integer, so
    * the whole pipeline remains SQL-replayable (`bit_count` exists in
    * both engines). This is the deterministic-rotation baseline of OPQ
    * (Ge et al., CVPR 2013): it spreads energy evenly across subspaces,
    * which helps exactly when subspace variances are unbalanced. The
    * dense O(dim²)-per-row multiply is the cost; production FAISS uses
    * the O(dim·log dim) FWHT butterfly, which SQL can't express — at
    * dim=64 the dense form is 4096 integer ops/row, still scan-speed. */
  def hadamardRotate(prepared: DataFrame,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame =
    prepared.select(col(idCol), expr(
      s"""transform(sequence(0, ${dim - 1}), i ->
         |  aggregate(sequence(0, ${dim - 1}), 0L, (acc, j) ->
         |    acc + IF(bit_count(i & j) % 2 = 0,
         |             element_at(qe, j + 1), -element_at(qe, j + 1))))"""
        .stripMargin).as("qe"))

  /** Measured recall of PQ over the Hadamard-rotated space vs the same
    * (rotation-invariant) exact-L2 truth — read against [[pqRecall]] for
    * what the rotation buys or costs on this corpus. */
  def opqRecall(prepared: DataFrame, m: Int, ksub: Int, iters: Int, k: Int,
      sampleMod: Int, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    val rot = hadamardRotate(prepared, dim, idCol)
    pqRecall(rot, m, ksub, iters, k, sampleMod, dim, idCol)
  }

  /** Measured IVF-ADC recall against the same exact-L2 ground truth as
    * [[pqRecall]] — the delta between the two numbers is the PRUNING loss
    * the inverted lists add on top of PQ's quantization loss. */
  def ivfPqRecall(prepared: DataFrame, kCoarse: Int, nProbe: Int, m: Int,
      ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared) // shared by truth, coarse, training, ADC
    val truth = l2TopK(prepared, k, sampleMod, idCol)
      .select("query_id", "neighbor_id")
    val approx = ivfAdcTopK(prepared, kCoarse, nProbe, m, ksub, iters, k,
      sampleMod, dim, idCol).select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  // ---------------------------------------------------------------- oracle

  /** Unrolled integer Lloyd over a vector slice as DuckDB CTEs — the
    * [[KMeans.oracleSql]] iteration body parameterized by (prefix, slice).
    * Emits, for prefix `p`: `p` (the slice), `pc0…pc{iters}` (centroids),
    * `pcode` (final assignment = the code / inverted-list cell). Shares the
    * global `n` CTE (quantized full vectors). PQ subspaces use prefix
    * `s0…s{m-1}`; the IVF coarse quantizer uses prefix `g` over the full
    * vector (lo=1, sub=dim). */
  private def sliceCtes(p: String, lo: Int, sub: Int, ksub: Int,
      iters: Int, src: String = "n"): String = {
    val hi = lo + sub - 1
    val sb = new StringBuilder
    sb.append(s"""$p AS (SELECT vec_id, qe[$lo:$hi] AS qe FROM $src),
${p}c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, qe AS c
  FROM (SELECT vec_id, qe FROM $p ORDER BY vec_id LIMIT $ksub))
""")
    for (it <- 1 to iters) {
      val prev = s"${p}c${it - 1}"
      sb.append(s""", ${p}a$it AS (
  SELECT vec_id, qe, cluster FROM (
    SELECT v.vec_id, v.qe, c.cluster,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_sum(list_transform(range($sub), i -> (v.qe[i+1] - c.c[i+1]) * (v.qe[i+1] - c.c[i+1]))),
        c.cluster) AS rn
    FROM $p v, $prev c) WHERE rn = 1)
""")
      sb.append(s""", ${p}c$it AS (
  SELECT cluster, list(v ORDER BY dim) AS c FROM (
    SELECT a.cluster, i AS dim,
      CAST(floor(CAST(sum(a.qe[i+1]) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS v
    FROM ${p}a$it a, LATERAL (SELECT unnest(range($sub)) AS i) t
    GROUP BY a.cluster, i)
  GROUP BY cluster)
""")
    }
    // final assignment = the subspace CODE
    sb.append(s""", ${p}code AS (
  SELECT vec_id, cluster AS code FROM (
    SELECT v.vec_id, c.cluster,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_sum(list_transform(range($sub), i -> (v.qe[i+1] - c.c[i+1]) * (v.qe[i+1] - c.c[i+1]))),
        c.cluster) AS rn
    FROM $p v, ${p}c$iters c) WHERE rn = 1)""")
    sb.toString
  }

  private def prefixSql(m: Int, ksub: Int, iters: Int, dim: Int,
      rotated: Boolean = false): String = {
    val sub = dim / m
    val quantCte = s"""
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x * 1048576 + 0.5) AS BIGINT)) AS qe
  FROM embeddings)"""
    val nCte =
      if (!rotated) s"WITH n AS ($quantCte,\n"
      else
        // Walsh–Hadamard rotation H[i][j] = (−1)^popcount(i AND j): the
        // same exact-integer multiply as [[hadamardRotate]]
        s"""WITH n0 AS ($quantCte,
n AS (
  SELECT vec_id,
    list_transform(range($dim), i ->
      CAST(list_sum(list_transform(range($dim), j ->
        CASE WHEN bit_count(i & j) % 2 = 0 THEN qe[j+1] ELSE -qe[j+1] END))
        AS BIGINT)) AS qe
  FROM n0),
"""
    nCte + (0 until m).map(s => sliceCtes(s"s$s", s * sub + 1, sub, ksub, iters))
      .mkString(",\n")
  }

  /** DuckDB twin of [[encode]]: (vec_id, code_0 … code_{m-1}). */
  def encodeOracleSql(m: Int, ksub: Int, iters: Int,
      dim: Int = Similarity.DefaultDim): String =
    prefixSql(m, ksub, iters, dim) +
      s"""
SELECT n.vec_id, ${(0 until m).map(s => s"s${s}code.code AS code_$s").mkString(", ")}
FROM n ${(0 until m).map(s => s"JOIN s${s}code ON s${s}code.vec_id = n.vec_id").mkString(" ")}"""

  /** `lut` CTE body: per-query per-subspace distances to every code. */
  private def lutSql(m: Int, sub: Int, iters: Int, sampleMod: Int): String =
    (0 until m).map { s =>
      s"""SELECT v.vec_id AS query_id, $s AS s, c.cluster AS code,
  list_sum(list_transform(range($sub), i -> (v.qe[i+1] - c.c[i+1]) * (v.qe[i+1] - c.c[i+1]))) AS d
FROM s$s v, s${s}c$iters c WHERE v.vec_id % $sampleMod = 0"""
    }.mkString("\nUNION ALL\n")

  /** `codes_long` CTE body: the encoded corpus, m rows per vector. */
  private def codesLongSql(m: Int): String =
    (0 until m).map(s =>
      s"SELECT vec_id AS neighbor_id, $s AS s, code FROM s${s}code")
      .mkString("\nUNION ALL\n")

  /** Exact-L2 `truth` + `hit` CTEs and the final recall projection. */
  private def recallTailSql(k: Int, sampleMod: Int, dim: Int,
      approxCte: String): String =
    s"""truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        list_sum(list_transform(range($dim),
          i -> (a.qe[i+1] - b.qe[i+1]) * (a.qe[i+1] - b.qe[i+1]))) ASC,
        b.vec_id ASC) AS rank
    FROM n a JOIN n b ON a.vec_id % $sampleMod = 0 AND a.vec_id <> b.vec_id)
  WHERE rank <= $k),
hit AS (SELECT t.query_id FROM truth t
        JOIN $approxCte a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
  (SELECT COUNT(*) FROM hit) AS n_hit,
  CAST(floor((SELECT COUNT(*) FROM hit) * 1000.0
    / greatest((SELECT COUNT(*) FROM truth), 1)) AS BIGINT) AS recall_millis"""

  /** DuckDB twin of [[pqRecall]]: the identical LUT/ADC/top-k replayed in
    * SQL against the identical brute-force L2 ground truth. */
  def recallOracleSql(m: Int, ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String = {
    val sub = dim / m
    prefixSql(m, ksub, iters, dim) +
      s""",
lut AS (${lutSql(m, sub, iters, sampleMod)}),
codes_long AS (${codesLongSql(m)}),
adc AS (
  SELECT query_id, rank, neighbor_id FROM (
    SELECT l.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY l.query_id
        ORDER BY sum(l.d) ASC, c.neighbor_id ASC) AS rank
    FROM codes_long c JOIN lut l ON l.s = c.s AND l.code = c.code
    WHERE l.query_id <> c.neighbor_id
    GROUP BY l.query_id, c.neighbor_id) WHERE rank <= $k),
""" + recallTailSql(k, sampleMod, dim, "adc")
  }

  /** DuckDB twin of [[opqRecall]]: identical pipeline to
    * [[recallOracleSql]] but over the Hadamard-rotated space — the truth
    * CTE runs over rotated vectors too, which is the SAME truth (every
    * pairwise L2 distance scales by exactly dim). */
  def opqRecallOracleSql(m: Int, ksub: Int, iters: Int, k: Int,
      sampleMod: Int, dim: Int = Similarity.DefaultDim): String = {
    val sub = dim / m
    prefixSql(m, ksub, iters, dim, rotated = true) +
      s""",
lut AS (${lutSql(m, sub, iters, sampleMod)}),
codes_long AS (${codesLongSql(m)}),
adc AS (
  SELECT query_id, rank, neighbor_id FROM (
    SELECT l.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY l.query_id
        ORDER BY sum(l.d) ASC, c.neighbor_id ASC) AS rank
    FROM codes_long c JOIN lut l ON l.s = c.s AND l.code = c.code
    WHERE l.query_id <> c.neighbor_id
    GROUP BY l.query_id, c.neighbor_id) WHERE rank <= $k),
""" + recallTailSql(k, sampleMod, dim, "adc")
  }

  /** `rerank` CTE: exact integer-L2 re-order of the `adc` candidate CTE. */
  private def rerankCteSql(k: Int, dim: Int): String =
    s"""rerank AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, a.neighbor_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY
        list_sum(list_transform(range($dim),
          i -> (q.qe[i+1] - nb.qe[i+1]) * (q.qe[i+1] - nb.qe[i+1]))) ASC,
        a.neighbor_id ASC) AS rank
    FROM adc a JOIN n q ON q.vec_id = a.query_id
               JOIN n nb ON nb.vec_id = a.neighbor_id)
  WHERE rank <= $k)"""

  /** DuckDB twin of [[rerankRecall]]: ADC proposes candK candidates, exact
    * integer-L2 re-orders them, recall measured against the same truth. */
  def rerankRecallOracleSql(m: Int, ksub: Int, iters: Int, k: Int,
      candK: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String = {
    val sub = dim / m
    prefixSql(m, ksub, iters, dim) +
      s""",
lut AS (${lutSql(m, sub, iters, sampleMod)}),
codes_long AS (${codesLongSql(m)}),
adc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT l.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY l.query_id
        ORDER BY sum(l.d) ASC, c.neighbor_id ASC) AS rank
    FROM codes_long c JOIN lut l ON l.s = c.s AND l.code = c.code
    WHERE l.query_id <> c.neighbor_id
    GROUP BY l.query_id, c.neighbor_id) WHERE rank <= $candK),
${rerankCteSql(k, dim)},
""" + recallTailSql(k, sampleMod, dim, "rerank")
  }

  /** DuckDB twin of [[ivfRerankRecall]]: the IVF-pruned ADC proposes candK
    * per query, exact L2 re-orders, recall vs the same truth. */
  def ivfRerankRecallOracleSql(kCoarse: Int, nProbe: Int, m: Int, ksub: Int,
      iters: Int, k: Int, candK: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String =
    ivfAdcCtes(kCoarse, nProbe, m, ksub, iters, candK, sampleMod, dim) +
      ",\n" + rerankCteSql(k, dim) + ",\n" +
      recallTailSql(k, sampleMod, dim, "rerank")

  /** Shared CTE chain for the IVF-ADC twins: the PQ prefix, the coarse
    * quantizer (prefix `g`, full-dim `sliceCtes` — `gcode` IS the inverted
    * lists), each query's `nProbe` nearest cells, and the pruned ADC top-k. */
  private def ivfAdcCtes(kCoarse: Int, nProbe: Int, m: Int, ksub: Int,
      iters: Int, k: Int, sampleMod: Int, dim: Int): String = {
    val sub = dim / m
    prefixSql(m, ksub, iters, dim) + ",\n" +
      sliceCtes("g", 1, dim, kCoarse, iters) +
      s""",
probes AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_sum(list_transform(range($dim), i -> (v.qe[i+1] - c.c[i+1]) * (v.qe[i+1] - c.c[i+1]))),
        c.cluster) AS rn
    FROM g v, gc$iters c WHERE v.vec_id % $sampleMod = 0) WHERE rn <= $nProbe),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN gcode a ON a.code = p.cluster
  WHERE a.vec_id <> p.query_id),
lut AS (${lutSql(m, sub, iters, sampleMod)}),
codes_long AS (${codesLongSql(m)}),
adc AS (
  SELECT query_id, rank, neighbor_id FROM (
    SELECT cd.query_id, cd.neighbor_id,
      row_number() OVER (PARTITION BY cd.query_id
        ORDER BY sum(l.d) ASC, cd.neighbor_id ASC) AS rank
    FROM cand cd
    JOIN codes_long c ON c.neighbor_id = cd.neighbor_id
    JOIN lut l ON l.query_id = cd.query_id AND l.s = c.s AND l.code = c.code
    GROUP BY cd.query_id, cd.neighbor_id) WHERE rank <= $k)"""
  }

  /** DuckDB twin of [[ivfResidualRecall]]: coarse quantizer, corpus
    * residuals, residual-trained subspace codebooks, per-(query, cell)
    * residual LUT, pruned ADC, recall vs the same truth. */
  def ivfResidualRecallOracleSql(kCoarse: Int, nProbe: Int, m: Int,
      ksub: Int, iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String = {
    val sub = dim / m
    val luts = (0 until m).map { s =>
      val lo = s * sub + 1
      s"""SELECT q.query_id, q.cluster, $s AS s, cb.cluster AS code,
  list_sum(list_transform(range($sub), i -> (q.qe[$lo + i] - cb.c[i+1]) * (q.qe[$lo + i] - cb.c[i+1]))) AS d
FROM qres q, s${s}c$iters cb"""
    }.mkString("\nUNION ALL\n")
    val codesLongR = (0 until m).map(s =>
      s"""SELECT c.vec_id AS neighbor_id, g.code AS cluster, $s AS s, c.code
FROM s${s}code c JOIN gcode g ON g.vec_id = c.vec_id""")
      .mkString("\nUNION ALL\n")
    s"""WITH n AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x * 1048576 + 0.5) AS BIGINT)) AS qe
  FROM embeddings),
""" + sliceCtes("g", 1, dim, kCoarse, iters) +
      s""",
nres AS (
  SELECT v.vec_id, g.code AS cluster,
    list_transform(range($dim), i -> v.qe[i+1] - c.c[i+1]) AS qe
  FROM n v JOIN gcode g ON g.vec_id = v.vec_id
           JOIN gc$iters c ON c.cluster = g.code),
""" + (0 until m).map(s =>
        sliceCtes(s"s$s", s * sub + 1, sub, ksub, iters, src = "nres"))
        .mkString(",\n") +
      s""",
probes AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT v.vec_id, c.cluster,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        list_sum(list_transform(range($dim), i -> (v.qe[i+1] - c.c[i+1]) * (v.qe[i+1] - c.c[i+1]))),
        c.cluster) AS rn
    FROM g v, gc$iters c WHERE v.vec_id % $sampleMod = 0) WHERE rn <= $nProbe),
qres AS (
  SELECT p.query_id, p.cluster,
    list_transform(range($dim), i -> v.qe[i+1] - c.c[i+1]) AS qe
  FROM probes p JOIN n v ON v.vec_id = p.query_id
                JOIN gc$iters c ON c.cluster = p.cluster),
lut AS ($luts),
codes_long AS ($codesLongR),
adc AS (
  SELECT query_id, rank, neighbor_id FROM (
    SELECT l.query_id, c.neighbor_id,
      row_number() OVER (PARTITION BY l.query_id
        ORDER BY sum(l.d) ASC, c.neighbor_id ASC) AS rank
    FROM codes_long c
    JOIN lut l ON l.cluster = c.cluster AND l.s = c.s AND l.code = c.code
    WHERE l.query_id <> c.neighbor_id
    GROUP BY l.query_id, c.neighbor_id) WHERE rank <= $k),
""" + recallTailSql(k, sampleMod, dim, "adc")
  }

  /** DuckDB twin of [[ivfAdcTopK]]: (query_id, rank, neighbor_id). */
  def ivfTopKOracleSql(kCoarse: Int, nProbe: Int, m: Int, ksub: Int,
      iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String =
    ivfAdcCtes(kCoarse, nProbe, m, ksub, iters, k, sampleMod, dim) +
      "\nSELECT query_id, rank, neighbor_id FROM adc"

  /** DuckDB twin of [[ivfPqRecall]]. */
  def ivfRecallOracleSql(kCoarse: Int, nProbe: Int, m: Int, ksub: Int,
      iters: Int, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String =
    ivfAdcCtes(kCoarse, nProbe, m, ksub, iters, k, sampleMod, dim) + ",\n" +
      recallTailSql(k, sampleMod, dim, "adc")
}

package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) over embedding columns — the cheap memory-side
  * ANN path: each dimension linearly quantized to an 8-bit code against the
  * corpus per-dimension [min, max] (256 levels), 4× smaller than float32
  * (vs [[PQ]]'s ~64×, but with no codebook training and much lower
  * distortion — the standard first rung of the compression ladder).
  *
  * Scoring is asymmetric (the SQ analog of ADC): the query keeps its exact
  * quantized vector, the corpus side is decoded from codes on the fly
  * (`mn·255 + code·(mx−mn)` — an integer, so the inner product is an EXACT
  * integer sum, order-independent and oracle-checkable; ranking by it
  * equals ranking by decoded-value dot product scaled by 255).
  *
  * Scale shape: the per-dimension stats are one aggregate pass (2·dim longs
  * of driver state — metadata, like k-means centroids); encode/decode are
  * map-side expressions under inlined literal stats; the top-k probe is
  * sampled-queries × corpus like [[Similarity.bruteForceTopK]], but each
  * corpus vector moves as dim bytes, not dim floats.
  */
object SQ8 {

  val Levels = 255L // codes 0..255 — 8 bits exactly

  /** Per-dimension (min, max) of the quantized corpus: ONE aggregate with
    * 2·dim min/max columns — map-side partials, no explode (a posexplode
    * would multiply every row by dim before aggregating). */
  def dimStats(prepared: DataFrame, dim: Int): (Seq[Long], Seq[Long]) = {
    val aggs = (0 until dim).flatMap(i => Seq(
      min(element_at(col("qe"), i + 1)).as(s"mn$i"),
      max(element_at(col("qe"), i + 1)).as(s"mx$i")))
    val r = prepared.agg(aggs.head, aggs.tail: _*).head()
    ((0 until dim).map(i => r.getLong(2 * i)),
      (0 until dim).map(i => r.getLong(2 * i + 1)))
  }

  private def litArr(xs: Seq[Long]): String =
    xs.map(v => s"${v}L").mkString("array(", ", ", ")")

  /** Append the 8-bit `code` array (one int per dimension) under the given
    * stats. Dimensions with mx == mn carry no information and encode 0. */
  def encodeUnder(prepared: DataFrame, mn: Seq[Long], mx: Seq[Long]): DataFrame = {
    val dim = mn.size
    prepared.withColumn("code", expr(
      s"transform(sequence(0, ${dim - 1}), i -> " +
        s"CASE WHEN element_at(${litArr(mx)}, i + 1) > element_at(${litArr(mn)}, i + 1) " +
        s"THEN CAST(floor((element_at(qe, i + 1) - element_at(${litArr(mn)}, i + 1)) * ${Levels}.0D " +
        s"/ (element_at(${litArr(mx)}, i + 1) - element_at(${litArr(mn)}, i + 1))) AS BIGINT) " +
        s"ELSE 0L END)"))
  }

  /** Decoded-scaled vector from codes: dq[i] = mn[i]·255 + code[i]·(mx[i]−mn[i])
    * — integers, = 255 × the conventional decode, so dot-product ORDER is
    * preserved exactly while staying in exact Long arithmetic. */
  def decodeUnder(encoded: DataFrame, mn: Seq[Long], mx: Seq[Long]): DataFrame = {
    val dim = mn.size
    encoded.withColumn("dq", expr(
      s"transform(sequence(0, ${dim - 1}), i -> " +
        s"element_at(${litArr(mn)}, i + 1) * $Levels + element_at(code, i + 1) * " +
        s"(element_at(${litArr(mx)}, i + 1) - element_at(${litArr(mn)}, i + 1)))"))
  }

  /** SQ8 asymmetric inner-product top-k of the sampled query side
    * (`idCol % sampleMod == 0`) over the code-compressed corpus: score =
    * exact-query · decoded-corpus integer dot, rank desc, ties by id. */
  def sq8TopK(prepared: DataFrame, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    CacheLease.acquire(prepared) // stats action + corpus decode + query side
    val (mn, mx) = dimStats(prepared, dim)
    val corpus = decodeUnder(encodeUnder(prepared, mn, mx), mn, mx)
      .select(col(idCol).as("neighbor_id"), col("dq"))
    val queries = prepared.filter(col(idCol) % sampleMod === 0)
      .select(col(idCol).as("query_id"), col("qe"))
    val pairs = broadcast(queries).join(corpus,
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        expr("array_dot_long(qe, dq)").as("dot"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Per-vector code checksum frame: pins the ENTIRE code vector per id
    * without emitting dim columns (sum/min/max + h32 of the joined codes). */
  def encodeChecks(prepared: DataFrame, dim: Int = Similarity.DefaultDim,
      idCol: String = "vec_id"): DataFrame = {
    CacheLease.acquire(prepared) // stats action, then the encode scan
    val (mn, mx) = dimStats(prepared, dim)
    encodeUnder(prepared, mn, mx)
      .select(col(idCol),
        expr("aggregate(code, 0L, (a, x) -> a + x)").as("code_sum"),
        expr("array_min(code)").as("code_min"),
        expr("array_max(code)").as("code_max"),
        Dedup.h32(expr("concat_ws(',', transform(code, x -> CAST(x AS STRING)))"))
          .as("code_check"))
  }

  /** Measured SQ8 recall vs exact inner-product top-k ground truth over the
    * same sampled query side (same discipline as [[PQ.pqRecall]] — the
    * compression loss as an oracle-checkable number).
    * One row: (n_true, n_hit, recall_millis). */
  def sq8Recall(prepared: DataFrame, k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim, idCol: String = "vec_id"): DataFrame = {
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    CacheLease.acquire(prepared) // truth pairs + sq8TopK share it
    val vecs = prepared.select(col(idCol), col("qe"))
    val truthPairs = broadcast(vecs.filter(col(idCol) % sampleMod === 0)).as("x")
      .join(vecs.as("y"), col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("query_id"), col(s"y.$idCol").as("neighbor_id"),
        expr("array_dot_long(x.qe, y.qe)").as("dot"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("dot").desc, col("neighbor_id").asc)
    val truth = truthPairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select("query_id", "neighbor_id")
    val approx = sq8TopK(prepared, k, sampleMod, dim, idCol)
      .select("query_id", "neighbor_id")
    val hits = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_hit"),
        floor(col("n_hit") * lit(1000.0) / greatest(col("n_true"), lit(1L)))
          .cast("long").as("recall_millis"))
  }

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE prefix: quantize, per-dimension stats, codes and
    * decoded-scaled vectors — the SQL replay of the Scala trainer (the
    * stats are recomputed from the data, exactly as the engine does at
    * query time). */
  private def prefixSql(dim: Int): String =
    s"""WITH n AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(x * 1048576 + 0.5) AS BIGINT)) AS qe
  FROM embeddings),
stats AS (
  SELECT i, min(qe[i+1]) AS mn, max(qe[i+1]) AS mx
  FROM n, LATERAL (SELECT unnest(range($dim)) AS i) GROUP BY i),
codes AS (
  SELECT n.vec_id, s.i,
    CASE WHEN s.mx > s.mn
      THEN CAST(floor((n.qe[s.i+1] - s.mn) * ${Levels}.0 / (s.mx - s.mn)) AS BIGINT)
      ELSE 0 END AS code
  FROM n, stats s),
dec AS (
  SELECT c.vec_id, list(s.mn * $Levels + c.code * (s.mx - s.mn) ORDER BY c.i) AS dq
  FROM codes c JOIN stats s ON s.i = c.i GROUP BY c.vec_id)"""

  /** DuckDB twin of [[encodeChecks]]. */
  def encodeOracleSql(dim: Int = Similarity.DefaultDim): String =
    prefixSql(dim) + s""",
cl AS (SELECT vec_id, list(code ORDER BY i) AS code FROM codes GROUP BY vec_id)
SELECT vec_id,
  CAST(list_sum(code) AS BIGINT) AS code_sum,
  list_min(code) AS code_min,
  list_max(code) AS code_max,
  ('0x' || substr(md5(array_to_string(code, ',')), 1, 8))::BIGINT AS code_check
FROM cl"""

  /** DuckDB twin of [[sq8Recall]]. */
  def recallOracleSql(k: Int, sampleMod: Int,
      dim: Int = Similarity.DefaultDim): String =
    prefixSql(dim) + s""",
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        list_sum(list_transform(range($dim), i -> q.qe[i+1] * d.dq[i+1])) DESC,
        d.vec_id ASC) AS rank
    FROM n q JOIN dec d ON q.vec_id % $sampleMod = 0 AND q.vec_id <> d.vec_id)
  WHERE rank <= $k),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      row_number() OVER (PARTITION BY a.vec_id ORDER BY
        list_sum(list_transform(range($dim), i -> a.qe[i+1] * b.qe[i+1])) DESC,
        b.vec_id ASC) AS rank
    FROM n a JOIN n b ON a.vec_id % $sampleMod = 0 AND a.vec_id <> b.vec_id)
  WHERE rank <= $k),
hit AS (SELECT t.query_id FROM truth t
        JOIN approx a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
  (SELECT COUNT(*) FROM hit) AS n_hit,
  CAST(floor((SELECT COUNT(*) FROM hit) * 1000.0
    / greatest((SELECT COUNT(*) FROM truth), 1)) AS BIGINT) AS recall_millis"""
}

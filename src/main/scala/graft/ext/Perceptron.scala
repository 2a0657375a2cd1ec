package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed FULL-BATCH perceptron training (Rosenblatt 1958, the batch
  * variant) — linear-classifier FITTING inside the engine, the training
  * counterpart of [[TextAnalysis.linearScoreMicros]]'s serving shape. A
  * curation pipeline fits exactly this kind of model (quality filters,
  * language gates, topic routers) over corpus-derived features before
  * applying it at scan speed.
  *
  * Why the BATCH variant: the classic online perceptron updates after
  * every row, making the result depend on row ORDER — unreplayable in a
  * distributed engine (and in any oracle). The batch form accumulates one
  * update per ROUND, `w += Σ_{misclassified} y·x`, a commutative integer
  * sum — order-free, so the learned weights replay bit-exactly anywhere.
  *
  * Scale shape: each round is ONE map-side-combinable aggregate over the
  * feature frame (a conditional sum per feature dimension plus a mistake
  * count); the current weights enter the plan as literals, the driver
  * holds d+1 longs per round. At 100 TB that is k corpus scans with
  * partial aggregation — no shuffle of data-sized state, no parameter
  * server. Features and labels must be integral (exact arithmetic is the
  * oracle contract; quantize like [[TextAnalysis]] does if needed).
  *
  * No learning-rate knob: integer steps are scale-free for the perceptron
  * (the decision boundary of w is invariant under positive scaling).
  * Convergence on the fixture corpus is MEASURED, not assumed — the
  * per-round mistake counts are part of the output artifact (the corpus
  * may not be linearly separable in the chosen features; the trajectory
  * is then the honest answer). */
object Perceptron {

  /** One training round's outcome: mistakes measured against the PREVIOUS
    * weights, `weights` = the vector AFTER this round's update. */
  final case class Round(round: Int, nMistakes: Long, weights: Seq[Long])

  /** ONE round's aggregate against fixed weights (the plan-inspectable
    * seam [[train]] loops over): a single map-side-combinable pass
    * computing the mistake count `nm` and the per-feature conditional
    * update sums `d0..dn` — the weights enter as literals, so the plan is
    * scan → partial HashAggregate → one 1-row exchange → final. */
  def roundAgg(f: DataFrame, labelCol: String, featureCols: Seq[String],
      w: Seq[Long]): DataFrame = {
    require(w.size == featureCols.size,
      s"weight/feature dimension mismatch: ${w.size} vs ${featureCols.size}")
    val dot = featureCols.zip(w)
      .map { case (c, wi) => col(c) * lit(wi) }
      .reduce(_ + _)
    val mistake = (col(labelCol) * dot) <= 0
    // coalesce like the deltas: sum over ZERO rows is NULL, and an empty
    // feature frame must yield Round(r, 0, zeros), not an NPE at getLong
    val nmAgg = coalesce(sum(when(mistake, 1L).otherwise(0L)), lit(0L))
      .as("nm")
    val dAggs = featureCols.zipWithIndex.map { case (c, i) =>
      coalesce(sum(when(mistake, col(labelCol) * col(c))), lit(0L))
        .as(s"d$i")
    }
    f.agg(nmAgg, dAggs: _*)
  }

  /** Mistake COUNT of a fixed weight vector over the feature frame — one
    * conditional-count aggregate; the evaluation half of [[roundAgg]]. */
  def mistakes(f: DataFrame, labelCol: String, featureCols: Seq[String],
      w: Seq[Long]): Long =
    mistakesMany(f, labelCol, featureCols, Seq(w)).head

  /** Mistake counts of SEVERAL weight vectors in ONE corpus pass — one
    * conditional sum per vector in a single aggregate (evaluating the
    * averaged and final vectors side by side costs one scan, not two).
    * Caller contract: Σ_i |w_i|·max|x_i| must fit in Long (the in-plan
    * dot product is unchecked 64-bit arithmetic); [[train]] enforces this
    * per round for the vectors it produces, and [[averagedWeights]] sums
    * with addExact, so vectors from this object are safe whenever the
    * training frame was. */
  def mistakesMany(f: DataFrame, labelCol: String, featureCols: Seq[String],
      ws: Seq[Seq[Long]]): Seq[Long] = {
    require(ws.nonEmpty, "at least one weight vector")
    val aggs = ws.zipWithIndex.map { case (w, i) =>
      require(w.size == featureCols.size,
        s"weight/feature dimension mismatch: ${w.size} vs ${featureCols.size}")
      val dot = featureCols.zip(w)
        .map { case (c, wi) => col(c) * lit(wi) }
        .reduce(_ + _)
      coalesce(sum(when((col(labelCol) * dot) <= 0, 1L).otherwise(0L)),
        lit(0L)).as(s"nm$i")
    }
    val row = f.agg(aggs.head, aggs.tail: _*).collect()(0)
    ws.indices.map(row.getLong)
  }

  /** AVERAGED-perceptron weights (Freund & Schapire 1999): the
    * element-wise SUM of the per-round weight vectors — an unnormalized
    * average, which is decision-equivalent (the boundary is invariant
    * under positive scaling) and keeps the arithmetic integer-exact. The
    * averaged vector is the production variant for non-separable data:
    * where the raw trajectory oscillates between states, the average
    * votes across them. Whether it actually beats the final round here is
    * MEASURED by the caller, never assumed. */
  def averagedWeights(rounds: Seq[Round]): Seq[Long] = {
    require(rounds.nonEmpty, "no rounds to average")
    require(rounds.forall(_.weights.size == rounds.head.weights.size),
      "rounds carry inconsistent weight dimensions")
    // addExact: the vote sum grows with rounds on non-separable data;
    // silent Long wrap would break the exact-replay contract invisibly
    rounds.map(_.weights).reduce((a, b) =>
      a.zip(b).map(t => Math.addExact(t._1, t._2)))
  }

  /** Train `rounds` batch-perceptron rounds over integral features.
    *
    * @param feats      one row per example
    * @param labelCol   +1 / -1 long column
    * @param featureCols integral feature columns (include a constant 1
    *                   column for the bias term)
    * @return one [[Round]] per round, in order. */
  def train(feats: DataFrame, labelCol: String, featureCols: Seq[String],
      rounds: Int): Seq[Round] = {
    require(featureCols.nonEmpty && rounds >= 1, "features and rounds >= 1")
    // materialize the (small-width) feature frame once: k rounds re-scan
    // the projected features, never the corpus derivation above them
    val f = CacheLease.localCheckpoint(
      feats.select((labelCol +: featureCols).map(col): _*))
    // Overflow is a CONTRACT violation, not a numeric detail: weights
    // accumulate unboundedly on non-separable data, and the in-plan dot
    // product multiplies them by raw Long features — a silent Long wrap
    // there diverges from the oracle with no error. Guard it loudly:
    // per-feature |x| maxima are measured once (one aggregate over the
    // checkpointed frame), and each round checks Σ_i |w_i|·max|x_i| in
    // BigInt before the weights enter the plan as literals. The per-round
    // update sums Σ y·x are bounded by the same maxima times the row
    // count, checked alongside.
    // per-feature |x| maxima from min/max pairs resolved in BigInt
    // driver-side — NOT an in-plan abs(), whose non-ANSI Long.MinValue
    // wraps to itself and would under-approximate the bound (review r11)
    val boundAggs = featureCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(coalesce(min(col(c)), lit(0L)).as(s"mn$i"),
        coalesce(max(col(c)), lit(0L)).as(s"mx$i"))
    }
    val absRow = f.agg(count(lit(1)).as("n"), boundAggs: _*).collect()(0)
    val nRows = BigInt(absRow.getLong(0))
    val maxAbs = featureCols.indices.map { i =>
      BigInt(absRow.getLong(1 + 2 * i)).abs
        .max(BigInt(absRow.getLong(2 + 2 * i)).abs)
    }
    val sumRisk = maxAbs.zipWithIndex.collect {
      case (m, i) if m * nRows > Long.MaxValue => s"${featureCols(i)}: |x|<=$m over $nRows rows" }
    require(sumRisk.isEmpty,
      s"per-round update sum can overflow Long — ${sumRisk.mkString(", ")}")
    var w = Seq.fill(featureCols.size)(0L)
    (1 to rounds).map { r =>
      val dotBound = w.zip(maxAbs).map { case (wi, m) => BigInt(wi).abs * m }.sum
      require(dotBound <= Long.MaxValue,
        s"round $r dot product can overflow Long (Σ|w|·max|x| = $dotBound); " +
          "quantize features smaller or train fewer rounds")
      val row = roundAgg(f, labelCol, featureCols, w).collect()(0)
      w = w.zipWithIndex.map { case (wi, i) =>
        Math.addExact(wi, row.getLong(i + 1)) }
      Round(r, row.getLong(0), w)
    }
  }
}

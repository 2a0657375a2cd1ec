package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pair edges — the step that
  * turns pairwise dedup verdicts into KEEP/DROP decisions: all docs that
  * are transitively near-dups form one cluster, and a pipeline keeps one
  * representative (the min id) per cluster.
  *
  * Algorithm: bounded min-label propagation. `comp_k(v)` = the minimum
  * vertex id reachable from `v` within `k` hops; each iteration is one
  * edge⋈label join + a min aggregate, so the shuffle volume per round is
  * O(|edges| + |vertices|) — never the corpus. Near-dup clusters are
  * shallow (duplicates of a common source), so a small fixed `iters`
  * reaches the true components in practice while keeping the computation
  * DETERMINISTIC and replayable as plain SQL (the oracle runs the same k
  * rounds). For adversarially long chains at extreme scale the same loop
  * admits the large-star/small-star contraction (halves diameter per
  * round); not needed at near-dup cluster shapes.
  */
object Components {

  /** (id, comp) for every vertex appearing in `edges`; `comp` = min id
    * within `iters` hops. Edges are treated as undirected.
    *
    * Every round LOCAL-CHECKPOINTS its label frame (same cure as
    * [[starComponents]]): each round references its predecessor TWICE
    * (the neighbor-min join and the outer merge), so without lineage
    * truncation the analyzed plan doubles per round — measured on the
    * 4-round ngram-edge composition, one plan string held 6,820 repeated
    * document scans and 4,092 Window nodes, and the driver spent seconds
    * canonicalizing a KB-sized computation. The checkpoints trade that
    * for `iters` tiny vertex-frame jobs with flat plans. The symmetric
    * edge set checkpoints once up front (every round joins it; its own
    * lineage — e.g. a shingle self-join — must not be re-analyzed per
    * round), with the canonical projection persisted through that single
    * materialization so the upstream edge pipeline computes once, not
    * once per union branch. The returned frame is checkpoint-cached
    * (vertex-sized). Every checkpoint is leased: [[CacheLease.releaseAll]]
    * frees them once the result is materialized. */
  def labelPropagate(edges: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    val canon = edges
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .persist()
    // eager: materializes canon once, truncates lineage
    val sym = CacheLease.localCheckpoint(canon
      .unionByName(canon.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    canon.unpersist()
    var labels = CacheLease.localCheckpoint(sym.select(col("a").as("id"))
      .distinct().withColumn("comp", col("id")))
    (1 to iters).foreach { _ =>
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("comp")), Seq("b"))
        .groupBy(col("a").as("id"))
        .agg(min(col("comp")).as("nbr_comp"))
      // localCheckpoint forfeits recomputability (an executor loss fails
      // the job) — the accepted price of flat per-round plans; use reliable
      // checkpoint() on a cluster where that trade matters
      labels = CacheLease.localCheckpoint(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp")))
    }
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") run to CONVERGENCE — the adversarial-diameter path that
    * bounded [[labelPropagate]] documents away: contraction halves
    * component diameter per round pair, so a million-node chain converges
    * in ~20 rounds where k-hop propagation needs a million.
    *
    * Edges live in canonical directed form (x, p) with p < x; large-star
    * symmetrizes and hangs every larger neighbor under the group min,
    * small-star re-hangs the smaller neighbors. Per round: two grouped
    * mins + joins — shuffle O(edges), never the corpus — and ONE action
    * (a count+hash fingerprint; equal fingerprints on a deterministic
    * edge set = fixpoint). Converged output is the TRUE component
    * assignment (comp = component min), which is canonical — so unlike
    * the bounded rounds, an oracle can verify it with any algorithm
    * (DuckDB replays it as a recursive-CTE reachability fixpoint).
    *
    * @return (id, comp) for every vertex in `edges`. */
  def starComponents(edges: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50): DataFrame = {
    // every round LOCAL-CHECKPOINTS its edge set: unlike persist, this
    // truncates lineage, so round N's plan doesn't re-analyze rounds
    // 1..N-1 (the classic iterative-Spark analysis blowup — with plain
    // caching the driver-side planning cost grows quadratically and a
    // 20-round contraction stalls before any executor works)
    // (every checkpoint and the vertex frame are leased — see
    // labelPropagate)
    var e = CacheLease.localCheckpoint(edges.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("x"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("p"))
      .filter(col("x") =!= col("p")).distinct())
    val verts = e.select(col("x").as("id"))
      .union(e.select(col("p").as("id"))).distinct()
    CacheLease.acquire(verts)

    def fingerprint(d: DataFrame): (Long, Long) = {
      // XOR fold: order-independent and overflow-free (a sum would trip
      // ANSI overflow on 64-bit hashes)
      val r = d.agg(count(lit(1)),
        expr("bit_xor(xxhash64(x, p))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var fp = fingerprint(e)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: every neighbor v > u hangs under min(Γ(u) ∪ {u})
      val sym = e.select(col("x").as("u"), col("p").as("v"))
        .union(e.select(col("p").as("u"), col("x").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val afterLarge = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("p"))
        .filter(col("x") =!= col("p")).distinct()
      // small-star: u's smaller neighbors (its parent rows) re-hang under
      // their min; u keeps one edge to that min
      val minsS = afterLarge.groupBy("x").agg(min(col("p")).as("m"))
      val j = afterLarge.join(minsS, Seq("x"))
      val next = CacheLease.localCheckpoint(j.filter(col("p") =!= col("m"))
          .select(col("p").as("x"), col("m").as("p"))
        .union(j.select(col("x"), col("m").as("p")))
        .filter(col("x") =!= col("p")).distinct())
      val nfp = fingerprint(next)
      e = next
      converged = nfp == fp
      fp = nfp
      round += 1
    }
    require(converged,
      s"star contraction did not converge within $maxRounds rounds")
    verts.join(e.select(col("x").as("id"), col("p").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }
}

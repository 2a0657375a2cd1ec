package graft.sync

import graft.model.SyncMode
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** The sync planner — the reference's hand-rolled "optimizer" (SURVEY §4).
  *
  * Decides per-table sync mode from the control pass, before any wide data
  * moves (O4: control-query-first change detection,
  * CopyOrchestrator.cs:831-913):
  *
  *   changePercent = changed / sourceWindowCount * 100
  *   excessPercent = (targetCount - sourceWindowCount) / sourceWindowCount * 100
  *   (excess may be negative and never triggers truncate — compared with `>=`,
  *    CopyOrchestrator.cs:889-894)
  *
  *   mode = NOOP        if changed==0 ∧ excess<=0 ∧ missing==0   (O5, :1003-1046)
  *          TRUNCATE    if changePct>=T ∨ excessPct>=T           (O6, :884-914)
  *          INCREMENTAL otherwise
  *
  * The degradation ladder (SURVEY §7.3.8) runs before any of this, in
  * [[graft.run.SyncRunner.runTable]]: no stored marks, corrupt marks, or a
  * strategy that cannot run incrementally (Sql without
  * @sysRowVersionFilter, forced truncate, full table) ⇒ STANDARD.
  *
  * [[decide]] is the one Scala definition of the mode rule and
  * [[ChangeStats.columns]] the one computation of its counts; the runner,
  * the oracle-checked [[decideAsQuery]] and Bench all go through them.
  */
object Planner {

  val DefaultTruncateThresholdPct = 40.0 // AppConfiguration.cs:39

  final case class ChangeStats(
      sourceWindow: Long,
      targetCount: Long,
      changed: Long,
      missing: Long) {
    def changePercent: Double =
      if (sourceWindow == 0) 100.0 else changed.toDouble * 100.0 / sourceWindow
    def excessPercent: Double =
      if (sourceWindow == 0) 100.0
      else (targetCount - sourceWindow).toDouble * 100.0 / sourceWindow
  }

  object ChangeStats {
    /** The four cost-model counts as aggregate columns over
      * [[Apply.incrementalFlags]] — ONE pass over the joined key flags
      * (~16 B/row of control columns, the optimized-mode bargain of
      * README.md:241-244). The runner appends its mark columns to the same
      * `agg`; [[decideAsQuery]] runs it alone. */
    val columns: Seq[Column] = Seq(
      sum(when(col("is_in_control"), 1L).otherwise(0L)).as("source_window"),
      sum(when(col("is_changed"), 1L).otherwise(0L)).as("changed"),
      sum(when(col("is_in_target"), 1L).otherwise(0L)).as("target_count"),
      sum(when(col("is_in_control") && !col("is_in_target"), 1L).otherwise(0L))
        .as("missing"))

    /** [[columns]] read back from the first four fields of an aggregate row
      * (an empty flags frame sums to null: zero). */
    def fromRow(r: Row): ChangeStats = {
      def n(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      ChangeStats(sourceWindow = n(0), targetCount = n(2), changed = n(1), missing = n(3))
    }
  }

  /** Result of the shuffle-free sync probe: per-side counts, the source-side
    * changed count, order-independent set checksums per side at two
    * granularities — (key, version) pairs and keys alone — the target-side
    * local-mutation count, and the window maxes the mark save needs. */
  final case class SyncProbe(
      sourceWindow: Long,
      changed: Long,
      targetCount: Long,
      pairCheckSource: BigDecimal,
      pairCheckTarget: BigDecimal,
      keyCheckSource: BigDecimal,
      keyCheckTarget: BigDecimal,
      localMut: Long,
      maxVersion: Option[Long],
      maxKey: Option[Long]) {
    /** True ⇒ the (key, version) sets are identical on both sides and no
      * source version passed the stored mark — the perfect-sync case. */
    def inSync: Boolean =
      changed == 0 && sourceWindow == targetCount && pairCheckSource == pairCheckTarget
    /** True ⇒ the KEY sets are identical (versions may differ): no missing
      * keys, no not-in-window keys — an update-only drift. With localMut==0
      * the whole incremental changeset reduces to filters + one broadcast
      * semi-join ([[Apply.updateOnlyChangeSet]]); no wide join needed. */
    def keysInSync: Boolean =
      sourceWindow == targetCount && keyCheckSource == keyCheckTarget
    /** The cost-model stats the probe alone determines: on equal key sets
      * ([[keysInSync]]) no control key is missing from the target. */
    def stats: ChangeStats = ChangeStats(sourceWindow, targetCount, changed, missing = 0)
  }

  /** O5 perfect-sync short-circuit WITHOUT a join: two column-pruned scans
    * (~16 B/row each) + map-side aggregates, zero shuffle.
    *
    * The reference's short-circuit (CopyOrchestrator.cs:1003-1046) still
    * pays a server-side key anti-join for the missing check; at lake scale
    * that join is the whole cost of a no-change re-sync, so we replace it
    * with an order-independent set checksum: the exact integer SUM of
    * xxhash64(key, version) over each side (decimal(38,0) accumulator — no
    * overflow below 10¹⁹ rows, and unlike XOR a duplicated pair cannot
    * self-cancel). Counts equal ∧ checksums equal ∧ changed==0 ⇒ NOOP.
    * A false NOOP needs the two sides' symmetric difference to sum-collide
    * on a 64-bit hash (~2⁻⁶⁴ for non-adversarial data — the same trust
    * level as content-hash dedup). Any mismatch falls through to the exact
    * full-outer-join path ([[Apply.incrementalFlags]]), so the probe can
    * only ever ADD a cheap pass, never change a decision incorrectly.
    */
  def probe(
      control: DataFrame,
      targetKV: DataFrame,
      sourceMark: Long,
      targetMark: Long,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): SyncProbe = {
    // ONE job: union the two sides with a tag and aggregate per side — both
    // scans run in a single stage (two map-side partial-agg branches, a
    // 2-group final agg), halving the fixed job latency a NOOP pays
    val isSrc = col("_side") === 0
    def check(cond: org.apache.spark.sql.Column, e: String) = coalesce(
      sum(when(cond, expr(e).cast("decimal(38,0)"))), lit(0).cast("decimal(38,0)"))
    def cnt(cond: org.apache.spark.sql.Column) =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))
    val r = control.select(col(keyCol), col(versionCol), lit(0).as("_side"))
      .unionByName(targetKV.select(col(keyCol), col(versionCol), lit(1).as("_side")))
      .agg(
        cnt(isSrc).as("cn"),
        cnt(isSrc && col(versionCol) > lit(sourceMark)).as("chg"),
        cnt(!isSrc).as("tn"),
        cnt(!isSrc && col(versionCol) > lit(targetMark)).as("lm"),
        check(isSrc, s"xxhash64($keyCol, $versionCol)").as("cpck"),
        check(!isSrc, s"xxhash64($keyCol, $versionCol)").as("tpck"),
        check(isSrc, s"xxhash64($keyCol)").as("ckck"),
        check(!isSrc, s"xxhash64($keyCol)").as("tkck"),
        max(when(isSrc, col(versionCol))).as("mv"),
        max(when(isSrc, col(keyCol))).as("mk")).head()
    SyncProbe(
      sourceWindow = r.getLong(0), changed = r.getLong(1),
      targetCount = r.getLong(2), localMut = r.getLong(3),
      pairCheckSource = BigDecimal(r.getDecimal(4)), pairCheckTarget = BigDecimal(r.getDecimal(5)),
      keyCheckSource = BigDecimal(r.getDecimal(6)), keyCheckTarget = BigDecimal(r.getDecimal(7)),
      maxVersion = if (r.isNullAt(8)) None else Some(r.getLong(8)),
      maxKey = if (r.isNullAt(9)) None else Some(r.getLong(9)))
  }

  /** Table MAINTENANCE decision — the O6 probe-before-pay discipline
    * applied to the two upkeep costs a lake target accrues under
    * incremental sync (VERDICT r13 #3: the recluster trigger existed as a
    * policy function only the bench called; a production table needs the
    * planner to schedule it):
    *
    *  - RECLUSTER when the table carries a Z-ORDER layout policy and the
    *    measured box-probe selectivity has decayed past
    *    [[ZOrder.reclusterDue]]'s threshold (unclustered delta commits
    *    span the full key box, so every 2-D lookup scans them; the probe
    *    is parquet-footer arithmetic — O(live files) metadata, never a
    *    data scan). Recluster subsumes compaction: the z-rewrite folds
    *    every pending commit into the fresh layout.
    *  - COMPACT when the pending commit count reached the amortization
    *    cadence (`compactEvery` — LakeApplier's default 8): replay cost on
    *    reads grows with the log, and the fold is O(touched data) on a
    *    clustered base ([[LakeTable.compact]]).
    *  - NONE otherwise — steady state pays nothing.
    *
    * `layoutProbe` is (scannedFrac, freshFrac) from
    * [[LakeTable.layoutBoxProbe]]; None = table has no layout policy. */
  sealed trait Maintenance
  object Maintenance {
    case object None extends Maintenance
    case object Compact extends Maintenance
    case object Recluster extends Maintenance
  }
  def decideMaintenance(
      pendingCommits: Int,
      compactEvery: Int,
      layoutProbe: Option[(Double, Double)],
      reclusterFactor: Double = 4.0,
      reclusterMinFrac: Double = 0.05): Maintenance =
    if (layoutProbe.exists { case (scanned, fresh) =>
        ZOrder.reclusterDue(scanned, fresh, reclusterFactor, reclusterMinFrac) })
      Maintenance.Recluster
    else if (pendingCommits >= compactEvery)
      // a table carrying a layout policy NEVER takes the Compact arm
      // (ADVICE r14): [[LakeTable.compact]]'s clustered-base detection
      // (pairwise-disjoint keyCol file ranges) is false on a Morton base,
      // so a cadence compact would rewrite it keyCol-sorted/unclustered,
      // the next box probe would read that as decay, and the table would
      // pay TWO full rewrites where one recluster — which folds the
      // pending commits anyway — suffices. Recluster subsumes compaction.
      (if (layoutProbe.isDefined) Maintenance.Recluster else Maintenance.Compact)
    else Maintenance.None

  /** O4/O5/O6 cost model (see the header). A probe that reports
    * [[SyncProbe.inSync]] implies NOOP here: changed == 0, equal counts and
    * equal key sets give missing == 0 and targetCount == sourceWindow. */
  def decide(stats: ChangeStats,
      thresholdPct: Double = DefaultTruncateThresholdPct): SyncMode =
    if (stats.changed == 0 && stats.missing == 0 &&
        stats.targetCount <= stats.sourceWindow) SyncMode.Noop
    else if (stats.changePercent >= thresholdPct || stats.excessPercent >= thresholdPct)
      SyncMode.Truncate
    else SyncMode.Incremental

  /** One row of [[decideAsQuery]]. */
  final case class Decision(
      source_window: Long, changed: Long, target_count: Long, missing: Long,
      change_pct: Double, excess_pct: Double, mode: String)

  /** The whole decision as one distributed plan (no driver counts) — the
    * oracle-checked planner queries: the runner's flags join and
    * [[ChangeStats.columns]] aggregate, then [[decide]] over the one row.
    * `target` carries (key, version); `storedMark` is a 1-row frame with
    * column `stored_mark`, read in-plan as a scalar subquery. */
  def decideAsQuery(
      control: DataFrame,
      target: DataFrame,
      storedMark: DataFrame,
      thresholdPct: Double = DefaultTruncateThresholdPct,
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion"): DataFrame = {
    val mark = storedMark.select("stored_mark").scalar()
    Apply.incrementalFlags(control, target, mark, mark, keyCol, versionCol)
      .agg(ChangeStats.columns.head, ChangeStats.columns.tail: _*)
      .map { r =>
        val s = ChangeStats.fromRow(r)
        Decision(s.sourceWindow, s.changed, s.targetCount, s.missing,
          s.changePercent, s.excessPercent,
          decide(s, thresholdPct).toString.toUpperCase)
      }(Encoders.product[Decision])
      .toDF()
  }
}

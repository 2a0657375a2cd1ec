package graft.run

import graft.model._
import graft.state.{SyncStateStore, VersionHex}
import graft.sync._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.concurrent.TrieMap

/** The orchestration layer (§2.9): table-parallel sync execution with
  * fail-fast, retry, per-table crash-safe state saves, and metrics.
  *
  * Reference: a fixed worker pool pulling from a ConcurrentQueue
  * (D1, CopyOrchestrator.cs:440-497), auto-stop on first failure keeping
  * pending tables retryable (D3, :460-472), retry = stateless re-run (D4),
  * per-table state flush (D6, :975-978). Spark twist: each worker submits
  * independent jobs on the shared session (table-level parallelism), while
  * ROW-level parallelism inside each table comes from partitioning — the
  * axis the reference never had. Workers tag jobs with a job group so a
  * failing table cancels only its own in-flight stages (D2).
  *
  * Write-path shape (the 100 TB contract):
  *  - NOOP: ZERO writes and no join — a shuffle-free two-scan checksum
  *    probe ([[Planner.probe]], ~16 B/row of control columns) decides the
  *    perfect-sync short-circuit, and marks refresh from the same
  *    aggregates. Reference: CopyOrchestrator.cs:1003-1046.
  *  - INCREMENTAL: appends a [[LakeTable]] changeset commit — tombstone
  *    keys + changed/new rows ONLY (the reference's targeted deletes + bulk
  *    insert, AxDbDataService.cs:177-404); the target is NEVER rewritten.
  *    Replay cost is amortized by compaction every `compactEvery` commits.
  *  - STANDARD / TRUNCATE: full snapshot via the atomic pointer swap (D5).
  *  - Marks are derived from the control aggregates of the SAME pass that
  *    fed the sync decision plus changeset arithmetic — never from a
  *    post-apply re-read of the source, which on a live source would store
  *    a mark covering rows the sync didn't see (silent-skip hazard,
  *    ADVICE r1). Reference: A1-A3 over the fetched batch,
  *    CopyOrchestrator.cs:866-872, :1106-1123.
  */
final class SyncRunner(
    spark: SparkSession,
    store: SyncStateStore,
    parallelWorkers: Int = 10, // AppConfiguration.cs:36 default
    truncateThresholdPct: Double = Planner.DefaultTruncateThresholdPct,
    failFast: Boolean = true,
    compactEvery: Int = 8) {

  /** One table's sync unit. The default pair is lake→lake (parquet source,
    * [[LakeTable]] target); `sourceOverride`/`applierOverride` swap in any
    * [[TableSource]]/[[TableApplier]] — e.g. the JDBC edges — without
    * touching the runner (the Source/Applier seam). */
  final case class TablePlan(
      name: String,
      sourcePath: String,
      targetPath: String,
      strategy: FetchStrategy = FetchStrategy.TopNByKey(Long.MaxValue),
      keyCol: String = "RecId",
      versionCol: String = "SysRowVersion",
      sourceOverride: Option[TableSource] = None,
      applierOverride: Option[TableApplier] = None) {
    def source: TableSource = sourceOverride.getOrElse(ParquetSource(sourcePath))
    def applier: TableApplier =
      applierOverride.getOrElse(LakeApplier(targetPath, compactEvery))
  }

  def runAll(plans: Seq[TablePlan]): Seq[SyncReport] = {
    val queue = new ConcurrentLinkedQueue[TablePlan]()
    plans.foreach(queue.add)
    val reports = TrieMap.empty[String, SyncReport]
    val stop = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(parallelWorkers, 50)))

    (1 to math.min(parallelWorkers, plans.size)).foreach { wid =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var plan = queue.poll()
          while (plan != null && !stop.get()) {
            spark.sparkContext.setJobGroup(s"sync-${plan.name}",
              s"sync ${plan.name}", interruptOnCancel = true)
            val report = runTable(plan)
            reports.put(plan.name, report)
            if (!report.ok && failFast) {
              stop.set(true) // D3: remaining tables stay pending for retry
              spark.sparkContext.cancelJobGroup(s"sync-${plan.name}")
            }
            spark.sparkContext.clearJobGroup()
            plan = queue.poll()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(24, TimeUnit.HOURS)
    // Pending tables (drained by fail-fast) are reported as not-ok/skipped.
    plans.map(p => reports.getOrElse(p.name,
      SyncReport(p.name, SyncMode.Standard, SyncMetrics(), ok = false,
        error = Some("skipped: run stopped on earlier failure"))))
  }

  /** Retry failed tables: stateless re-read makes retry = re-run (D4). */
  def retryFailed(plans: Seq[TablePlan], previous: Seq[SyncReport]): Seq[SyncReport] = {
    val failed = previous.filterNot(_.ok).map(_.table).toSet
    runAll(plans.filter(p => failed.contains(p.name)))
  }

  /** One table, full lifecycle: probe → mode decision → apply → state save
    * (§3.2 ProcessSingleTableAsync routing). */
  def runTable(plan: TablePlan): SyncReport = {
    val t0 = System.nanoTime()
    try {
      val source = plan.source.load(spark)
      val marks = store.get(plan.name)
      val srcMark = marks.flatMap(_.sourceVersion)
      val tgtMark = marks.flatMap(_.targetVersion)

      val strategySupportsOptimized = plan.strategy match {
        case FetchStrategy.CustomSql(sql, _, _) =>
          graft.config.StrategyParser.sqlSupportsOptimized(sql)
        case FetchStrategy.TopNByKey(_, force) => !force
        case FetchStrategy.FullTable => false
      }

      val (mode, metrics) =
        if (!plan.applier.exists || srcMark.isEmpty || !strategySupportsOptimized)
          // first run / corrupt or missing marks / strategy opt-out ⇒ STANDARD
          (SyncMode.Standard, syncStandard(plan, source))
        else
          syncOptimized(plan, source, srcMark.get, tgtMark.getOrElse(srcMark.get))

      val total = (System.nanoTime() - t0) / 1e9
      SyncReport(plan.name, mode, metrics.copy(totalSec = total), ok = true)
    } catch {
      case e: Throwable =>
        // toString, not getMessage: it names the exception class and is
        // never null (a message-less exception left Some(null))
        SyncReport(plan.name, SyncMode.Standard, SyncMetrics(), ok = false,
          error = Some(e.toString))
    }
  }

  private def windowed(source: DataFrame, plan: TablePlan): DataFrame =
    plan.strategy match {
      case FetchStrategy.TopNByKey(n, _) if n < Int.MaxValue =>
        Extract.topNByKey(source, n, plan.keyCol)
      case _ => source
    }

  /** The delta tiers' WIDE-fetch frame: sources that can prune a
    * version-threshold read at the storage layer ([[VersionPrunableSource]]
    * — lake tables skip below-band commits entirely) serve it directly;
    * everything else gets the plain frame, whose literal S8 predicate the
    * scan prunes on by itself. `fromVersion` is the INCLUSIVE lower bound
    * the consumer's filter keeps (saturating: a mark at Long.MaxValue
    * cannot overflow past it).
    *
    * Routing guards (review r11 — both fall back to the plain path, which
    * is always correct, just unpruned): (a) an ACTIVE TopNByKey window —
    * the window cutoff is defined over the FULL source, and windowing a
    * version-pruned frame would move it (changed rows below the true
    * cutoff would leak into the tier-2 changeset, which has no key
    * re-filter); (b) a column mismatch between the plan and the source's
    * pruning columns — a threshold in plan.versionCol units must never
    * prune on a different column. */
  private def wideSource(plan: TablePlan, source: DataFrame,
      fromVersion: Long): DataFrame = {
    val windowActive = plan.strategy match {
      case FetchStrategy.TopNByKey(n, _) => n < Int.MaxValue
      case _ => false
    }
    plan.source match {
      case vp: VersionPrunableSource if !windowActive &&
          vp.prunedVersionCol.equalsIgnoreCase(plan.versionCol) &&
          vp.prunedKeyCol.equalsIgnoreCase(plan.keyCol) =>
        vp.loadFromVersion(spark, fromVersion)
      case _ => windowed(source, plan)
    }
  }

  /** What a delta tier hands the one mode match: the cost-model stats, the
    * values the mark save needs — control max version, max version among
    * the rows an Incremental apply would insert, control max key — and the
    * changeset to apply if the mode is INCREMENTAL. */
  private final class TierPlan(
      val stats: Planner.ChangeStats,
      val maxCv: Long,
      val maxInsertCv: Long,
      val maxKey: Option[Long],
      val changeSet: () => Apply.ChangeSet)

  /** O4/O5/O6: control-pass-first routing, three tiers by drift shape:
    *
    *  1. perfect sync (pair checksums match)          → NOOP, zero work
    *  2. update-only drift (key sets match, no local
    *     edits)                                       → filters + broadcast
    *                                                    semi-join, no wide
    *                                                    shuffle at all
    *  3. anything else (inserts/deletes/local edits)  → exact full-outer
    *                                                    flags join
    *
    * Tiers 1-2 cover the steady-state cadence a sync tool actually runs at
    * (nothing changed / rows changed in place); tier 3 is the general case
    * and the only one that pays a key-set shuffle. All three are decided by
    * ONE two-scan probe over ~16 B/row control columns. Tiers 2 and 3 only
    * produce a [[TierPlan]]; one [[Planner.decide]] match over it holds one
    * arm per mode. */
  private def syncOptimized(
      plan: TablePlan, source: DataFrame,
      srcMark: Long, tgtMark: Long): (SyncMode, SyncMetrics) = {
    val k = plan.keyCol; val v = plan.versionCol
    // PINNED for the whole run: the probe, the flags join and the mark
    // aggregates are separate Spark actions, and on a live (JDBC) source
    // each action re-executes the read — without the persist they could
    // each see DIFFERENT data and the stored marks would cover rows the
    // apply never moved (the reference avoids this by fetching the control
    // batch into RAM once; 16 B/row makes the cache equally cheap here).
    // The wide delta fetch still re-reads the source later, which is safe:
    // replay upserts by key, and any row that advances mid-run lands with
    // a version above the stored mark, so the next run reconciles it.
    val control = windowed(source, plan).select(k, v).persist()
    var flags: Option[DataFrame] = None
    try {
      val targetKV = plan.applier.current(spark, k).select(k, v)
      val pr = Planner.probe(control, targetKV, srcMark, tgtMark, k, v)
      if (pr.inSync) {
        // O5 NOOP: zero writes; marks refresh from the probe's own aggregates
        // (srcMark is already ≥ every control version since changed == 0)
        store.putVersions(plan.name, srcMark, tgtMark, pr.maxKey)
        return (SyncMode.Noop, SyncMetrics(unchanged = pr.sourceWindow))
      }

      val tier =
        if (pr.keysInSync && pr.localMut == 0) {
          // tier 2: identical key sets ⇒ missing = 0 and not-in-window = 0,
          // so the probe alone determines the stats — no join. Inserts are
          // exactly the changed rows: their max version is the control max.
          val mv = pr.maxVersion.getOrElse(srcMark)
          // update-only inserts keep version > srcMark — saturating +1 is
          // the inclusive bound a prunable source can serve directly
          val from = if (srcMark == Long.MaxValue) srcMark else srcMark + 1
          new TierPlan(pr.stats, mv, mv, pr.maxKey,
            () => Apply.updateOnlyChangeSet(wideSource(plan, source, from), srcMark, k, v))
        } else {
          // tier 3: ONE aggregate over the joined flags — decision stats +
          // fetch threshold + the maxes the mark save needs (A1-A3 in one pass)
          val f = Apply.incrementalFlags(control, targetKV, lit(srcMark), lit(tgtMark), k, v)
            .persist()
          flags = Some(f)
          val a = f.agg(Planner.ChangeStats.columns.head,
            Planner.ChangeStats.columns.tail ++ Seq(
              min(when(col("is_missing"), col("cv"))).as("min_missing_cv"),
              max(when(col("is_insert"), col("cv"))).as("max_insert_cv"),
              max(when(col("is_in_control"), col("cv"))).as("max_cv"),
              max(when(col("is_in_control"), col(k))).as("max_key")): _*).head()
          // M2 fetch threshold resolved driver-side, so the S8 predicate is a
          // literal the scan can prune on (A3, CopyOrchestrator.cs:1106-1123);
          // the changeset keeps version >= threshold — the same inclusive
          // bound a prunable source serves with commit skipping
          val threshold = if (a.isNullAt(4)) srcMark else math.min(a.getLong(4), srcMark)
          new TierPlan(Planner.ChangeStats.fromRow(a),
            maxCv = if (a.isNullAt(6)) srcMark else a.getLong(6),
            // purge removed every target version > tgtMark, inserts top out
            // at max_insert_cv: mark arithmetic, no target re-read
            maxInsertCv = if (a.isNullAt(5)) tgtMark else a.getLong(5),
            maxKey = if (a.isNullAt(7)) None else Some(a.getLong(7)),
            () => Apply.changeSet(
              wideSource(plan, source, threshold), f, lit(threshold), k, v))
        }

      val st = tier.stats
      Planner.decide(st, truncateThresholdPct) match {
        case SyncMode.Noop =>
          // the probe saw a checksum difference but the cost model still
          // says in-sync (versions drifted below the mark, or only local
          // mutations below the purge bar): the reference's missing check
          // is key-based
          store.putVersions(plan.name, srcMark, tgtMark, tier.maxKey)
          (SyncMode.Noop, SyncMetrics(unchanged = st.sourceWindow,
            excessPercent = st.excessPercent))

        case SyncMode.Truncate =>
          plan.applier.overwrite(windowed(source, plan))
          // target == window now, on both sides of the mark ledger
          store.putVersions(plan.name, tier.maxCv, tier.maxCv, tier.maxKey)
          (SyncMode.Truncate, SyncMetrics(
            modified = st.changed, changePercent = st.changePercent,
            excessPercent = st.excessPercent))

        case _ =>
          // M2: delta commit — tombstones + inserts only, never a rewrite
          plan.applier.applyChangeSet(tier.changeSet(), spark, k)
          store.putVersions(plan.name, tier.maxCv,
            math.max(tgtMark, tier.maxInsertCv), tier.maxKey)
          (SyncMode.Incremental, SyncMetrics(
            modified = st.changed, newInSource = st.missing,
            changePercent = st.changePercent, excessPercent = st.excessPercent))
      }
    } finally { flags.foreach(_.unpersist()); control.unpersist(); () }
  }

  /** M1 standard: full snapshot write; marks from the fetched window's own
    * aggregates (A2 over the batch) + the just-written snapshot's target-side
    * max (GetMaxTimestampAsync semantics, AxDbDataService.cs:1093-1109 —
    * surviving locally-mutated rows must fold into the target mark). */
  private def syncStandard(plan: TablePlan, source: DataFrame): SyncMetrics = {
    val window = windowed(source, plan)
    val newTarget =
      if (!plan.applier.exists) window
      else Apply.applyWindowStandard(
        window, plan.applier.current(spark, plan.keyCol), plan.keyCol)
    plan.applier.overwrite(newTarget)

    val w = window.agg(
      max(col(plan.versionCol)).as("v"), max(col(plan.keyCol)).as("k"),
      count(lit(1)).as("n")).head()
    if (!w.isNullAt(0)) {
      // target-side max from the snapshot we just committed (our own write,
      // so consistent by construction — NOT a live-source re-read)
      val tv = plan.applier.current(spark, plan.keyCol)
        .agg(max(col(plan.versionCol))).head()
      store.putVersions(plan.name, w.getLong(0),
        if (tv.isNullAt(0)) w.getLong(0) else tv.getLong(0), Some(w.getLong(1)))
    }
    SyncMetrics(newInSource = w.getLong(2))
  }
}

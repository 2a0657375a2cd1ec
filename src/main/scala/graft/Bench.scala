package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sync._

/** Benchmark main — prints a JSON result line with per-query seconds.
  *
  * Beyond raw per-query times, measures the reference's headline scenario
  * ratios (BASELINE.md): a no-change re-sync must beat a full reload by
  * ~15×, a 5%-change incremental by ~6× — the control-pass bargain the
  * whole optimized mode exists for.
  *
  * Survivability (the r4 lesson: a driver timeout lost EVERY number because
  * the single JSON line printed only at the very end):
  *  - the full JSON line is RE-PRINTED after the query loop and after every
  *    scenario phase — the last printed line always supersedes, so a kill at
  *    any point costs only the unfinished tail;
  *  - a wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 1200 s)
  *    is checked between phases: under pressure the pooled rewrite draws
  *    shrink (6 → 4 → 2 → 0, falling back to the plough draw's time) and
  *    the compaction phase is skipped — the deterministic BYTE-form ratios
  *    (truncate_vs_full_bytes, compact bytes, lakeskip, zorder) are cheap
  *    and always attempted;
  *  - the per-query loop is ONE timed run after the global warmup (best-of-2
  *    doubled ~5 min for noise reduction the oracle doesn't need).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.run.Sessions.cpus
    val wall0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wall0) / 1e9
    // SEMANTICS (since r10/r11 — this is a SOFT target, not a hard cap):
    // total wall time may exceed the env var by (a) fixture-cache rebuild
    // time, which is credited back to the budget below (a fresh container
    // losing /tmp costs ~800 s once and must not starve the rewrite pool),
    // and (b) the minimum-pool guarantee in the draw loop, which draws 4
    // full/5pct evidence pairs even when the deadline arithmetic says they
    // don't fit (the r10 driver run starved to 0 pairs and lost the
    // throttle-immune pct5_speedup_cpu form entirely; the r14 run starved
    // to 2 with pair_min 1.85 — VERDICT r14 #1), hard-capped at 1.5x the
    // budget. A caller sizing an external watchdog should allow
    // 1.5 x budget + rebuild (~800 s cold, normally cached in the
    // workdir); every phase flushes its JSON incrementally, so even a
    // kill keeps all finished evidence.
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1200").toDouble
    var budgetCreditSec = 0.0
    def remaining: Double = budgetSec + budgetCreditSec - elapsed
    val spark = graft.run.Sessions.local(cpus)
    // the one task listener: byte counters for the structural phases, task
    // CPU + spill for every timed draw's mechanism decomposition
    val meter = graft.run.IoMeter.install(spark.sparkContext)

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // process-CPU twin of `results` (per-query loop + scenario draws):
    // wall times on this box swing 2-10x with the writeback-throttle
    // regime; the CPU column makes the committed artifact self-adjudicating
    // — a regime artifact shows wall >> cpu, a code regression moves both
    // (r11 verdict #2: the maintain family's 6.9x apparent regression was
    // regime, provable only by a separate same-code rerun)
    val resultsCpu = scala.collection.mutable.LinkedHashMap[String, Double]()
    // USER-cpu twin (r13): for an identical plan the user component is
    // near-deterministic instruction work; the sys component carries the
    // box's episodic kernel IO-path inflation. Committed so the next
    // round's regression gate can compare user-vs-user.
    val resultsCpuUser = scala.collection.mutable.LinkedHashMap[String, Double]()
    val ratios = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Incremental flush: the LAST printed line is the result; every phase
    // boundary re-prints so a timeout never again erases finished work.
    //
    // Evidence self-containment (VERDICT r6 #1: the committed artifact kept
    // only a ~4 KB stdout tail, truncating 115 of 147 per-query timings and
    // parsing as null): the COMPLETE results live in a committed file
    // (BENCH_FULL.json, atomic-renamed every flush so a kill can't truncate
    // it), and the stdout line is COMPACT — headline scenario timings + the
    // BASELINE gate ratios + a pointer to the full file, ≤1 KB total (r16:
    // the previous "every ratio" form had grown to ~3.5 KB and was
    // decapitated by the driver's ~2 KB tail capture for 15 straight
    // rounds) — so it always survives a small tail capture intact and
    // parses.
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val canonicalOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")

    // --- previous-round artifact (VERDICT r12 #3 + #4) ---------------------
    // Read the committed BENCH_FULL.json BEFORE the first flush overwrites
    // it. It feeds two mechanisms:
    //  - the CPU-based round-over-round regression gate: queries whose
    //    fresh CPU exceeds the previous round's by >1.3x are flagged in
    //    the artifact (cpu_regressions) — wall is ignored unless CPU
    //    moves, which is exactly the adjudication rule the r11/r12
    //    verdicts applied by hand;
    //  - query-loop ROTATION (budget fix): stable per-query timings are
    //    sampled round-robin — each round times one of ROTATION_GROUPS
    //    hash-buckets of the previously-seen queries plus every NEW query;
    //    skipped queries carry the previous round's (wall, cpu) forward,
    //    disclosed in carried_from_prev. The correctness oracle runs every
    //    query every round regardless; only the redundant steady-state
    //    timing is rotated.
    // Both compare like with like: a prev artifact from a different sf dir
    // is ignored entirely.
    val prevArtifact: Option[String] =
      try {
        val p = java.nio.file.Paths.get(canonicalOut)
        if (java.nio.file.Files.exists(p)) {
          val s = java.nio.file.Files.readString(p)
          if (s.contains("\"sf\":\"" + sfDir + "\"")) Some(s) else None
        } else None
      } catch { case _: Throwable => None }
    // SCALING RUNS ARE NON-DESTRUCTIVE (VERDICT r15 #2): the r15 driver's
    // 8-core scaling run OVERWROTE the 32-core BENCH_FULL.json and advanced
    // the rotation counter, destroying the per-query 32-core ground truth.
    // Since r16 the artifact records its cpu count; a run whose cpu count
    // differs from the canonical artifact's (a) writes its full artifact to
    // a per-cpu name (BENCH_FULL_c8.json) so the canonical file survives,
    // and (b) PINS rotation (no +1) so it times the SAME fresh bucket as
    // the canonical run — that is what makes per-query low-core/high-core
    // ratios exist at all. The divert applies to an explicit
    // SPARK_GRAFT_BENCH_FULL too: a cpu-mismatched run must never clobber
    // the artifact whose name it was given.
    val prevCpus: Option[Int] = prevArtifact.flatMap(s =>
      """"cpus":(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt))
    val scalingRun: Boolean =
      prevCpus.exists(_ != cpus)
    val fullOut =
      if (scalingRun) canonicalOut.stripSuffix(".json") + s"_c$cpus.json"
      else canonicalOut
    if (scalingRun)
      System.err.println(s"[bench] scaling run: cpus=$cpus vs canonical " +
        s"${prevCpus.get} — writing $fullOut, rotation pinned")
    // the artifact's maps are FLAT (name -> number, written by jmap above):
    // a brace-bounded regex scan is a complete parser for our own format
    def prevBlock(key: String): Map[String, Double] =
      prevArtifact.map { src =>
        val start = src.indexOf("\"" + key + "\":{")
        if (start < 0) Map.empty[String, Double]
        else {
          val open = src.indexOf('{', start)
          val close = src.indexOf('}', open)
          """"([^"]+)":(-?[0-9][-0-9.eE+]*)""".r
            .findAllMatchIn(src.substring(open + 1, close))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      }.getOrElse(Map.empty)
    val prevQueries = prevBlock("queries")
    val prevCpu = prevBlock("queries_cpu")
    val prevCpuUser = prevBlock("queries_cpu_user")
    val prevCpuGate = prevBlock("queries_cpu_user_min")
    // MULTI-ROUND BASELINE WINDOW (r15): the artifact chains the previous
    // rounds' gate maps (p1 = one round back's min, p2 = two back, …) and
    // the comparator's baseline is the MAX over the window. Measured
    // need: same-code user-CPU minima are heavy-tailed on this box —
    // across three same-code r15 runs, per-name max/min swing had median
    // 1.08 but max 2.08 even above 10 cpu-s, and one lucky floor
    // (q_a4_counts drew 2.26 against a 14.8-15.2 history) then flags
    // every NORMAL draw that follows. A real regression sits above ALL
    // recent priors (they're at the old level), so detection is still
    // immediate; a transient lucky floor is absorbed by the older honest
    // minima. DEPTH = 5 chained maps (a 6-artifact window): rotation
    // CARRIES a rotated-out name's min verbatim for up to rotationGroups-1
    // consecutive artifacts, so a shallower window can collapse to ONE
    // independent measurement duplicated (measured: q_graph_pagerank_
    // dangling's lucky 7.33 filled the whole 3-slot window while its
    // honest fresh band was 11-16); 6 artifacts ≥ one full rotation cycle
    // + current guarantees ≥2 independent fresh draws vote. Improvements
    // tighten the baseline after the window passes — the gate watches
    // regressions, so the lag costs nothing.
    val gateHistDepth = 5
    val prevGateHist: Seq[Map[String, Double]] = prevCpuGate +:
      (1 until gateHistDepth).map(i => prevBlock(s"queries_cpu_user_min_p$i"))
    def gateBaseline(name: String): Option[Double] =
      graft.run.GateMath.baseline(prevGateHist.flatMap(_.get(name)))
    // what THIS artifact persists as p1..pN: the previous round's min map
    // shifts into p1, its p_i shift into p_{i+1} (pN falls off)
    val gateHistOut: String = prevGateHist.zipWithIndex.map { case (m, i) =>
      s""""queries_cpu_user_min_p${i + 1}":${jmap(m)}"""
    }.mkString(",")
    // 4 groups since r14 (VERDICT r13 #4: the r13 driver run nosed 1% over
    // the 1200 s budget; a smaller per-round timing share buys the pooled
    // rewrite draws their margin back)
    val rotationGroups = 4
    val rotation = prevArtifact.flatMap(s =>
      """"rotation":(\d+)""".r.findFirstMatchIn(s).map(m =>
        m.group(1).toInt + (if (scalingRun) 0 else 1)))
      .getOrElse(0)
    val carried = scala.collection.mutable.ArrayBuffer.empty[String]
    // GATE domain (VERDICT r13 #1 — the mechanical gate's first round
    // produced 7 flags on provably-unchanged code): the per-name MINIMUM
    // user-CPU over every draw of this run. User CPU is near-deterministic
    // instruction work plus ADDITIVE positive noise (tick misattribution
    // during IO interrupts, JIT warm-up when a rotated run reaches a query
    // earlier in the JVM's life) — so min-of-draws estimates the
    // deterministic floor far better than a median, and min-vs-min is the
    // like-for-like comparison the r13 flags lacked (an ALL-queries
    // baseline median vs a rotated run's single draw). Persisted as its
    // own artifact block so next round compares gate-vs-gate.
    val resultsCpuGate = scala.collection.mutable.LinkedHashMap[String, Double]()
    def gate(name: String, userS: Double): Unit =
      if (userS > 0)
        resultsCpuGate(name) =
          math.min(resultsCpuGate.getOrElse(name, Double.MaxValue), userS)
    var regimeWarned = false
    // SENTINEL queries (VERDICT r14 #2): the regime factor's limit was that
    // its median ran over whatever rotated in that round — a uniform real
    // slowdown shifted the median itself and hid. These ~8 queries are
    // ALWAYS timed (their families never rotate out), span unrelated
    // subsystems (sync aggregates, anti-join, mode ladder, delta fetch,
    // partition pruning, key-set ops, event analytics, text contamination),
    // sit comfortably above the 2 cpu-s comparison floor, and cost ~12 s of
    // wall per round combined. Their code is the engine's stable core — the
    // round-over-round ratio of THEIR user-CPU minima estimates pure box
    // drift, and the regime factor is anchored on that median alone
    // whenever ≥4 sentinel comparisons exist (disclosed in
    // cpu_regression_regime_sentinels_n; fallback = the old all-compared
    // median). A change that slows the whole engine now moves every
    // NON-sentinel query against a sentinel-anchored regime and flags.
    // every sentinel is pure-plan over the raw parquet tables — NO member
    // of a prepared-frame cache-sharing suite (the first candidate set
    // included q_contam_verified, which composes winnow fingerprints and
    // drew 2.74 user-s warmed by its dedup-suite neighbors vs 10.66
    // isolated — an anchor must not carry its neighbors' rotation state)
    // q_cooccur/q_column_drift/q_a4_counts/q_dsir_weights are the HEAVY
    // anchors (10-27 user-cpu-s minima): the cheap sentinels' warm minima
    // can dip under the 2 cpu-s comparison floor on a fast run (measured:
    // q_s8_delta 0.8, q_funnel 0.82), and the anchor median needs ≥4
    // comparisons that survive the floor on every run
    val sentinelQueries = Set(
      "q_a_marks", "q_a4_counts", "q_j2_missing", "q_m1_standard",
      "q_m1_window", "q_s8_delta", "q_part_prune", "q_so2_delete_keys",
      "q_funnel", "q_dsir_weights", "q_cooccur", "q_column_drift")
    // SELF-ANNOTATION for single-draw scenarios (the r14 twin runs showed
    // the residual false-flag class: a write-bearing scenario drawn ONCE
    // per run — min-of-draws can't stabilize one draw, and a rotated run
    // reaches the scenario with colder JIT than an all-queries baseline;
    // measured 44 → 71 user-cpu-s on byte-identical partial compaction).
    // Every such scenario has a DETERMINISTIC byte-form twin: if the byte
    // twin is unchanged vs the previous artifact (≤1%), the scenario ran
    // the same plan over the same volume and a CPU-only movement is the
    // box/JIT, not code — the flag moves to cpu_regressions_regime_
    // annotated instead of crying wolf. A real code regression moves the
    // byte form (different plan/volume) or survives un-annotated.
    val prevRatios = prevBlock("ratios")
    val byteTwinOf = Map(
      "scn_compact_partial_4commits" -> "compact_amortized_vs_full_bytes",
      "scn_compact_4commits" -> "compact_scattered_vs_full_bytes",
      "scn_full_reload" -> "full_bytes_per_row",
      "scn_40pct_truncate" -> "truncate_vs_full_bytes",
      "scn_5pct_incremental" -> "pct5_write_mb",
      "scn_nochange_sync" -> "nochange_read_mb",
      "scn_multitable_8x_noop" -> "nochange_read_mb",
      "scn_lake_to_lake_5pct" -> "l2l_wide_read_reduction_x")
    // names whose WORK VOLUME legitimately varies between same-code runs —
    // excluded from the CPU comparison table entirely (no byte twin can
    // annotate them, because the byte forms themselves move):
    // scn_zorder_maintain's base layout rides layoutBounded's range
    // exchange, whose per-run sample (seeded by rdd lineage ids — run
    // order) shifts file boundaries; the measured fresh fraction then
    // moves the trigger bar and the scenario pays the recluster after a
    // DIFFERENT number of drift applies (measured 7 vs 12 on identical
    // code — 45% more folded volume in the paying apply). The regression-
    // detection duty for this machinery sits with the structural decay
    // phase, whose quadrant layouts ARE byte-deterministic
    // (zorder_decay_* twins); the scenario row is lifecycle + timing
    // evidence, disclosed per-run with its applies count.
    val cpuCompareExcluded = Set("scn_zorder_maintain")
    def byteTwinUnchanged(name: String): Boolean =
      byteTwinOf.get(name).exists(bt => graft.run.GateMath
        .byteTwinUnchanged(prevRatios.get(bt), ratios.get(bt)))
    // the comparison table: name -> (prev_cpu, cpu, ratio) for every
    // name measured fresh this run with a usable previous value
    def cpuComparisons(): Seq[(String, Double, Double, Double)] =
      resultsCpu.toSeq.flatMap { case (name, totalCpu) =>
        // carried values are the prev values verbatim — nothing to compare
        if (carried.contains(name) || cpuCompareExcluded.contains(name)) None
        else {
          // the comparison LADDER + noise floor live in GateMath (spec'd):
          // min-of-draws USER gate vs the 3-round max baseline when both
          // rounds carry it; then recorded user-vs-user; total CPU only
          // for the oldest artifacts. r13 measured identical full draws at
          // 225-969 TOTAL cpu-s (sys inflation episodes) — total-cpu
          // ratios flag the box, not code.
          graft.run.GateMath.comparison(
            gateBaseline(name), resultsCpuGate.get(name),
            prevCpuUser.get(name), resultsCpuUser.get(name),
            prevCpu.get(name), totalCpu)
            .map { case (p, c) => (name, p, c, c / p) }
        }
      }
    // the regression table: regime-normalized filter over the comparisons;
    // computed at every flush from whatever has run so far, so a kill
    // keeps it
    def cpuRegressions(): Seq[(String, Double, Double, Double)] = {
      val compared = cpuComparisons()
      if (compared.isEmpty) Seq.empty
      else {
        // REGIME normalization (r13 calibration): the box's CPU drifts
        // UNIFORMLY between same-code runs (a rotated run measured every
        // fresh query 1.3-1.7x the previous run's cpu — 15 false flags).
        // ANCHORED on the sentinel set since r15 (VERDICT r14 #2): the
        // sentinels are always timed and rarely touched, so the median of
        // THEIR ratios estimates the run-level box factor without letting
        // this round's changed queries vote on their own normalization —
        // a uniform real slowdown now moves every non-sentinel query
        // against the sentinel anchor and flags instead of self-absorbing.
        // Fallback (fewer than 4 sentinel comparisons — e.g. an artifact
        // predating the gate block): the old all-compared median. The
        // floor at 1.0 keeps a faster-box run from loosening the absolute
        // 1.3x bar. RESIDUAL LIMIT: a change that slows the sentinels'
        // own shared substrate (session-wide config, the parquet reader)
        // still shifts the anchor — the advisory bar at 1.7 (above the
        // observed 1.3-1.7 same-code box drift) remains the tripwire a
        // human must adjudicate against a same-code rerun.
        val (regime, nSent) = graft.run.GateMath.regimeFactor(
          compared.map(_._4),
          compared.filter(c => sentinelQueries.contains(c._1)).map(_._4))
        ratios("cpu_regression_regime_factor") = regime
        ratios("cpu_regression_regime_sentinels_n") = nSent.toDouble
        if (regime > graft.run.GateMath.RegimeWarnBar && !regimeWarned) {
          regimeWarned = true
          System.err.println(f"[bench] WARNING: cpu regime factor $regime%.2f " +
            "> 1.7 — beyond same-code box drift; a UNIFORM code slowdown " +
            "would hide in the median. Adjudicate against a same-code rerun.")
        }
        // flag rule incl. the r15 ABSOLUTE-DELTA guard — see GateMath.isFlag
        // (measured: q_a4_counts 2.26 → 3.32, a 1.06 cpu-s delta, flagged
        // at 1.47 after a lucky-min round before the guard existed)
        compared.filter(r => graft.run.GateMath.isFlag(r._2, r._3, regime))
          .sortBy(-_._4)
      }
    }
    // a scenario whose byte twin EXISTS in the previous artifact but is not
    // yet computed THIS run (the twin's phase hasn't reached it): at an
    // intermediate flush its flag is DEFERRED to a separate pending block
    // rather than placed in cpu_regressions (ADVICE r14 — a mid-run kill
    // used to persist the flag un-annotated, re-opening the single-draw
    // false-flag class in partial artifacts). The final flush always has
    // the twin computed, so pending is empty in a completed artifact.
    def twinPending(name: String): Boolean =
      byteTwinOf.get(name).exists(bt =>
        prevRatios.contains(bt) && !ratios.contains(bt))
    def splitAnnotated(rs: Seq[(String, Double, Double, Double)])
        : (Seq[(String, Double, Double, Double)],
           Seq[(String, Double, Double, Double)],
           Seq[(String, Double, Double, Double)]) = {
      val (annotated, rest) = rs.partition(r => byteTwinUnchanged(r._1))
      val (pending, regs) = rest.partition(r => twinPending(r._1))
      (regs, annotated, pending)
    }
    def jreg(rs: Seq[(String, Double, Double, Double)]): String =
      rs.map { case (n, p, c, r) =>
        f""""$n":{"prev_cpu_s":$p%.2f,"cpu_s":$c%.2f,"ratio":$r%.2f}"""
      }.mkString("{", ",", "}")
    def jregAnnotated(rs: Seq[(String, Double, Double, Double)]): String =
      rs.map { case (n, p, c, r) =>
        f""""$n":{"prev_cpu_s":$p%.2f,"cpu_s":$c%.2f,"ratio":$r%.2f,""" +
          s""""byte_twin":"${byteTwinOf(n)}","byte_twin_unchanged":true}"""
      }.mkString("{", ",", "}")
    def jarr(xs: Seq[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")

    def flush(phase: String): Unit = {
      val total = results.values.filter(_ > 0).sum
      val (regs, annotated, pending) = splitAnnotated(cpuRegressions())
      try {
        val full =
          s"""{"metric":"total","value":$total,"unit":"sec","phase":"$phase","cpus":$cpus,"queries":${jmap(results)},"queries_cpu":${jmap(resultsCpu)},"queries_cpu_user":${jmap(resultsCpuUser)},"queries_cpu_user_min":${jmap(resultsCpuGate)},$gateHistOut,"ratios":${jmap(ratios)},"rotation":$rotation,"rotation_groups":$rotationGroups,"carried_from_prev":${jarr(carried.toSeq)},"cpu_regressions":${jreg(regs)},"cpu_regressions_regime_annotated":${jregAnnotated(annotated)},"cpu_regressions_pending_twin":${jreg(pending)},"sentinels":${jarr(sentinelQueries.toSeq.sorted)},"sf":"$sfDir"}"""
        val tmp = java.nio.file.Paths.get(fullOut + ".tmp")
        java.nio.file.Files.writeString(tmp, full + "\n")
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(fullOut),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] full-artifact write failed: $e")
      }
      // The stdout line must SURVIVE a small (~2 KB) tail capture AND parse
      // (VERDICT r15 #1: the full ~3.5 KB ratio map decapitated the line and
      // BENCH_r01..r15.json all recorded parsed:null — the driver never got
      // per-query ground truth in 15 rounds). ≤1 KB discipline: headline
      // scenario timings + the formal BASELINE gate ratios only, values
      // rounded to 4 decimals, cpu_regressions as a COUNT, everything else
      // behind the queries_full pointer. The previous full-ratio stdout map
      // lives unchanged in the artifact file's "ratios" block.
      val headline = results.filter { case (k, _) => k.startsWith("scn_") }
      def r4(v: Double): Double =
        if (v.isNaN || v.isInfinite) v else math.rint(v * 1e4) / 1e4
      val gateKeys = Seq(
        "nochange_speedup", "pct5_speedup", "pct5_speedup_cpu", "pct5_pairs",
        "pct5_write_reduction_x", "truncate_vs_full", "truncate_vs_full_bytes",
        "control_bytes_per_row", "full_bytes_per_row")
      val gates = scala.collection.mutable.LinkedHashMap(
        gateKeys.flatMap(k => ratios.get(k).map(v => k -> r4(v))): _*)
      val headlineR = scala.collection.mutable.LinkedHashMap(
        headline.toSeq.map { case (k, v) => k -> r4(v) }: _*)
      println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","cpus":$cpus,"queries":${jmap(headlineR)},"gates":${jmap(gates)},"n_queries":${results.size},"rotation":$rotation,"carried_n":${carried.size},"cpu_regressions_n":${regs.size},"queries_full":"$fullOut","sf":"$sfDir"}""")
      Console.out.flush()
      System.err.println(f"[bench] flushed after phase '$phase' (t=$elapsed%.0f s, budget $budgetSec%.0f s + ${budgetCreditSec}%.0f s build credit)")
    }
    // stderr per-query chunks (≤ ~2 KB per line): log-file recovery path if
    // both the repo file and the stdout tail are lost
    def dumpChunks(): Unit =
      results.toSeq.grouped(40).zipWithIndex.foreach { case (g, i) =>
        System.err.println(s"[bench] queries[$i] " + jmap(
          scala.collection.mutable.LinkedHashMap(g: _*)))
      }

    // Warmup: JIT + codegen + parquet footer caches, so the first measured
    // query isn't charged for JVM startup.
    SparkEntry.queries.get("q_j1_classify").foreach(f => f(spark, sfDir).count())
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // CPU-time twin of `time`: process CPU seconds exclude IO-wait, so the
    // box's writeback-throttle regime — which can stall a wall draw 2-10x —
    // cancels out of CPU ratios. Every ratio whose wall form is regime-
    // sensitive gets a `_cpu` corroboration from this. `lastDrawCpuS` is
    // set around exactly the block the wall `time` wraps (r9 review: a
    // wider wrap counts untimed prep in the numerator and biases the ratio).
    val osCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // mechanism decomposition of the process-CPU number (VERDICT r12 #1:
    // scn_full_reload's CPU exponent 1.58 needs its mechanism NAMED, not
    // guessed): per draw we also capture
    //  - GC collection time (JVM-wide): process CPU >> task CPU with GC
    //    taking the gap = allocation/heap-pressure regime, not plan work;
    //  - task-level executorCpuTime + spill bytes from `meter`:
    //    task CPU itself scaling superlinearly = real per-row compute
    //    growth (writer, contention); spill bytes > 0 = the in-memory →
    //    spill step. Listener events are bus-asynchronous, so the deltas
    //    are ~exact for multi-second draws and advisory for sub-second.
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMsNow(): Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(b.getCollectionTime, 0L))
      s
    }
    // user/sys split (graft.run.ProcStat): for an identical plan over
    // identical data the USER component is near-deterministic instruction
    // work, while SYS carries the kernel's IO-path work (page-cache
    // copies, reclaim, fs metadata) — which this box inflates
    // episodically. The split is what lets a CPU swing be attributed
    // instead of argued (r13: identical full draws swung 225-969 total
    // cpu-s with gc=0 and spill=0).
    // off-Linux fallback (ADVICE r14): ProcStat reads (0,0) where /proc is
    // unavailable, and a zero user column silently disabled the whole CPU
    // gate (the >2 cpu-s floor suppressed every comparison). Total process
    // CPU stands in as the "user" component there — noisier (it carries
    // sys time) but a live gate; the split's sys attribution is then 0 by
    // construction, which the decomposition ratios disclose honestly.
    def procUserSys(): (Double, Double) = {
      val us = graft.run.ProcStat.userSys()
      if (us._1 > 0 || us._2 > 0) us
      else (osCpu.getProcessCpuTime / 1e9, 0.0)
    }
    var lastDrawCpuS = 0.0
    var lastDrawGcS = 0.0
    var lastDrawTaskCpuS = 0.0
    var lastDrawSpillMb = 0.0
    var lastDrawUserS = 0.0
    var lastDrawSysS = 0.0
    // min user-CPU across ALL iterations of the last bestAdaptive (incl.
    // losing draws — they are valid samples of the deterministic floor);
    // a direct timeWithCpu sets it to its single draw
    var lastDrawUserMinS = 0.0
    def timeWithCpu(f: => Unit): Double = {
      val c0 = osCpu.getProcessCpuTime
      val g0 = gcMsNow()
      val tc0 = meter.taskCpuNanos
      val sp0 = meter.spilledBytes
      val (u0, s0) = procUserSys()
      val t = time(f)
      lastDrawCpuS = (osCpu.getProcessCpuTime - c0) / 1e9
      lastDrawGcS = (gcMsNow() - g0) / 1e3
      lastDrawTaskCpuS = (meter.taskCpuNanos - tc0) / 1e9
      lastDrawSpillMb = (meter.spilledBytes - sp0) / 1e6
      val (u1, s1) = procUserSys()
      lastDrawUserS = u1 - u0
      lastDrawSysS = s1 - s0
      lastDrawUserMinS = lastDrawUserS
      t
    }
    // flush the page cache's dirty backlog (untimed) before every timed
    // iteration: this box's buffered-write path throttles hard once prior
    // phases' GBs are still in writeback, so without the sync a timed run
    // pays its PREDECESSOR's flush debt and the measurement is pure noise
    def osSync(): Unit = { new ProcessBuilder("sync").start().waitFor(); () }
    // budget-adaptive best-of-3 with symmetric prep: `prep` (untimed)
    // resets outputs and re-warms inputs so every iteration sees the same
    // cache state (single samples of multi-GB write+sync swing 2x on
    // page-cache luck); runs once, then re-samples ONLY when the remaining
    // budget dwarfs the observed cost — a throttled box must not spend 3×
    // a slow phase polishing a number the budget can't afford
    def bestAdaptive(prep: => Unit)(f: => Unit): Double = {
      def draw(): (Double, Double, Double, Double, Double, Double, Double) = {
        prep; osSync()
        (timeWithCpu(f), lastDrawCpuS, lastDrawUserS, lastDrawSysS,
          lastDrawGcS, lastDrawTaskCpuS, lastDrawSpillMb)
      }
      val m1 = draw()
      val all =
        if (remaining > 6 * m1._1) (1 to 2).map(_ => draw()) :+ m1
        else Seq(m1)
      val best = all.minBy(_._1)
      // leave the winning iteration's FULL metric tuple in the lastDraw*
      // slots so callers record the (wall, cpu, user, sys, gc, task,
      // spill) of the SAME draw — restoring only a subset paired one
      // iteration's wall with another's decomposition and poisoned the
      // user-vs-user regression gate (r13 review; the gc/task/spill slots
      // had the same latent mispairing, ADVICE r13)
      lastDrawCpuS = best._2
      lastDrawUserS = best._3
      lastDrawSysS = best._4
      lastDrawGcS = best._5
      lastDrawTaskCpuS = best._6
      lastDrawSpillMb = best._7
      // every iteration samples the deterministic user floor (gate domain)
      lastDrawUserMinS = all.map(_._3).min
      best._1
    }

    // ONE timed run per query after the global warmup (r4 postmortem: the
    // best-of-2 noise reduction cost ~5 min the correctness oracle covers
    // anyway; steady-state numbers come from the scenario phases)
    // dev knobs: SPARK_GRAFT_ONLY_QUERIES=a,b,c runs just those names;
    // SPARK_GRAFT_QUERIES_ONLY=1 stops after the query loop (no scenarios)
    val onlyQueries = sys.env.get("SPARK_GRAFT_ONLY_QUERIES")
      .map(_.split(',').map(_.trim).toSet)
    // rotation applies only to the default full-suite run (a dev-filtered
    // or SPARK_GRAFT_ALL_QUERIES run times everything it's asked for), and
    // only to queries the previous artifact already measured — new queries
    // are always timed in their first round. String.hashCode is spec-fixed,
    // so the bucket assignment is stable across JVMs and rounds.
    val rotate = prevQueries.nonEmpty && onlyQueries.isEmpty &&
      !sys.env.contains("SPARK_GRAFT_ALL_QUERIES")
    // Rotation buckets hold whole CACHE-SHARING FAMILIES, not individual
    // queries: the loop deliberately shares plan-keyed prepared frames
    // across related queries (normalized embeddings + codebooks across
    // the vector suite, the shingle relation across the dedup suite —
    // the r5 sharing), so per-query bucketing made a query's measured
    // cost depend on whether its cache-warming neighbor rotated with it
    // (r13: the first rotated run flagged 8 same-code "regressions" of
    // 1.6-3.1x, all in shared-cache families). A family rotates as one
    // unit; unlisted names fall back to their 2-token prefix, which
    // keeps q_corpus_*/q_stream_*/q_j* together by construction.
    def familyKey(name: String): String = {
      val prefix = name.split('_').take(2).mkString("_")
      prefix match {
        case "q_sim" | "q_pq" | "q_opq" | "q_ivfpq" | "q_ivf" |
             "q_kmeans" | "q_semdedup" | "q_sq8" | "q_link" => "vectors"
        // q_contam/q_graph consume the dedup suite's shared relations
        // (winnow fingerprints; the ngram-Jaccard edge set) — measured:
        // q_contam_verified 2.74 user-s warmed in-suite vs 10.66 isolated
        // (r15), q_graph_triangles 10x under probe-cache starvation (r14)
        case "q_dedup" | "q_minhash" | "q_simhash" | "q_novelty" |
             "q_contam" | "q_graph" => "shingles"
        case "q_cdf" | "q_lake" | "q_bm25" | "q_docfeatures" |
             "q_token" => "lake_fixture"
        case p => p
      }
    }
    // a family with ANY new member is timed whole this round (ADVICE r13):
    // a new query whose cache-warming siblings rotated out would be timed
    // cache-cold in its first round (isolated q_dedup_minhash draws ~5x its
    // in-suite cost), baking an inflated baseline that masks later
    // regressions
    val newFamilies: Set[String] = SparkEntry.queries.keySet
      .filterNot(prevQueries.contains).map(familyKey).toSet
    // sentinel families are NEVER rotated out (VERDICT r14 #2): the regime
    // anchor needs a fresh sentinel comparison every round, and a sentinel
    // timed without its family siblings would carry the cache-cold noise
    // the family bucketing exists to avoid
    val sentinelFamilies: Set[String] = sentinelQueries.map(familyKey)
    def rotatedOut(name: String): Boolean =
      rotate && prevQueries.get(name).exists(_ > 0) &&
        !newFamilies.contains(familyKey(name)) &&
        !sentinelFamilies.contains(familyKey(name)) &&
        math.floorMod(familyKey(name).hashCode, rotationGroups) !=
          math.floorMod(rotation, rotationGroups)
    if (!sys.env.contains("SPARK_GRAFT_SKIP_QUERIES")) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => onlyQueries.forall(_.contains(q._1)))
        .foreach { case (name, fn) =>
          // same flush discipline as the scenario draws (r11 verdict #2):
          // the sync is UNTIMED, so a write-heavy lake-fixture query pays
          // only its OWN writeback, never its predecessor's dirty backlog;
          // the CPU twin rides along for regime self-adjudication
          if (rotatedOut(name)) {
            // not this round's bucket: carry the previous round's tuple
            // forward (disclosed in carried_from_prev) so the artifact
            // stays complete for the NEXT round's comparator
            results(name) = prevQueries(name)
            prevCpu.get(name).foreach(c => resultsCpu(name) = c)
            prevCpuUser.get(name).foreach(c => resultsCpuUser(name) = c)
            prevCpuGate.get(name).foreach(c => resultsCpuGate(name) = c)
            carried += name
          } else results(name) = try {
            osSync()
            val t = timeWithCpu { fn(spark, sfDir).count(); () }
            resultsCpu(name) = lastDrawCpuS
            resultsCpuUser(name) = lastDrawUserS
            gate(name, lastDrawUserS)
            t
          } catch { case _: Throwable => -1.0 }
        }
      if (rotate)
        System.err.println(s"[bench] rotation $rotation: carried " +
          s"${carried.size} stable query timings from the previous " +
          s"artifact, timed ${results.size - carried.size} fresh")
      // IN-RUN CONFIRMATION PASS (VERDICT r13 #1): before any flag leaves
      // this run, re-time it — against itself, same JVM, same warm caches.
      // The r13 gate's 7 false flags were all single-draw queries compared
      // against a differently-warmed baseline; a genuine code regression
      // reproduces on a re-draw (the plan really does more work), while
      // JIT/warm-up/interrupt noise collapses to the floor. Runs BEFORE
      // the cache release below — confirmation draws must see the same
      // prepared-frame state the first draw saw.
      locally {
        // screen with the ABSOLUTE 1.3 bar, not the regime-normalized one:
        // the regime median at THIS point is computed over query-loop
        // ratios only (JIT-noise population, median ~1.1-1.2), while the
        // final flush folds in the min-stable scenario ratios (~1.0) and
        // the bar DROPS — twin3 measured 6 queries that cleared the
        // confirmation-time bar and then flagged at the final one without
        // ever being re-drawn. The final bar is 1.3·max(regime,1) ≥ 1.3,
        // so screening at raw 1.3 confirms every possible final flag.
        val comparisons = cpuComparisons()
          .filter { case (n, _, _, _) => results.contains(n) && results(n) > 0 }
        val flaggedProv = comparisons.filter(_._4 > 1.3).sortBy(-_._4)
        // ALSO confirm the top-2 sub-threshold drifts (VERDICT r14 #4:
        // q_cdf_maintain_max +29% and q_m2_incremental +31% sat just under
        // the 1.3 bar with no in-run adjudication — almost certainly the
        // JIT/warm-up band, but "almost certainly" is an argument where a
        // re-draw is a measurement). Their re-draws feed the min-of-draws
        // gate domain, so a JIT artifact collapses to the floor in the
        // committed artifact and a real drift survives into next round's
        // comparison with honest magnitude.
        val subBarProv = comparisons
          .filter(c => c._4 > 1.15 && c._4 <= 1.3).sortBy(-_._4).take(2)
        val confirmed = scala.collection.mutable.ArrayBuffer.empty[String]
        (flaggedProv.take(16) ++ subBarProv).foreach { case (name, prevV, firstV, r0) =>
          SparkEntry.queries.get(name).foreach { fn =>
            (1 to 2).foreach { i =>
              try {
                osSync()
                timeWithCpu { fn(spark, sfDir).count(); () }
                // confirmation re-draws feed ONLY the gate domain (the
                // min-of-draws floor). They must NOT replace resultsCpu/
                // resultsCpuUser: `results` keeps the first draw's wall, so
                // swapping in a later draw's cpu would pair one draw's wall
                // with another's decomposition — the exact mispairing class
                // the adjacent bestAdaptive comment documents as having
                // poisoned the r13 gate (ADVICE r14).
                gate(name, lastDrawUserS)
                System.err.println(f"[bench] cpu-gate confirmation $name " +
                  f"draw $i: user ${lastDrawUserS}%.2f s (first $firstV%.2f, " +
                  f"prev $prevV%.2f, ratio was $r0%.2f)")
              } catch { case _: Throwable => () }
            }
            confirmed += name
          }
        }
        if (confirmed.nonEmpty)
          ratios("cpu_gate_confirmed_n") = confirmed.size.toDouble
        if (subBarProv.nonEmpty)
          ratios("cpu_gate_subbar_confirmed_n") = subBarProv.size.toDouble
      }
      // WITHIN the loop, plan-keyed cache reuse across vector queries is
      // deliberate (the prepared-frame sharing measured in r5: kmeans
      // 3.2→1.4 s, pq 18→10 s); after it, drop everything so the scenario
      // phases — whose timings gate the BASELINE invariants — never carry
      // the query loop's executor-memory footprint
      graft.ext.CacheLease.releaseAll(spark)
      spark.catalog.clearCache()
      dumpChunks()
    }
    flush("queries")
    if (sys.env.contains("SPARK_GRAFT_QUERIES_ONLY")) { spark.stop(); return }

    // --- structural phases (cheap, deterministic — run BEFORE the multi-GB
    // fixture build so a budget blowout there can't starve them) ---

    // Bloom-pruned re-filter routing (P6/J2 at the >broadcast-threshold
    // regime): same keys, three routes — shuffled bytes are the evidence.
    // The big side is lineitem with ~5% of keys changed; in the sort-merge
    // regime the bloom probe prunes ~95% of the big side BEFORE the
    // exchange, so its shuffle bytes drop ~20x while results stay identical.
    def rmRecF(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmRecF))
      f.delete(); ()
    }
    // reap leftovers of killed/crashed prior runs: a kill skips the final
    // cleanup and each orphaned scratch dir holds ~13 GB — two of them
    // starved a later run into ENOSPC mid-compaction (observed). Only
    // PROVABLY-DEAD dirs are reaped (ADVICE r8 — the unconditional sweep
    // would destroy a concurrently-running bench's scratch mid-flight):
    // each run stamps its scratch with an `_owner_pid` marker, and a dir is
    // dead when its marker pid is no longer alive; markerless or unreadable
    // dirs fall back to an age gate (mtime > 3 h — far past any bench run).
    // The age gate also OVERRIDES a live-looking marker (r9 review): after
    // a reboot the dead run's pid can be recycled by a long-lived daemon,
    // which would otherwise make the 13 GB orphan immortal — no legitimate
    // bench scratch goes 3 h without an mtime bump.
    def ownerDead(dir: java.io.File): Boolean = {
      val agedOut =
        dir.lastModified < System.currentTimeMillis - 3L * 3600 * 1000
      val marker = new java.io.File(dir, "_owner_pid")
      if (agedOut || !marker.isFile) agedOut
      else try {
        val pid = new String(java.nio.file.Files.readAllBytes(marker.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        !ProcessHandle.of(pid).map[java.lang.Boolean](_.isAlive)
          .orElse(java.lang.Boolean.FALSE)
      } catch { case _: Exception => false }
    }
    // a scratch dir claimed by THIS run (marker written before any data
    // lands in it, so a racing reaper sees liveness, not a bare dir)
    def claimScratch(prefix: String): String = {
      val p = java.nio.file.Files.createTempDirectory(prefix)
      java.nio.file.Files.write(p.resolve("_owner_pid"),
        ProcessHandle.current.pid.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      p.toString
    }
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles)
      .foreach(_.filter(f => f.isDirectory &&
          (f.getName.startsWith("graft_bench") || f.getName.startsWith("graft_bloomph") ||
            f.getName.startsWith("graft_stream")) && // markerless → 3 h age gate
          ownerDead(f))
        .foreach(rmRecF))
    // dev knob (r11, scale-up evidence runs): SPARK_GRAFT_SCN_ONLY=1 skips
    // the structural phases (bloom refilter, zorder, prune ratios) and goes
    // straight to the fixture build + BASELINE scenario phases — the
    // headline-scenario-only mode a scaling-exponent measurement wants.
    val scnOnly = sys.env.contains("SPARK_GRAFT_SCN_ONLY")
    if (!scnOnly) {
    val bloomTmp = claimScratch("graft_bloomph")
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate"))
      // MATERIALIZE the key set (breaking lineage): a derived `keys` frame
      // lets InferFiltersFromConstraints push its defining predicate onto
      // the big side through the semi-join, silently pruning the "plain"
      // baseline too — in the real re-filter the key set is a computed
      // flags-join output the optimizer cannot turn into a scan predicate.
      li.select(col("l_orderkey")).filter(col("l_orderkey") % 20 === 0)
        .write.parquet(s"$bloomTmp/keys")
      val keys = spark.read.parquet(s"$bloomTmp/keys")
      // the consuming aggregate keeps payload columns alive through the
      // join (a real re-filter fetch carries full rows, not just keys)
      def consume(df: DataFrame): Long = {
        df.agg(sum(col("l_quantity")), sum(col("l_extendedprice")),
          count(lit(1)).as("n")).head.getLong(2)
      }
      // force the sort-merge regime for the plain baseline (the regime the
      // bloom route exists for — at 100 TB the key side exceeds broadcast)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val (plainCnt, plainIo) = meter.measure {
        consume(li.join(keys.distinct(), Seq("l_orderkey"), "left_semi"))
      }
      val (routed, route) = graft.ext.BloomPrune.autoSemiJoinRouted(
        li, keys, "l_orderkey", "l_orderkey", broadcastMaxKeys = 64L)
      val (bloomCnt, bloomIo) = meter.measure { consume(routed) }
      require(route == "bloom", s"expected the bloom route, got $route")
      require(plainCnt == bloomCnt, s"route changed results: $plainCnt vs $bloomCnt")
      ratios("bloom_refilter_shuffle_reduction_x") =
        plainIo.shuffledMb / math.max(bloomIo.shuffledMb, 0.001)
      System.err.println(f"[bench] bloom refilter: plain ${plainIo.shuffledMb}%.2f MB " +
        f"shuffled vs bloom ${bloomIo.shuffledMb}%.2f MB")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      rmRecF(new java.io.File(bloomTmp))
    }
    flush("bloom_refilter")
    }

    // Z-order layout quality on the REAL events table (user × time — the
    // natural 2-D lookup shape): row groups a 1/64-area box intersects,
    // linear-sort layout vs Morton layout, from parquet footer ground truth.
    val tmp = claimScratch("graft_bench")
    if (!scnOnly) {
    locally {
      // EventsSource.load dispatches on the testdata generation's timestamp
      // unit (ns-as-long vs native µs NTZ — a raw cast("long") breaks on one
      // or the other); unix_micros is unit-stable after normalization
      val ev = graft.queries.EventsSource.load(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("value"))
      val zDir = s"$tmp/zorder"
      val b = ev.agg(min(col("user_id")), max(col("user_id")),
        min(col("ts")), max(col("ts"))).head()
      val (uLo, uHi, tLo, tHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      // Both layouts are built DETERMINISTICALLY (r11 verdict #3: the
      // range-exchange forms sample with a per-run seed, which moved this
      // footer-ground-truth ratio 4.0→2.67 between same-code driver runs):
      // the linear side stripes user_id into 64 equal-width bands by pure
      // arithmetic, the z side uses the Morton-quadrant layout — each file
      // one value via partitionBy, rows sorted within, zero sampling.
      val uW = math.max(uHi - uLo, 1L)
      ev.withColumn("_ub", least(lit(63),
          ((col("user_id") - lit(uLo)) * lit(64L) / lit(uW)).cast("int")))
        .repartition(64, col("_ub"))
        .sortWithinPartitions("_ub", "user_id")
        .write.partitionBy("_ub").parquet(s"$zDir/linear")
      ZOrder.layoutQuadrants(ev, "user_id", "ts", bits = 3)
        .write.partitionBy(ZOrder.QuadrantCol).parquet(s"$zDir/zorder")
      // box: an eighth of each dimension = 1/64 of the area
      val (uA, uB) = (uLo, uLo + (uHi - uLo) / 8)
      val (tA, tB) = (tLo, tLo + (tHi - tLo) / 8)
      val (linHit, linTotal) = graft.run.IoMeter.parquetRowGroupsBox(
        s"$zDir/linear", "user_id", uA, uB, "ts", tA, tB)
      val (zHit, zTotal) = graft.run.IoMeter.parquetRowGroupsBox(
        s"$zDir/zorder", "user_id", uA, uB, "ts", tA, tB)
      ratios("zorder_box_prune_x") = linHit.toDouble / math.max(zHit, 1)
      ratios("zorder_box_groups_scanned_frac") = zHit.toDouble / math.max(zTotal, 1)
      System.err.println(s"[bench] zorder box: linear $linHit/$linTotal vs z $zHit/$zTotal")
      // LAYOUT DECAY under incremental maintenance (VERDICT r12 #5): the
      // fresh-layout prune ratio above is a best case — a production
      // table lives under dozens of incremental syncs, each appending its
      // delta as UNCLUSTERED files that span the full key box (the
      // incremental apply writes the changeset as-is; re-laying it out
      // per batch would cost a full-table shuffle per sync). Simulate 20
      // sync cycles (deterministic user_id%20 slices — each covers the
      // whole user AND time range, the worst honest shape), re-probe the
      // SAME box, and exercise the measured recluster trigger
      // (ZOrder.reclusterDue — the O6 cost-model discipline applied to
      // layout maintenance). Everything here is footer arithmetic on
      // deterministic layouts: byte-stable across same-code runs.
      val decayDir = s"$tmp/zdecay"
      rmRecF(new java.io.File(decayDir))
      def linkTree(src: java.io.File, dst: java.io.File): Unit = {
        dst.mkdirs()
        src.listFiles.foreach { f =>
          if (f.isDirectory) linkTree(f, new java.io.File(dst, f.getName))
          else java.nio.file.Files.createLink(
            new java.io.File(dst, f.getName).toPath, f.toPath)
        }
      }
      linkTree(new java.io.File(s"$zDir/zorder"), new java.io.File(decayDir))
      // deltas land under a sentinel quadrant dir so the directory stays a
      // valid single-level partitioned layout for both the footer walker
      // and the recluster read-back
      (0 until 20).foreach { i =>
        ev.filter(pmod(col("user_id"), lit(20)) === i)
          .select("user_id", "ts", "value")
          .coalesce(1).write.mode("append")
          .parquet(s"$decayDir/${ZOrder.QuadrantCol}=${1000 + i}")
      }
      val (dHit, dTotal) = graft.run.IoMeter.parquetRowGroupsBox(
        decayDir, "user_id", uA, uB, "ts", tA, tB)
      val freshFrac = zHit.toDouble / math.max(zTotal, 1)
      val decayFrac = dHit.toDouble / math.max(dTotal, 1)
      ratios("zorder_decay_groups_scanned_frac") = decayFrac
      ratios("zorder_decay_frac_inflation_x") = decayFrac / math.max(freshFrac, 1e-9)
      require(ZOrder.reclusterDue(decayFrac, freshFrac),
        f"20 unclustered deltas must trip the recluster trigger: " +
          f"decayed $decayFrac%.4f vs fresh $freshFrac%.4f")
      // pay the recluster the trigger asked for; the probe must recover
      // to fresh-layout selectivity (the table grew 2x rows, so the
      // group COUNT differs — the fraction is the scale-free form)
      val reclDir = s"$tmp/zrecl"
      rmRecF(new java.io.File(reclDir))
      ZOrder.layoutQuadrants(
          spark.read.parquet(decayDir).select("user_id", "ts", "value"),
          "user_id", "ts", bits = 3)
        .write.partitionBy(ZOrder.QuadrantCol).parquet(reclDir)
      val (rHit, rTotal) = graft.run.IoMeter.parquetRowGroupsBox(
        reclDir, "user_id", uA, uB, "ts", tA, tB)
      val reclFrac = rHit.toDouble / math.max(rTotal, 1)
      ratios("zorder_decay_frac_after_recluster") = reclFrac
      require(!ZOrder.reclusterDue(reclFrac, freshFrac),
        f"recluster must restore box selectivity: $reclFrac%.4f vs fresh $freshFrac%.4f")
      System.err.println(f"[bench] zorder decay: fresh $zHit%d/$zTotal%d → " +
        f"after 20 deltas $dHit%d/$dTotal%d (inflation " +
        f"${ratios("zorder_decay_frac_inflation_x")}%.1f x, trigger fired) → " +
        f"reclustered $rHit%d/$rTotal%d")
      rmRecF(new java.io.File(decayDir))
      rmRecF(new java.io.File(reclDir))
      rmRecF(new java.io.File(zDir))
    }
    flush("zorder")

    // Candidate-reduction ratios of the pruning operators — the MEASURED
    // form of the scale claims the plan pins assert structurally. Cheap:
    // row counts over the documents table.
    locally {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val sh = graft.ext.Dedup.shingles(docs, "doc_id", "text", 3)
      // prefix filtering: co-shingle pairs the full join would enumerate vs
      // the pairs the rarest-first prefixes nominate — BOTH counted over the
      // same hot-capped shingle relation (ADVICE r6: asymmetric baselines
      // misstate the ratio whenever any shingle exceeds the cap; capping
      // both sides keeps the numerator and denominator on one relation).
      // Cap via groupBy + semi-join (map-side combinable) rather than a
      // count-window, which would sort every shingle row (VERDICT r8 #2)
      val coolShingles = sh.groupBy("shingle").agg(count(lit(1)).as("sfreq"))
        .filter(col("sfreq") <= 1000).select("shingle")
      val capped = sh.join(coolShingles, Seq("shingle"), "left_semi")
      val fullPairs = capped.select(col("sid").as("a"), col("shingle"))
        .join(capped.select(col("sid").as("b"), col("shingle")), Seq("shingle"))
        .filter(col("a") < col("b")).count()
      val pref = graft.ext.Dedup.prefixShingles(capped, thresholdPermille = 500)
      val prefPairs = pref.select(col("sid").as("a"), col("shingle"))
        .join(pref.select(col("sid").as("b"), col("shingle")), Seq("shingle"))
        .filter(col("a") < col("b")).count()
      ratios("prefix_candidate_reduction_x") =
        fullPairs.toDouble / math.max(prefPairs, 1)
      // the r13 PPJoin stage: distinct prefix-join pairs (the pre-r13
      // candidate set the verify join used to pull arrays for) vs the
      // candidates surviving the length + positional filters vs the
      // operator's qualifying OUTPUT — the whole funnel over the SAME
      // UNCAPPED relation the real operator runs on (r13 review: the
      // first cut counted candidates over the hot-capped relation while
      // qualifying ran the uncapped operator — the asymmetric-baseline
      // mistake the ADVICE r6 note above names). The prefix pipeline
      // (two full window passes) is persisted across the two counts.
      val prefAll = graft.ext.Dedup.prefixShingles(sh, 500).persist()
      val prefDistinct = prefAll.select(col("sid").as("a"), col("shingle"))
        .join(prefAll.select(col("sid").as("b"), col("shingle")), Seq("shingle"))
        .filter(col("a") < col("b")).select("a", "b").distinct().count()
      val ppjoinCands = graft.ext.Dedup.prefixCandidates(prefAll, 500).count()
      prefAll.unpersist(blocking = false)
      ratios("prefix_ppjoin_candidate_reduction_x") =
        prefDistinct.toDouble / math.max(ppjoinCands, 1)
      // raw counts, for scale-pair decomposition: an exact join's cost
      // floor is its OUTPUT — when the scaled corpus's qualifying pairs
      // themselves grow superlinearly (near-dup families densify), the
      // honest exponent comparison is CPU vs candidates vs output, not
      // CPU vs rows
      ratios("prefix_join_pairs") = prefDistinct.toDouble
      ratios("prefix_ppjoin_candidates") = ppjoinCands.toDouble
      ratios("prefix_qualifying_pairs") =
        graft.ext.Dedup.prefixFilterJaccardPairs(
          docs, "doc_id", "text", n = 3, thresholdPermille = 500).count().toDouble
      System.err.println(f"[bench] PPJoin filters: $prefDistinct%d distinct " +
        f"prefix pairs → $ppjoinCands%d candidates → " +
        f"${ratios("prefix_qualifying_pairs")}%.0f qualifying")
      // Probe-before-pay ROUTING avoidance (r14): on the shared-template
      // hot corpus (the q_dedup_prefix_routed_hot derivation), the join
      // intermediate the DIRECT tier would enumerate (Σ C(prefix-bucket,2)
      // — the probe's own estimate, exact for the plain prefix join) vs
      // the intermediate the GUARDED tier actually pays (long-side prefix
      // buckets + the short-doc exact-dup hash-join buckets). Pure
      // deterministic counts, like prefix_join_pairs.
      locally {
        def routedEstimates(hot: DataFrame): (Long, Long) = {
          val shHot = graft.ext.Dedup.shingles(hot, "doc_id", "text", 3)
          def bucketPairs(df: DataFrame, keyCol: String): Long =
            df.groupBy(keyCol).agg(count(lit(1)).as("c"))
              .agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)))
              .head.getLong(0)
          val directEst = bucketPairs(
            graft.ext.Dedup.prefixShingles(shHot, 500), "shingle")
          val nsh = shHot.groupBy("sid").agg(count(lit(1)).as("_nsh"))
          val longSh = shHot.join(
            nsh.filter(col("_nsh") >= 8).select("sid"), Seq("sid"), "left_semi")
          val longEst = bucketPairs(
            graft.ext.Dedup.prefixShingles(longSh, 500), "shingle")
          val shortDup = bucketPairs(
            hot.select(col("doc_id"), xxhash64(col("text")).as("_h"))
              .join(nsh.filter(col("_nsh") < 8)
                .select(col("sid").as("doc_id")), Seq("doc_id"), "left_semi"),
            "_h")
          (directEst, longEst + shortDup)
        }
        val (directEst, guardedEst) =
          routedEstimates(graft.queries.ExtQueries.hotTemplateDocs(spark, sfDir))
        ratios("prefix_routed_hot_direct_intermediate") = directEst.toDouble
        ratios("prefix_routed_hot_guarded_intermediate") = guardedEst.toDouble
        ratios("prefix_routed_hot_avoidance_x") =
          directEst.toDouble / math.max(guardedEst, 1L)
        System.err.println(f"[bench] routed prefix join (hot corpus): direct " +
          f"tier would enumerate $directEst%d join rows, guarded tier pays " +
          f"$guardedEst%d (${ratios("prefix_routed_hot_avoidance_x")}%.0f x avoided)")
        // SECOND corpus-size point (r15): 4x the TEMPLATE population as 4x
        // as many exact-dup families of the same size. The direct tier's
        // intermediate is dominated by the one hot shared shingle —
        // C(templates, 2), quadratic in the template count — while the
        // guarded tier pays per-FAMILY buckets, linear in the family
        // count. Expect direct ≈ 16x, guarded ≈ 4x, avoidance ≈ 4x vs the
        // 1x point: the measured quadratic-vs-linear separation, from the
        // same deterministic bucket-sum aggregates (no pair enumerated).
        val docsBase = docs.select(col("doc_id"), col("text"))
        val tmpl4 = docsBase
          .select(col("doc_id"), explode(sequence(lit(0L), lit(3L))).as("r"))
          .select((col("doc_id") * 4 + col("r") + 100000000L).as("doc_id"),
            concat(lit("zz yy xx h"),
              ((col("doc_id") % 100) * 4 + col("r")).cast("string")).as("text"))
        val (direct4, guarded4) = routedEstimates(docsBase.unionByName(tmpl4))
        ratios("prefix_routed_hot_tmpl4x_direct_intermediate") = direct4.toDouble
        ratios("prefix_routed_hot_tmpl4x_guarded_intermediate") = guarded4.toDouble
        ratios("prefix_routed_hot_tmpl4x_avoidance_x") =
          direct4.toDouble / math.max(guarded4, 1L)
        ratios("prefix_routed_avoidance_growth_x") =
          ratios("prefix_routed_hot_tmpl4x_avoidance_x") /
            math.max(ratios("prefix_routed_hot_avoidance_x"), 1e-9)
        System.err.println(f"[bench] routed prefix join (4x templates): " +
          f"direct $direct4%d vs guarded $guarded4%d " +
          f"(${ratios("prefix_routed_hot_tmpl4x_avoidance_x")}%.0f x avoided; " +
          f"avoidance grew ${ratios("prefix_routed_avoidance_growth_x")}%.1f x " +
          f"for 4x the template count)")
      }
      // ExactSubstr winnow prefilter: 8-gram span hashes the exhaustive
      // pass shuffles vs the hashes of winnow-candidate docs only — the
      // fraction of the corpus the heavy position-granular pass actually
      // touches after the cheap fingerprint scan (Dedup.duplicatedSpansWinnowed)
      val g = docs.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 7, lit(0)).cast("long").as("g"))
      val totalGrams = g.agg(coalesce(sum(col("g")), lit(0L))).head.getLong(0)
      val wfps = graft.ext.Dedup.winnowFingerprints(docs, "doc_id", "text", 4, 4)
      val sharedFp = wfps.groupBy("fp").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("fp")
      val candDocs = wfps.join(sharedFp, Seq("fp"), "left_semi")
        .select("doc_id").distinct()
      val candGrams = g.join(candDocs, Seq("doc_id"), "left_semi")
        .agg(coalesce(sum(col("g")), lit(0L))).head.getLong(0)
      ratios("exactsubstr_winnow_gram_reduction_x") =
        totalGrams.toDouble / math.max(candGrams, 1)
      System.err.println(f"[bench] exactsubstr winnow prefilter: " +
        f"$totalGrams%d grams → $candGrams%d candidate grams")
      // The SAME reduction on a SPARSE-dup corpus — the regime the
      // prefilter's premise targets (most docs share no span with
      // anything; VERDICT r8 #1): the salted derivation the sparse oracle
      // queries replay. The dup-dense number above is the honest "premise
      // absent" disclosure; this is the operator's design point.
      val sparse = graft.queries.ExtQueries.sparseDocs(spark, sfDir)
      val gS = sparse.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 7, lit(0)).cast("long").as("g"))
      val totalGramsS = gS.agg(coalesce(sum(col("g")), lit(0L))).head.getLong(0)
      val candDocsS = graft.ext.Dedup.winnowRouted(sparse, "doc_id", "text",
        n = 8, minDocs = 2, k = 4, w = 4, maxCandidateFraction = 1.0).get
      val candGramsS = gS.join(candDocsS, Seq("doc_id"), "left_semi")
        .agg(coalesce(sum(col("g")), lit(0L))).head.getLong(0)
      ratios("exactsubstr_winnow_gram_reduction_sparse_x") =
        totalGramsS.toDouble / math.max(candGramsS, 1)
      System.err.println(f"[bench] exactsubstr winnow prefilter (sparse): " +
        f"$totalGramsS%d grams → $candGramsS%d candidate grams")
      // End-to-end ADAPTIVE-routing evidence, draws paired in the same
      // minutes: on the dense corpus the probe must route exhaustive
      // (overhead ≈ 1 + the cheap native winnow_fps scan — the r8 2x
      // pessimization gone); on the sparse corpus it must route to the
      // prefilter and WIN. The sf corpus is ~24k grams at sf0.01 — pure
      // scheduler latency — so the draws run on a 16x-replicated corpus
      // (dense: verbatim copies under fresh ids, even more dup-dense;
      // sparse: per-copy salted, the premise regime), MATERIALIZED first
      // so corpus derivation cost is in neither draw.
      val repl = 16
      def replicated(saltPerCopy: Boolean): org.apache.spark.sql.DataFrame = {
        val e = docs.select(col("doc_id"), col("text"),
            explode(sequence(lit(0L), lit(repl - 1L))).as("r"))
          .select((col("doc_id") * repl + col("r")).as("doc_id"), col("text"))
        // the SHARED salting rule (ExtQueries.saltSparse) — same regime
        // the sparse oracle queries pin, by construction not by copy
        if (!saltPerCopy) e else graft.queries.ExtQueries.saltSparse(e)
      }
      replicated(saltPerCopy = false).write.parquet(s"$tmp/spanbench_dense")
      replicated(saltPerCopy = true).write.parquet(s"$tmp/spanbench_sparse")
      val denseBig = spark.read.parquet(s"$tmp/spanbench_dense")
      val sparseBig = spark.read.parquet(s"$tmp/spanbench_sparse")
      val tDenseEx = timeWithCpu {
        graft.ext.Dedup.duplicatedSpans(denseBig, "doc_id", "text",
          n = 8, minDocs = 2).count(); () }
      val cDenseEx = lastDrawCpuS
      val tDenseAd = timeWithCpu {
        graft.ext.Dedup.duplicatedSpansWinnowed(denseBig, "doc_id", "text",
          n = 8, minDocs = 2, k = 4, w = 4).count(); () }
      val cDenseAd = lastDrawCpuS
      val tSparseEx = timeWithCpu {
        graft.ext.Dedup.duplicatedSpans(sparseBig, "doc_id", "text",
          n = 8, minDocs = 2).count(); () }
      val cSparseEx = lastDrawCpuS
      val tSparseAd = timeWithCpu {
        graft.ext.Dedup.duplicatedSpansWinnowed(sparseBig, "doc_id", "text",
          n = 8, minDocs = 2, k = 4, w = 4).count(); () }
      val cSparseAd = lastDrawCpuS
      graft.ext.CacheLease.releaseAll(spark)
      rmRecF(new java.io.File(s"$tmp/spanbench_dense"))
      rmRecF(new java.io.File(s"$tmp/spanbench_sparse"))
      ratios("exactsubstr_winnow_dense_overhead_x") =
        tDenseAd / math.max(tDenseEx, 1e-9)
      ratios("exactsubstr_winnow_sparse_speedup_x") =
        tSparseEx / math.max(tSparseAd, 1e-9)
      // CPU-time twins (VERDICT r10 #2): these ~1 s wall draws carry the
      // box's IO-regime lottery — same-code runs drew 0.61 and 1.129 for
      // a claim whose margin is ~1.06. The CPU forms are the throttle-
      // immune pin of the "adaptive routing is never a net loss on dense"
      // claim; the wall forms stay as advisory corroboration.
      ratios("exactsubstr_winnow_dense_overhead_cpu_x") =
        cDenseAd / math.max(cDenseEx, 1e-9)
      ratios("exactsubstr_winnow_sparse_speedup_cpu_x") =
        cSparseEx / math.max(cSparseAd, 1e-9)
      System.err.println(f"[bench] exactsubstr adaptive (x$repl%d corpus): " +
        f"dense $tDenseEx%.2f s exhaustive vs $tDenseAd%.2f s adaptive " +
        f"(cpu $cDenseEx%.2f vs $cDenseAd%.2f); " +
        f"sparse $tSparseEx%.2f s exhaustive vs $tSparseAd%.2f s adaptive " +
        f"(cpu $cSparseEx%.2f vs $cSparseAd%.2f)")
      // triangle orientation: wedges enumerated at the low-(degree,id)
      // endpoint vs the naive any-center two-paths (sum deg·(deg−1)/2)
      val edges = graft.ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      edges.persist() // referenced by the degree agg and the orientation
      val deg = edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      // coalesce: sum over an empty edge set is null, not 0
      val naiveWedges = deg.agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)))
        .head.getLong(0)
      val orientedWedges = edges
        .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
        .select(when(struct(col("da"), col("a")) < struct(col("db"), col("b")), col("a"))
          .otherwise(col("b")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("od"))
        .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L))).head.getLong(0)
      ratios("triangle_wedge_reduction_x") =
        naiveWedges.toDouble / math.max(orientedWedges, 1)
      spark.catalog.clearCache()
      System.err.println(f"[bench] prune ratios: prefix pairs $fullPairs%d→$prefPairs%d, " +
        f"wedges $naiveWedges%d→$orientedWedges%d")
    }
    // per-group top-k: bounded aggregate vs window form, shuffled bytes.
    // EXPECTED ≈ 1.0 — Spark ≥3.5's InferWindowGroupLimit gives the
    // window form a partial group-limit below the exchange too; the ratio
    // documents that parity honestly (the aggregate's remaining edge is
    // the sort-free map side + aggregate fusion, not bytes — TopKAgg doc)
    locally {
      import org.apache.spark.sql.expressions.Window
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val score = floor(col("l_extendedprice") * 100 + 0.5)
      val id = col("l_orderkey") * 10 + col("l_linenumber")
      val (nAgg, aggIo) = meter.measure {
        graft.ext.TopK.perGroup(li, "l_suppkey", score, id, k = 3).count()
      }
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("s").desc, col("i").asc)
      val (nWin, winIo) = meter.measure {
        li.select(col("l_suppkey"), score.cast("long").as("s"), id.cast("long").as("i"))
          .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3).count()
      }
      require(nAgg == nWin, s"top-k forms disagree: $nAgg vs $nWin")
      ratios("topk_agg_vs_window_shuffle_x") =
        winIo.shuffledMb / math.max(aggIo.shuffledMb, 0.001)
      System.err.println(f"[bench] topk: window ${winIo.shuffledMb}%.2f MB " +
        f"shuffled vs aggregate ${aggIo.shuffledMb}%.2f MB")
    }
    flush("prune_ratios")
    }

    // --- z-order layout maintenance END TO END through the production sync
    // lifecycle (VERDICT r14 #5): the decay phase above exercises the
    // trigger ARITHMETIC and LayoutMaintenanceSpec drives the runner
    // lifecycle at unit scale — this is the committed scn_* row showing a
    // production sync on a z-ordered table PAYING the planner-scheduled
    // recluster inside LakeApplier and recovering box selectivity, with
    // byte evidence. Full-box-span drift (one RecId%17 slice version-bumped
    // per apply — each delta commit's insert files cover the whole 2-D
    // domain, the honest worst decay shape) accrues until
    // Planner.decideMaintenance fires mid-apply; the timed row is the
    // apply that pays (probe + incremental changeset + recluster rewrite,
    // through write+sync). The fractions are parquet-footer arithmetic
    // over deterministic Morton layouts — byte-stable across same-code
    // runs, like the zorder_decay_* family.
    if (!scnOnly) locally {
      val zSrcPath = s"$tmp/zmaint_src"
      val zTgt = s"$tmp/tgt_zmaint"
      // slim 2-D source off the real lineitem keys: RecId x a decorrelated
      // second dimension (prime multiply, power-of-two modulus)
      val zBase = SyncFixtures.base(spark, sfDir)
        .select(col("RecId"), (col("RecId") * 7919L % 1048576L).as("dim2"),
          col("l_quantity"), col("l_extendedprice"))
      // cumulative per-slice version stamps: versions only ever ADVANCE,
      // the contract a real row-version source keeps
      val stamps = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      def writeZSrc(): Unit = {
        val v = stamps.foldLeft(lit(1L): org.apache.spark.sql.Column) {
          case (acc, (slice, stamp)) =>
            when(pmod(col("RecId"), lit(17L)) === lit(slice), lit(stamp))
              .otherwise(acc)
        }
        zBase.withColumn("SysRowVersion", v)
          .write.mode("overwrite").parquet(zSrcPath)
      }
      writeZSrc()
      val zStore = new graft.state.SyncStateStore(s"$tmp/zmaint_state.json")
      val zRunner = new graft.run.SyncRunner(spark, zStore, parallelWorkers = 1)
      val zApplier = graft.run.LakeApplier(zTgt, compactEvery = 100,
        clusterFiles = 64, zorder = Some(("RecId", "dim2")))
      val zPlan = zRunner.TablePlan("scn_zmaint", zSrcPath, zTgt,
        applierOverride = Some(zApplier))
      val r0 = zRunner.runTable(zPlan)
      require(r0.ok && r0.mode == graft.model.SyncMode.Standard, s"$r0")
      val freshFrac = LakeTable.layoutSpec(zTgt).map(_.freshFrac).getOrElse(
        throw new IllegalStateException("z-ordered snapshot must record _layout"))
      def baseName(): String =
        graft.sync.LakeFs.readUtf8(s"$zTgt/_current").split('\t').head
      val base0 = baseName()
      var reclustered = false
      var applies = 0
      // the decayed fraction ENTERING the paying apply (the paying apply's
      // own commit pushes it slightly higher before the in-apply probe
      // fires — that exact value lives inside the applier; this is the
      // deterministic outside-observable twin)
      var decayedFrac = freshFrac
      var tPay = 0.0
      while (!reclustered && applies < 12) {
        applies += 1
        stamps(applies.toLong % 17L) = 1000000L * applies
        writeZSrc()
        val preFrac = LakeTable.layoutBoxProbe(zTgt).map(_._1).getOrElse(freshFrac)
        osSync()
        val t = timeWithCpu {
          val r = zRunner.runTable(zPlan)
          require(r.ok && r.mode == graft.model.SyncMode.Incremental, s"$r")
          osSync()
        }
        reclustered = baseName() != base0
        if (reclustered) { tPay = t; decayedFrac = preFrac }
      }
      require(reclustered,
        s"full-span drift must trip the planner recluster within $applies applies")
      require(LakeTable.pendingCommits(zTgt) == 0,
        "the recluster must fold every pending commit")
      val afterFrac = LakeTable.layoutBoxProbe(zTgt).map(_._1).getOrElse(1.0)
      require(!ZOrder.reclusterDue(afterFrac, freshFrac),
        f"recluster must restore box selectivity: $afterFrac%.4f vs fresh $freshFrac%.4f")
      results("scn_zorder_maintain") = tPay
      resultsCpu("scn_zorder_maintain") = lastDrawCpuS
      resultsCpuUser("scn_zorder_maintain") = lastDrawUserS
      gate("scn_zorder_maintain", lastDrawUserS)
      ratios("zorder_maintain_applies_to_recluster") = applies.toDouble
      ratios("zorder_maintain_fresh_frac") = freshFrac
      ratios("zorder_maintain_decayed_frac") = decayedFrac
      ratios("zorder_maintain_after_frac") = afterFrac
      ratios("zorder_maintain_recovery_x") =
        decayedFrac / math.max(afterFrac, 1e-9)
      System.err.println(f"[bench] zorder maintain: fresh $freshFrac%.4f -> " +
        f"decayed $decayedFrac%.4f after ${applies - 1}%d full-span applies; " +
        f"apply $applies%d paid the planner recluster in $tPay%.1f s " +
        f"(user $lastDrawUserS%.1f cpu-s) -> $afterFrac%.4f " +
        f"(${ratios("zorder_maintain_recovery_x")}%.1f x recovered)")
      rmRecF(new java.io.File(zSrcPath))
      rmRecF(new java.io.File(zTgt))
      flush("zorder_maintain")
    }
    // dev knob (r12, zorder-determinism evidence): stop after the cheap
    // structural phases — two such runs must produce IDENTICAL
    // zorder_box_groups_scanned_frac now that both layouts are built
    // arithmetically (r11 verdict #3: the sampled range exchange moved
    // this footer-ground-truth ratio between same-code runs)
    if (sys.env.contains("SPARK_GRAFT_STRUCTURAL_ONLY")) {
      rmRecF(new java.io.File(tmp)); spark.stop(); return
    }

    // --- reference scenario ratios (BASELINE.md invariants) ---
    // Scenario inputs are MATERIALIZED tables (written once, untimed): a
    // production control pass scans 2 real columns of a real table — deriving
    // fixtures on the fly would charge identical derivation cost to every
    // scenario and flatten the ratios the design exists to produce.
    //
    // Fixtures carry the ~2 KB widePayload so control-vs-full is 16 B vs
    // ~2 KB per row — without it a 38 B row caps every read-reduction ratio
    // at ~2.4x and the measurement cannot exhibit the 99%+ transfer
    // reduction the reference claims (VERDICT r1). The SOURCE is written
    // VERSION-CLUSTERED (SyncFixtures.clusterByVersion): the documented
    // 100 TB table-layout requirement that lets the S8 delta fetch prune
    // unchanged row groups via parquet min/max stats — the lake analog of
    // the reference's server-side indexed version predicate
    // (Tier2DataService.cs:381-434).
    //
    // 9 copies (the replicate cap) ≈ 11.3 GB source: sized so that in the
    // FAST write regime (quiet box, ~450 MB/s write+sync) the full-reload
    // draw still dwarfs the ~2 s of fixed per-sync job overhead — at 6
    // copies a fast-regime draw is ~17 s and the nochange/pct5 ratios sit
    // within run-variance of their required floors (measured 13-20x and
    // 5.5-7.3x across consecutive runs); at 9 the margins clear both floors
    // in both write regimes
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCN_COPIES", "9").toInt
    // the 4m split size exists for the ~20MB driver testdata files; the
    // multi-GB scenario fixtures want normal-sized splits or every 16 B/row
    // control scan fragments into hundreds of per-task footer reads
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    val bigBase = SyncFixtures.replicate(SyncFixtures.base(spark, sfDir), copies)
    val nPart = cpus
    // scn_5pct source: the canonical pure-update 5% drift (BASELINE.md's
    // "5%-change re-sync"; deletes/missing/local-edit shapes are exercised
    // by the oracle-checked q_m2/q_j* queries instead)
    val mark = bigBase.agg(max(col("RecId"))).head().getLong(0)
    // fixtures are derivation-deterministic and multi-GB: cache them across
    // bench runs, keyed by recipe version + shape (a fresh driver round
    // reuses the previous round's fixtures instead of re-paying ~10 min of
    // throttled writes); the _done marker guards against a half-built cache.
    // HOME is the WORKDIR since r15 (VERDICT r14 #1: the r14 driver run's
    // /tmp came up empty, the in-run ~194 s rebuild was credited back to
    // the budget but its post-build writeback throttle inflated every
    // pooled slot's cost and the deadline arithmetic starved the pct5
    // evidence pool to the 2-slot minimum — the workdir survives rounds
    // where /tmp does not; staleness is guarded by the recipe-keyed dir
    // name + _done markers, never mtime). A complete legacy /tmp cache is
    // adopted by HARDLINK (same filesystem — free, and the byte-form gate
    // digits verify it transparently). `.bench_cache/` is gitignored.
    val cacheName = s"graft_scn_cache_v3_${copies}x${SyncFixtures.PayloadBlocks}_" +
      new java.io.File(sfDir).getName
    val cacheRoot = sys.env.getOrElse("SPARK_GRAFT_FIXTURE_CACHE_DIR", ".bench_cache")
    val cache = s"$cacheRoot/$cacheName"
    // the _done markers are linked LAST (a kill mid-adoption must leave a
    // visibly-incomplete cache, same discipline as the build path)
    def adoptTree(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      Option(src.listFiles).foreach(_.sortBy(_.getName.startsWith("_done"))
        .foreach { f =>
          if (f.isDirectory) adoptTree(f, new java.io.File(dst, f.getName))
          else try java.nio.file.Files.createLink(
            new java.io.File(dst, f.getName).toPath, f.toPath)
          catch { case _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(f.toPath,
              new java.io.File(dst, f.getName).toPath,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
          }
        })
    }
    locally {
      val legacy = new java.io.File(
        s"${System.getProperty("java.io.tmpdir")}/$cacheName")
      if (!new java.io.File(s"$cache/_done").exists &&
          new java.io.File(legacy, "_done").exists) {
        System.err.println(s"[bench] adopting legacy fixture cache $legacy -> $cache")
        rmRecF(new java.io.File(cache))
        adoptTree(legacy, new java.io.File(cache))
      }
    }
    def dirMb(p: String): Double = {
      val d = new java.io.File(p)
      if (!d.exists) 0.0
      else d.listFiles.filter(_.isFile).map(_.length).sum / 1e6
    }
    if (!new java.io.File(s"$cache/_done").exists) {
      System.err.println(f"[bench] building ${copies}x fixtures (t=$elapsed%.0f s)")
      val tBuild0 = elapsed
      rmRecF(new java.io.File(cache))
      // materialize the 2 KB md5 payload AFTER the layout shuffle: the
      // sf0.1 lineitem file is a single 128 MB-split scan task, so deriving
      // payloads below the exchange serializes ~5.4M × 64 md5s into ONE
      // map task AND shuffles the full ~11 GB of payload bytes. Dropping
      // the column lets Catalyst prune the md5 work out of the map side
      // entirely (payload = f(SysRowVersion), values identical): the
      // exchange moves 38 B/row and all md5 work runs in the nPart
      // post-shuffle write tasks — ~8 min off every fresh-container build.
      SyncFixtures.clusterByVersion(
          SyncFixtures.updatesOnlyFrom(bigBase).drop("payload"), nPart, mark)
        .withColumn("payload", SyncFixtures.widePayload)
        .write.parquet(s"$cache/src")
      osSync()
      SyncFixtures.perfectFrom(bigBase).drop("payload").repartition(nPart)
        .withColumn("payload", SyncFixtures.widePayload)
        .write.parquet(s"$cache/perf")
      new java.io.File(s"$cache/_done").createNewFile()
      budgetCreditSec += elapsed - tBuild0
      System.err.println(f"[bench] fixture build credited ${elapsed - tBuild0}%.0f s back to the budget")
    }
    // KEY-RANGE-CLUSTERED twin of the perfect target (the documented lake
    // base layout for partial compaction — LakeTable.overwriteClustered):
    // separate marker so pre-existing caches just add it. Same
    // payload-after-shuffle trick: the range exchange moves 38 B rows, md5
    // runs post-shuffle.
    if (!new java.io.File(s"$cache/_done_clustered").exists) {
      System.err.println(f"[bench] building clustered fixture (t=$elapsed%.0f s)")
      val tBuild0 = elapsed
      rmRecF(new java.io.File(s"$cache/perf_clustered"))
      SyncFixtures.perfectFrom(bigBase).drop("payload")
        .repartitionByRange(nPart, col("RecId")).sortWithinPartitions("RecId")
        .withColumn("payload", SyncFixtures.widePayload)
        .write.parquet(s"$cache/perf_clustered")
      osSync()
      new java.io.File(s"$cache/_done_clustered").createNewFile()
      budgetCreditSec += elapsed - tBuild0
      System.err.println(f"[bench] clustered build credited ${elapsed - tBuild0}%.0f s back to the budget")
    }
    val srcT = spark.read.parquet(s"$cache/src")
    val perfT = spark.read.parquet(s"$cache/perf")
    def ctl(df: org.apache.spark.sql.DataFrame) = df.select("RecId", "SysRowVersion")

    // Byte-form ratios FIRST (footer metadata only — deterministic, cheap,
    // and independent of any timed draw): read bytes = compressed
    // column-chunk sizes of exactly the columns each scenario scans, over
    // exactly the row groups its pushed predicates retain. These are the
    // scale-invariant form of the reference's headline claims (99%+
    // transfer reduction on no-change, ~16 B/row control pass): local NVMe
    // makes TIME ratios I/O-flat at this size, but the byte ratios are what
    // a WAN/cluster pays at any scale. full_write_mb ≈ the source footprint
    // (the full apply rewrites every source byte as the new base).
    import graft.run.IoMeter.{parquetColumnBytes, parquetColumnBytesWhere}
    val controlCols = Seq("RecId", "SysRowVersion")
    val fullReadMb = parquetColumnBytes(s"$cache/src") / 1e6
    val noChangeReadMb = 2 * parquetColumnBytes(s"$cache/perf", controlCols) / 1e6
    // incremental reads: both probe control passes in full, the changed-key
    // scan and the payload fetch only over row groups with max(version) ≥
    // mark (the clustered layout makes that ~change% of the table)
    val incrReadMb = (parquetColumnBytes(s"$cache/src", controlCols) +
      parquetColumnBytes(s"$cache/perf", controlCols) +
      parquetColumnBytesWhere(s"$cache/src", controlCols, Some(("SysRowVersion", mark))) +
      parquetColumnBytesWhere(s"$cache/src", Nil, Some(("SysRowVersion", mark)))) / 1e6
    val nRows = srcT.count()
    var fullWriteMb = fullReadMb // refined from the plough draw's real output below
    def putByteRatios(): Unit = {
      ratios("full_read_mb") = fullReadMb
      ratios("full_write_mb") = fullWriteMb
      ratios("nochange_read_mb") = noChangeReadMb
      ratios("nochange_write_mb") = 0.0
      ratios("pct5_read_mb") = incrReadMb
      ratios("pct5_read_reduction_x") = fullReadMb / math.max(incrReadMb, 0.001)
      ratios("nochange_read_reduction_x") = fullReadMb / math.max(noChangeReadMb / 2, 0.001)
      ratios("control_bytes_per_row") = noChangeReadMb * 1e6 / math.max(nRows, 1) / 2.0
      ratios("full_bytes_per_row") = fullWriteMb * 1e6 / nRows
      // invariant #4 in its exact, scale-invariant form: truncate moves the
      // same bytes as a full reload plus ONE 16 B/row control pass (the
      // decision probe). The TIME ratio is the same claim through this
      // box's ±2x write-throttle noise; the byte form is deterministic.
      ratios("truncate_vs_full_bytes") =
        (fullReadMb + noChangeReadMb + fullWriteMb) / (fullReadMb + fullWriteMb)
    }
    putByteRatios()
    flush("byte_ratios")

    // Cheap scenarios FIRST, full-rewrite scenarios LAST, and every multi-GB
    // output is deleted right after its timing (dropping its dirty pages)
    // so no later phase pays an earlier phase's writeback debt.
    //
    // The no-change and 5% scenarios run THROUGH SyncRunner.runTable with a
    // prepared state store — the timed path is the production wiring (probe →
    // tier routing → delta commit → marks flush), and each run ASSERTS the
    // reported mode so a future regression in tier routing fails the bench
    // instead of silently timing the wrong path. The target is a flat lake
    // dir rebuilt per iteration from hardlinks (cheap, untimed).
    def linkDir(srcDir: String, dstDir: String): Unit = {
      rmRecF(new java.io.File(dstDir))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dstDir))
      new java.io.File(srcDir).listFiles.filter(_.isFile).foreach { f =>
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(s"$dstDir/${f.getName}"), f.toPath)
      }
    }
    val store = new graft.state.SyncStateStore(s"$tmp/state.json")
    val runner = new graft.run.SyncRunner(spark, store)
    val maxId = srcT.agg(max(col("RecId"))).head().getLong(0)
    def primedPlan(name: String, sourcePath: String): runner.TablePlan = {
      store.putVersions(name, mark, mark, Some(maxId))
      runner.TablePlan(name, sourcePath, s"$tmp/tgt_$name")
    }
    def runAsserting(plan: runner.TablePlan,
        expect: graft.model.SyncMode): Unit = {
      val r = runner.runTable(plan)
      require(r.ok, s"${plan.name} failed: ${r.error}")
      require(r.mode == expect, s"${plan.name} took ${r.mode}, expected $expect")
    }

    // no-change re-sync: the production NOOP tier — a shuffle-free checksum
    // probe over two 2-column pruned scans, zero writes (O4+O5: this IS the
    // 99% bargain). NOOP mutates nothing, so one target build serves all
    // iterations.
    linkDir(s"$cache/perf", s"$tmp/tgt_scn_noop")
    val noopPlan = primedPlan("scn_noop", s"$cache/perf")
    val tNoChange = bestAdaptive {
      store.putVersions("scn_noop", mark, mark, Some(maxId))
    } {
      runAsserting(noopPlan, graft.model.SyncMode.Noop)
    }
    results("scn_nochange_sync") = tNoChange
    resultsCpu("scn_nochange_sync") = lastDrawCpuS
    resultsCpuUser("scn_nochange_sync") = lastDrawUserS
    gate("scn_nochange_sync", lastDrawUserMinS)
    flush("scn_noop")
    // 5%-change incremental, production tier 2: probe detects equal key
    // sets → update-only changeset (filters + broadcast semi-join, no wide
    // shuffle) → delta commit of tombstone keys + changed rows only.
    // Write-bearing scenarios are timed THROUGH durability (write + sync):
    // page-cache state varies wildly between phases on this box, so
    // "write into cache" timings are incomparable — write+flush is the
    // steady-state cost a real sync pays, measured identically everywhere.
    val incrPlan = primedPlan("scn_incr", s"$cache/src")
    def incrPrep(): Unit = {
      // untimed reset: fresh hardlinked flat target + re-primed marks, so
      // every iteration routes through the same incremental tier
      linkDir(s"$cache/perf", s"$tmp/tgt_scn_incr")
      store.putVersions("scn_incr", mark, mark, Some(maxId))
    }
    def incrRun(): Unit = {
      runAsserting(incrPlan, graft.model.SyncMode.Incremental)
      osSync()
    }
    val tIncr = bestAdaptive(incrPrep())(incrRun())
    resultsCpu("scn_5pct_incremental") = lastDrawCpuS
    resultsCpuUser("scn_5pct_incremental") = lastDrawUserS
    gate("scn_5pct_incremental", lastDrawUserMinS)
    val incrWriteMb = dirMb(s"$tmp/tgt_scn_incr/_log/0/inserts") +
      dirMb(s"$tmp/tgt_scn_incr/_log/0/deletes")
    rmRecF(new java.io.File(s"$tmp/tgt_scn_incr"))
    results("scn_5pct_incremental") = tIncr
    ratios("pct5_write_mb") = incrWriteMb
    ratios("pct5_write_reduction_x") = fullWriteMb / math.max(incrWriteMb, 0.001)
    flush("scn_incr")
    // multi-table fan-out (D1): 8 primed NOOP tables through runAll's worker
    // pool — per-table work is a minimal probe, so ORCHESTRATION overhead is
    // maximally visible: with the reference's default 10 workers
    // (AppConfiguration.cs:36) wall-clock should sit near ONE table's probe
    // time, nowhere near 8x
    val multiPlans = (1 to 8).map { i =>
      runner.TablePlan(s"scn_multi_$i", s"$cache/perf", s"$tmp/tgt_scn_noop")
    }
    val tMulti = bestAdaptive {
      multiPlans.foreach(p => store.putVersions(p.name, mark, mark, Some(maxId)))
    } {
      val rs = runner.runAll(multiPlans)
      require(rs.forall(r => r.ok && r.mode == graft.model.SyncMode.Noop),
        s"multitable scenario must be all-NOOP: " +
          rs.filterNot(_.mode == graft.model.SyncMode.Noop).map(_.table).mkString(","))
    }
    rmRecF(new java.io.File(s"$tmp/tgt_scn_noop"))
    results("scn_multitable_8x_noop") = tMulti
    resultsCpu("scn_multitable_8x_noop") = lastDrawCpuS
    resultsCpuUser("scn_multitable_8x_noop") = lastDrawUserS
    gate("scn_multitable_8x_noop", lastDrawUserMinS)
    ratios("multitable8_vs_single_noop") = tMulti / math.max(tNoChange, 1e-9)
    flush("scn_multi")

    // full reload: fetch everything, write everything (standard-mode cost);
    // output dropped immediately after — its GBs of dirty pages would
    // otherwise tax every later phase. The source is pre-read (untimed,
    // EVERY iteration, identically for full and truncate) so both see the
    // same cache state: without this the first full-table scan pays the
    // cold read and the trunc/full ratio measures cache luck instead of
    // plan cost.
    def warmSrc(): Unit = {
      srcT.select(sum(length(col("payload"))), max(col("RecId")),
        max(col("SysRowVersion"))).collect()
      ()
    }
    def dirMbRec(p: String): Double = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p)) / 1e6
    }
    // full and truncate are INTERLEAVED (F,T,F,T), not paired (F,F,T,T):
    // this box's multi-GB write+sync cost drifts ±25% over minutes
    // (writeback governor state), and consecutive pairs let the drift land
    // entirely on one side of the trunc/full ratio — interleaving makes any
    // monotone drift hit both symmetrically. Identical prep each iteration:
    // drop previous output, re-warm the source read, flush dirty backlog.
    // BOTH scenarios write the SAME output path: with distinct paths, one
    // path's block placement can be persistently slower for a whole run
    // (observed: full consistently 2-3x trunc in one run, the reverse in
    // the next, stable WITHIN each run) — a shared path gives both draws
    // the same directory and the same freed-block pool.
    // Both rewrite scenarios run THROUGH SyncRunner.runTable (production
    // wiring, mode asserted — same discipline as nochange/5pct above) and
    // write the SAME target path:
    //  - Standard draw: no existing target ⇒ full fetch + full apply
    //    (scn_full_reload, the cost a user pays without optimized mode)
    //  - Truncate draw: primed far-behind marks over a linked target ⇒
    //    control-pass probe decides ≥40% changed ⇒ full rewrite
    //    (BASELINE invariant #4: ≈ full reload + one control pass)
    val rewriteOut = s"$tmp/tgt_rewrite"
    var fullWriteMbMeasured = 0.0
    // mechanism decomposition of every full-reload draw (VERDICT r12 #1):
    // medians reported in ratios as full_reload_{gc,task}_cpu_s +
    // full_reload_spill_mb — read together with the process-CPU column,
    // they name where a CPU exponent comes from (GC-pressure regime vs
    // real task compute vs spill serialization)
    val stdGcS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stdTaskCpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stdSpillMb = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stdUserS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val stdSysS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val rewritePlan = runner.TablePlan("scn_rewrite", s"$cache/src", rewriteOut)
    def standardDraw(): Double = {
      rmRecF(new java.io.File(rewriteOut)) // no target + no usable marks ⇒ Standard
      store.putVersions("scn_rewrite", 0L, 0L, None)
      warmSrc(); osSync()
      val t = timeWithCpu { runAsserting(rewritePlan, graft.model.SyncMode.Standard); osSync() }
      fullWriteMbMeasured = dirMbRec(rewriteOut)
      stdGcS += lastDrawGcS
      stdTaskCpuS += lastDrawTaskCpuS
      stdSpillMb += lastDrawSpillMb
      stdUserS += lastDrawUserS
      stdSysS += lastDrawSysS
      gate("scn_full_reload", lastDrawUserS)
      System.err.println(f"[bench] full-reload mechanism: proc-cpu " +
        f"$lastDrawCpuS%.1f s (user $lastDrawUserS%.1f + sys $lastDrawSysS%.1f) " +
        f"= task-cpu $lastDrawTaskCpuS%.1f s + gc " +
        f"$lastDrawGcS%.1f s + rest; spill $lastDrawSpillMb%.0f MB")
      t
    }
    def truncateDraw(): Double = {
      linkDir(s"$cache/perf", rewriteOut) // stale target, marks at 0 ⇒ 100% changed
      store.putVersions("scn_rewrite", 0L, 0L, Some(maxId))
      warmSrc(); osSync()
      timeWithCpu { runAsserting(rewritePlan, graft.model.SyncMode.Truncate); osSync() }
    }
    // the decision pass truncate mode adds over a plain full apply, timed
    // on its own (it is cheap and stable where the multi-GB apply is not)
    def probeDraw(): Double = time {
      val pr = Planner.probe(ctl(srcT), ctl(perfT), 0L, 0L)
      require(Planner.decide(pr.stats) == graft.model.SyncMode.Truncate)
    }
    // plough the runway (untimed result-wise, but its duration SIZES the
    // draw pool): the FIRST multi-GB write after a quiet period pays a ~4x
    // writeback-governor ramp (measured 186 s vs 31-43 s steady for
    // identical work); one scratch draw absorbs it so every timed draw
    // below sees big-write steady state
    val ploughT = standardDraw()
    fullWriteMb = fullWriteMbMeasured
    putByteRatios() // refine full_write_mb-derived ratios with the real footprint
    ratios("pct5_write_reduction_x") = fullWriteMb / math.max(incrWriteMb, 0.001)
    flush("plough")

    // compaction amortization (M2's cost story at 100 TB): K delta commits,
    // then ONE compact folds them into a fresh base — the amortized
    // per-commit share of the rewrite must sit well under a per-sync full
    // reload, or the append-only claim is an accounting trick. K matches
    // the production compactEvery default (LakeApplier). Note compact
    // intrinsically costs MORE than one full write (replay shuffles
    // base+commits before rewriting) — that's exactly why it's amortized.
    //
    // Runs HERE — right after the plough draw, BEFORE the pooled rewrite
    // draws — and UNCONDITIONALLY (VERDICT r6 #2: the old post-pool budget
    // guard starved this phase twice under the box's write throttle,
    // silently dropping the compact_amortized ratios from the artifact;
    // budget pressure now degrades the DRAW COUNT below, never this phase).
    // Bonus: the plough just put the writeback governor in big-write steady
    // state, so the compact timing samples the same regime as the pool.
    // Since r8 the phase measures BOTH compaction regimes:
    //  (a) PARTIAL — key-LOCAL drift (the 5% restricted to the newest
    //      replicate band: the monotone-RecId production shape) over the
    //      range-CLUSTERED base. LakeTable.compact folds the commits into
    //      only the touched files and carries the rest by manifest
    //      reference (mode asserted), so the rewrite is O(touched band),
    //      not O(table). This is the production default path under the
    //      clustered-layout policy → it owns the headline
    //      compact_amortized_vs_full(_bytes) ratios.
    //  (b) FULL fallback — the SAME drift volume scattered across the whole
    //      key space (RecId%20 hits every file): every base file
    //      intersects, compaction honestly degrades to the r7 full rewrite.
    //      Disclosed as compact_scattered_vs_full(_bytes) and as the
    //      scn_compact_4commits timing (name kept comparable with r7).
    val compactK = 4
    def lakeTarget(fixture: String, path: String): Unit = {
      rmRecF(new java.io.File(path))
      linkDir(fixture, s"$path/base-0")
      graft.sync.LakeFs.writeUtf8(s"$path/_current", "base-0\t0\t0")
    }
    val tCompactPartial = {
      val t = s"$tmp/tgt_compact_loc"
      lakeTarget(s"$cache/perf_clustered", t)
      // the newest replicate band's share of the canonical 5% drift; at
      // copies=1 (scale-up evidence runs) there is no replicate band, so
      // the hot slice is the top ~1/9 of the key RANGE — the same
      // fraction-of-keyspace locality shape the 9-copy default measures
      val hotLo =
        if (copies > 1) (copies - 1).toLong * 1000000000000000L
        else mark - mark / 9
      val hot = srcT.filter(col("RecId") >= hotLo)
      val csLoc = Apply.updateOnlyChangeSet(hot, mark)
      (1 to compactK).foreach(_ => LakeTable.appendCommit(csLoc, t))
      osSync()
      val beforeMb = dirMbRec(t)
      var res: LakeTable.CompactResult = null
      val tP = timeWithCpu { res = LakeTable.compact(spark, t); osSync() }
      resultsCpu(s"scn_compact_partial_${compactK}commits") = lastDrawCpuS
      resultsCpuUser(s"scn_compact_partial_${compactK}commits") = lastDrawUserS
      gate(s"scn_compact_partial_${compactK}commits", lastDrawUserS)
      // mechanism decomposition (VERDICT r13 #2, the full-reload treatment
      // for compaction): user/sys/task/gc/spill per draw, so a CPU scaling
      // exponent on this draw self-attributes (kernel writeback sys-time vs
      // real per-row compute vs GC pressure) instead of needing a rerun
      ratios("compact_partial_user_cpu_s") = lastDrawUserS
      ratios("compact_partial_sys_cpu_s") = lastDrawSysS
      ratios("compact_partial_task_cpu_s") = lastDrawTaskCpuS
      ratios("compact_partial_gc_cpu_s") = lastDrawGcS
      ratios("compact_partial_spill_mb") = lastDrawSpillMb
      System.err.println(f"[bench] partial-compact mechanism: proc-cpu " +
        f"$lastDrawCpuS%.1f s (user $lastDrawUserS%.1f + sys $lastDrawSysS%.1f) " +
        f"= task-cpu $lastDrawTaskCpuS%.1f s + gc $lastDrawGcS%.1f s + rest; " +
        f"spill $lastDrawSpillMb%.0f MB")
      require(res.mode == "partial" && res.carriedFiles > 0,
        s"key-local drift over the clustered base must compact partially: $res")
      require(LakeTable.pendingCommits(t) == 0,
        "compact must fold every pending commit")
      // bytes: the rewrite wrote only the new files (dir growth — carried
      // files are REFERENCES, the old generation stays for one overwrite);
      // it read the touched files + the commit log = everything except the
      // carried bytes
      val writeMb = math.max(dirMbRec(t) - beforeMb, 0.0)
      val newBase = LakeTable.resolve(t).get._1
      val carriedMb = LakeTable.baseDataFiles(newBase)
        .filter(_.contains("base-0"))
        .map(p => graft.sync.LakeFs.sizeBytes(p)).sum / 1e6
      val readMb = math.max(beforeMb - carriedMb, 0.0)
      System.err.println(f"[bench] partial compact of $compactK%d key-local " +
        f"commits: $tP%.1f s (read $readMb%.0f MB, wrote $writeMb%.0f MB, " +
        f"carried ${res.carriedFiles}%d files / $carriedMb%.0f MB untouched)")
      // FILE-level base pruning over the manifested result (byte-
      // deterministic, like lakeskip): a cold-band point lookup plans only
      // the covering base file(s), not the whole manifest — total base
      // bytes over planned base bytes is the ratio a 100 TB point lookup
      // actually feels
      locally {
        val allFiles = LakeTable.baseDataFiles(newBase)
        val totalMb = allFiles.map(p => graft.sync.LakeFs.sizeBytes(p)).sum / 1e6
        // the probe key is a CARRIED file's own footer minimum — a key that
        // provably exists in a cold band (an out-of-domain constant would
        // match nothing and exercise only the take-1 schema fallback, r8
        // review finding), so the lookup must both prune AND return the row
        val coldKey = allFiles.filter(_.contains("base-0")).iterator
          .flatMap(p => graft.sync.ParquetStats.fileKeyRange(p, "RecId"))
          .next()._1
        val lookup = LakeTable.readKeyRange(spark, t, coldKey, coldKey)
        val planned = lookup.inputFiles.toSeq.filterNot(_.contains("/_log/"))
        val plannedMb = planned.map(u =>
          new java.io.File(new java.net.URI(u).getPath).length).sum / 1e6
        require(planned.nonEmpty && planned.size < allFiles.size,
          s"manifest file pruning regressed: ${planned.size}/${allFiles.size}")
        require(lookup.count() >= 1, "cold-band probe key must resolve its row")
        ratios("manifest_base_file_prune_x") = totalMb / math.max(plannedMb, 0.001)
        System.err.println(f"[bench] manifested point lookup plans " +
          f"${planned.size}%d/${allFiles.size}%d base files " +
          f"($plannedMb%.0f of $totalMb%.0f MB)")
      }
      rmRecF(new java.io.File(t))
      results(s"scn_compact_partial_${compactK}commits") = tP
      ratios("compact_partial_carried_files") = res.carriedFiles.toDouble
      ratios("compact_partial_rewritten_files") = res.rewrittenFiles.toDouble
      ratios("compact_amortized_vs_full_bytes") =
        ((readMb + writeMb) / compactK) /
          math.max(fullReadMb + fullWriteMb, 1e-9)
      tP
    }
    // the paired denominator is drawn IMMEDIATELY after the partial compact
    // and immediately before the scattered one — adjacent to BOTH numerators
    // (r8 review: a pair taken after the ~200 s scattered phase still let
    // regime drift land on the partial ratio)
    val tFullPair = standardDraw()
    System.err.println(f"[bench] paired full-apply draw for the compact " +
      f"ratios: $tFullPair%.1f s")
    val tCompact = {
      val t = s"$tmp/tgt_compact"
      lakeTarget(s"$cache/perf", t)
      val csCompact = Apply.updateOnlyChangeSet(srcT, mark)
      (1 to compactK).foreach(_ => LakeTable.appendCommit(csCompact, t))
      osSync()
      val compactReadMb = dirMbRec(t)
      var res: LakeTable.CompactResult = null
      val tF = timeWithCpu { res = LakeTable.compact(spark, t); osSync() }
      resultsCpu(s"scn_compact_${compactK}commits") = lastDrawCpuS
      resultsCpuUser(s"scn_compact_${compactK}commits") = lastDrawUserS
      gate(s"scn_compact_${compactK}commits", lastDrawUserS)
      // same decomposition as the partial draw (VERDICT r13 #2: r13's
      // scattered-compact user exponent 1.152 had ONE sys-contaminated
      // big draw and no per-draw split to attribute it with)
      ratios("compact_scattered_user_cpu_s") = lastDrawUserS
      ratios("compact_scattered_sys_cpu_s") = lastDrawSysS
      ratios("compact_scattered_task_cpu_s") = lastDrawTaskCpuS
      ratios("compact_scattered_gc_cpu_s") = lastDrawGcS
      ratios("compact_scattered_spill_mb") = lastDrawSpillMb
      System.err.println(f"[bench] scattered-compact mechanism: proc-cpu " +
        f"$lastDrawCpuS%.1f s (user $lastDrawUserS%.1f + sys $lastDrawSysS%.1f) " +
        f"= task-cpu $lastDrawTaskCpuS%.1f s + gc $lastDrawGcS%.1f s + rest; " +
        f"spill $lastDrawSpillMb%.0f MB")
      require(res.mode == "full",
        s"scattered drift must fall back to the full rewrite: $res")
      // new-base bytes ≈ dir growth (GC retains the previous generation for
      // one overwrite, so the old base is still on disk)
      val compactWriteMb = math.max(dirMbRec(t) - compactReadMb, 0.0)
      require(LakeTable.pendingCommits(t) == 0,
        "compact must fold every pending commit")
      System.err.println(f"[bench] full-fallback compact of $compactK%d " +
        f"scattered commits: $tF%.1f s " +
        f"(read $compactReadMb%.0f MB, wrote $compactWriteMb%.0f MB)")
      rmRecF(new java.io.File(t))
      results(s"scn_compact_${compactK}commits") = tF
      ratios("compact_scattered_vs_full_bytes") =
        ((compactReadMb + compactWriteMb) / compactK) /
          math.max(fullReadMb + fullWriteMb, 1e-9)
      tF
    }
    // The compact TIME ratios use the PAIRED full-apply draw sandwiched
    // between the two numerators — the pct5 per-pair cure: with the pool
    // median (minutes later) as denominator, identical code drew 0.088 and
    // 0.545 on consecutive runs purely from write-regime drift, while the
    // byte forms sat at 0.036 both times. The plough draw is NOT a valid
    // pair (it absorbs the post-quiet writeback ramp by design — an
    // inflated denominator would flatter the ratio).
    ratios("compact_amortized_vs_full") =
      (tCompactPartial / compactK) / math.max(tFullPair, 1e-9)
    ratios("compact_scattered_vs_full") =
      (tCompact / compactK) / math.max(tFullPair, 1e-9)
    flush("compact")

    // Lake-to-lake replica chain (r11 verdict #6): an upstream lake table
    // holds the CURRENT source state on the version-clustered layout (the
    // S8 base-layout discipline) plus two below-mark heartbeat commits
    // (value-identical re-upserts — the shape idle upstream syncs leave);
    // a downstream replica primed at the pre-drift mark then syncs FROM it.
    // The wide fetch routes through readVersionFrom, so it plans only the
    // above-mark version band of the base plus above-mark commits' inserts
    // — the replica chain re-reads O(changed data), never the table. The
    // ratio is FILE-level planned bytes (deterministic, like lakeskip);
    // the timed run is the full incremental lifecycle through write+sync.
    locally {
      val up = s"$tmp/l2l_up"
      lakeTarget(s"$cache/src", up)
      val noise = srcT.filter(col("RecId") % 23 === 7 &&
        col("RecId") % 20 =!= 3) // unmodified band: versions all ≤ mark
      (1 to 2).foreach { _ =>
        LakeTable.appendCommit(graft.sync.Apply.ChangeSet(
          noise.select("RecId"), noise, noise.select("RecId")), up)
      }
      def fileMb(uris: Seq[String]): Double = uris.map { u =>
        new java.io.File(new java.net.URI(u).getPath).length
      }.sum / 1e6
      val lakeSrc = graft.run.LakeSource(up)
      val fullMb = fileMb(LakeTable.read(spark, up).inputFiles.toSeq)
      val prunedMb = fileMb(
        lakeSrc.loadFromVersion(spark, mark + 1).inputFiles.toSeq)
      require(prunedMb > 0 && prunedMb < fullMb / 2,
        f"replica wide fetch must plan a fraction of the upstream: " +
          f"$prunedMb%.1f of $fullMb%.1f MB")
      ratios("l2l_wide_read_reduction_x") = fullMb / math.max(prunedMb, 0.001)
      System.err.println(f"[bench] lake-to-lake wide fetch plans " +
        f"$prunedMb%.0f of $fullMb%.0f MB upstream " +
        f"(${ratios("l2l_wide_read_reduction_x")}%.1f x)")
      linkDir(s"$cache/perf", s"$tmp/tgt_scn_l2l")
      store.putVersions("scn_l2l", mark, mark, Some(maxId))
      val l2lPlan = runner.TablePlan("scn_l2l", up, s"$tmp/tgt_scn_l2l",
        sourceOverride = Some(lakeSrc))
      osSync()
      val tL2l = timeWithCpu {
        runAsserting(l2lPlan, graft.model.SyncMode.Incremental); osSync()
      }
      results("scn_lake_to_lake_5pct") = tL2l
      resultsCpu("scn_lake_to_lake_5pct") = lastDrawCpuS
      resultsCpuUser("scn_lake_to_lake_5pct") = lastDrawUserS
      gate("scn_lake_to_lake_5pct", lastDrawUserS)
      System.err.println(f"[bench] lake-to-lake 5pct incremental: $tL2l%.1f s")
      rmRecF(new java.io.File(s"$tmp/tgt_scn_l2l"))
      rmRecF(new java.io.File(up))
    }
    flush("lake_to_lake")
    // Timing is decomposed BY PHASE, because the two scenarios share their
    // dominant phase: a full apply of the same bytes to the same path.
    // Labeling half the draws "full" and half "truncate" and ratioing
    // per-label medians measures this box's write lottery, not the plan:
    // identical ploughed 7.5 GB write+sync draws scatter ~3x (38-110 s
    // measured; the r3 driver run drew 3.89 for a ratio whose byte form is
    // 1.0076). So ALL end-to-end draws go into ONE pool (alternating
    // Standard/Truncate, each mode-asserted and fully executed);
    // scn_full_reload = median(pool), scn_40pct_truncate = median(pool) +
    // median(probe) — the same decomposition the byte-form invariant uses.
    // Conservative for truncate: its pooled draws already contain their
    // probes, so the decision pass is counted on top a second time.
    //
    // Pool size adapts to the remaining wall-clock budget (r4 postmortem:
    // a fixed 6-draw pool + compaction overran the driver and lost the
    // round). DEADLINE-DRIVEN since r9: the old up-front fit divided the
    // budget by ploughT — but the plough absorbs the ~4x writeback ramp BY
    // DESIGN, so one ramp-inflated plough (124 s vs 31-55 s real draws,
    // r9 log) halved the pool to 3 slots exactly when more evidence was
    // wanted. Now the per-slot cost is MEASURED as slots land (seeded by
    // the plough, corrected after slot 1) and the loop keeps drawing while
    // the budget demonstrably fits another slot, cap 8. ODD pool sizes
    // are allowed (r7: the even-rounding starved the pool to 0 twice when
    // exactly one draw fit) — both modes share the pooled full-apply
    // phase, so a 1-draw pool is a degraded-but-honest median, strictly
    // better evidence than falling back to the plough alone. At 0 the
    // plough draw's time stands in.
    //
    // pct5_speedup's numerator (pooled full draws) and denominator (5pct
    // draws) must sample the SAME minutes: the early scn_incr phase runs
    // long before the rewrite pool, and this box's writeback regime drifts
    // enough in between to swing the cross-phase ratio 3-6x (a driver run
    // drew 3.3 for an invariant whose byte form is ~20x). So each pooled
    // rewrite draw is chased by 5pct draws and the ratio uses the
    // interleaved medians — same cure as the F,T,F,T alternation. THREE
    // 5pct draws per slot (r9): the 5pct side owns most of the pair
    // variance — identical 5pct work drew 12.9/3.4/26.8 s inside one r9
    // pool (the throttle stalls a clean ~3 s draw to ~27 s several times
    // an hour) and a stalled denominator alone dragged a pair ratio to
    // 1.2 where the byte form is 12.5x. A per-slot median of 3 cheap
    // draws lets one stall poison neither the pair ratio nor the pool,
    // for ~10 s of slot cost.
    val drawTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val incrDraws = scala.collection.mutable.ArrayBuffer.empty[Double]
    // CPU twins of the pooled draws, for the resultsCpu columns (regime
    // self-adjudication + CPU-domain scaling exponents in BENCH_SF1)
    val drawCpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val incrCpus = scala.collection.mutable.ArrayBuffer.empty[Double]
    val drawUsers = scala.collection.mutable.ArrayBuffer.empty[Double]
    val incrUsers = scala.collection.mutable.ArrayBuffer.empty[Double]
    val pairRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val poolReserve = 60.0 // probe medians + lakeskip tail
    var slotCost = math.max(ploughT, 10.0) + 3 * tIncr // seed estimate
    // CPU-time twin of every pooled draw: process CPU time excludes
    // IO-wait, so the writeback-throttle regime the WALL ratios suffer
    // from cancels out of it — in particular the SYSTEMATIC asymmetry
    // where a full draw's multi-GB flush leaves the box throttled for
    // exactly its own chased 5pct draws (r9 log: full drew 31.9 s fast
    // while all three chased draws drew 15-22 s slow — the regime flipped
    // MID-SLOT, which no pairing can cure). pct5_speedup_cpu is the
    // work-ratio corroboration in the time domain, the same story the
    // byte gate tells deterministically. Both sides sample EXACTLY the
    // block their wall `time` wraps (timeWithCpu above).
    val pairRatiosCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    // MINIMUM POOL GUARANTEE (VERDICT r10 #1): the deadline arithmetic
    // alone starved the pool to 0 slots in the driver's throttled-regime
    // run (scn_full_reload drew 145.7 s vs ~30-40 s fast-regime, so the
    // very first `remaining > 1.15*slotCost` check failed under the
    // default budget) — and with 0 pairs the throttle-immune
    // pct5_speedup_cpu was never emitted, exactly the regime it exists
    // for. FOUR unconditional slots since r15 (VERDICT r14 #1: the r14
    // driver artifact stood on 2 pairs with pair_min 1.85 after the
    // in-run fixture rebuild throttled the regime — the wall-evidence
    // pool must carry ≥4 same-minutes pairs before the deadline rules;
    // the workdir fixture cache above removes the rebuild that caused
    // it, so the guarantee should rarely bind). Hard stop at 1.5x the
    // budget: a pathological throttle degrades the pool honestly
    // (pct5_pairs discloses it; pct5_speedup_cpu is the formal secondary
    // time gate per BASELINE.md) rather than running unboundedly. From
    // slot 5 on the deadline rules as before.
    val minPoolSlots = 4
    // deadline slack (VERDICT r13 #4: the driver run hit 1212 s against the
    // 1200 s budget — the last fitting slot plus the post-pool tail left no
    // margin): slots beyond the 2-slot minimum must fit INSIDE budget minus
    // 8%, so a worst-case final slot lands with headroom instead of luck
    val deadlineSlack = 0.08 * budgetSec
    var slotI = 0
    while (slotI < 8 &&
        ((slotI < minPoolSlots &&
            elapsed < 1.5 * budgetSec + budgetCreditSec) ||
          remaining - poolReserve - deadlineSlack > 1.15 * slotCost)) {
      if (slotI < minPoolSlots && remaining - poolReserve <= 1.15 * slotCost)
        System.err.println(f"[bench] minimum-pool guarantee: drawing slot " +
          f"${slotI + 1} past the deadline (remaining $remaining%.0f s, " +
          f"slot cost ~$slotCost%.0f s)")
      slotI += 1
      val slot0 = elapsed
      val standard = (slotI % 2 == 1)
      val d = if (standard) standardDraw() else truncateDraw()
      val dCpu = lastDrawCpuS
      drawUsers += lastDrawUserS
      System.err.println(f"[bench] ${if (standard) "standard" else "truncate"} draw $slotI: $d%.1f s ($dCpu%.1f cpu-s)")
      drawTimes += d
      drawCpus += dCpu
      val slotIncrCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
      val slotIncr = (1 to 3).map { _ =>
        incrPrep(); osSync()
        val di = timeWithCpu(incrRun())
        slotIncrCpu += lastDrawCpuS
        incrCpus += lastDrawCpuS
        incrUsers += lastDrawUserS
        gate("scn_5pct_incremental", lastDrawUserS)
        incrDraws += di
        di
      }
      rmRecF(new java.io.File(s"$tmp/tgt_scn_incr"))
      pairRatios += d / math.max(median(slotIncr), 1e-9)
      pairRatiosCpu += dCpu / math.max(median(slotIncrCpu.toSeq), 1e-9)
      System.err.println(f"[bench] chased 5pct draws $slotI: " +
        slotIncr.map(x => f"$x%.1f").mkString("[", ", ", "]") +
        f" s, pair ratio ${pairRatios.last}%.1f (cpu ${pairRatiosCpu.last}%.1f)")
      // provisional medians-so-far: a kill mid-pool keeps the finished
      // draws' evidence (the post-loop block overwrites with final values)
      results("scn_full_reload") = median(drawTimes.toSeq)
      results("scn_5pct_incremental") = median(incrDraws.toSeq)
      slotCost = elapsed - slot0
      flush(s"draw_$slotI")
    }
    if (slotI < 8)
      System.err.println(f"[bench] budget pressure: $slotI%d pooled slots " +
        f"(last slot $slotCost%.0f s, remaining $remaining%.0f s)")
    val tProbe = median((1 to 3).map(_ => probeDraw()))
    val tFull = if (drawTimes.nonEmpty) median(drawTimes.toSeq) else ploughT
    val tIncrAligned = if (incrDraws.nonEmpty) median(incrDraws.toSeq) else tIncr
    val tTrunc = tFull + tProbe
    // pct5_speedup = median of PER-PAIR ratios (full draw i ÷ the 5pct draw
    // run immediately after it): a ratio of pool medians still lets the
    // write-throttle regime drift BETWEEN the minutes the two pools sample
    // (r5 recorded 5.41 where an identical run 70 min earlier drew 6.43 —
    // the deterministic byte form was 12.5×/19.9×); within a pair both
    // draws share the regime, so monotone drift cancels multiplicatively.
    // Since r9 each pair's denominator is itself a median of the slot's 3
    // chased draws (computed in-loop above).
    System.err.println(f"[bench] full-apply median $tFull%.1f s, probe median $tProbe%.2f s, " +
      f"aligned 5pct median $tIncrAligned%.1f s, pair ratios " +
      pairRatios.map(r => f"$r%.1f").mkString("[", ", ", "]"))
    rmRecF(new java.io.File(rewriteOut))
    results("scn_full_reload") = tFull
    results("scn_40pct_truncate") = tTrunc
    results("scn_5pct_incremental") = tIncrAligned
    if (drawCpus.nonEmpty) resultsCpu("scn_full_reload") = median(drawCpus.toSeq)
    if (drawUsers.nonEmpty)
      resultsCpuUser("scn_full_reload") = median(drawUsers.toSeq)
    if (incrCpus.nonEmpty)
      resultsCpu("scn_5pct_incremental") = median(incrCpus.toSeq)
    if (incrUsers.nonEmpty)
      resultsCpuUser("scn_5pct_incremental") = median(incrUsers.toSeq)
    // mechanism medians over every full-reload draw this run (plough +
    // paired + pooled standard draws) — the decomposition that names the
    // CPU exponent's source when read against scn_full_reload's cpu twin
    if (stdGcS.nonEmpty) {
      ratios("full_reload_gc_cpu_s") = median(stdGcS.toSeq)
      ratios("full_reload_task_cpu_s") = median(stdTaskCpuS.toSeq)
      ratios("full_reload_spill_mb") = median(stdSpillMb.toSeq)
      ratios("full_reload_user_cpu_s") = median(stdUserS.toSeq)
      ratios("full_reload_sys_cpu_s") = median(stdSysS.toSeq)
    }
    ratios("nochange_speedup") = tFull / tNoChange
    ratios("pct5_speedup") =
      if (pairRatios.nonEmpty) median(pairRatios.toSeq) else tFull / tIncrAligned
    ratios("pct5_speedup_pool_medians") = tFull / tIncrAligned // advisory
    // the throttle-immune time-domain corroboration (see cpuSec above):
    // CPU seconds per draw, same per-slot pairing — wall ratios carry the
    // box's write-regime lottery, CPU ratios don't
    if (pairRatiosCpu.nonEmpty)
      ratios("pct5_speedup_cpu") = median(pairRatiosCpu.toSeq)
    // evidence-weight disclosure (VERDICT r8 #3): how many same-minutes
    // pairs the medians stand on, and the pair-ratio spread — a 1-pair
    // artifact is a degraded draw, visibly so, not a silent median
    ratios("pct5_pairs") = pairRatios.size.toDouble
    ratios("pct5_incr_draws") = incrDraws.size.toDouble
    if (pairRatios.nonEmpty) {
      ratios("pct5_pair_min") = pairRatios.min
      ratios("pct5_pair_max") = pairRatios.max
      ratios("full_draw_min_s") = drawTimes.min
      ratios("full_draw_max_s") = drawTimes.max
    }
    ratios("truncate_vs_full") = tTrunc / tFull
    // advisory cross-phase variants of the compact ratios (the per-pair
    // headline forms are set in the compact phase above; these document how
    // far the pool-median denominator drifts from the paired one)
    ratios("compact_amortized_vs_full_poolmedian") =
      (tCompactPartial / compactK) / math.max(tFull, 1e-9)
    ratios("compact_scattered_vs_full_poolmedian") =
      (tCompact / compactK) / math.max(tFull, 1e-9)
    flush("draws")

    // --- commit-level data skipping (structural, byte-deterministic) ---
    // 8 commits in DISJOINT key bands; a one-band range read must plan only
    // that band's commit. The ratio is all-commit bytes over planned-commit
    // bytes (~8 when skipping works, 1 when it regresses) — measured from
    // the plan's actual inputFiles, so a broken _stats path fails loudly
    // here. This is the log-table point-lookup story at 100 TB: O(touched
    // commits), not O(history).
    val skipT = s"$tmp/tgt_skip"
    val slimCols = Seq("RecId", "SysRowVersion", "RECVERSION",
      "l_quantity", "l_extendedprice", "l_returnflag")
    val perfSlim = SyncFixtures.perfect(spark, sfDir).select(slimCols.map(col): _*)
    LakeTable.overwrite(perfSlim.repartition(nPart), skipT)
    val keyBounds = perfSlim.agg(min(col("RecId")), max(col("RecId"))).head()
    val (kMin, kMax) = (keyBounds.getLong(0), keyBounds.getLong(1))
    val bandW = (kMax - kMin) / 8 + 1
    val bands = (0 until 8).map { i =>
      val lo = kMin + i * bandW
      (lo, math.min(lo + bandW - 1, kMax))
    }
    bands.foreach { case (lo, hi) =>
      val band = perfSlim.filter(col("RecId").between(lo, hi))
        .withColumn("SysRowVersion", col("SysRowVersion") + lit(1L))
      LakeTable.appendCommit(
        Apply.ChangeSet(band.select("RecId"), band, band.select("RecId")), skipT)
    }
    def fileMb(uris: Seq[String]): Double = uris.map { u =>
      new java.io.File(new java.net.URI(u).getPath).length
    }.sum / 1e6
    val (skipLo, skipHi) = bands(3)
    val prunedRead = LakeTable.readKeyRange(spark, skipT, skipLo, skipHi)
    val plannedLogMb = fileMb(prunedRead.inputFiles.toSeq.filter(_.contains("/_log/")))
    val allLogMb = fileMb(
      LakeTable.read(spark, skipT).inputFiles.toSeq.filter(_.contains("/_log/")))
    require(plannedLogMb > 0 && plannedLogMb < allLogMb / 4,
      f"commit skipping regressed: planned $plannedLogMb%.1f MB of $allLogMb%.1f MB")
    // commit-level data skipping: all-commit bytes over the bytes a
    // one-band range read actually plans (≈8 = the band count when the
    // _stats skip works; 1 = regression)
    ratios("lakeskip_commit_skip_x") = allLogMb / math.max(plannedLogMb, 0.001)

    // version-band twin (r11): this fixture's versions track keys (+1), so
    // the 8 key-banded commits are version-banded too — a version-threshold
    // read (the S8 delta-fetch shape on a lake table) must plan only the
    // above-threshold commits' INSERT scans; tombstones are key-only and
    // always planned, so the ratio is measured on insert bytes
    // (≈8 when the v3 _stats line works, 1 = regression). Byte-
    // deterministic like its key-range sibling.
    def insertMb(uris: Seq[String]): Double =
      fileMb(uris.filter(u => u.contains("/_log/") && u.contains("/inserts/")))
    val vThr = bands(7)._1 + 1L // band 7's min version; bands 0-6 top out below
    val vRead = LakeTable.readVersionFrom(spark, skipT, vThr)
    val plannedInsMb = insertMb(vRead.inputFiles.toSeq)
    val allInsMb = insertMb(LakeTable.read(spark, skipT).inputFiles.toSeq)
    require(plannedInsMb > 0 && plannedInsMb < allInsMb / 4,
      f"version skipping regressed: planned $plannedInsMb%.1f MB of $allInsMb%.1f MB")
    ratios("lakeskip_version_skip_x") = allInsMb / math.max(plannedInsMb, 0.001)
    rmRecF(new java.io.File(skipT))

    // scenario outputs are reclaimed (the fixture CACHE is kept for the
    // next round; the recipe key invalidates it when fixtures change)
    rmRecF(new java.io.File(tmp))
    flush("done")
    spark.stop()
  }
}

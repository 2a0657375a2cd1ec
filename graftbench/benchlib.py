"""Pure logic of the graft benchmark: seeded plans, the percentile rule and
the turning of a benchmark process's raw measurements into metrics.

Nothing here touches the filesystem or starts a process, so all of it is
covered by ``test_benchlib.py``.
"""
import math
import random
import statistics

WORKLOADS = ("sync_steady", "corpus_pipeline")

# The LLM-pipeline entries of SparkEntry.queries one corpus pass runs: one
# or more per operator family (near-dup detection, text analysis, the
# curation pipeline, similarity search, multimodal decode).
CORPUS_OPS = (
    "q_dedup_minhash", "q_dedup_components",
    "q_text_boilerplate", "q_text_bm25", "q_corpus_shards",
    "q_ann_recall", "q_mm_features",
)

# Input sizes. Sync tables are generated lineitem orders (~4 lines each)
# carrying the ~2.1 KB wide payload of SyncFixtures.
SIZES = {
    "sync_steady": {"orders": 1500, "tables": 8},
    "corpus_pipeline": {"docs": 250, "embs": 250},
}

# Drift shapes: fractions of the present rows updated (pu) and deleted
# (pd), and of the absent pool rows inserted (pi).
UPDATE = (0.03, 0.0, 0.0)
MIXED = (0.02, 0.01, 0.10)
TRUNCATE = (0.45, 0.0, 0.0)
TRUNCATE_AT = 0.40  # Planner.DefaultTruncateThresholdPct, as a fraction

MAX_CYCLES = 100


def expected_mode(drift):
    """The sync tier a drift implies: none → Noop, an update share at or
    over the truncate threshold → Truncate, anything else → Incremental."""
    if drift is None:
        return "Noop"
    pu, pd, pi = drift
    if pu >= TRUNCATE_AT and pd == 0 and pi == 0:
        return "Truncate"
    return "Incremental"


def sync_plan(seed, cores):
    """Parameters and per-cycle drifts of ``sync_steady``.

    Returns (params, drifts) where drifts maps cycle -> {table: shape}.
    The seed picks the tables (and, in the benchmark process, the rows);
    every cycle has the same shape, so a run measures whole cycles:
    - two hot tables drift every cycle. Their sources are upstream lake
      tables that keep themselves compacted. The first gets update-only
      drift and its target compacts on every sync (``compact_every_fast``
      = 1); the second gets mixed insert/delete/update drift and keeps the
      engine's default ``compact_every`` = 8, so its commits pile up;
    - two cold tables drift, taken in rotation: one mixed, one 45% update
      (the Truncate tier). Each cold table alternates between the two, so
      its pending commits never reach compaction;
    - the other four tables are unchanged (Noop).
    Cycle 1 is the set-up's warm-up cycle; measured cycles start at 2.
    """
    rng = random.Random(f"sync_steady:{seed}")
    tables = SIZES["sync_steady"]["tables"]
    order = list(range(tables))
    rng.shuffle(order)
    hot, cold = order[:2], order[2:]
    params = {"tables": tables, "workers": min(4, cores), "compact_every": 8,
              "compact_every_fast": hot[0], "setup_reps": 3,
              "lake_sources": ",".join(str(t) for t in sorted(hot)), "cores": cores}
    drifts = {}
    for c in range(1, MAX_CYCLES + 1):
        picks = {hot[0]: UPDATE, hot[1]: MIXED}
        visit = (c - 1) * 2 // len(cold)
        for slot in (0, 1):
            t = cold[((c - 1) * 2 + slot) % len(cold)]
            picks[t] = MIXED if (visit + slot) % 2 == 0 else TRUNCATE
        drifts[c] = picks
    return params, drifts


def queue(params, drifts, cycle):
    """The order the runner's queue gets the tables in one cycle: the
    drifting ones by role (compacting hot, piling-up hot, truncated,
    appended), then the unchanged ones. A fixed role order gives every seed
    the same schedule; with tables queued by name, where the seed put the
    heavy tables moved the cycle wall by about a fifth."""
    picks = drifts.get(cycle, {})
    hot = [int(t) for t in params["lake_sources"].split(",")]

    def role(t):
        if t == params["compact_every_fast"]:
            return 0
        return 1 if t in hot else 2 if picks[t] == TRUNCATE else 3
    moving = sorted(picks, key=role)
    return moving + [t for t in range(params["tables"]) if t not in picks]


def expected_modes(params, drifts, cycle):
    """Table name -> expected mode for one cycle."""
    return {f"T{t}": expected_mode(drifts.get(cycle, {}).get(t))
            for t in range(params["tables"])}


def plan_lines(workload, seed, cores):
    """The plan file the benchmark process reads."""
    if workload == "corpus_pipeline":
        return [f"param cores {cores}"] + [f"op {op}" for op in CORPUS_OPS]
    params, drifts = sync_plan(seed, cores)
    lines = [f"param {k} {v}" for k, v in sorted(params.items())]
    for c in sorted(drifts):
        for t, (pu, pd, pi) in sorted(drifts[c].items()):
            lines.append(f"drift {c} {t} {pu} {pd} {pi}")
        lines.append(f"queue {c} " + " ".join(map(str, queue(params, drifts, c))))
    return lines


# ---------------------------------------------------------------- statistics

PERCENTILE_LADDER = (0.99, 0.95, 0.90, 0.75, 0.50)


def tail_percentile(n):
    """The highest percentile of the ladder with at least ten samples
    beyond it (n * (1 - p) >= 10); the median when n < 20."""
    for p in PERCENTILE_LADDER:
        if n * (1 - p) >= 10 - 1e-9:
            return p
    return 0.50


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = p * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """(percentile used, value, samples beyond it) under the tail rule."""
    p = tail_percentile(len(values))
    return p, percentile(values, p), int(len(values) * (1 - p))


MB = 1024.0 * 1024.0


# ------------------------------------------------------------------ metrics

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("pass_p50_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("read_mb_per_pass", "MB", "lower"),
    ("user_cpu_s_per_pass", "s", "lower"),
    ("write_amp", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
)

_SYNC_LAYERS = (
    ("run.pool_idle_frac", "frac"), ("run.jobs_per_table_sync", "count"),
    ("run.table_syncs", "count"),
    ("source.load_s", "s"), ("source.load_jobs", "count"), ("source.read_mb", "MB"),
    ("lake.read_s", "s"), ("lake.read_jobs", "count"), ("lake.read_calls", "count"),
    ("lake.read_pending_commits", "commits"), ("lake.read_mb", "MB"),
    ("compare.s", "s"), ("compare.jobs", "count"), ("compare.task_cpu_s", "s"),
    ("compare.shuffle_mb", "MB"),
    ("lake.append_s", "s"), ("lake.append_jobs", "count"), ("lake.append_count", "count"),
    ("lake.append_mb_written", "MB"), ("lake.append_read_mb", "MB"),
    ("lake.compact_s", "s"), ("lake.compact_jobs", "count"),
    ("lake.compact_count", "count"), ("lake.compact_mb_written", "MB"),
    ("lake.compact_stall_s", "s"), ("lake.compact_read_mb", "MB"),
    ("lake.overwrite_s", "s"), ("lake.overwrite_mb_per_s", "MB/s"),
    ("lake.overwrite_count", "count"),
    ("lake.space_amp", "ratio"),
)
_QUERY_LAYERS = (
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.construct_read_mb", "MB"),
    ("queries.plan_s", "s"), ("queries.plan_jobs", "count"),
    ("queries.exec_s", "s"), ("queries.exec_jobs", "count"), ("queries.exec_read_mb", "MB"),
    ("queries.release_s", "s"),
)
_OP_METRICS = (("s", "s"), ("task_cpu_s", "s"), ("shuffle_mb", "MB"),
               ("spill_mb", "MB"), ("rows_out", "rows"))
_COMMON_LAYERS = (
    ("items.p50_s", "s"), ("items.tail_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_cpu_s", "s"),
    ("spark.spill_mb", "MB"), ("jvm.gc_s", "s"),
    ("trace.unattributed_s", "s"), ("trace.unattributed_frac", "frac"),
    ("trace.overhead_frac", "frac"), ("io.read_mb_unattributed", "MB"),
)

PER_LAYER = (_SYNC_LAYERS + _QUERY_LAYERS
             + tuple((f"ext.{op}.{m}", u) for op in CORPUS_OPS for m, u in _OP_METRICS)
             + _COMMON_LAYERS)

# Per-unit sums the overwrite rates are formed from, across set-up and units.
_OVERWRITE_SUMS = ("lake.overwrite_s", "lake.overwrite_count", "lake.overwrite_mb_written")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _passes(raw, workload):
    """Timed passes with their wall, counters and ``items`` (table-sync or
    operator latencies): a cycle of sync_steady, an operator pass of
    corpus_pipeline."""
    out = []
    for unit in raw["units"]:
        if workload == "corpus_pipeline":
            ops = unit["ops"]
            out.append({"wall_s": sum(o["s"] for o in ops),
                        "user_cpu_s": sum(o["user_cpu_s"] for o in ops),
                        "read_bytes": sum(o["read_bytes"] for o in ops),
                        "write_bytes": sum(o["write_bytes"] for o in ops),
                        "items": [o["s"] for o in ops]})
            continue
        for c in unit["cycles"]:
            out.append(dict(c, items=[r["s"] for r in c["reports"]]))
    return out


def end_to_end(raw, workload, input_rows=0, input_bytes=0):
    """The end-to-end metrics of an untraced run, plus the workload-named
    detail figures (with sample counts)."""
    passes = _passes(raw, workload)
    n = len(passes)
    walls = [p["wall_s"] for p in passes]
    items = [x for p in passes for x in p["items"]]
    wall = sum(walls)
    if workload == "corpus_pipeline":
        rows_per_s = input_rows * n / wall
        write_amp = sum(p["write_bytes"] for p in passes) / (input_bytes * n)
    else:
        rows_per_s = sum(p["changed_rows"] for p in passes) / wall
        write_amp = (sum(p["target_written_bytes"] for p in passes)
                     / sum(p["changed_bytes"] for p in passes))
    metrics = {
        "setup_s": raw["session_s"] + _median(raw["setups_s"]) + raw.get("warmup_s", 0.0),
        "pass_p50_s": _median(walls),
        "rows_per_s": rows_per_s,
        "read_mb_per_pass": sum(p["read_bytes"] for p in passes) / MB / n,
        "user_cpu_s_per_pass": sum(p["user_cpu_s"] for p in passes) / n,
        "write_amp": write_amp,
        "peak_rss_mb": raw["peak_rss_mb"],
    }
    p, v, beyond = tail(items)
    detail = {
        "passes": n, "items": len(items), "item_p50_s": _median(items),
        "item_tail": {"percentile": p, "value_s": v, "samples_beyond": beyond},
        "pass_tail": dict(zip(("percentile", "value_s", "samples_beyond"), tail(walls))),
        "peak_disk_mb": raw["peak_disk_bytes"] / MB,
    }
    if workload == "sync_steady":
        detail.update(cycle_p50_s=metrics["pass_p50_s"], table_sync_p50_s=_median(items),
                      table_sync_p90_s=percentile(items, 0.90))
    else:
        detail.update(corpus_pass_s=metrics["pass_p50_s"])
    if "space_amp" in raw:
        detail["space_amp"] = raw["space_amp"]
    return metrics, detail


def per_layer(raw, workload):
    """Per-layer metrics of a traced run: the mean of each traced unit's
    values, overwrite rates over every traced overwrite (set-up included),
    and the tracing overhead as traced over untraced unit wall, minus one."""
    traced = [u for u in raw["units"] if u["traced"]]
    untraced = [u for u in raw["units"] if not u["traced"]]
    values = {}
    for name, _ in PER_LAYER:
        xs = [u["layers"].get(name, 0.0) for u in traced]
        values[name] = sum(xs) / len(xs) if xs else 0.0
    sums = {k: raw.get("setup_layers", {}).get(k, 0.0)
            + sum(u["layers"].get(k, 0.0) for u in traced) for k in _OVERWRITE_SUMS}
    count = sums["lake.overwrite_count"]
    secs = sums["lake.overwrite_s"]
    values["lake.overwrite_count"] = count
    values["lake.overwrite_s"] = secs / count if count else 0.0
    values["lake.overwrite_mb_per_s"] = sums["lake.overwrite_mb_written"] / secs if secs else 0.0
    values["lake.space_amp"] = raw.get("space_amp", 0.0)
    items = [x for p in _passes(raw, workload) for x in p["items"]]
    values["items.p50_s"] = _median(items)
    values["items.tail_s"] = tail(items)[1]
    if traced and untraced:
        t = statistics.mean(u["wall_s"] for u in traced)
        b = statistics.mean(u["wall_s"] for u in untraced)
        values["trace.overhead_frac"] = t / b - 1
    return values


def check_modes(raw, params, drifts):
    """(attempted, failures): every sync report must be ok and take the
    tier its drift implies; the set-up loads must be Standard."""
    attempted, failures = 0, []
    for r in raw["setup_reports"]:
        attempted += 1
        if not r["ok"] or r["mode"] != "Standard":
            failures.append(f"set-up {r['table']}: {r['mode']} ok={r['ok']}, want Standard")
    for c in [raw["warmup"]] + [c for unit in raw["units"] for c in unit["cycles"]]:
        want = expected_modes(params, drifts, c["cycle"])
        for r in c["reports"]:
            attempted += 1
            if not r["ok"] or r["mode"] != want[r["table"]]:
                failures.append(f"cycle {c['cycle']} {r['table']}: {r['mode']} "
                                f"ok={r['ok']} error={r['error']}, want {want[r['table']]}")
    return attempted, failures

#!/usr/bin/env python3
"""The graft benchmark.

    python3 graftbench/run.py --workload sync_steady|corpus_pipeline \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness once per
source state (sbt, into graftbench/target; the classpath is cached under
$CARGO_TARGET_DIR, default .bench_build), generates the seed's inputs once,
then runs one plain `java` process that measures for S seconds and checks
its outputs. The last stdout line is the result JSON: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Anything that fails
(build, a check, the time limit) exits non-zero without a result line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib  # noqa: E402

DEADLINE_S = 150  # benchmark process limit; the checks after it keep a run under 180 s
JVM_HEAP = "3g"
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def work_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_stamp():
    """Digest of everything the build compiles."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BenchError(f"engine sources not found under {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(work, deadline):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    try:
        out = subprocess.run(["sbt", "-batch", "compile", "export Runtime/fullClasspath"],
                             cwd=HERE, capture_output=True, text=True,
                             timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired as e:
        raise BenchError("build timed out") from e
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise BenchError("build failed")
    lines = [ln for ln in out.stdout.splitlines()
             if not ln.startswith("[") and "classes" in ln and os.pathsep in ln]
    if not lines:
        raise BenchError("build printed no classpath")
    os.makedirs(work, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def inputs(work, workload, seed):
    """Generate (once per seed) the workload's input parquet; returns
    (dir, input rows, input bytes)."""
    import gen
    size = benchlib.SIZES[workload]
    kind = "corpus" if workload == "corpus_pipeline" else "lineitem"
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()) if k != "tables")
    root = os.path.join(work, "inputs", f"{kind}-{tag}")
    d = os.path.join(root, str(seed))
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if kind == "corpus":
            rows = gen.corpus(d, size["docs"], size["embs"], seed)
        else:
            rows = gen.lineitem(d, size["orders"], seed)
        with open(done, "w") as f:
            f.write(str(rows))
        # keep the inputs of the few most recent seeds only
        old = sorted(glob.glob(os.path.join(root, "*")), key=os.path.getmtime)[:-4]
        for o in old:
            shutil.rmtree(o, ignore_errors=True)
    with open(done) as f:
        rows = int(f.read())
    nbytes = sum(os.path.getsize(p) for p in glob.glob(os.path.join(d, "*.parquet")))
    return d, rows, nbytes


def run_jvm(cp, work, run_dir, args, data, plan_file, out_file, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", *ADD_OPENS, "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", run_dir, "--plan", plan_file, "--out", out_file]
    log_file = os.path.join(work, "logs", f"{args.workload}.log")
    os.makedirs(os.path.dirname(log_file), exist_ok=True)
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark process over the time limit (log: {log_file})")
    if rc != 0 or not os.path.exists(out_file):
        with open(log_file) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise BenchError(f"benchmark process failed with code {rc} (log: {log_file})")
    with open(out_file) as f:
        return json.load(f)


def oracle_check(work, data, seed, run_dir):
    """Each warm-up result against its DuckDB twin, canonicalised as
    tools/check_oracle.py does. Twin results are cached per seed and SQL."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check_oracle import canon
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sqls = json.load(f)
    cache_file = os.path.join(work, "oracle", f"{os.path.basename(os.path.dirname(data))}-{seed}.json")
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t + '.parquet')}'")
    failures = []
    for name, sql in sorted(sqls.items()):
        key = name + ":" + hashlib.sha256(sql.encode()).hexdigest()[:16]
        try:
            if key not in cache:
                t0 = time.time()
                cache[key] = list(canon(con, sql, "oracle"))
                log(f"twin {name}: {time.time() - t0:.1f}s")
            files = glob.glob(os.path.join(out, name, "*.parquet"))
            got = list(canon(con, f"SELECT * FROM parquet_scan({files!r})", "spark"))
        except Exception as e:  # a twin that cannot run is a failed check
            failures.append(f"{name}: {e}")
            continue
        if got != cache[key]:
            failures.append(f"{name}: spark {got[1:]} vs oracle {cache[key][1:]}")
    con.close()
    os.makedirs(os.path.dirname(cache_file), exist_ok=True)
    with open(cache_file, "w") as f:
        json.dump(cache, f)
    return len(sqls), failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = work_dir()
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    try:
        cp = build(work, time.time() + 840)
        deadline = time.time() + DEADLINE_S
        data, input_rows, input_bytes = inputs(work, args.workload, args.seed)
        cores = len(os.sched_getaffinity(0))
        plan_file = os.path.join(run_dir, "plan.txt")
        os.makedirs(run_dir)
        with open(plan_file, "w") as f:
            f.write("\n".join(benchlib.plan_lines(args.workload, args.seed, cores)) + "\n")
        raw = run_jvm(cp, work, run_dir, args, data, plan_file,
                      os.path.join(run_dir, "result.json"), deadline)
        if args.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(work, "logs", f"{args.workload}-spans.jsonl"))

        attempted = raw["checks"]["attempted"]
        failures = list(raw["checks"]["failures"])
        failed = raw["checks"]["failed"]
        if args.workload == "corpus_pipeline":
            t0 = time.time()
            n, bad = oracle_check(work, data, args.seed, run_dir)
            log(f"oracle check {time.time() - t0:.1f}s")
        else:
            params, drifts = benchlib.sync_plan(args.seed, cores)
            n, bad = benchlib.check_modes(raw, params, drifts)
        attempted += n
        failed += len(bad)
        failures += bad
        for f in failures[:20]:
            log(f"FAILED {f}")

        if args.trace:
            values = benchlib.per_layer(raw, args.workload)
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit in benchlib.PER_LAYER}
        else:
            values, detail = benchlib.end_to_end(raw, args.workload, input_rows, input_bytes)
            detail["fail_ratio"] = failed / attempted
            print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit, _ in benchlib.END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one seeded closed-loop workload per run.

Usage (from the repository root):
  python3 perfbench/run.py --workload registry|table_ops --seed N \
      --seconds S --trace 0|1

The first run in a checkout builds the program and the harness with sbt
(outputs under the repository's `target/` dirs and the build directory,
`$CARGO_TARGET_DIR` or `.bench_build`); later runs reuse the build while the
sources are unchanged. The run starts one JVM itself, with the program's
runtime classpath and java options, a single client thread and Spark
`local[SPARK_GRAFT_CPUS]` (default: half the cores). Correctness is checked
outside the timed phase. The last stdout line is the result JSON; the line
before it is the full report (every metric, the environment and the draw).
`--trace 1` adds the per-module metrics, writes the span tree to
`<build dir>/spans-<workload>-<seed>.jsonl`, and compares per-op Spark job
and task counts with an earlier traced run of the same seed.

Two helper modes are not benchmark workloads: `--workload calibrate` times
every registry query once cold and once warm and rewrites
`perfbench/registry_costs.tsv`, the table the `registry` sample is
stratified by; `--workload scalecheck` runs `graft.tools.ScaleCheck`'s probe
(its query list, 1x against a 10x key-offset replica built in the build
directory) and writes `perfbench/scalecheck_c<cores>.tsv`.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COSTS = os.path.join(HERE, "registry_costs.tsv")
JVM_TIMEOUT_S = 170

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
COMMON_LAYERS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_gc_s",
    "spark.core_busy_frac", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.spill_mb", "spark.scan_rows", "spark.scan_files",
    "spark.peak_exec_mem_mb", "jvm.heap_after_gc_peak_mb", "jvm.gc_s",
] + [f"{m}.cpu_frac" for m in (
    "api", "plans", "operators", "functions", "ml", "multimodal", "io",
    "streaming", "catalog", "queries", "spark")]
LAYER_UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio"}
WRITES = {"insert", "view_sync", "update", "batch_update", "delete"}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def layer_unit(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def source_digest():
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src"]
    for top in tops:
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep)
            for f in fs)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(bdir):
    """Compiles program and harness unless this source tree is built."""
    launch = os.path.join(bdir, "launch.txt")
    stamp = os.path.join(bdir, "stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return launch, digest
    env = dict(os.environ, PERFBENCH_LAUNCH=launch)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(bdir, "build.log"), "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed; see {os.path.join(bdir, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return launch, digest


def driver_mem():
    """`SPARK_DRIVER_MEM`, else 3g: the runs keep under 0.5 GB live."""
    return os.environ.get("SPARK_DRIVER_MEM") or "3g"


def run_jvm(launch, args, work, cpus, mem, timeout):
    lines = open(launch).read().splitlines()
    k = lines.index("javaOptions")
    cp, opts = lines[1:k], lines[k + 1:]
    # a fixed heap: G1 otherwise keeps it near 1 GB, where the old
    # generation crosses the marking threshold in some runs and not others
    opts = [o for o in opts if not o.startswith("-Xmx")] + [
        f"-Xms{mem}", f"-Xmx{mem}", f"-XX:ParallelGCThreads={cpus}",
        "-XX:ConcGCThreads=1",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/local"]
    os.makedirs(f"{work}/tmp")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=f"{work}/local")
    cmd = ["java"] + opts + ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"benchmark JVM timed out; see {work}/jvm.log")
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}")


def pass_wall(ops):
    """One pass over the sample, each query at its fastest of the
    interleaved passes (graft.Bench's min-of-passes protocol)."""
    best = {}
    for o in ops:
        best[o["kind"]] = min(best.get(o["kind"], math.inf), o["latS"])
    return sum(best.values())


def tail_percentile(n):
    """Highest whole percentile with at least 10 ops beyond it."""
    return max(0, min(99, math.floor(100 * (n - 10) / n))) if n > 0 else 0


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def registry_checks(rec, sf):
    """Compares each sampled query's Verify output with the DuckDB oracle,
    using the program's own comparison (tools/compare.py)."""
    spec = importlib.util.spec_from_file_location(
        "graft_compare", os.path.join(ROOT, "tools", "compare.py"))
    cmp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cmp)
    import duckdb
    import pyarrow.parquet as pq
    out = rec["verify_dir"]
    con = duckdb.connect()
    for p in sorted(os.listdir(sf)):
        if p.endswith(".parquet"):
            con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf, p)}')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = {}
    for name in sorted(set(rec["sample"])):
        d = os.path.join(out, name)
        files = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".parquet")) if os.path.isdir(d) else []
        if not files:
            bad[name] = "no output"
            continue
        got = pq.read_table(files)
        if name not in oracle:
            if got.num_rows == 0:
                bad[name] = "no rows"
            continue
        try:
            g, e = cmp.canon(got.to_pandas()), cmp.canon(con.execute(oracle[name]).df())
            # exact frame equality implies compare() passes; it only needs
            # its cell-by-cell loop (slow on 100k-row outputs) otherwise
            err = None if g.equals(e) else cmp.compare(name, g, e)
        except Exception as e:  # oracle error counts as a mismatch
            err = f"{type(e).__name__}: {e}"
        if err:
            bad[name] = err[:300]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["registry", "table_ops", "calibrate", "scalecheck"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are missing")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR",
                        os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    if a.workload != "table_ops" and not os.path.isfile(
            os.path.join(sf, "lineitem.parquet")):
        fail(f"no sf0.1 corpus at {sf} (set SPARK_GRAFT_SF_DIR)")
    bdir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(bdir, exist_ok=True)
    launch, digest = build(bdir)

    # half the cores: the client thread, the listener bus, GC and JIT need
    # the rest, and more runnable threads than cores would time the scheduler
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or max(1, os.cpu_count() // 2))
    mem = driver_mem()
    work = os.path.join(bdir, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    launch_ms = int(time.time() * 1000)
    run_jvm(launch, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", work, "--out", out, "--sf", sf, "--costs", COSTS],
            work, cpus, mem,
            JVM_TIMEOUT_S if a.workload in ("registry", "table_ops") else 5400)
    rec = json.load(open(out))

    if a.workload == "calibrate":
        with open(COSTS, "w") as f:
            f.write("name\tfamily\twarm_s\tcold_s\tjobs\ttasks\tok\n")
            for q in rec["queries"]:
                f.write(f"{q['name']}\t{q['family']}\t{q['warm_s']:.3f}\t"
                        f"{q['cold_s']:.3f}\t{q['jobs']}\t{q['tasks']}\t"
                        f"{1 if q['ok'] else 0}\n")
        print(json.dumps({"calibrated": len(rec["queries"])}))
        return
    if a.workload == "scalecheck":
        path = os.path.join(HERE, f"scalecheck_c{cpus}.tsv")
        with open(path, "w") as f:
            f.write("name\tfamily\tt1_s\tt10_s\tratio\tin_10x_pool\n")
            for q in rec["queries"]:
                t1 = q["t1_s"] if q["t1_s"] is not None else math.nan
                t10 = q["t10_s"] if q["t10_s"] is not None else math.nan
                ratio = t10 / t1 if t1 > 0 else None
                f.write(f"{q['name']}\t{q['family']}\t{t1:.3f}\t{t10:.3f}\t"
                        f"{'' if ratio is None else f'{ratio:.2f}'}\t"
                        f"{1 if ratio is not None and ratio >= 2 else 0}\n")
        print(json.dumps({"scalecheck": len(rec["queries"])}))
        return

    ops = rec["ops"]
    lat = [o["latS"] for o in ops]
    p = tail_percentile(len(lat))
    metrics = {
        "setup_s": (rec["setup_end_ms"] - launch_ms) / 1e3,
        "wall_s": pass_wall(ops) if a.workload == "registry" else rec["wall_s"],
        "op_p50_s": statistics.median(lat),
        "op_tail_s": quantile(lat, p / 100),
    }
    failures = {}
    if a.workload == "registry":
        bad = registry_checks(rec, sf)
        for o in ops:
            if not o["ok"]:
                failures[f"op{o['i']}:{o['kind']}"] = o["error"]
            elif o["kind"] in bad:
                failures[f"op{o['i']}:{o['kind']}"] = bad[o["kind"]]
        attempted = len(ops)
    else:
        for i, err in rec["failed_ops"].items():
            failures[f"op{i}:{ops[int(i)]['kind']}"] = err
        for name, ok in rec["end_checks"].items():
            if not ok:
                failures[f"end:{name}"] = "differs from the model"
        attempted = len(ops) + len(rec["end_checks"])
        writes = [o["latS"] for o in ops if o["kind"] in WRITES]
        reads = [o["latS"] for o in ops if o["kind"] not in WRITES]
        ins_s = sum(o["latS"] for o in ops if o["kind"] == "insert")
        metrics.update({
            "write_p50_s": statistics.median(writes),
            "read_p50_s": statistics.median(reads),
            "ingest_rows_per_s": rec["rows_inserted"] / ins_s if ins_s else 0.0,
            "space_amp": rec["gauges"]["space_amp"],
        })
    metrics["fail_frac"] = len(failures) / attempted

    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "spark_graft_cpus": cpus,
        "driver_mem": mem, "source_sha256": digest,
        "commit": git_commit(), "ops": len(ops), "tail_percentile": p,
        "timed_phase_s": rec["wall_s"],
        "metrics": metrics, "failures": failures,
    }
    if a.workload == "registry":
        report["sample"] = rec["sample"]
    else:
        report["gauges"] = rec["gauges"]
        report["insert_growth"] = rec["insert_growth"]
    if a.trace:
        report["layers"] = rec["layers"]
        spans = os.path.join(bdir, f"spans-{a.workload}-{a.seed}.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        report["repeat_mismatch"] = repeat_check(bdir, a, digest, rec["op_counts"])
    report["tracing_overhead"] = tracing_overhead(bdir, a, digest, metrics["wall_s"])
    print(json.dumps(report))

    if a.trace:
        shown = {k: {"value": rec["layers"].get(k, 0.0), "unit": layer_unit(k)}
                 for k in COMMON_LAYERS}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": shown}))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_key(a, digest):
    return f"{a.workload}-{a.seed}-{a.seconds:g}-{digest[:12]}"


def repeat_check(bdir, a, digest, counts):
    """Per-op counts must repeat across traced runs of one seed; returns the
    ops (of those both runs reached) whose counts differ, or None when this
    is the first traced run of the seed."""
    path = os.path.join(bdir, f"counts-{run_key(a, digest)}.json")
    prev = json.load(open(path)) if os.path.exists(path) else None
    with open(path, "w") as f:
        json.dump(counts, f)
    if prev is None:
        return None
    return [f"op{x['i']}:{x['op']}" for x, y in zip(counts, prev) if x != y]


def tracing_overhead(bdir, a, digest, wall):
    """Traced wall_s / untraced wall_s, once both runs of this seed exist."""
    path = os.path.join(bdir, f"wall-{run_key(a, digest)}.json")
    walls = json.load(open(path)) if os.path.exists(path) else {}
    walls[str(a.trace)] = wall
    with open(path, "w") as f:
        json.dump(walls, f)
    return walls["1"] / walls["0"] if "0" in walls and "1" in walls else None


if __name__ == "__main__":
    main()

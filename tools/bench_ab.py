#!/usr/bin/env python3
"""Same-host A/B benchmark (VERDICT r11 task 5).

Raw per-round bench captures proved uninterpretable under shared-VM
drift (uniform ~1.36x shifts on untouched queries in r11). This tool
runs the PREVIOUS round's code and the CURRENT working tree interleaved
on the same host within the same hour and emits a per-query ratio
artifact — the only valid cross-round comparison. Regressions are
flagged from the A/B ratio, never from raw captures.

Usage:
  python3 tools/bench_ab.py <prev-commit> <out.json> [sf-dir] [passes]

Each side runs `graft.Bench` (itself min-of-3 interleaved passes)
`passes` times in A/B/A/B order; per-query MIN per side is compared.
A query regresses when ratio > 1.3 AND the absolute delta > 0.15 s.
"""
import json
import os
import subprocess
import sys


def run(cmd, cwd, env=None):
    r = subprocess.run(cmd, cwd=cwd, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode()[-4000:])
        raise SystemExit(f"command failed in {cwd}: {' '.join(cmd)}")


def main():
    prev_commit = sys.argv[1]
    out_path = sys.argv[2]
    sf = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    passes = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    repo = os.getcwd()
    wt = "/tmp/bench_ab_prev"

    subprocess.run(["git", "worktree", "remove", "--force", wt],
                   cwd=repo, capture_output=True)
    run(["git", "worktree", "add", "--force", wt, prev_commit], repo)

    # Overlay the CURRENT bench harness onto the prev side so both
    # sides measure identically (r14: the harness switched streaming
    # gates to a single cold sample; comparing that against the old
    # min-of-3-warm numbers mislabeled the methodology change as a 3-10x
    # code regression on every streaming gate). Bench.scala must stay
    # self-contained — depending ONLY on SparkEntry and Sessions (the
    # session factory, overlaid with it so both sides plan under the
    # same config) — so it compiles against any round's tree (r15: a
    # QueryUtil.tempDir call added in r14 would have broken compilation
    # of every pre-r14 prev side; it is now inlined).
    for src in ("src/main/scala/graft/Bench.scala",
                "src/main/scala/graft/Sessions.scala"):
        with open(os.path.join(repo, src), "rb") as f:
            cur = f.read()
        with open(os.path.join(wt, src), "wb") as f:
            f.write(cur)

    # compile both sides up front so measured runs are compile-free
    for cwd in (wt, repo):
        run(["sbt", "-batch", "compile"], cwd)

    # the caller's core count, else this host's: a fixed count above the
    # host's cores oversubscribes them and measures the scheduler
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    sides = {"prev": wt, "cur": repo}
    best = {"prev": {}, "cur": {}}
    order = [("prev", wt), ("cur", repo)] * passes
    for i, (tag, cwd) in enumerate(order):
        outfile = f"/tmp/bench_ab_{tag}_{i}.json"
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=cpus,
                   SPARK_GRAFT_BENCH_OUT=outfile)
        run(["sbt", "-batch", "runMain graft.Bench"], cwd, env)
        data = json.load(open(outfile))
        for q, t in data["queries"].items():
            if t < 0:
                continue
            prev_t = best[tag].get(q)
            best[tag][q] = t if prev_t is None else min(prev_t, t)
        print(f"[ab] run {i + 1}/{len(order)} ({tag}) "
              f"total={data['value']}s", flush=True)

    common = sorted(set(best["prev"]) & set(best["cur"]))
    ratios = {q: round(best["cur"][q] / best["prev"][q], 3)
              for q in common if best["prev"][q] > 0}
    regressions = {q: {"prev": best["prev"][q], "cur": best["cur"][q],
                       "ratio": ratios[q]}
                   for q in common
                   if ratios.get(q, 0) > 1.3
                   and best["cur"][q] - best["prev"][q] > 0.15}
    med = sorted(ratios.values())[len(ratios) // 2] if ratios else None
    artifact = {
        "prev_commit": prev_commit,
        "sf": sf,
        "n_common": len(common),
        "total_prev": round(sum(best["prev"][q] for q in common), 3),
        "total_cur": round(sum(best["cur"][q] for q in common), 3),
        "median_ratio": med,
        "regressions": regressions,
        "new_queries": sorted(set(best["cur"]) - set(best["prev"])),
        "ratios": ratios,
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"[ab] median ratio {med}, {len(regressions)} regression(s) "
          f"-> {out_path}")
    subprocess.run(["git", "worktree", "remove", "--force", wt],
                   cwd=repo, capture_output=True)


if __name__ == "__main__":
    main()

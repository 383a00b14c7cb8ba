"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload exposure --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository.  The inputs are
generated from the seed into ``.perfbench_data/`` (once per seed, never
timed), one untimed operation on a tenth of the documents warms the JVM
up, a closed loop of one client runs the workload's operation back
to back on at most 4 cores for ``--seconds``, the outputs are checked
afterwards, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are its per-layer metrics, read from spans around
each engine layer (spans are also written to
``.perfbench_data/spans/``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
CORES = min(4, len(os.sched_getaffinity(0)))
SETUPS = 3
MIN_OPS = 2             # measured operations a run makes at least
WARM_OPS = 1            # untimed operations on the warm-up input first
WARM_SHARE = 10         # the warm-up input is 1/WARM_SHARE of the documents
LAYERS = ("sources", "pages_ops", "availability", "accessibility",
          "visibility", "textqa", "classify", "dedup")


def _environment() -> None:
    """Point the engine, its Python workers and every scratch directory
    at the checkout, before pyspark is imported."""
    scratch = os.path.join(DATA, "tmp")
    os.makedirs(scratch, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = scratch
    # lower JIT thresholds: the measured operations start near the
    # floor instead of mid-warm-up (NOTES.md, "How a run goes")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={scratch} "
                                       "-XX:-UsePerfData "
                                       "-XX:CompileThresholdScaling=0.05")
    os.environ.setdefault("GREENEXP_DRIVER_MEM", "4g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


class Sessions:
    """Builds and stops the engine's session; the JVM stays up between
    sessions of one run and is shut down by ``close``."""

    def __init__(self):
        self.spark = None
        self.times: list[float] = []

    def setup(self, cores: int):
        """One set-up sample: a fresh session on ``cores`` cores plus a
        tiny query.  Stopping the previous session is not timed."""
        from greenexp_r_spark.session import build_session
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{cores}]")
        self.spark.range(8).selectExpr("sum(id)").collect()
        self.times.append(time.perf_counter() - t0)
        print(f"setup {len(self.times) - 1}: {self.times[-1]:.3f} s",
              file=sys.stderr)
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()          # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _reap(timeout: float = 30.0) -> None:
    """Wait for every process this run started; kill stragglers."""
    from probe import descendants
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, 0)[0] == 0:
                break
        except ChildProcessError:
            break


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Loop:
    """Closed loop, one client: the next operation starts when the last
    one ended, until the next one would overrun ``seconds`` (at least
    ``min_ops`` run).  Traced, operations alternate untraced / traced,
    starting untraced."""

    def __init__(self, workload, run, seconds: float, traced: bool):
        self.w, self.run, self.seconds, self.traced = (workload, run,
                                                       seconds, traced)
        self.ops: list[dict] = []       # {"wall", "build", "exec", "traced"}
        self.attempted = self.failed = 0
        self.cold = 0.0                 # wall of the JVM's first operation

    def one(self, run, traced: bool, label: str) -> dict | None:
        """One operation on ``run``'s inputs; None if Spark aborted it."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if traced:
                with run.tracer.span("op", op=len(self.ops)):
                    self.w.traced_op(run)
                build = exe = 0.0
            else:
                build, exe = self.w.op(run)
        except Exception:               # a Spark abort is a failed op
            traceback.print_exc()
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        print(f"{label} {'traced' if traced else 'untraced'}: {wall:.3f} s "
              f"(build {build:.3f} s, exec {exe:.3f} s)", file=sys.stderr)
        return {"wall": wall, "build": build, "exec": exe, "traced": traced}

    def warm_up(self, run, n: int) -> None:
        """``n`` untraced operations on ``run``'s inputs, not kept: they
        pay the class loading, JIT warm-up, per-plan code generation and
        Python worker start that make a JVM's first operation 2-3 times
        as slow as the next."""
        for i in range(n):
            op = self.one(run, False, f"warm-up {i}")
            if i == 0 and op is not None:
                self.cold = op["wall"]

    def go(self, min_ops: int) -> None:
        start = time.perf_counter()
        last = 0.0
        n = 0
        while n < min_ops or time.perf_counter() - start + last <= self.seconds:
            t0 = time.perf_counter()
            op = self.one(self.run, self.traced and n % 2 == 1,
                          f"op {len(self.ops)}")
            if op is not None:
                self.ops.append(op)
            last = time.perf_counter() - t0
            n += 1

    def traced_walls(self) -> list[float]:
        return [o["wall"] for o in self.ops if o["traced"]]

    def warm_ops(self) -> list[dict]:
        """The first ``MIN_OPS`` untraced operations after the warm-up.
        Operations still speed up for several more, so a fixed position
        in the JVM's life is measured, whatever the host's speed."""
        return [o for o in self.ops if not o["traced"]][:MIN_OPS]

    def warm(self) -> float:
        """Median wall of ``warm_ops``."""
        return _median([o["wall"] for o in self.warm_ops()])


def end_to_end(loop: Loop, sessions: Sessions, meta: dict,
               peak_mb: float, ok: float) -> dict:
    wall = loop.warm()
    return {
        "wall_s": wall,
        "setup_s": _median(sessions.times),
        "ok_ratio": ok,
        "peak_rss_mb": peak_mb,
        "exposure_pts_per_s": meta["n_docs"] / wall,
        "corpus_mb_per_s": meta["text_bytes"] / 1e6 / wall,
    }


def per_layer(loop: Loop, tracer, burn: float, scaling: float) -> dict:
    """Per-layer values from the traced operations' spans (medians over
    operations; a layer the workload does not run reads 0)."""
    from probe import self_times
    spans = tracer.spans
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"]:
            s = by_id[s["parent"]]
        return s["id"]

    ops: dict[str, list[dict]] = {}
    for s in spans:
        ops.setdefault(root(s), []).append(s)

    def per_op(pred, key):
        return _median([sum((selft[s["id"]] if key == "busy_s" else
                             s.get(key, 0)) for s in ss if pred(s))
                        for ss in ops.values()])

    out = {}
    for layer in LAYERS:
        is_l = lambda s, L=layer: s["name"] == L
        for key in ("busy_s", "tasks", "shuffle_write_bytes", "python_s",
                    "jobs", "task_skew", "cells", "cell_keep_ratio",
                    "observers", "pairs"):
            out[f"{layer}.{key}"] = per_op(is_l, key)
        out[f"{layer}.peak_rss_mb"] = max(
            [s["peak_rss_mb"] for s in spans if is_l(s)], default=0.0)

    warm = loop.warm_ops()
    build = _median([o["build"] for o in warm])
    exe = _median([o["exec"] for o in warm])
    # "stats" spans are the benchmark's own counting queries
    out["driver.jobs"] = per_op(lambda s: s["name"] != "stats", "jobs")
    out["driver.build_s"] = build
    out["driver.exec_s"] = exe
    out["driver.build_share"] = build / (build + exe) if build + exe else 0.0
    out["driver.cold_op_s"] = loop.cold
    out["trace.overhead_s"] = _median(loop.traced_walls()) - loop.warm()
    out["host.burn_ratio"] = burn
    out["exposure.scaling_eff"] = scaling
    return out


def pick(values: dict, wanted: list[dict]) -> dict:
    """The metrics BENCHMARK.json names, each with its unit; a metric
    the workload did not produce is an error."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in wanted}


def scaling_phase(workload, sessions: Sessions, seed: int, seconds: float,
                  t4: float, tracer) -> float:
    """Weak scaling: a quarter of the input on one core, in the same
    JVM; efficiency = 1-core time on N/4 over 4-core time on N."""
    import gen
    from workloads import Run
    sizes = dict(workload.sizes, n_docs=workload.sizes["n_docs"] // 4)
    meta = gen.prepare(f"{workload.name}-quarter", seed, DATA, sizes)
    spark = sessions.setup(1)
    tracer.spark = spark
    loop = Loop(workload, Run(spark, tracer, meta, seed), seconds, False)
    loop.warm_up(loop.run, 1)
    loop.go(min_ops=2)
    return loop.warm() / t4


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "greenexp_r_spark",
                                        "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(spec_path)):
        print(f"no engine source next to {HERE}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    t_start = time.perf_counter()

    def phase(name: str) -> None:
        print(f"phase {name}: {time.perf_counter() - t_start:.2f} s",
              file=sys.stderr)

    _environment()
    import gen
    import probe
    import workloads as W

    workload = W.WORKLOADS[args.workload]()
    meta = gen.prepare(workload.name, args.seed, DATA, workload.sizes)
    warm_meta = gen.prepare(
        f"{workload.name}-warm", args.seed, DATA,
        dict(workload.sizes, n_docs=workload.sizes["n_docs"] // WARM_SHARE))
    phase("inputs")
    burn = probe.host_ceiling(CORES) if args.trace else 0.0
    run_id = f"{workload.name}-{args.seed}-{os.getpid()}"
    sampler = probe.RssSampler().start()
    sessions = Sessions()
    try:
        for _ in range(SETUPS):
            spark = sessions.setup(CORES)
        phase("setup")
        tracer = probe.Tracer(spark, run_id, sampler, bool(args.trace))
        run = W.Run(spark, tracer, meta, args.seed)
        loop = Loop(workload, run, args.seconds, bool(args.trace))
        loop.warm_up(W.Run(spark, tracer, warm_meta, args.seed), WARM_OPS)
        phase("warm-up")
        sampler.window()
        loop.go(MIN_OPS)
        peak = sampler.window()
        phase("loop")
        try:
            checks = workload.check(run)
        except Exception:               # a check that cannot run fails
            traceback.print_exc()
            checks = [(f"{workload.name}.checks", False)]
        phase("checks")
        scaling = 0.0
        if args.trace and workload.name == "exposure":
            scaling = scaling_phase(workload, sessions, args.seed,
                                    args.seconds / 2, loop.warm(), tracer)
    finally:
        sampler.stop()
        sessions.close()
        _reap()
        phase("teardown")

    for name, ok in checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    attempted = loop.attempted + len(checks)
    failed = loop.failed + sum(not ok for _, ok in checks)
    if args.trace:
        os.makedirs(os.path.join(DATA, "spans"), exist_ok=True)
        with open(os.path.join(DATA, "spans", run_id + ".json"), "w") as f:
            json.dump(tracer.spans, f)
        values = per_layer(loop, tracer, burn, scaling)
        wanted = spec["per_layer"]
    else:
        values = end_to_end(loop, sessions, meta, peak,
                            1.0 - failed / attempted)
        wanted = spec["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": pick(values, wanted)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Layered benchmark of bioframe_spark: construct vs execute per step.

Usage (from any directory):

    python3 perfbench/run.py --workload intervals_1x --seed 1 \
        --seconds 15 --trace 0

One closed-loop client in one process runs a workload's steps one call
at a time in a fresh ``local[4]`` session. Each step has two timed
phases: *construct* (the public call, with every eager job it runs)
and *execute* (``bench.force_count`` on the result: row count plus a
hash of every column). ``--seed`` permutes the step order of each warm
pass (the cold first pass keeps the listed order) and never changes the
data. Passes repeat until ``--seconds`` have passed and at least
``MIN_PASSES`` ran. Every step's output is checked against
``expected.json``; a mismatch or exception counts as failed and the
pass continues.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs each
phase in its own job group and prints the per-layer metrics (see
README.md); the spans go to ``.perfbench_work/traces/``. The last line
of stdout is the JSON result; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
SETUP_REPS = 3
MIN_PASSES = 3
# steps that belong to the sources layer, not to their workload's layer
SOURCE_STEPS = ("write_prebinned",)
ENGINE_METRICS = (("tasks", "count"), ("task_s", "s"), ("gc_s", "s"),
                  ("shuffle_write_bytes", "bytes"),
                  ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"),
                  ("max_task_skew", "ratio"))
# a bounded, fixed-size driver heap keeps the run small on a shared
# machine and its peak RSS steady: with get_spark's 8g default, or any
# heap G1 may resize, the peak follows G1's sizing and varies run to run
DRIVER_MEM = "2g"


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _configure_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    repo on the Python workers' path (they import the package by name,
    which fails when the run starts outside the repo root). Must run
    before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_CKPT_DIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM the run starts (spark-submit's launcher too): temp files
    # in the run directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEM} "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell")


class _Capture:
    """Hands ``bench.force_count`` a frame whose aggregate row it keeps,
    so a step's content digest comes from the same job as its row count.
    force_count's ``max`` of the row hash moves only when the row holding
    the largest hash changes, so the same aggregate also takes the XOR of
    that row hash, which moves with any row."""

    def __init__(self, df):
        self._df = df
        self.row = None

    @property
    def dtypes(self):
        return self._df.dtypes

    def select(self, *cols):
        from pyspark.sql import functions as F

        # the row hash exactly as force_count builds it
        row_hash = F.xxhash64(*[
            F.map_entries(c).alias(c) if t.startswith("map") else F.col(c)
            for c, t in self._df.dtypes])
        agg = self._df.select(*cols, F.bit_xor(row_hash).alias("x"))
        cap = self

        class _Agg:
            def collect(self):
                rows = agg.collect()
                cap.row = rows[0]
                return rows
        return _Agg()

    @property
    def digest(self) -> list[int]:
        return [self.row["h"], self.row["x"]]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    def __init__(self, workload, spark, state, tracer, force_count,
                 expected: dict):
        self.wl = workload
        self.spark = spark
        self.st = state
        self.tracer = tracer
        self.force_count = force_count
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._baseline_rdds = self._cached_rdds()

    # -- cache accounting -------------------------------------------------
    def _cached_rdds(self) -> dict:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id(): i.memSize() + i.diskSize() for i in infos}

    def _account_cache(self) -> tuple[int, int, int]:
        """Internal persists a step left behind. Result finalizers fire at
        GC time, so collect first; then clear and re-pin the inputs so
        the next step pays its full plan."""
        gc.collect()
        left = {k: v for k, v in self._cached_rdds().items()
                if k not in self._baseline_rdds}
        if not left:
            return 0, 0, 0
        self.spark.catalog.clearCache()
        self.st.repin()
        self._baseline_rdds = self._cached_rdds()
        return len(left), sum(left.values()), 1

    # -- one step ----------------------------------------------------------
    def _phase(self, name: str):
        return self.tracer.group(name) if self.tracer else nullcontext()

    def _check(self, step: str, rows: int, digest: list) -> str | None:
        exp = self.expected.get(step)
        if exp is None:
            return "no recorded expectation"
        if "rows_1x" in exp:  # replication invariant of the scaled inputs
            want = exp["rows_1x"] * self.st.scale
            return None if rows == want else f"rows {rows} != {want}"
        if [rows, digest] != [exp["rows"], exp["digest"]]:
            return (f"(rows, digest) ({rows}, {digest}) != "
                    f"({exp['rows']}, {exp['digest']})")
        return None

    def run_step(self, step) -> dict:
        rec = {"step": step.name}
        self.attempted += 1
        tr = self.tracer
        written = tr.bytes_written() if tr else 0
        g_con = g_exe = t1 = t2 = None
        t0 = time.perf_counter()
        try:
            with self._phase(f"{step.name}/construct") as g_con:
                df = step.construct(self.st)
            t1 = time.perf_counter()
            with self._phase(f"{step.name}/execute") as g_exe:
                cap = _Capture(df)
                rows = self.force_count(cap)
            t2 = time.perf_counter()
            rec["rows"] = rows
            err = self._check(step.name, rows, cap.digest)
        except Exception as e:  # a failing step is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:300]}"
        # drop the result before the cache accounting collects garbage
        df = cap = None
        now = time.perf_counter()
        t1, t2 = t1 or now, t2 or now
        rec.update(construct_s=t1 - t0, execute_s=t2 - t1, latency_s=t2 - t0,
                   t=(t0, t1, t2))
        if err:
            self.failed += 1
            self.failures.append(f"{self.wl.name}/{step.name}: {err}")
            _log(f"FAILED {step.name}: {err}")
        rec["ok"] = err is None
        if tr:
            rec["write_bytes"] = tr.bytes_written() - written
            rec["construct"] = tr.read(g_con) if g_con else {}
            rec["execute"] = tr.read(g_exe) if g_exe else {}
        rec["cache_rdds"], rec["cache_bytes"], rec["cache_resets"] = (
            self._account_cache())
        return rec

    def run_pass(self, order) -> dict:
        s0 = self.tracer.stream_totals() if self.tracer else None
        steps = [self.run_step(s) for s in order]
        # the pass's wall time in the package: the benchmark's own cache
        # accounting and re-pinning between steps is left out
        rec = {"pass_s": sum(s["latency_s"] for s in steps), "steps": steps}
        if self.tracer:
            s1 = self.tracer.stream_totals()
            rec["stream"] = [b - a for a, b in zip(s0, s1)]
        return rec


def _units(steps) -> list[list]:
    """Steps grouped so a step that reads another's output follows it."""
    units: list[list] = []
    for s in steps:
        if s.after:
            next(u for u in units if u[-1].name == s.after).append(s)
        else:
            units.append([s])
    return units


def _end_to_end(setup, first_pass, warm, latencies, rss_mb) -> dict:
    m = {
        "setup_s": (statistics.median(setup), "s"),
        "pass_s": (statistics.median(warm), "s"),
        "first_pass_s": (first_pass, "s"),
        "op_p90_s": (statistics.quantiles(
            latencies, n=10, method="inclusive")[8], "s"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit. Steps
    are named after the module family they call; a workload reports 0
    for the steps and layers it does not run."""
    from workloads import WORKLOADS

    units = {"session.start_s": "s", "trace.pass_s": "s",
             "op_fail_rate": "ratio",
             "sources.write_s": "s", "sources.write_bytes": "bytes",
             "sources.scan_bytes": "bytes"}
    for layer in ("operators", "datapipe"):
        steps = sorted({s.name for w in WORKLOADS.values() if w.layer == layer
                        for s in w.steps if s.name not in SOURCE_STEPS})
        for step in steps:
            units.update({f"{layer}.{step}.construct_s": "s",
                          f"{layer}.{step}.execute_s": "s",
                          f"{layer}.{step}.construct_jobs": "count"})
        units.update({f"{layer}.construct_s": "s", f"{layer}.execute_s": "s",
                      f"{layer}.construct_jobs": "count",
                      f"{layer}.execute_jobs": "count",
                      f"{layer}.stages": "count"})
    units.update({"streaming.batches": "count", "streaming.batch_s": "s",
                  "streaming.input_rows": "count",
                  "cache.rdds_left": "count", "cache.bytes_left": "bytes",
                  "cache.resets": "count"})
    units.update({f"engine.{k}": u for k, u in ENGINE_METRICS})
    return units


def _pass_layers(layer: str, p: dict) -> dict[str, float]:
    """One pass's per-layer totals."""
    v: dict[str, float] = {"trace.pass_s": p["pass_s"]}

    def add(key, x):
        v[key] = v.get(key, 0) + x

    for s in p["steps"]:
        con, exe = s.get("construct", {}), s.get("execute", {})
        add("sources.write_bytes", s["write_bytes"])
        add("sources.scan_bytes",
            con.get("scan_bytes", 0) + exe.get("scan_bytes", 0))
        add("cache.rdds_left", s["cache_rdds"])
        add("cache.bytes_left", s["cache_bytes"])
        add("cache.resets", s["cache_resets"])
        for key, _ in ENGINE_METRICS:
            if key == "max_task_skew":
                v["engine.max_task_skew"] = max(
                    [v.get("engine.max_task_skew", 1.0)]
                    + [ph.get(key, 1.0) for ph in (con, exe)])
            else:
                add(f"engine.{key}", con.get(key, 0) + exe.get(key, 0))
        if s["step"] in SOURCE_STEPS:
            add("sources.write_s", s["construct_s"])
            continue
        pre = f"{layer}.{s['step']}"
        v[f"{pre}.construct_s"] = s["construct_s"]
        v[f"{pre}.execute_s"] = s["execute_s"]
        v[f"{pre}.construct_jobs"] = con.get("jobs", 0)
        add(f"{layer}.construct_s", s["construct_s"])
        add(f"{layer}.execute_s", s["execute_s"])
        add(f"{layer}.construct_jobs", con.get("jobs", 0))
        add(f"{layer}.execute_jobs", exe.get("jobs", 0))
        add(f"{layer}.stages", con.get("stages", 0) + exe.get("stages", 0))
    (v["streaming.batches"], v["streaming.batch_s"],
     v["streaming.input_rows"]) = p["stream"]
    return v


def _per_layer(wl, passes, session_start) -> dict:
    """Median over the warm passes of each layer's per-pass total."""
    warm = [_pass_layers(wl.layer, p) for p in passes[1:]]
    steps = [s for p in passes for s in p["steps"]]
    fixed = {"session.start_s": session_start,
             "op_fail_rate": sum(not s["ok"] for s in steps) / len(steps)}
    return {k: {"value": fixed[k] if k in fixed
                else statistics.median([v.get(k, 0) for v in warm]), "unit": u}
            for k, u in layer_metrics().items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the package under test and bench.force_count come from the repo;
    # in a directory holding only the benchmark these imports fail
    sys.path[:0] = [ROOT, HERE]
    from bench import force_count
    from bioframe_spark.session import get_spark
    import inputs
    from workloads import WORKLOADS

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)[wl.name]

    data_dir = inputs.ensure(os.path.join(WORK, "data"))
    run_dir = tempfile.mkdtemp(prefix=f"run-{wl.name}-", dir=WORK)
    _configure_env(run_dir)
    from pyspark import SparkContext

    spark = None
    try:
        setup, starts = [], []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", cpus=CPUS)
            spark.sparkContext.setLogLevel("ERROR")
            spark.conf.set("spark.sql.adaptive.enabled", str(wl.aqe).lower())
            t1 = time.perf_counter()
            state = wl.prepare(spark, data_dir, run_dir)
            setup.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        _log(f"setup {', '.join(f'{s:.2f}' for s in setup)} s")

        tracer = None
        if args.trace:
            from spark_trace import Tracer
            tracer = Tracer(spark)
        runner = Runner(wl, spark, state, tracer, force_count, expected)
        rng = random.Random(args.seed)
        units = _units(wl.steps)
        passes = []
        t_run = time.perf_counter()
        while (len(passes) < MIN_PASSES
               or time.perf_counter() - t_run < args.seconds):
            # the cold pass keeps the listed order: its first steps pay the
            # session's first-use costs, and a permuted cold pass would
            # move them from operator to operator with the seed
            if passes:
                rng.shuffle(units)
            p = runner.run_pass([s for u in units for s in u])
            passes.append(p)
            _log(f"pass {len(passes)}: {p['pass_s']:.2f} s  " + " ".join(
                f"{s['step']}={s['construct_s']:.2f}+{s['execute_s']:.2f}"
                for s in p["steps"]))
        pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = _vm_hwm_mb(pid)

        warm = passes[1:]
        if tracer:
            metrics = _per_layer(wl, passes, statistics.median(starts))
            tracer.close()
            _write_spans(wl.name, args.seed, passes)
        else:
            metrics = _end_to_end(
                setup, passes[0]["pass_s"], [p["pass_s"] for p in warm],
                [s["latency_s"] for p in warm for s in p["steps"]], rss_mb)
        result = {"correct": runner.failed == 0,
                  "attempted": runner.attempted,
                  "failed": runner.failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in runner.failures:
        _log(line)
    print(json.dumps(result))
    return 0


def _write_spans(workload: str, seed: int, passes) -> None:
    """One span per step with construct and execute as child spans,
    written once the run has ended."""
    spans = []
    for i, p in enumerate(passes):
        for s in p["steps"]:
            sid = f"pass{i}/{s['step']}"
            t0, t1, t2 = s["t"]
            spans.append({"id": sid, "parent": None, "start": t0, "end": t2,
                          "ok": s["ok"], "rows": s.get("rows")})
            for ph, a, b in (("construct", t0, t1), ("execute", t1, t2)):
                spans.append({"id": f"{sid}/{ph}", "parent": sid,
                              "start": a, "end": b, **s.get(ph, {})})
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-seed{seed}.json"), "w") as f:
        json.dump(spans, f)


if __name__ == "__main__":
    sys.exit(main())

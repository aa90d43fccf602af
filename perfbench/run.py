"""Benchmark of the chronon_spark feature engine on seeded synthetic transcripts.

    python3 perfbench/run.py --workload asof_dense --seed 1 --seconds 10 --trace 0

Run from the repository root. One Python process runs one workload on
``local[4]`` in a closed loop (one client, one Spark job at a time):

1. set-up: generate the seeded transcripts (in a child process, while the
   Spark session starts), then one untimed warm-up operation;
2. settling: more untimed operations for ``SETTLE_S`` seconds, while op
   time is still falling as the JIT warms; not part of set-up;
3. timed operations until ``--seconds`` have passed, each output checked.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
prints its per-layer metrics instead. The loop then alternates untraced and
traced operations (a status-store snapshot and spans around every layer
call), and the run adds the kernel micro-bench, the workload's extra layer
calls and asof_dense on ``local[4]`` and ``local[1]`` for the 1->4 scaling
efficiency. Spans
go to ``perfbench/.traces/<workload>-seed<seed>.json``. A per-layer metric
of a layer the workload does not run reads 0.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Every operation run (warm-up and extras included) counts as attempted; it
fails if it raises or its output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_DIR = Path(__file__).resolve().parent
CORES = 4
# a fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size from
# tracking GC heap-sizing decisions, which vary run to run
DRIVER_MEMORY = "2g"
# after the cold warm-up operation, op time falls by a quarter over about
# 10 s while the JIT compiles. A fixed stretch of time (not "until two ops
# agree", which host noise satisfies at random points of that curve) puts
# every run's first timed operation at the same point.
SETTLE_S = 12.0
SCALING_OPS = 2  # timed operations per side of the 1->4 scaling measurement


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(workdir: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``workdir``, and let the workers import the engine."""
    for sub in ("tmp", "spark-local"):
        (workdir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(workdir / "tmp")
    # every JVM (the launcher too): temp files in workdir, and no
    # /tmp/hsperfdata_* performance-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={workdir / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def start_session(cores: int, workdir: Path):
    from chronon_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    """Runs operations of one workload and keeps the attempt/fail counts."""

    def __init__(self, tree, rss):
        self.tree, self.rss = tree, rss
        self.attempted = self.failed = 0

    def run_op(self, w, calls) -> dict:
        """One operation: untimed reset, timed op, untimed output check."""
        w.reset()
        self.attempted += 1
        cpu0 = self.tree.cpu_s()
        self.rss.arm()
        start, t0 = time.time(), time.perf_counter()
        res, err = None, None
        try:
            res = w.op(calls)
        except Exception:  # an operation that raises is a failed attempt
            err = traceback.format_exc()
        wall = time.perf_counter() - t0
        self.rss.disarm()
        cpu = self.tree.cpu_s() - cpu0
        if err is None:
            try:
                err = w.check(res)
            except Exception:  # a check that cannot read the output fails it
                err = traceback.format_exc()
        if err is not None:
            self.failed += 1
            _log(f"{w.name}: operation failed: {err}")
        return {"start": start, "wall": wall, "cpu": cpu, "res": res, "ok": err is None, "calls": calls}

    def settle(self, w) -> None:
        """Untimed operations until SETTLE_S have passed."""
        from layers import LayerCalls

        ops = self.measure(w, SETTLE_S, lambda i: LayerCalls())
        _log(f"{w.name}: settled after {len(ops)} operations, walls " + ", ".join(f"{o['wall']:.3f}s" for o in ops))

    def attempt(self, label: str, fn):
        """An untimed extra step that checks its own output: counts as an
        operation, and as failed if it raises. Returns fn() or None."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            _log(f"{label} failed: {traceback.format_exc()}")
            return None

    def measure(self, w, seconds: float, make_calls, min_ops: int = 1) -> list[dict]:
        """Operations back to back until ``seconds`` have passed."""
        ops = []
        t_end = time.perf_counter() + seconds
        while len(ops) < min_ops or time.perf_counter() < t_end:
            ops.append(self.run_op(w, make_calls(len(ops))))
        return ops


def _turns_per_s(n_turns: int, ops: list[dict]) -> float:
    return n_turns / statistics.median(o["wall"] for o in ops)


def _median_dicts(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


def traced_layers(runner, w, spark, data, workdir, seconds, setup) -> dict:
    """The per-layer metrics of one workload (``--trace 1``)."""
    import kernel_bench
    from layers import LayerCalls, StatusStore, Tracer, plan_metrics
    from workloads import AsofDense, TiledBackfill

    tracer = Tracer()
    for name in ("sources.gen", "session.start", "session.warmup", "session.settle"):
        start, end = setup[name]
        tracer.add(name, start, end)
    store = StatusStore(spark)

    def alternate_calls(i):
        # untraced and traced operations alternate, so both see the same
        # point of the JIT warm-up and their difference is the overhead
        if i % 2 == 0:
            return LayerCalls()
        sid = tracer.add("operation", time.time(), float("nan"), trace=i)
        return LayerCalls(tracer, store, parent=sid, trace=i)

    both = runner.measure(w, seconds, alternate_calls, min_ops=2)
    untraced_ops, ops = both[0::2], both[1::2]
    per_op = []
    for o in ops:
        calls = o["calls"]
        tracer.spans[calls.parent].update(start=o["start"], end=o["start"] + o["wall"])
        snap = {k: [x for s in calls.snaps for x in s[k]] for k in ("nodes", "edges", "stages")}
        m = plan_metrics(store, snap)
        m.update({f"{name}_s": sec for name, sec in calls.seconds.items() if name != "asof_join"})
        if o["ok"]:
            m.update(w.counters(o["res"]))
        layer_spans = [s["id"] for s in tracer.spans if s["parent"] == calls.parent]
        m["trace.driver_self_s"] = sum(tracer.self_time(s) for s in layer_spans)
        per_op.append(m)
    out = _median_dicts(per_op)
    out["trace.overhead_turns_per_s"] = _turns_per_s(data.n_turns, untraced_ops) - _turns_per_s(data.n_turns, ops)
    out.update({f"{name}_s": end - start for name, (start, end) in setup.items() if name != "session.settle"})

    with tracer.span("kernels.bucket"):
        out.update(runner.attempt("kernels.bucket", lambda: kernel_bench.bucket_bench(spark, w.events_df, data.events))
                   or {})
    with tracer.span("kernels.sawtooth_lastk50"):
        out["kernels.sawtooth_lastk50_s"] = kernel_bench.sawtooth_lastk50(data.seed)
    if isinstance(w, TiledBackfill):
        calls = LayerCalls(tracer, store)
        out["tiles.rows"] = w.build_tiles(calls)
        out["tiles.build_s"] = calls.seconds["tiles.build"]
    if isinstance(w, AsofDense):
        out.update(_serving_layers(runner, spark, data, workdir, tracer, store))
    out["scaling.eff_1_to_4"] = _scaling(runner, w, spark, data, workdir, tracer)

    trace_dir = BENCH_DIR / ".traces"
    trace_dir.mkdir(exist_ok=True)
    path = trace_dir / f"{w.name}-seed{data.seed}.json"
    tracer.dump(path)
    top = sorted(((tracer.self_time(s["id"]), s["name"]) for s in tracer.spans), reverse=True)[:12]
    _log(f"spans written to {path}; largest self times: " + ", ".join(f"{n} {t:.2f}s" for t, n in top))
    return out


def _serving_layers(runner, spark, data, workdir, tracer, store) -> dict:
    """The serving path is not a timed workload (see README); its layers are
    measured in the traced run of asof_dense: one warm-up operation, then
    one traced operation."""
    from layers import LayerCalls
    from workloads import ServingFetch

    sf = ServingFetch(spark, data, str(workdir))
    sf.prepare()
    with tracer.span("serving_fetch") as sid:
        runner.run_op(sf, LayerCalls())
        o = runner.run_op(sf, LayerCalls(tracer, store, parent=sid))
    out = {f"{name}_s": sec for name, sec in o["calls"].seconds.items()}
    if o["ok"]:
        out.update(sf.counters(o["res"]))
    return out


def _settled_turns_per_s(runner, w) -> float:
    """Settling (its first operation is the warm-up of a new context or
    plan), then SCALING_OPS timed operations."""
    from layers import LayerCalls

    runner.settle(w)
    return _turns_per_s(w.data.n_turns, runner.measure(w, 0, lambda i: LayerCalls(), min_ops=SCALING_OPS))


def _scaling(runner, w, spark, data, workdir, tracer) -> float:
    """asof_dense turns/s on local[4] over 4x that on local[1], both sides
    measured the same way on every workload. Stops ``spark``."""
    from workloads import AsofDense

    if isinstance(w, AsofDense):
        a4 = w
    else:
        a4 = AsofDense(spark, data, str(workdir))
        a4.prepare()
    with tracer.span("scaling.local4"):
        tps4 = _settled_turns_per_s(runner, a4)
    spark.stop()
    with tracer.span("scaling.local1"):
        a1 = AsofDense(start_session(1, workdir), data, str(workdir))
        a1.sample, a1.want = a4.sample, a4.want
        tps1 = _settled_turns_per_s(runner, a1)
    _log(f"scaling: local[4] {tps4:.0f} turns/s, local[1] {tps1:.0f} turns/s")
    return tps4 / (CORES * tps1)


def run(args, workdir: Path, tree, rss) -> dict:
    from layers import LayerCalls
    from workloads import WORKLOADS, read_inputs

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    # set-up: data generation runs in its own process while the JVM starts
    setup: dict[str, tuple[float, float]] = {}
    t_setup, t = time.perf_counter(), time.time()
    gen = subprocess.Popen(
        [sys.executable, "-c", "import sys, workloads; workloads.write_inputs(int(sys.argv[1]), sys.argv[2])",
         str(args.seed), str(workdir)],
        env={**os.environ, "PYTHONPATH": os.pathsep.join([str(BENCH_DIR), os.environ["PYTHONPATH"]])},
        stdout=sys.stderr,
    )
    try:
        spark = start_session(CORES, workdir)
        setup["session.start"] = (t, time.time())
    finally:
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"input generation failed with exit code {gen.returncode}")
    data = read_inputs(args.seed, str(workdir))
    setup["sources.gen"] = (t, time.time())
    setup_s = time.perf_counter() - t_setup

    runner = Runner(tree, rss)
    w = WORKLOADS[args.workload](spark, data, str(workdir))
    w.prepare()  # the oracle's sample answers: output checking, not set-up
    t = time.time()
    t0 = time.perf_counter()
    runner.run_op(w, LayerCalls())
    setup_s += time.perf_counter() - t0
    setup["session.warmup"] = (t, time.time())
    _log("set-up: " + ", ".join(f"{k} {e - s:.2f}s" for k, (s, e) in setup.items()) + f", total {setup_s:.2f}s")
    t = time.time()
    runner.settle(w)
    setup["session.settle"] = (t, time.time())

    rss.peak_mb = 0.0
    if args.trace:
        values = traced_layers(runner, w, spark, data, workdir, args.seconds, setup)
        names = [m["name"] for m in spec["per_layer"]]
    else:
        ops = runner.measure(w, args.seconds, lambda i: LayerCalls())
        values = {
            "turns_per_s": _turns_per_s(data.n_turns, ops),
            "cpu_s_per_mturn": statistics.median(o["cpu"] for o in ops) / (data.n_turns / 1e6),
            "peak_rss_mb": rss.peak_mb,
            "setup_s": setup_s,
        }
        names = [m["name"] for m in spec["end_to_end"]]
        _log(f"{len(ops)} timed operations, walls " + ", ".join(f"{o['wall']:.3f}s" for o in ops))
        _log("CPU seconds " + ", ".join(f"{o['cpu']:.2f}" for o in ops))
        _log("peak PSS by process (MB): " + ", ".join(
            f"{_comm(p)}[{p}] {mb:.0f}" for p, mb in sorted(rss.peak_by_pid.items(), key=lambda x: -x[1])))
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names},
    }


def _shutdown(tree) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    children = tree.descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in children):
        time.sleep(0.1)
    stragglers = [p for p in children if _alive(p)]
    for p in stragglers:
        _log(f"killing process {p}, still running after shutdown")
        os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in stragglers):
        time.sleep(0.1)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "exited"


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["asof_dense", "tiled_backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("chronon_spark/__init__.py", "tests/oracle.py", "BENCHMARK.json") if not (ROOT / p).is_file()]
    if missing:
        _log(f"not a chronon_spark checkout (missing {', '.join(missing)}); run from the repository root")
        return 2
    if not __debug__:
        _log("the output checks use assert-based oracle comparisons; run without -O")
        return 2

    workdir = BENCH_DIR / ".work"
    shutil.rmtree(workdir, ignore_errors=True)
    _prepare_env(workdir)
    sys.path[:0] = [str(BENCH_DIR), str(ROOT)]
    from procfs import PeakRss, ProcTree

    tree = ProcTree()
    rss = PeakRss(tree)
    try:
        result = run(args, workdir, tree, rss)
    finally:
        rss.close()
        _shutdown(tree)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

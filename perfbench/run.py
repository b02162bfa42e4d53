"""Repository benchmark: streaming drains through the public pipeline entry
points, with output checks, and a traced run that splits time by layer.

    python3 perfbench/run.py --workload turns_trickle --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One run is one fresh process at
``local[<usable cores>]``:

1. ``session.get_spark`` three times (the first starts the JVM; each later
   one follows ``stop()``); ``setup_s`` is their median;
2. the seeded, event-time-ordered input is written (``inputs.py``);
3. one untimed warm-up drain over the first files of the input;
4. fresh drains of the whole input, until ``--seconds`` have passed;
5. every drain's committed output is checked against a batch reference.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` (an operation is one drain; it fails on an exception, a timeout
or a failed output check) and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The traced run
alternates untraced and traced drains, so the difference of their wall
times is the tracing overhead; it writes its spans to
``.perfbench/traces/``. Scratch files live in ``.perfbench/`` and are
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

from drains import Workload

ROOT = Path(__file__).resolve().parent.parent
SETUPS = 2
DRAIN_TIMEOUT_S = 60.0


WORKLOADS = {
    # ~800 turns per file and one file per trigger: the per-batch commit
    # path (planning, WAL, state commit, manifest) dominates
    "turns_trickle": Workload(
        "turns_trickle", "turns", n_convs=350, files=4, files_per_trigger=1,
        warm_files=1, redeliver_every=20, sentinel=False,
    ),
    # bucketed applyInPandasWithState FSM, eight files per trigger: the
    # Python grouped-state boundary does most of the work
    "cep_drain": Workload(
        "cep_drain", "cep", n_convs=2000, files=7, files_per_trigger=8,
        warm_files=1, redeliver_every=None, sentinel=True,
    ),
    # ~600k turns, eight files per trigger: per-row work dominates. Too
    # long for the benchmark's run budget; run by hand for the baseline
    "turns_drain": Workload(
        "turns_drain", "turns", n_convs=50_000, files=64, files_per_trigger=8,
        warm_files=8, redeliver_every=20, sentinel=False,
    ),
}


class EnvironmentGuardError(RuntimeError):
    pass


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            pass
    return out


def _descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            seen.append(c)
            todo.append(c)
    return seen


def _hwm_mb(pids: list[int]) -> float:
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return kb / 1024


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the Python
    workers under it have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = []
    if proc is not None:
        pids = [proc.pid] + _descendants(proc.pid)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def _env_guard(spark, nproc: int) -> dict:
    from dataflow_mm_spark.session import runtime_gc

    gc = runtime_gc(spark)
    env = {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "gc": gc,
    }
    if not gc or not all(n.startswith("PS ") for n in gc):
        raise EnvironmentGuardError(
            f"driver JVM runs collector {gc}, not ParallelGC; stateful "
            "streaming numbers from it are not comparable"
        )
    return env


def run(args, work: Path) -> dict:
    import drains as D
    from inputs import copy_prefix, write_ordered_input
    from spans import Tracer, self_times

    from dataflow_mm_spark.session import get_spark

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    tracer = Tracer() if args.trace else None

    def setup(master: str):
        t0, w0 = time.perf_counter(), time.time()
        s = get_spark("perfbench", master=master)
        took = time.perf_counter() - t0
        if tracer is not None:
            tracer.add("get_spark", "session", w0, time.time(), None)
        return s, took

    t_run = time.perf_counter()
    marks: dict[str, float] = {}  # seconds into the run at the end of each phase

    def mark(phase: str) -> None:
        marks[phase] = round(time.perf_counter() - t_run, 2)

    spark, setup_s = None, []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, took = setup(master)
            setup_s.append(took)
        env = _env_guard(spark, nproc)
        mark("setup")
        print(json.dumps({"env": env}), flush=True)

        inp = write_ordered_input(
            spark, str(work / "input"), wl.n_convs, wl.files, args.seed,
            wl.redeliver_every, wl.sentinel,
        )
        warm_inp = copy_prefix(spark, inp, str(work / "warm-input"), wl.warm_files)
        mark("input")
        refs = {i.path: D.reference(spark, wl, i) for i in (inp, warm_inp)}
        mark("reference")

        attempted = failed = 0
        problems: list[str] = []

        def drain(i, tag, tr=None):
            nonlocal attempted, failed
            attempted += 1
            try:
                return D.run_drain(spark, wl, i, str(work), tag, DRAIN_TIMEOUT_S, tr)
            except Exception as ex:  # noqa: BLE001 — a failed drain is counted
                failed += 1
                problems.append(f"{tag}: {type(ex).__name__}: {ex}")
                return None

        warm = drain(warm_inp, "warm")
        measured: list = []
        t_measure = time.perf_counter()
        k = 0
        while (len(measured) < (3 if tracer else 1)
               or time.perf_counter() - t_measure < args.seconds):
            # the traced run alternates untraced and traced drains, starting
            # and ending untraced, so drift along the JIT warm-up cancels out
            # of the overhead estimate
            d = drain(inp, f"d{k}", tracer if tracer and k % 2 else None)
            k += 1
            if d is not None:
                measured.append(d)
            if attempted > 50:  # every drain failing fast must still end
                break

        mark("drains")
        for d in ([warm] if warm else []) + measured:
            bad = D.check(spark, wl, d, refs[d.input.path])
            if bad:
                failed += 1
                problems += bad
        mark("checks")
        pids = [_jvm_pid(spark)]
        pids += _descendants(pids[0])
        peak_rss_mb = _hwm_mb(pids)
        for p in problems:
            print("FAILED", p, file=sys.stderr)
        print(json.dumps({
            "setup_s": setup_s, "input": inp.__dict__, "marks": marks,
            "warm_s": warm.wall_s if warm else None,
            "drains": [(round(d.wall_s, 3), len(d.progress), d.traced) for d in measured],
            "batch_ms": [D.batch_ms(d) for d in measured],
            "rss_mb": [round(_hwm_mb([p])) for p in pids],
        }), file=sys.stderr, flush=True)

        plain = [d for d in measured if not d.traced]
        if not args.trace:
            batches = [ms for d in plain for ms in D.batch_ms(d)]
            metrics = {
                "setup_s": (statistics.median(setup_s), "s"),
                "turns_per_s": (statistics.median(
                    d.input.rows / d.wall_s for d in plain), "turns/s"),
                "batch_ms_p50": (statistics.median(batches), "ms"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        else:
            metrics = _layer_metrics(D, wl, warm, measured, tracer, self_times)
            # single-threaded baseline: the same drain at local[1], recorded
            # and not scored
            spark.stop()
            spark, _ = setup("local[1]")
            d = D.run_drain(spark, wl, inp, str(work), "local1", 3 * DRAIN_TIMEOUT_S)
            metrics["jobs.local1_turns_per_s"] = (inp.rows / d.wall_s, "turns/s")
    finally:
        if spark is not None:
            _shutdown(spark)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if tracer is not None:
        out = ROOT / ".perfbench" / "traces"
        out.mkdir(parents=True, exist_ok=True)
        tracer.dump(str(out / f"{args.workload}-seed{args.seed}.json"),
                    env=env, input=inp.__dict__, result=result)
    return result


def _layer_metrics(D, wl, warm, measured, tracer, self_times) -> dict:
    plain = [d for d in measured if not d.traced]
    traced = [d for d in measured if d.traced]
    rows = [D.drain_layers(d, wl) for d in measured]
    units = {"_ms": "ms", "_s": "s", "_bytes": "bytes", "_ratio": "ratio"}
    out = {}
    for key in dict.fromkeys(k for r in rows for k in r):
        v = D.median_of(rows, key)
        unit = next((u for suf, u in units.items() if key.endswith(suf)), "count")
        out[key] = (v, unit)
    out["jobs.first_drain_s"] = (warm.wall_s if warm else 0.0, "s")

    roots = {s["id"] for d in traced for s in d.spans if s["name"] == "drain"}
    by_layer = self_times(tracer.spans, roots)
    n = max(1, len(traced))
    for layer in D.LAYERS:
        out[f"self_s.{layer}"] = (by_layer.get(layer, 0.0) / n, "s")
    setups = [s for s in tracer.spans if s["name"] == "get_spark"]
    out["self_s.session"] = (
        statistics.median(s["end"] - s["start"] for s in setups), "s")
    traced_wall = statistics.median(d.wall_s for d in traced)
    plain_wall = statistics.median(d.wall_s for d in plain)
    self_sum = sum(v for k, v in by_layer.items()) / n
    out["trace.drain_wall_s"] = (traced_wall, "s")
    out["trace.self_sum_ratio"] = (self_sum / (sum(d.wall_s for d in traced) / n), "ratio")
    out["trace.overhead_s"] = (traced_wall - plain_wall, "s")
    out["trace.overhead_ratio"] = ((traced_wall - plain_wall) / plain_wall, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "dataflow_mm_spark" / "__init__.py").is_file():
        print(f"no dataflow_mm_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # keep every file the run writes inside the checkout, and let the
    # Python workers import the package from it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(1, str(ROOT))
    try:
        result = run(args, work)
    except EnvironmentGuardError as ex:
        print(f"environment guard: {ex}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the inputs from ``--seed``,
starts the engine's own session (``session.get_spark``), sets up the
workload, measures it for ``--seconds``, checks every output, and prints
one JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The full record of the run
(samples, spans, resolved session confs, diagnostics, failures) goes to
``.perfbench/<workload>-seed<seed>-trace<t>.json`` in the checkout.
Everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_warm", "refresh_cold")
# generated snapshot scale: sf0.01 row ratios (lineitem 60k rows,
# events 10k, documents 500, embeddings 200)
SF = 0.01
CONFS = (
    "spark.master",
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.driver.memory",
    "spark.sql.adaptive.enabled",
    "spark.default.parallelism",
)
OVERHEAD = "tracing.overhead_"


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names and units, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    units = lambda key: {m["name"]: m["unit"] for m in spec[key]}  # noqa: E731
    return units("end_to_end"), units("per_layer")


def cpu_probe() -> float:
    """Fixed CPU calibration: median of three timings of the same
    64 MiB of sha256. A diagnostic of the host's CPU weather."""
    buf = b"\x5a" * (1 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)
        h.digest()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def jvm_live_mb(spark) -> tuple[float, float]:
    """Driver JVM memory in use after a full collection, in MiB: live
    heap (plan memo, pinned frames, caches) and non-heap (classes,
    compiled code). The heap is the least of three collections, so
    garbage made by background threads between a collection and its
    reading does not count."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        heap.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.2)
    return min(heap), bean.getNonHeapMemoryUsage().getUsed() / 2**20


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _sandbox(work: str) -> None:
    """Keep every scratch write of the run (JVM, Spark, Python) inside
    the checkout's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the driver JVM, and the short-lived JVM that spark-submit runs
    # first to build the driver's command line
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        opts = os.environ.get(var, "")
        os.environ[var] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def _warmup(spark) -> None:
    """Session warm-up every process pays once: the first job, and one
    Python worker per core."""
    n = spark.sparkContext.defaultParallelism

    def ident(batches):
        yield from batches

    spark.range(0, n * 4, 1, n).mapInPandas(ident, schema="id long").count()


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "energy_data_pipeline_spark")) or not os.path.isfile(
        os.path.join(ROOT, "BENCHMARK.json")
    ):
        print(
            f"perfbench: no energy_data_pipeline_spark package or BENCHMARK.json under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    _sandbox(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import workloads as W
    from tracing import Spans, StatusCollector

    diag = {"calibration_start_s": cpu_probe(), "loadavg_start": os.getloadavg()}
    t0 = time.perf_counter()
    snap = gen.Snapshot(SF)
    base = os.path.join(work, "base")
    snap.write(args.seed, base)
    diag["generate_s"] = time.perf_counter() - t0

    from energy_data_pipeline_spark.session import get_spark

    spans = Spans()
    nproc = os.cpu_count() or 1
    # the engine's host sizing knob (the session factory derives the
    # shuffle partition count from it), set as the repository's own
    # test and bench commands set it
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    with spans("setup") as setup_span:
        with spans("session.start") as sp_start:
            spark = get_spark(master=f"local[{nproc}]")
            spark.sparkContext.setLogLevel("ERROR")
        try:
            run = W.Run(spark, spans, work, args.seed)
            if args.trace:
                run.collector = StatusCollector(spark)
            with spans("session.warmup") as sp_warm:
                _warmup(spark)
            run.observe()
            if args.workload == "refresh_cold":
                wl = W.RefreshCold()
                prep = wl.setup(run, base, snap)
            else:
                wl = W.ServeWarm()
                prep = wl.setup(run, base)
        except BaseException:
            _stop(spark)
            raise

    # what a traced set-up collected, kept apart from the measured work
    setup_layers = run.layers.copy()
    run.layers.clear()
    try:
        confs = {k: spark.conf.get(k, None) for k in CONFS}
        confs["spark.master"] = spark.sparkContext.master
        confs["spark.default.parallelism"] = spark.sparkContext.defaultParallelism
        # serve_warm's cold read is its priming pass
        result = {"setup_s": setup_span.seconds, "cold_read_s": prep.get("cold_read_s")}
        result |= wl.measure(run, args.seconds)
        if args.trace:
            layers = _layers(run, result, setup_layers, sp_start.seconds, sp_warm.seconds)
        jvm_live = jvm_live_mb(spark)
        jvm_hwm = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        entry_bad, pipeline_bad = wl.check(run)
        entry_bad = {**run.failures, **entry_bad}
    finally:
        _stop(spark)
    py_hwm = vm_hwm_mb("self")
    # the JVM's peak RSS depends on when its heap happened to grow
    # (an 8g ceiling, grown on demand), so the metric is the live
    # footprint; both peaks stay in the run record
    result["mem_mb"] = sum(jvm_live) + py_hwm
    diag.update(jvm_vmhwm_mb=jvm_hwm, python_vmhwm_mb=py_hwm, jvm_heap_live_mb=jvm_live[0],
                jvm_nonheap_mb=jvm_live[1])
    diag.update(calibration_end_s=cpu_probe(), loadavg_end=os.getloadavg(), collector_s=run.trace_s)

    attempted, failed, failing = _accounting(result, wl.checked, entry_bad, pipeline_bad)
    e2e_units, layer_units = declared_metrics()
    end_to_end = {k: result[k] for k in e2e_units}
    if args.trace:
        layers |= _overhead(out_dir, args, end_to_end)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items() if k in layers}
        missing = [k for k in layer_units if k not in layers]
        if missing:
            print(f"perfbench: no untraced record of this workload yet, so no {', '.join(missing)}",
                  file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": e2e_units[k]} for k, v in end_to_end.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": SF,
        "confs": confs,
        "diagnostics": diag,
        "setup": {"session_start_s": sp_start.seconds, "session_warmup_s": sp_warm.seconds, **prep},
        "end_to_end": end_to_end,
        "failed_ratio": failed / attempted,
        "failing": failing,
        "families": _families(result["samples"]),
        "samples": result["samples"],
        "ticks": [
            {k: t[k] for k in ("tick", "steps", "refresh_s", "cold_read_s", "cold_read_passes_s", "first_touch_s",
                               "version", "commits", "batches", "error")}
            | {"flow": {n: vars(r) for n, r in t["flow"]["tasks"].items()} if t.get("flow") else None}
            for t in result.get("ticks", [])
        ],
        "spans": spans.rows if args.trace else None,
        "self_times_s": spans.self_times() if args.trace else None,
        "metrics": metrics,
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    for name, why in failing.items():
        print(f"FAILED {name}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not failing, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def _accounting(result: dict, checked: int, entry_bad: dict[str, str], pipeline_bad: dict[str, str]):
    """Attempts are the timed calls, the refresh ticks and the checked
    outputs. A call fails when it raised or its entry's output failed
    the check (every call of that entry served a wrong answer); a tick
    fails when any pipeline invariant failed; a check fails when the
    output is wrong. Failed samples stay in the timings."""
    samples = result["samples"]
    ticks = result.get("ticks", [])
    failing = {**pipeline_bad, **entry_bad}
    for s in samples:
        if s["error"]:
            failing.setdefault(s["name"], s["error"])
    failed = sum(1 for s in samples if s["error"] or s["name"] in entry_bad)
    failed += len(entry_bad) + (len(ticks) if pipeline_bad else 0)
    return len(samples) + len(ticks) + checked, failed, failing


def _families(samples: list[dict]) -> dict[str, dict[str, float]]:
    """Latency and (traced) per-call layer means for each family of
    served names (relational entries, corpus entries, panels)."""
    import workloads as W
    from workloads import quantile

    groups: dict[str, list[dict]] = {}
    for s in samples:
        groups.setdefault(W.family(s["name"]), []).append(s)
    out = {}
    for fam, rows in groups.items():
        walls = [s["wall"] for s in rows]
        rec = {"calls": len(rows), "query_p50_s": quantile(walls, 0.5), "query_p90_s": quantile(walls, 0.9)}
        keys = {k for s in rows for k in s.get("layers", {})}
        for k in sorted(keys):
            rec[k] = sum(s.get("layers", {}).get(k, 0.0) for s in rows) / len(rows)
        out[fam] = rec
    return out


def _overhead(out_dir: str, args, traced: dict[str, float]) -> dict[str, float]:
    """Tracing overhead of each end-to-end metric: this traced run's
    value minus the untraced run's value, for the same workload and
    ``--seconds``. The untraced run of the same seed is preferred, else
    the latest untraced run; with none, nothing is reported."""
    same = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
    records = [same] if os.path.isfile(same) else []
    if not records:
        prefix = f"{args.workload}-seed"
        records = sorted(
            (os.path.join(out_dir, f) for f in os.listdir(out_dir)
             if f.startswith(prefix) and f.endswith("-trace0.json")),
            key=os.path.getmtime,
            reverse=True,
        )
    for path in records:
        with open(path, encoding="utf-8") as f:
            rec = json.load(f)
        if rec.get("seconds") == args.seconds and set(traced) <= set(rec.get("end_to_end", {})):
            return {f"{OVERHEAD}{k}": v - rec["end_to_end"][k] for k, v in traced.items()}
    return {}


def _layers(run, result, setup_layers, start_s: float, warm_s: float) -> dict[str, float]:
    """Per-layer metrics of the traced run. Status-store counters of the
    measured work are per unit of work: per served call on serve_warm,
    per tick (its refresh plus its cold reads) on refresh_cold.
    ``python.start_s`` is the run's total, set-up included: workers are
    reused, so they start in the warm-up. The ``tracing.overhead_*``
    metrics are left to ``_overhead``."""
    L = run.layers
    ticks = result.get("ticks", [])
    per = len(ticks) or len(result["samples"])
    names = [k for k in declared_metrics()[1] if not k.startswith(OVERHEAD)]
    out = {k: float(L.get(k, 0.0)) / per for k in names}
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warm_s
    out["python.start_s"] = setup_layers["python.start_s"] + L["python.start_s"]
    out["plans.pinned_mb"] = run.collector.pinned_mb()
    rows = L.get("sinks.rows_written", 0.0)
    out["sinks.bytes_per_row"] = L["sinks.bytes_written_mb"] * 2**20 / rows if rows else 0.0
    for t in ticks:
        for step, secs in t["steps"].items():
            if step != "jobs.corpus_refresh":
                out[f"{step}_s"] += secs / per
        for task, rep in t.get("flow", {"tasks": {}})["tasks"].items():
            out[f"jobs.corpus_refresh.{task}_s"] += rep.seconds / per
            out["jobs.retries"] += max(rep.attempts - 1, 0) / per
            out["jobs.failed_tasks"] += (rep.status != "OK") / per
        out["sinks.manifest_commits"] += t["commits"] / per
        out["streaming.batches"] += t["batches"] / per
    return out


if __name__ == "__main__":
    sys.exit(main())

"""Repository benchmark: one workload, one seed, one closed-loop run.

Run from the repository root::

    python3 perfbench/run.py --workload crawl_import --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it is a report with the host stamp and
the details behind the metrics.  Spark runs as ``local[nproc]`` unless
``SPARK_GRAFT_CPUS`` is set.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# a run times at least this many rotations: three samples of each op
# kind, so that the kind's median leaves out one the host slowed
TIMED_ROTATIONS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> dict:
    """Pin Spark to this host's cores and make the package importable by
    the Python workers the way a deployment ships it: on PYTHONPATH."""
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # temporary files stay inside the checkout: Python's (the gateway's
    # connection file) via TMPDIR, the JVMs' perf-data files not at all
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    from perfbench.probes import load1

    return {"nproc": nproc, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"], "load1_before": load1()}


def _session(work: str, trace: bool):
    from dicomdb_spark.session import get_spark

    os.makedirs(os.path.join(work, "jvm-tmp"))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # the driver's temporary directories stay inside the checkout
        "spark.driver.extraJavaOptions": f'-Djava.io.tmpdir="{os.path.join(work, "jvm-tmp")}"',
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _loop(w, first: int, seconds: float, min_ops: int, traced: bool = False, spans=None) -> list[dict]:
    """Closed loop, one client: ops until ``seconds`` have passed, at
    least ``min_ops`` ran and the ops make whole rotations."""
    out = []
    i = first
    t_end = time.perf_counter() + seconds
    while True:
        w.before_op(i)
        err = None
        t = time.perf_counter()
        try:
            if traced:
                w.traced_op(i, spans)
            else:
                w.op(i)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            err = e
            traceback.print_exc()
        dt = time.perf_counter() - t
        ok = False
        if err is None:
            try:
                ok = w.check(i)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
        out.append({"i": i, "s": dt, "ok": ok, "items": w.items(i) if ok else 0})
        i += 1
        n = len(out)
        if time.perf_counter() >= t_end and n >= min_ops and n % w.rotation == 0:
            return out


def _summary(ops: list[dict], rotation: int) -> dict:
    """End-to-end figures of a run's timed ops.  Throughput is over the
    sum of op latencies; the median is taken per op kind first (op ``i``
    is of kind ``i % rotation``), so that on a mix of slow and fast kinds
    it does not hang on the slowest fast op and the fastest slow one."""
    from perfbench.stats import kind_medians, tail

    lat = [o["s"] for o in ops]
    busy = sum(lat)
    good = [o for o in ops if o["ok"]]
    medians = kind_medians(lat, rotation)
    value, pct, beyond = tail(lat)
    if not beyond:  # too few ops for the tail rule: the slowest kind's median
        value, pct = max(medians), None
    return {
        "ops": len(ops),
        "ok": len(good),
        "busy_s": busy,
        "ops_per_s": len(good) / busy,
        "items_per_s": sum(o["items"] for o in good) / busy,
        "op_p50_s": statistics.median(medians),
        "op_tail_s": value,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "kind_medians_s": [round(x, 4) for x in medians],
        "latencies_s": [round(x, 4) for x in lat],
    }


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "dicomdb_spark")):
        print(f"perfbench: no dicomdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run with this pid
    os.makedirs(work)
    try:
        return _run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work: str) -> int:
    host = _environment(work)
    from perfbench import probes
    from perfbench.metrics import END_TO_END
    from perfbench.workloads import WORKLOADS, Context

    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with probes.RssSampler() as rss:
        spark = _session(work, bool(a.trace))
        session_s = time.perf_counter() - T_START
        try:
            w = WORKLOADS[a.workload](Context(spark, a.seed, work))
            t = time.perf_counter()
            w.generate()
            gen_s = time.perf_counter() - t
            w.prepare()
            w.warm_up()
            warm_s = time.perf_counter() - t - gen_s
            setup_s = time.perf_counter() - T_START
            if not a.trace:
                ops = _loop(w, 0, a.seconds, w.rotation * TIMED_ROTATIONS)
                traced = []
            else:
                spans = probes.Spans()
                ops = _loop(w, 0, a.seconds / 4, w.rotation)
                traced = _loop(w, len(ops), a.seconds / 4, max(2, w.rotation), True, spans)
        finally:
            _stop(spark)
    host["load1_after"] = probes.load1()
    host["seed"] = a.seed
    every = ops + traced
    failed = sum(1 for o in every if not o["ok"])
    s = _summary(ops, w.rotation)
    report = {
        "workload": a.workload,
        "host": host,
        "setup": {"session_s": session_s, "generate_s": gen_s, "prepare_warm_up_s": warm_s},
        "ops": s,
        "failed_op_ratio": failed / len(every),
    }
    if not a.trace:
        values = dict(s, setup_s=setup_s, correct_op_ratio=1.0 - failed / len(every), peak_rss_mb=rss.peak_mb)
        metrics = {name: (float(values[name]), unit) for name, unit, _better in END_TO_END}
    else:
        metrics = _layer_metrics(w, a, work, session_s, s, _summary(traced, w.rotation), spans)
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(every),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _layer_metrics(w, a, work, session_s, untraced, traced, spans) -> dict:
    """Every per-layer metric of BENCHMARK.json; a layer the workload
    does not run reads 0."""
    from perfbench import metrics, probes

    n = traced["ops"]
    w.finish_trace(n, probes.engine_counters(os.path.join(work, "eventlog")), spans)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans.dump(os.path.join(out_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    values = dict(w.layer)
    values["session.start_s"] = session_s
    values["trace.untraced_ops_per_s"] = untraced["ops_per_s"]
    values["trace.traced_ops_per_s"] = traced["ops_per_s"]
    values["trace.overhead_ratio"] = untraced["ops_per_s"] / traced["ops_per_s"]
    for layer, counters in w.engine_layers.items():
        for k, v in counters.items():
            values[f"{layer}.{k}"] = v
    return {name: (float(values.get(name, 0.0)), unit) for name, unit, _better in metrics.PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())

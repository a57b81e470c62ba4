"""Lakehouse benchmark entry point.

    python3 perfbench/run.py --workload cdc_mixed --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds a fresh scratch space under
``.perfbench_work/``, starts one ``local[nproc]`` Spark session through
the package's session factory, runs one workload (see README.md), checks
its outputs, and prints one JSON result as the last line of stdout:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Lines before it starting with ``#`` are human-readable
context (host probe, tail percentile used, the per-layer table).

Exits non-zero without a result when the package cannot be imported,
and non-zero after printing the result when a correctness gate fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _driver_mem() -> str:
    """A quarter of the host's memory, 1-4 GiB: the session factory's
    32g default is sized for a 32-core box, not a shared small host."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def _isolate(work: Path, cpus: int) -> dict[str, str]:
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        # Python workers run one per task slot; keep their math single
        # threaded so the process never runs more threads than cores
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
    })
    tempfile.tempdir = str(work / "tmp")  # gettempdir() may have cached /tmp already
    return {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def _layer_table(layers: dict[str, float], wall: float, counters, overhead) -> list[str]:
    """The per-layer block: self time and share of the traced units'
    wall, with the Spark counters of the jobs each layer tagged."""
    lines = [f"# traced wall {wall:.3f} s; tracing overhead {overhead[0]:+.3f} s per unit "
             f"({overhead[1]:+.1%} of an untraced unit)",
             "# layer       self_s   share   jobs  tasks   cpu_ms  python_ms   shuffle_w_B  gap_s"]
    for name in (*layers, "other"):
        self_s = layers.get(name, 0.0)
        c = counters.get(name, {})
        lines.append(f"# {name:<10} {self_s:7.3f} {self_s / wall if wall else 0:7.1%} "
                     f"{c.get('jobs', 0):6.0f} {c.get('tasks', 0):6.0f} "
                     f"{c.get('executor_cpu_ms', 0):8.0f} {c.get('python_ms', 0):10.0f} "
                     f"{c.get('shuffle_write_bytes', 0):13.0f} {c.get('driver_gap_s', 0):6.2f}")
    return lines


def main(argv=None) -> int:
    args = _parse(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    try:
        import datalake_iceberg_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2
    if Path(datalake_iceberg_spark.__file__).resolve().parents[1] != ROOT:
        print("perfbench: the engine package is not this checkout's", file=sys.stderr)
        return 2
    from perfbench import harness, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    conf = _isolate(work, cpus)
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": str(work / "eventlog")})
    host = harness.HostProbe()
    spark = None
    try:
        from datalake_iceberg_spark.session import create_spark_session

        spark, session_s = harness.timed(create_spark_session, app_name="perfbench", extra_conf=conf)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        tracer = trace.Tracer(spark.sparkContext)
        if args.trace:
            tracer.install()
        honest = harness.timed_action_is_honest(spark)
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, bool(args.trace), str(work))
        res = workloads.WORKLOADS[args.workload](ctx)
        res.gates["timed_action_computes_every_column"] = honest
        rss = harness.peak_rss_mb(jvm_pid)
        tracer.uninstall()
        _stop(spark)  # closes the event log
        spark = None
        counters = trace.spark_counters(str(work / "eventlog"), tracer) if args.trace else {}
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    lat = harness.latency_summary(res.ops)
    hostm = host.metrics()
    print(f"# host: cpus={cpus} " + " ".join(f"{k}={v:.4g}" for k, v in hostm.items()))
    print(f"# {args.workload}: {lat['n']} timed ops, geometric mean {lat['gmean']:.3f} s, "
          f"median {lat['p50']:.3f} s, p{lat['tail_pct']} {lat['tail']:.3f} s; "
          f"{res.items} items in {res.timed_s:.3f} s")
    print("# op latencies (s, in order): " + " ".join(f"{v:.3f}" for v in res.ops))
    bad = sorted(k for k, ok in res.gates.items() if not ok)
    print(f"# gates: {len(res.gates) - len(bad)}/{len(res.gates)} passed" + (f"; FAILED {bad}" if bad else ""))
    latency_s = statistics.geometric_mean(res.primary)
    items_per_s = res.items / res.timed_s
    op_cpu = {k: statistics.median(v) for k, v in res.op_cpu.items()}
    print(f"# wall: latency geometric mean {latency_s:.3f} s, {items_per_s:.4g} items/s; "
          "CPU per operation kind (median s): "
          + " ".join(f"{k}={v:.3f}" for k, v in op_cpu.items()))
    values = {
        "setup_s": session_s + res.setup_s,
        "op_cpu_s": statistics.geometric_mean(op_cpu.values()),
        "cpu_ms_per_item": 1000 * res.timed_cpu_s / res.items,
    }
    print(f"# peak_rss_mb={rss:.1f} (driver JVM + Python)")
    if args.trace:
        self_by = tracer.self_by_layer()
        wall = tracer.traced_wall()
        self_by["uncovered"] = max(0.0, wall - tracer.top_level_s())
        overhead = tracer.overhead_s()
        ingest = res.layer.get("ingest.snapshot_s")
        print(f"# set-up, outside the traced units: session start {session_s:.3f} s"
              + (f", ingest {ingest:.3f} s" if ingest else ""))
        for line in _layer_table(self_by, wall, counters, overhead):
            print(line)
        values = {"session.create_s": session_s, **res.layer, **hostm, "host.peak_rss_mb": rss,
                  "wall.latency_s": latency_s, "wall.items_per_s": items_per_s,
                  "trace.overhead_s": overhead[0], "trace.overhead_frac": overhead[1],
                  "trace.wall_s": wall}
        for layer, s in self_by.items():
            values[f"layer.{layer}.self_s"] = s
            values[f"layer.{layer}.share"] = s / wall if wall else 0.0
        for layer, row in counters.items():
            for k, v in row.items():
                values[f"spark.{k}" if layer == "all" else f"spark.{layer}.{k}"] = v
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": not bad, "attempted": max(1, res.attempted),
                      "failed": len(bad), "metrics": metrics}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

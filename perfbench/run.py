"""Tick-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload live --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository; it imports the engine
package (``exness_data_preprocess_spark``) from there and exits non-zero,
printing no result, when the package is missing. Everything it writes,
Spark's scratch space included, goes to ``.perfbench_work/<pid>/`` under
the current directory, which is removed at the end; a traced run leaves
its spans in ``.perfbench_work/``.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, measured with spans around
every call into the engine (see ``perfbench/trace.py``). The lines before it
print the Spark conf, the machine load and every metric by name and unit.
See ``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path.cwd()
PACKAGE = "exness_data_preprocess_spark"

#: session pinned through get_spark's public arguments; the package default
#: heap (16g) is larger than the 15 GiB machine the benchmark was sized on
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"

#: the gated end-to-end metrics, reported by every workload
E2E_UNITS = {
    "setup_s": "s",
    "ingest_ticks_per_s": "1/s",
    "update_p50_ms": "ms",
    "store_bytes_per_tick": "B",
    "query_ops_per_s": "1/s",
}
#: reported next to them, not gated (README.md says why)
REPORT_UNITS = {
    "query_p50_ms": "ms", "query_p95_ms": "ms", "requests": "count",
    "update_month_s": "s", "months": "count", "append_p50_ms": "ms", "appends": "count",
}
#: spans whose self time the traced run reports
SELF_TIMED = (
    "insert_ticks", "catalog.write_ticks", "ingest.decode", "regenerate_ohlc",
    "missing_months", "catalog.read", "query.register_views",
)


def cpu_jiffies() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... (empty where there is none)."""
    try:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return []


def machine_load(since: list[int]) -> dict:
    """1-minute load average now, and the share of CPU time the host stole
    from this machine since ``since``."""
    now = cpu_jiffies()
    delta = [b - a for a, b in zip(since, now)]
    steal = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else None
    return {"load1": os.getloadavg()[0], "steal_share": steal}


def start_session(work: Path):
    from exness_data_preprocess_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it runs in and wait for it to exit.

    ``spark.stop()`` leaves the gateway JVM running until this process
    exits; closing its stdin makes it exit now."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(run, tracer, client, proc, out: dict) -> dict:
    """Per-layer numbers of the measured part of a traced run."""
    from perfbench.workloads import FAMILIES, store_bytes

    def p50(xs, scale=1.0):
        return scale * statistics.median(xs) if xs else 0.0

    def p95(xs, scale=1.0):
        if len(xs) < 2:
            return p50(xs, scale)
        return scale * statistics.quantiles(xs, n=20, method="inclusive")[-1]

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (run.session_s, "s")
    m["ingest.decode_s"] = (p50(run.timings.get("ingest.decode", [])), "s")
    m["ingest.rows_decoded"] = (run.counts.get("ingest.rows_decoded", 0), "count")
    writes = tracer.durations("catalog.write_ticks")
    m["catalog.write_ticks_p50_s"] = (p50(writes), "s")
    offered = run.counts.get("rows_offered", 0)
    m["catalog.rows_kept_ratio"] = (run.counts.get("rows_kept", 0) / offered if offered else 0.0, "ratio")
    m["catalog.files_written"] = (run.counts.get("files_written", 0), "count")
    m["catalog.bytes_written"] = (run.counts.get("bytes_written", 0), "B")
    m["catalog.read_p50_ms"] = (p50(tracer.durations("catalog.read"), 1000), "ms")
    size, files = store_bytes(proc)
    m["catalog.files_per_table"] = (files / 3, "count")
    m["gaps.missing_months_p50_ms"] = (p50(run.timings.get("missing_months", []), 1000), "ms")
    m["ohlc.regenerate_p50_s"] = (p50(run.timings.get("regenerate_ohlc", [])), "s")
    m["ohlc.bars_written"] = (run.counts.get("bars_written", 0), "count")
    lat_all = sorted(x for v in client.latency.values() for x in v)
    m["query.mix_p50_ms"] = (p50(lat_all, 1000), "ms")
    m["query.mix_p95_ms"] = (p95(lat_all, 1000), "ms")
    for fam in FAMILIES:
        lat = client.latency[fam]
        m[f"query.{fam}_p50_ms"] = (p50(lat, 1000), "ms")
        m[f"query.{fam}_p95_ms"] = (p95(lat, 1000), "ms")
        m[f"query.{fam}_rows"] = (client.rows[fam], "count")
    views = tracer.durations("query.register_views")
    m["query.register_views_ms"] = (p50(views, 1000), "ms")
    m["query.view_registrations"] = (len(views), "count")
    jobs = tracer.job_counts()
    for fam in (*FAMILIES, "query.register_views"):
        j, t = jobs.get(fam, (0, 0))
        key = fam.replace("query.", "")
        m[f"spark.jobs.{key}"] = (j, "count")
        m[f"spark.tasks.{key}"] = (t, "count")
    self_times = tracer.self_times()
    for name in (*SELF_TIMED, *(f"request.{f}" for f in FAMILIES)):
        m[f"self.{name}_s"] = (self_times.get(name, 0.0), "s")
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.query_ops_per_s"] = (out["query_ops_per_s"], "1/s")
    m["trace.update_p50_ms"] = (out["update_p50_ms"], "ms")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: no {PACKAGE}/ package under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.trace import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / str(os.getpid())
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # every scratch file of Python, the JVMs (Spark's launcher included: no
    # hsperfdata in /tmp) and Spark stays in the checkout
    os.environ.update(TZ="UTC", TMPDIR=str(work / "tmp"),
                      SPARK_LOCAL_DIRS=str(work / "spark-local"),
                      JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    time.tzset()
    tempfile.tempdir = None
    load1_before, jiffies_before = os.getloadavg()[0], cpu_jiffies()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else NullTracer()
        run = workloads.Run(spark, work, args.seed, args.seconds, tracer)
        run.session_s = session_s
        run.setup_s = session_s
        out = workloads.WORKLOADS[args.workload](run)
        client, proc = out.pop("_client"), out.pop("_proc")
        report = out.pop("_report")
        out["setup_s"] = run.setup_s
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if k in ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                         "spark.sql.adaptive.enabled", "spark.sql.parquet.compression.codec")}
        print("conf " + json.dumps(conf, sort_keys=True))
        print("machine " + json.dumps({"load1_before": load1_before,
                                       **machine_load(jiffies_before)}))
        report.update((k, out.pop(k)) for k in list(out) if k in REPORT_UNITS)
        print("report " + json.dumps({"workload": args.workload, "seed": args.seed,
                                      "input_gen_s": run.gen_s, **report}))
        for name, value in report.items():
            print(f"metric {name} = {value:.6g} {REPORT_UNITS[name]} (not gated)")
        for e in run.errors:
            print("failed-op " + e)
        if args.trace:
            metrics = per_layer(run, tracer, client, proc, out)
            tracer.dump(work.parent / f"spans-{args.workload}-{args.seed}.jsonl")
        else:
            metrics = {k: (out[k], unit) for k, unit in E2E_UNITS.items()}
        for name, (value, unit) in metrics.items():
            print(f"metric {name} = {value:.6g} {unit}")
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Lakehouse benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload pipeline_full --seed 3 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run of the same workload that
records a span around every call the benchmark makes into an engine
module, tags Spark's jobs with the path of open spans, reads Spark's
event log after the session stops, and reports the per-layer metrics
instead.  Workloads are described in ``workloads.py``.

Everything the run writes stays under ``perfbench/.work``.  Standard
output ends with a details line (calibration block, core count, driver
memory, tail percentile) and then the result line:

    {"correct": true, "attempted": 1, "failed": 0, "metrics": {...}}
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEMORY = "1g"
#: set-ups per run; setup_s is their median
SETUPS = 5

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "op_rate_per_s": "1/s",
    "success_frac": "frac",
    "lake_bytes_per_bronze_byte": "ratio",
}

#: the engine's gold MODELS, listed here because their names are part of
#: BENCHMARK.json; a run with a different model set fails its checks
GOLD_MODELS = (
    "fact_rounds",
    "pace_summary_by_round",
    "signal_quality_rounds",
    "course_rounds_by_month",
    "course_rounds_by_weekday",
    "course_start_hole_distribution",
    "data_quality_overview",
    "critical_column_gaps",
    "telemetry_completeness_summary",
    "fact_round_hole_performance",
    "course_configuration_analysis",
    "device_health_errors",
    "dim_round",
    "dim_device",
    "fact_telemetry_fix",
    "global_overview",
    "global_course_summary",
    "global_time_patterns",
    "dim_course",
    "gold_coverage_audit",
)
#: job groups: the first name component of a span the job ran under
SPARK_GROUPS = ("sources", "orchestration", "silver", "storage", "dims", "gold", "quality", "serving")

PER_LAYER = {
    "session.get_spark_s": "s",
    "bronze_ingest.upload_s": "s",
    "bronze_ingest.files": "count",
    "bronze_ingest.bytes": "bytes",
    "sources.read_rounds_s": "s",
    "orchestration.backfill_s": "s",
    "orchestration.partitions_ok": "count",
    "orchestration.partitions_failed": "count",
    "silver.run_s": "s",
    "silver.run_p50_s": "s",
    "silver.rows_valid": "count",
    "silver.rows_quarantined": "count",
    "storage.replace_partitions_s": "s",
    "storage.overwrite_s": "s",
    "storage.merge_upsert_s": "s",
    "storage.read_s": "s",
    "storage.files_written": "count",
    "storage.bytes_written": "bytes",
    "storage.leaf_dirs": "count",
    "storage.max_files_per_leaf": "count",
    "dims.infer_topology_s": "s",
    "dims.upsert_topology_s": "s",
    "dims.sections_s": "s",
    "gold.build_plan_s": "s",
    "gold.write_s": "s",
    **{f"gold.write.{m}_s": "s" for m in GOLD_MODELS},
    "quality.checks_s": "s",
    "quality.checks_run": "count",
    "quality.checks_failed": "count",
    "telemetry.register_views_s": "s",
    "serving.miss_ms_p50": "ms",
    "serving.hit_ms_p50": "ms",
    "serving.hits": "count",
    "serving.misses": "count",
    "serving.evictions": "count",
    "serving.hit_ratio": "frac",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    **{
        f"spark.{g}.{k}": u
        for g in SPARK_GROUPS
        for k, u in (("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"))
    },
    "spark.spill_bytes": "bytes",
    "driver_peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.root_self_frac": "frac",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Setups:
    """Runs and times the set-ups of one run."""

    def __init__(self, count: int):
        self.count = count
        self.times: list[float] = []

    def run(self, fn):
        t0 = time.perf_counter()
        result = fn()
        self.times.append(time.perf_counter() - t0)
        return result


class Session:
    """The run's SparkSession: restartable, and its JVM stopped on close."""

    def __init__(self, work: str, tracer, event_dir: str | None):
        self.work = work
        self.tracer = tracer
        self.event_dir = event_dir
        self.spark = None
        self.start_times: list[float] = []

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # no hsperfdata file under /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_dir:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start(self):
        from tagmarshal_data_lakehouse_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = nproc()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            driver_memory=DRIVER_MEMORY,
            warehouse_dir=os.path.join(self.work, "warehouse"),
            extra_conf=self.conf(),
        )
        self.start_times.append(time.perf_counter() - t0)
        if self.tracer.enabled:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def close(self) -> float:
        """Stop Spark and its JVM; returns the driver's peak RSS in MB
        (JVM plus this process)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.peak_rss_mb = {"python": vm_hwm_mb("self"), "jvm": 0.0}
        if proc is not None and proc.poll() is None:
            self.peak_rss_mb["jvm"] = vm_hwm_mb(proc.pid)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()
        return sum(self.peak_rss_mb.values())


def layer_metrics(tr, out, groups, overhead, get_spark_s, peak_rss_mb) -> dict[str, float]:
    from spans import self_times

    roots = [i for i, s in enumerate(tr.spans) if s.name == "run"]
    n = max(len(roots), 1)

    def per_op(prefix: str) -> float:
        return tr.total(prefix) / n

    silver = [s.end - s.start for s in tr.timed() if s.name == "silver.run"]
    register = tr.durations("telemetry.register_views")
    stats = out.get("stats", {})
    served = stats.get("hits", 0) + stats.get("misses", 0)
    misses = max(len(out.get("miss_s", [])), 1)
    selfs = self_times(tr.spans)
    root_total = sum(tr.spans[i].end - tr.spans[i].start for i in roots)
    m = {
        "session.get_spark_s": get_spark_s,
        "bronze_ingest.upload_s": per_op("bronze_ingest.upload"),
        "bronze_ingest.files": out.get("files_landed", 0),
        "bronze_ingest.bytes": out.get("bronze_bytes", 0),
        "sources.read_rounds_s": per_op("sources.read_rounds"),
        "orchestration.backfill_s": per_op("orchestration.backfill"),
        "orchestration.partitions_ok": out.get("partitions_ok", 0),
        "orchestration.partitions_failed": out.get("partitions_failed", 0),
        "silver.run_s": per_op("silver.run"),
        "silver.run_p50_s": statistics.median(silver) if silver else 0.0,
        "silver.rows_valid": out.get("rows_valid", 0),
        "silver.rows_quarantined": out.get("rows_quarantined", 0),
        "storage.files_written": out.get("files", 0),
        "storage.bytes_written": out.get("bytes", 0),
        "storage.leaf_dirs": out.get("leaf_dirs", 0),
        "storage.max_files_per_leaf": out.get("max_files_per_leaf", 0),
        "gold.write_s": per_op("gold.write"),
        "quality.checks_run": out.get("checks_run", 0),
        "quality.checks_failed": out.get("checks_failed", 0),
        "telemetry.register_views_s": statistics.median(register) if register else 0.0,
        "serving.miss_ms_p50": 1000 * statistics.median(out["miss_s"]) if out.get("miss_s") else 0.0,
        "serving.hit_ms_p50": 1000 * statistics.median(out["hit_s"]) if out.get("hit_s") else 0.0,
        "serving.hits": stats.get("hits", 0),
        "serving.misses": stats.get("misses", 0),
        "serving.evictions": stats.get("evictions", 0),
        "serving.hit_ratio": stats.get("hits", 0) / served if served else 0.0,
        "spark.spill_bytes": sum(g.spill_bytes for g in groups.values()),
        "driver_peak_rss_mb": peak_rss_mb,
        "trace.overhead_frac": overhead,
        "trace.root_self_frac": sum(selfs[i] for i in roots) / root_total if root_total else 0.0,
    }
    for name in (
        "storage.replace_partitions", "storage.overwrite", "storage.merge_upsert",
        "storage.read", "dims.infer_topology", "dims.upsert_topology", "dims.sections",
        "gold.build_plan", "quality.checks",
    ):
        m[f"{name}_s"] = per_op(name)
    for model in GOLD_MODELS:
        m[f"gold.write.{model}_s"] = per_op(f"gold.write.{model}")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = out.get("catalyst_ms", {}).get(phase, 0.0) / misses
    for g in SPARK_GROUPS:
        layers = {g, "telemetry"} if g == "serving" else {g}
        # a job counts for every layer on its span path, as span times do
        members = [
            v for path, v in groups.items()
            if layers & {name.split(".")[0] for name in path.split("/")}
        ]
        m[f"spark.{g}.jobs"] = sum(v.jobs for v in members)
        m[f"spark.{g}.task_s"] = sum(v.task_s for v in members)
        m[f"spark.{g}.shuffle_bytes"] = sum(v.shuffle_bytes for v in members)
    return m


def measure(args, work: str):
    """Run the workload once; returns (metrics, units, workload output,
    details for the report)."""
    import bench
    import selftest
    import spans
    from stats import tail
    from workloads import WORKLOADS

    tr = spans.Tracer() if args.trace else spans.NoTracer()
    session = Session(work, tr, os.path.join(work, "events") if args.trace else None)
    setups = Setups(SETUPS)
    out: dict = {}
    try:
        WORKLOADS[args.workload](session, tr, work, args.seed, args.seconds, setups, out)
        if tr.enabled:
            selftest.catalyst_capture(session.spark)
        calibration = bench._calibration(session.spark, work)
    finally:
        peak_rss = session.close()

    per_op_wall = out["wall_s"] / max(out["attempted"], 1)
    # untraced runs leave their wall time per operation for the traced run
    record = os.path.join(WORK, f"untraced-{args.workload}.json")
    base = []
    if os.path.isfile(record):
        with open(record) as fh:
            base = json.load(fh)
    extra = {
        "driver_peak_rss_mb": session.peak_rss_mb,
        "setup_s": setups.times,
        "calibration": calibration,
    }
    if tr.enabled:
        groups = spans.read_event_logs(os.path.join(work, "events"))
        overhead = per_op_wall / statistics.median(base) if base else 0.0
        metrics = layer_metrics(tr, out, groups, overhead, statistics.median(session.start_times), peak_rss)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tr.dump(os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json"))
        return metrics, PER_LAYER, out, extra
    with open(record, "w") as fh:
        json.dump((base + [per_op_wall])[-50:], fh)
    lat = out["latencies_s"] or [0.0]
    tail_pct, tail_v = tail(lat)
    extra["tail"] = {"percentile": tail_pct, "samples": len(out["latencies_s"])}
    metrics = {
        "setup_s": statistics.median(setups.times),
        "op_p50_ms": 1000 * statistics.median(lat),
        "op_tail_ms": 1000 * tail_v,
        "op_rate_per_s": len(out["latencies_s"]) / out["wall_s"],
        "success_frac": out["ok"] / max(out["attempted"], 1),
        "lake_bytes_per_bronze_byte": out.get("bytes_ratio", 0.0),
    }
    return metrics, END_TO_END, out, extra


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import tagmarshal_data_lakehouse_spark  # noqa: F401 — fail early outside a checkout

    import selftest
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "spark-local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        selftest.run_all()
        metrics, units, out, extra = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = max(out.get("attempted", 0), 1)
    failed = attempted - out.get("ok", 0)

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc(),
        "driver_memory": DRIVER_MEMORY,
        **extra,
        **{k: v for k, v in out.items() if not isinstance(v, list)},
    }
    print(json.dumps({"details": details}, default=str))
    for name, unit in units.items():
        print(f"# {name} = {metrics[name]:.6g} {unit}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""The benchmark's workloads, driven through the engine's public functions.

Both workloads are one process with one closed-loop client: the next
operation starts only after the previous one returned.

- ``pipeline_full``: one nightly run over a fresh lake — land every
  course-day file in bronze, backfill silver (one ``run_silver`` per
  partition), infer the dims, build and write all 20 gold models, run
  the DQ suite.  Runs until ``seconds`` have passed, at least once.
- ``dashboard_serve``: a ``QueryServer`` over the gold views that
  ``telemetry.register_views(..., build_gold=True)`` derives from the
  built lake, fed with passes of seeded requests (``request_pass``)
  until ``seconds`` have passed, at least one pass.  The dims are read
  under their ``silver.`` names, as ``cmd_dq`` reads them.

The served lake is the ``pipeline_full`` lake of the fixed base seed,
built once per checkout and engine source (``base_lake``) and only read
afterwards.  ``python3 perfbench/workloads.py`` builds it.
"""

from __future__ import annotations

import collections
import hashlib
import inspect
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

from corpus import INGEST_DATE, ROOT, course_id, write_corpus
from spans import catalyst_phases_ms, trace_lakehouse, trace_modules

N_COURSES = 2
N_ROUNDS = 60
BASE_SEED = 0
FACT = "silver.fact_telemetry_event"
TOPOLOGY = "silver.dim_facility_topology"
SECTIONS = "silver.dim_sections_per_hole"
PROFILE = "silver.dim_course_profile"

#: committed DQ outcome for every corpus this generator makes
DQ_CHECKS_RUN = 73
DQ_CHECKS_FAILED = 0

#: one repeat of a recent request per this many distinct ones: a quarter
#: of all requests, each repeating one of the last REPEAT_WINDOW
REPEATS_PER_DISTINCT = 3
REPEAT_WINDOW = 8
SERVE_TTL_S = 300.0
#: bindings drawn with skew: the first value is drawn most often
COURSE_WEIGHTS = (3, 1)
ROUND_CHOICES = 6
HOLE_CHOICES = 9

PACKAGE = os.path.join(ROOT, "tagmarshal_data_lakehouse_spark")
HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".work", "cache")


class Failure(Exception):
    """A correctness check did not hold."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise Failure(what)


# ---------------------------------------------------------------------------
# pipeline_full
# ---------------------------------------------------------------------------


def nightly_pipeline(spark, tr, lake, bronze_root, corpus):
    """Bronze landing through DQ, the way the CLI verbs chain them."""
    from tagmarshal_data_lakehouse_spark import bronze_ingest, dims, orchestration, quality
    from tagmarshal_data_lakehouse_spark.gold.models import GoldBuilder
    from tagmarshal_data_lakehouse_spark.queries import telemetry

    for cid, path in corpus.files:
        with tr.span("bronze_ingest.upload"):
            bronze_ingest.upload_file_to_bronze(bronze_root, cid, path, ingest_date=INGEST_DATE)
    with tr.span("orchestration.backfill"):
        backfill = orchestration.run_backfill(spark, lake, bronze_root)
    fact = lake.read(FACT)
    with tr.span("dims.infer_topology"):
        topologies = dims.infer_topology(fact)
    with tr.span("dims.upsert_topology"):
        dims.upsert_topology(lake, dims.topology_to_df(spark, topologies))
    with tr.span("dims.sections"):
        dims.overwrite_sections_per_hole(lake, dims.build_sections_per_hole(fact))
    topo = lake.read(TOPOLOGY)
    with tr.span("gold.build_plan"):
        models = GoldBuilder(spark).build(fact, topo)
    for name, df in models.items():
        with tr.span(f"gold.write.{name}"):
            part = ["course_id"] if "course_id" in df.columns else None
            lake.overwrite(f"gold.{name}", df, partition_by=part)
    # the gold and dq verbs run as separate processes: nothing cached survives
    spark.catalog.clearCache()
    with tr.span("telemetry.register_views"):
        telemetry.register_views(
            spark, fact, topo, None, lake.read(SECTIONS), build_gold=True
        )
    with tr.span("quality.checks"):
        results = quality.run_quality_checks(spark)
    spark.catalog.clearCache()
    return backfill, results, list(models)


def lake_layout(lake_root: str) -> dict:
    """Files and bytes under the lake, and the fact table's leaf layout."""
    files = size = 0
    for dirpath, _, names in os.walk(lake_root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    leaves: dict[str, int] = collections.Counter()
    fact_dir = os.path.join(lake_root, *FACT.split("."))
    for dirpath, _, names in os.walk(fact_dir):
        n = sum(x.endswith(".parquet") for x in names)
        if n:
            leaves[dirpath] += n
    return {
        "files": files,
        "bytes": size,
        "leaf_dirs": len(leaves),
        "max_files_per_leaf": max(leaves.values(), default=0),
    }


def check_pipeline(spark, lake, corpus, backfill, dq, model_names) -> dict:
    """Every correctness check of one nightly run; returns what it observed."""
    exp = corpus.expected
    check(
        len(backfill.succeeded) == len(corpus.files) and not backfill.failed,
        f"backfill {len(backfill.succeeded)} ok / {len(backfill.failed)} failed",
    )
    fact_rows = lake.read(FACT).count()
    check(fact_rows == exp.fact_rows, f"silver rows {fact_rows} != {exp.fact_rows}")
    qroot = os.path.join(lake.root, "quarantine")
    quarantined = sum(
        spark.read.parquet(os.path.join(qroot, d)).count() for d in sorted(os.listdir(qroot))
    )
    check(quarantined == exp.quarantined, f"quarantined {quarantined} != {exp.quarantined}")
    layout = lake_layout(lake.root)
    check(layout["leaf_dirs"] == exp.leaf_dirs, f"leaf dirs {layout['leaf_dirs']} != {exp.leaf_dirs}")
    check(layout["max_files_per_leaf"] == 1, f"max files per leaf {layout['max_files_per_leaf']}")
    written = [
        n for n in model_names if os.path.isfile(os.path.join(lake.path(f"gold.{n}"), "_SUCCESS"))
    ]
    check(len(written) == 20, f"{len(written)} of 20 gold models written")
    rounds = lake.read("gold.fact_rounds").count()
    check(rounds == exp.rounds, f"gold rounds {rounds} != {exp.rounds}")
    failed = sum(not r.passed for r in dq)
    check(
        (len(dq), failed) == (DQ_CHECKS_RUN, DQ_CHECKS_FAILED),
        f"dq {len(dq)} run / {failed} failed",
    )
    return dict(
        layout,
        rows_valid=fact_rows,
        rows_quarantined=quarantined,
        partitions_ok=len(backfill.succeeded),
        partitions_failed=len(backfill.failed),
        checks_run=len(dq),
        checks_failed=failed,
        files_landed=len(corpus.files),
        bronze_bytes=exp.bronze_bytes,
    )


def pipeline_setup(session, work, seed, i):
    """A fresh session and a fresh corpus for one nightly run."""
    spark = session.start()
    root = os.path.join(work, f"iter{i}")
    return spark, root, write_corpus(os.path.join(root, "src"), seed, N_COURSES, N_ROUNDS)


def run_pipeline_full(session, tr, work, seed, seconds, setups, out):
    """One closed-loop client of nightly runs; see the module docstring."""
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse

    if tr.enabled:
        trace_modules(tr)
    for i in range(setups.count):
        state = setups.run(lambda: pipeline_setup(session, work, seed, i))
    lat, ok, attempted = [], 0, 0
    measure_t0 = time.perf_counter()
    i = setups.count
    while True:
        spark, root, corpus = state
        lake = Lakehouse(spark, os.path.join(root, "lake"))
        if tr.enabled:
            trace_lakehouse(tr, lake)
        attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("run", request=i):
                backfill, dq, names = nightly_pipeline(
                    spark, tr, lake, os.path.join(root, "bronze"), corpus
                )
            elapsed = time.perf_counter() - t0
            with tr.span("perfbench.check"):
                observed = check_pipeline(spark, lake, corpus, backfill, dq, names)
            lat.append(elapsed)
            ok += 1
            out.update(observed)
            out["bytes_ratio"] = observed["bytes"] / corpus.expected.bronze_bytes
        except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
            traceback.print_exc(file=sys.stderr)
        if time.perf_counter() - measure_t0 >= seconds:
            break
        state = setups.run(lambda: pipeline_setup(session, work, seed, i))
        i += 1
    out.update(latencies_s=lat, attempted=attempted, ok=ok)
    out["wall_s"] = time.perf_counter() - measure_t0


# ---------------------------------------------------------------------------
# the served lake
# ---------------------------------------------------------------------------


def source_key() -> str:
    """Hash of everything the base lake's content depends on."""
    h = hashlib.sha256(f"{N_COURSES}x{N_ROUNDS}@{BASE_SEED}".encode())
    paths = [os.path.join(ROOT, "tools", "silver_gold_probe.py")]
    paths += [os.path.join(HERE, n) for n in ("corpus.py", "workloads.py")]
    for dirpath, _, names in sorted(os.walk(PACKAGE)):
        paths += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py")]
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cache_dir() -> str:
    return os.path.join(CACHE, f"lake-{source_key()}")


def base_lake() -> tuple[str, dict]:
    """(lake root, build record) of the base-seed pipeline lake.  The
    first use in a checkout builds it in a child process, so the caller's
    JVM stays as cold as in every later run; no timing includes it."""
    record = os.path.join(_cache_dir(), "build.json")
    if not os.path.isfile(record):
        subprocess.run([sys.executable, os.path.abspath(__file__)], check=True, stdout=sys.stderr)
    with open(record) as fh:
        return os.path.join(_cache_dir(), "lake"), json.load(fh)


def build_base_lake() -> None:
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse

    from run import Session
    from spans import NoTracer

    cache = _cache_dir()
    tmp = f"{cache}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "work", "tmp"))
    session = Session(os.path.join(tmp, "work"), NoTracer(), None)
    try:
        spark = session.start()
        corpus = write_corpus(os.path.join(tmp, "src"), BASE_SEED, N_COURSES, N_ROUNDS)
        lake = Lakehouse(spark, os.path.join(tmp, "lake"))
        t0 = time.perf_counter()
        backfill, dq, names = nightly_pipeline(
            spark, NoTracer(), lake, os.path.join(tmp, "bronze"), corpus
        )
        build_s = time.perf_counter() - t0
        check_pipeline(spark, lake, corpus, backfill, dq, names)
    finally:
        session.close()
    rounds = {
        cid: [d["_id"] for d in json.load(open(path))[:ROUND_CHOICES]]
        for cid, path in corpus.files
    }
    with open(os.path.join(tmp, "build.json"), "w") as fh:
        json.dump(
            {
                "build_s": build_s,
                "bronze_bytes": corpus.expected.bronze_bytes,
                "courses": [course_id(c) for c in range(N_COURSES)],
                "rounds": rounds,
            },
            fh,
        )
    for d in ("src", "bronze", "work"):
        shutil.rmtree(os.path.join(tmp, d))
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)
    for stale in os.listdir(CACHE):  # lakes of other engine sources
        if os.path.join(CACHE, stale) != cache:
            shutil.rmtree(os.path.join(CACHE, stale), ignore_errors=True)


def tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(dirpath, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# dashboard_serve
# ---------------------------------------------------------------------------


def templates() -> list[tuple[str, tuple[str, ...]]]:
    """(query name, required parameters) for every library query."""
    from tagmarshal_data_lakehouse_spark.queries import telemetry

    out = [(n, ()) for n in sorted(telemetry.TELEMETRY_QUERIES)]
    for n in sorted(telemetry.PARAMETERIZED):
        sig = inspect.signature(getattr(telemetry, n))
        out.append(
            (n, tuple(p.name for p in sig.parameters.values() if p.default is p.empty))
        )
    return out


def request_key(name: str, params: dict) -> str:
    return "|".join([name] + [f"{k}={params[k]}" for k in sorted(params)])


def binding_domain(build: dict) -> dict[str, list]:
    return {
        "course_id": build["courses"],
        "round_id": build["rounds"],  # per course
        "hole_number": list(range(1, HOLE_CHOICES + 1)),
    }


def served_templates() -> list[tuple[str, tuple[str, ...]]]:
    """The templates one pass serves, in the order it serves them: every
    third library query in name order, fixed and parameterized alike
    (a pass of all 94 does not fit the run budget; this third binds a
    course, a round and a hole).  Set and order are the same in every
    run, so the seed moves bindings and repeats but not the latency mix
    or the JVM's warm-up sequence."""
    return sorted(templates())[2::3]


def request_pass(seed: int, build: dict) -> list[tuple[str, dict]]:
    """One pass of seeded requests: each served template once with
    skewed bindings, plus one repeat of a recent request for every
    REPEATS_PER_DISTINCT distinct ones, at seeded places."""
    rng = random.Random(seed)
    dom = binding_domain(build)

    def skewed(values):
        return rng.choices(values, weights=[1.0 / (k + 1) for k in range(len(values))])[0]

    distinct = []
    for name, required in served_templates():
        params = {}
        if required:
            cid = rng.choices(dom["course_id"], weights=COURSE_WEIGHTS)[0]
            params["course_id"] = cid
            if "round_id" in required:
                params["round_id"] = skewed(dom["round_id"][cid])
            if "hole_number" in required:
                params["hole_number"] = skewed(dom["hole_number"])
        distinct.append((name, params))
    n_repeats = len(distinct) // REPEATS_PER_DISTINCT
    after = sorted(rng.sample(range(1, len(distinct)), n_repeats))  # repeat after request i
    out: list[tuple[str, dict]] = []
    for i, req in enumerate(distinct):
        out.append(req)
        while after and after[0] == i + 1:
            after.pop(0)
            out.append(rng.choice(distinct[max(0, i + 1 - REPEAT_WINDOW) : i + 1]))
    return out


def all_requests(build: dict) -> list[tuple[str, dict]]:
    """Every (name, params) a pass can send."""
    dom = binding_domain(build)
    out = []
    for name, required in served_templates():
        if not required:
            out.append((name, {}))
            continue
        for cid in dom["course_id"]:
            rounds = dom["round_id"][cid] if "round_id" in required else [None]
            holes = dom["hole_number"] if "hole_number" in required else [None]
            for r in rounds:
                for h in holes:
                    p = {"course_id": cid}
                    if r is not None:
                        p["round_id"] = r
                    if h is not None:
                        p["hole_number"] = h
                    out.append((name, p))
    return out


EXPECTED_ROWS = os.path.join(HERE, "expected_serve_rows.json")


class RecordingSpark:
    """The session as QueryServer sees it, remembering the last frame
    it planned so its QueryExecution can be read after the action."""

    def __init__(self, spark):
        self._spark = spark
        self.last = None

    def sql(self, text):
        self.last = self._spark.sql(text)
        return self.last

    def __getattr__(self, name):
        return getattr(self._spark, name)


def serve_setup(session, tr, lake_root):
    from tagmarshal_data_lakehouse_spark.queries import telemetry
    from tagmarshal_data_lakehouse_spark.serving import QueryServer
    from tagmarshal_data_lakehouse_spark.storage import Lakehouse

    spark = session.start()
    lake = Lakehouse(spark, lake_root)

    def opt(table):
        return lake.read(table) if lake.exists(table) else None

    with tr.span("telemetry.register_views"):
        telemetry.register_views(
            spark, lake.read(FACT), opt(TOPOLOGY), opt(PROFILE), opt(SECTIONS), build_gold=True
        )
    front = RecordingSpark(spark) if tr.enabled else spark
    return spark, front, QueryServer(front, ttl_seconds=SERVE_TTL_S)


def run_dashboard_serve(session, tr, work, seed, seconds, setups, out):
    """One closed-loop dashboard client; see the module docstring."""
    lake_root, build = base_lake()
    with open(EXPECTED_ROWS) as fh:
        expected = json.load(fh)
    digest = tree_digest(lake_root)
    for _ in range(setups.count):
        spark, front, server = setups.run(lambda: serve_setup(session, tr, lake_root))
    requests = request_pass(seed, build)
    lat, hit_lat, miss_lat, phases = [], [], [], collections.Counter()
    attempted = ok = 0
    t_start = time.perf_counter()
    with tr.span("run"):
        while attempted < len(requests) or time.perf_counter() - t_start < seconds:
            if attempted and attempted % len(requests) == 0:
                server.invalidate()  # a later pass misses again, within the same process
            name, params = requests[attempted % len(requests)]
            hits_before = server.stats.hits
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("serving.execute", request=attempted):
                    frame = server.execute(name, **params)
                elapsed = time.perf_counter() - t0
                key = request_key(name, params)
                check(len(frame) == expected[key], f"{key}: {len(frame)} rows != {expected[key]}")
            except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                continue
            ok += 1
            lat.append(elapsed)
            if server.stats.hits > hits_before:
                hit_lat.append(elapsed)
            else:
                miss_lat.append(elapsed)
                if tr.enabled:
                    phases.update(catalyst_phases_ms(front.last))
    out["wall_s"] = time.perf_counter() - t_start
    if tree_digest(lake_root) != digest:
        # the read-only workload changed its lake: one more operation, failed
        attempted += 1
        print("served lake changed during the run", file=sys.stderr)
    out.update(
        latencies_s=lat,
        hit_s=hit_lat,
        miss_s=miss_lat,
        attempted=attempted,
        ok=ok,
        stats=server.stats.__dict__,
        catalyst_ms=dict(phases),
        bytes_ratio=sum(
            os.path.getsize(os.path.join(d, n)) for d, _, ns in os.walk(lake_root) for n in ns
        )
        / build["bronze_bytes"],
        base_build_s=build["build_s"],
    )


WORKLOADS = {
    "pipeline_full": run_pipeline_full,
    "dashboard_serve": run_dashboard_serve,
}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    build_base_lake()

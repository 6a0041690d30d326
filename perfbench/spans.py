"""In-memory spans around the benchmark's calls into the engine, plus
the offline read of Spark's event log that attributes jobs to them.

A span is (name, start, end, parent, request).  Spans nest by call
order; a span's self time is its duration minus the part of it that
its children cover.  While spans are open, the Spark job group is the
path of their names ("run/gold.write.dim_round/storage.overwrite"), so
every job Spark runs is tagged in the event log with each layer it ran
under.

``NoTracer`` stands in for the untraced run: its spans record nothing.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus the union of its
    children's intervals clipped to it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


class NoTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        yield


class Tracer:
    enabled = True

    def __init__(self):
        self.sc = None  # the current SparkContext, set by whoever starts it
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, request))
        self._stack.append(idx)
        self._set_group(self.group())
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._set_group(self.group() if self._stack else None)

    def group(self) -> str:
        """Job group of the open spans: their names, outermost first."""
        return "/".join(self.spans[i].name for i in self._stack)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def timed(self, root: str = "run") -> list[Span]:
        """The spans inside a `root` span (the timed region)."""
        inside: list[bool] = []
        for s in self.spans:
            p = s.parent
            inside.append(p is not None and (inside[p] or self.spans[p].name == root))
        return [s for s, ok in zip(self.spans, inside) if ok]

    def total(self, prefix: str) -> float:
        """Summed duration of the timed spans named `prefix` or `prefix.*`."""
        return sum(
            s.end - s.start
            for s in self.timed()
            if s.name == prefix or s.name.startswith(prefix + ".")
        )

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(asdict(s), self_s=st) for s, st in zip(self.spans, selfs)], fh
            )


def trace_lakehouse(tracer, lake) -> None:
    """Route the instance's mutating and reading methods through spans,
    so calls the engine makes on it internally are traced too."""
    for method in (
        "read",
        "replace_partitions",
        "overwrite",
        "merge_upsert",
        "write_partitioned",
    ):
        setattr(lake, method, tracer.wrap(f"storage.{method}", getattr(lake, method)))


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_logs(directory: str) -> dict[str, GroupStats]:
    """Per job group: jobs, executor run time, shuffle bytes written and
    bytes spilled, from every uncompressed event log in `directory`."""
    groups: dict[str, GroupStats] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups.setdefault(group, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats())
                    g.task_s += m.get("Executor Run Time", 0) / 1000.0
                    g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return groups


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Durations of the Catalyst phases that the QueryPlanningTracker of
    `df`'s own QueryExecution recorded.  All three are recorded only
    after an action ran on this Dataset (collect/toPandas) or its
    executedPlan was forced; `count()` plans a new Dataset and leaves
    only analysis here."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        p: float(phases.apply(p).durationMs())
        for p in CATALYST_PHASES
        if phases.contains(p)
    }


def trace_modules(tracer) -> None:
    """Trace the engine functions that other engine functions call by
    module attribute: ``run_backfill`` -> ``silver.run_silver`` ->
    ``sources.bronze.read_rounds`` (both resolved at call time)."""
    from tagmarshal_data_lakehouse_spark import silver
    from tagmarshal_data_lakehouse_spark.sources import bronze

    silver.run_silver = tracer.wrap("silver.run", silver.run_silver)
    bronze.read_rounds = tracer.wrap("sources.read_rounds", bronze.read_rounds)

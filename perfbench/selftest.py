"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

``run_all`` is also called at the start of every benchmark run;
``catalyst_capture`` needs a live session and runs in every traced run.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def generator_is_deterministic() -> None:
    """Byte-identical corpus for one seed; a different one for another."""
    from corpus import write_corpus

    with tempfile.TemporaryDirectory() as d:
        a = write_corpus(os.path.join(d, "a"), 7, 2, 3)
        b = write_corpus(os.path.join(d, "b"), 7, 2, 3)
        c = write_corpus(os.path.join(d, "c"), 8, 2, 3)
        for (_, pa), (_, pb), (_, pc) in zip(a.files, b.files, c.files):
            assert filecmp.cmp(pa, pb, shallow=False), "same seed, different bytes"
            assert not filecmp.cmp(pa, pc, shallow=False), "different seeds, same bytes"
        assert a.expected == b.expected


def tail_picks_highest_percentile_with_ten_beyond() -> None:
    from stats import tail

    xs = [float(v) for v in range(1, 101)]  # 100 samples
    pct, v = tail(xs)
    assert (pct, v) == (90.0, 90.0), (pct, v)
    assert sum(x > v for x in xs) == 10
    pct, v = tail(xs[:40])
    assert (pct, v) == (75.0, 30.0), (pct, v)
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)  # too few samples: the maximum


def self_time_arithmetic() -> None:
    from spans import Span, Tracer, self_times

    spans = [
        Span("run", 0.0, 10.0, None, 1),
        Span("a", 1.0, 4.0, 0, 1),
        Span("b", 3.0, 6.0, 0, 1),  # overlaps a: the union counts once
        Span("c", 9.0, 12.0, 0, 1),  # runs past its parent: clipped
        Span("a.x", 1.5, 2.0, 1, 1),
    ]
    got = self_times(spans)
    want = [10.0 - 5.0 - 1.0, 3.0 - 0.5, 3.0, 3.0, 0.5]
    assert all(abs(g - w) < 1e-12 for g, w in zip(got, want)), got
    tr = Tracer()
    tr.spans = spans + [Span("setup", 20.0, 21.0, None, None)]
    assert [s.name for s in tr.timed()] == ["a", "b", "c", "a.x"]
    assert tr.total("a") == 3.5


def metric_names_match_benchmark_json() -> None:
    from run import END_TO_END, PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


TESTS = (
    generator_is_deterministic,
    tail_picks_highest_percentile_with_ten_beyond,
    self_time_arithmetic,
    metric_names_match_benchmark_json,
)


def run_all() -> None:
    for test in TESTS:
        test()


def catalyst_capture(spark) -> None:
    """The capture path records all three Catalyst phases on the timed
    frame's own QueryExecution; count() does not (it plans a new one)."""
    from spans import catalyst_phases_ms

    text = "SELECT id % 7 AS k, COUNT(*) AS n FROM range(1000) GROUP BY id % 7"
    counted = spark.sql(text)
    counted.count()
    assert "optimization" not in catalyst_phases_ms(counted)
    served = spark.sql(text)
    served.toPandas()
    phases = catalyst_phases_ms(served)
    assert set(phases) == {"analysis", "optimization", "planning"}, phases


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    for t in TESTS:
        t()
        print(f"ok {t.__name__}")

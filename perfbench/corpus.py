"""Seeded bronze corpus for the benchmark, and the counts it must produce.

The round documents come from ``tools/silver_gold_probe.py::_round_doc``
(pure arithmetic on a course index and a round index); this module only
folds the workload seed into the round index and writes one
multiLine JSON-array file per course-day, the shape a landing zone
receives.  The expected silver rows, quarantined rows, fact leaf
directories and rounds are derived from the same documents with the
silver rules spelled out in ``silver.py``:

- a fix is quarantined when a coordinate lies outside
  ``schemas.COORD_BOUNDS``; every other fix lands in the fact table
  (padding and NULL-timestamp fixes included);
- the dedup key includes ``location_index`` (the fix's array position),
  so the generator's duplicate fixes are distinct rows;
- ``event_date`` is the UTC date of ``startTime + offset`` and is NULL
  when the round has no ``startTime``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from silver_gold_probe import _round_doc  # noqa: E402

INGEST_DATE = "2024-02-01"
#: round indices reserved per seed: seed s owns [s * SEED_STRIDE, (s + 1) * SEED_STRIDE)
SEED_STRIDE = 1000
_LAT_MIN, _LAT_MAX, _LON_MIN, _LON_MAX = -90.0, 90.0, -180.0, 180.0


@dataclass(frozen=True)
class Expected:
    fact_rows: int
    quarantined: int
    leaf_dirs: int
    rounds: int
    bronze_bytes: int


@dataclass(frozen=True)
class Corpus:
    files: list[tuple[str, str]]  # (course_id, path), one course-day file each
    expected: Expected


def course_id(course_idx: int) -> str:
    return f"course{course_idx:04d}"


def round_docs(seed: int, course_idx: int, n_rounds: int) -> list[dict]:
    if not 0 < n_rounds <= SEED_STRIDE:
        raise ValueError(f"n_rounds must be in 1..{SEED_STRIDE}, got {n_rounds}")
    base = seed * SEED_STRIDE
    return [_round_doc(course_idx, base + r) for r in range(n_rounds)]


def _fix_date(doc: dict, loc: dict) -> dt.date | None:
    if "startTime" not in doc:
        return None
    start = dt.datetime.strptime(doc["startTime"], "%Y-%m-%dT%H:%M:%SZ")
    return (start + dt.timedelta(seconds=int(loc["startTime"]))).date()


def write_corpus(directory: str, seed: int, n_courses: int, n_rounds: int) -> Corpus:
    """Write one JSON file per course and return it with its expected counts."""
    os.makedirs(directory, exist_ok=True)
    files = []
    fact_rows = quarantined = bronze_bytes = 0
    leaves: set[tuple[str, dt.date | None]] = set()
    rounds = 0
    for c in range(n_courses):
        cid = course_id(c)
        docs = round_docs(seed, c, n_rounds)
        path = os.path.join(directory, f"{cid}_{INGEST_DATE}.json")
        with open(path, "w") as fh:
            json.dump(docs, fh)
        bronze_bytes += os.path.getsize(path)
        files.append((cid, path))
        rounds += len(docs)
        for doc in docs:
            for loc in doc["locations"]:
                lon, lat = loc["fixCoordinates"]
                if not (_LON_MIN <= lon <= _LON_MAX and _LAT_MIN <= lat <= _LAT_MAX):
                    quarantined += 1
                    continue
                fact_rows += 1
                leaves.add((cid, _fix_date(doc, loc)))
    return Corpus(files, Expected(fact_rows, quarantined, len(leaves), rounds, bronze_bytes))

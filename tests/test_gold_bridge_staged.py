"""Oracle parity for the gold bridge entries that complete the gold
model surface.

The nine entries below give the last gold/silver_normalized models their
oracle-checked rows — every one of the 20 models in gold/models.py then
has a registered bridge entry.  This module holds them to the registry
sweep's exact standard with rows required (a 0=0 match proves nothing):
the same build(spark, sf_dir) vs DuckDB-oracle compare, on the sf0.001
testdata.
"""

from __future__ import annotations

import os
import re

import pytest

from tagmarshal_data_lakehouse_spark.queries import telemetry_bridge as tb

from .oracle_harness import run_query_pair

# sf0.001 for the suite's fast loop; STAGED_SF_DIR=<dir> re-runs the
# matrix at sf0.01 (decimal edge cases can be scale-dependent).
# Root follows the same override every other fixture honors
# (conftest.TESTDATA).
_TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_DIR = os.environ.get("STAGED_SF_DIR", f"{_TESTDATA}/sf0.001")

GOLD_ENTRIES = (
    "gold_signal_quality_rounds",
    "gold_course_configuration",
    "gold_critical_column_gaps",
    "gold_dim_round",
    "gold_dim_device",
    "gold_global_overview",
    "gold_global_course_summary",
    "gold_global_time_patterns",
    "gold_fact_telemetry_fix",
)
_BY_NAME = {q.name: q for q in tb.QUERIES}


@pytest.mark.parametrize("q", [_BY_NAME[n] for n in GOLD_ENTRIES], ids=lambda q: q.name)
def test_staged_entry_matches_driver_oracle(spark, q):
    problems = run_query_pair(spark, q, SF_DIR, require_rows=True)
    assert not problems, f"{q.name}: {problems[:3]}"


def test_staged_entries_cover_every_remaining_model():
    """Bridge entries must cover all 20 gold models.  Every gold bridge
    entry's doc cites its model as 'gold/models.py <MODEL_CONST>' —
    matched with a word boundary so a prose mention of another model
    (e.g. 'the bridged fact_rounds chain') cannot mark that model
    covered."""
    from tagmarshal_data_lakehouse_spark.gold.models import MODELS

    docs = [(q.doc or "") for q in tb.QUERIES]
    missing = [
        m.name
        for m in MODELS
        if not any(
            re.search(rf"gold/models\.py\s+{re.escape(m.name.upper())}\b", doc)
            for doc in docs
        )
    ]
    assert not missing, f"gold models without a bridge entry: {missing}"

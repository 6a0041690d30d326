"""Registry-order contract.

The registry leads with the flagship interleave (one query per family
every 4 slots), so a sweep truncated to its first few entries still
yields a row for every family; the rest follows in registration order.
Oracle correctness is checked order-independently over the whole
registry by tests/test_oracle_parity.py and tools/driver_sim.py.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from tagmarshal_data_lakehouse_spark.queries import registry

_REPO = Path(__file__).resolve().parent.parent


def _family(name: str) -> str:
    if name.startswith("events_"):
        return "events"
    if name.startswith(("doc_", "emb_", "multimodal_")):
        return "training"
    if name.startswith("tpch_"):
        return "tpch"
    return "relational"


def test_first_twelve_interleave_every_family():
    names = list(registry())
    # Every 4-slot stripe of the flagship block holds one query per family,
    # so even a sweep budget of 4 yields a row for each family.
    for stripe_start in (0, 4, 8):
        stripe = names[stripe_start : stripe_start + 4]
        assert {_family(n) for n in stripe} == {
            "events",
            "training",
            "tpch",
            "relational",
        }, stripe


def test_latest_sim_artifact_covers_the_live_population():
    """The newest committed SIM_r{N}.json (tools/driver_sim.py with
    SIM_OUT) must name exactly the current registry: registering or
    renaming a query reddens this until the full sweep is re-run."""
    sims = sorted(
        _REPO.glob("SIM_r*.json"),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p.name).group(1)),
    )
    if not sims:
        return
    recorded = set(json.loads(sims[-1].read_text())["queries"])
    population = set(registry())
    assert recorded == population, (
        f"{sims[-1].name} is stale against the live registry: "
        f"missing {sorted(population - recorded)}, "
        f"ghost {sorted(recorded - population)} — re-run "
        "SIM_OUT=... tools/driver_sim.py"
    )


def test_registry_complete_and_unique():
    names = list(registry())
    assert len(names) == len(set(names))
    assert len(names) >= 104

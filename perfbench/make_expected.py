"""Regenerate expected_serve_rows.json: the row count of every request
the dashboard_serve stream can send, over the served lake.

    python3 perfbench/make_expected.py

Rerun only when the served lake's shape or an engine query's intended
result changes, and review the diff: the benchmark fails every request
whose served frame disagrees with this file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import ROOT, WORK, Session
from spans import NoTracer


def main() -> int:
    sys.path.insert(0, ROOT)
    import workloads

    work = os.path.join(WORK, f"expected-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    session = Session(work, NoTracer(), None)
    try:
        lake_root, build = workloads.base_lake()
        _, _, server = workloads.serve_setup(session, NoTracer(), lake_root)
        rows = {
            workloads.request_key(name, params): len(server.execute(name, **params))
            for name, params in workloads.all_requests(build)
        }
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.EXPECTED_ROWS, "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(rows)} requests -> {workloads.EXPECTED_ROWS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

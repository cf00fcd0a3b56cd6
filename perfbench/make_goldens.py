"""Recompute ``goldens.json``: the DuckDB result digest of each pinned
``operator_mix`` query, from the registry's ``ORACLES`` over the bundled
sf0.01 tables, normalised as the repo's correctness gate normalises.

    python3 perfbench/make_goldens.py

Run it only when the pinned set or the bundled tables change; the
benchmark reads the committed file and never derives a golden from the
Spark output under test.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.check import result_digest  # noqa: E402
from perfbench.workloads import DATA_DIR, HERE, OPERATOR_MIX  # noqa: E402
from tools import check_correctness  # noqa: E402


def main() -> None:
    from high_throughput_etl_pipeline_spark.queries import ORACLES

    check_correctness.SF_DIR = DATA_DIR
    con = check_correctness.duck_connection()
    goldens = {}
    for q in OPERATOR_MIX:
        res = con.execute(ORACLES[q])
        goldens[q] = result_digest(res.fetchall(), [d[0] for d in res.description])
        print(q, goldens[q]["rows"], flush=True)
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

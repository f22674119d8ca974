"""Regenerate linkbench/fingerprints.json: each contract leaf's DuckDB
oracle fingerprint over the stored tables in linkbench/data.

    python3 linkbench/make_fingerprints.py

The fingerprint is (row count, sorted column names, order-insensitive
value hash) under the rule of scripts/check_oracles.py::value_hash, so
the benchmark can check a Spark leaf against its oracle without
running DuckDB (the oracles are far slower than the Spark leaves).
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
OUT = os.path.join(HERE, "fingerprints.json")
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

from leaves import LEAVES, value_hash  # noqa: E402


def main() -> None:
    import duckdb

    from idd_hw6_record_linkage_spark.entry_queries import ORACLES

    con = duckdb.connect(config={"threads": 2})
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{os.path.join(DATA, f)}')"
            )
    prints = {}
    for name in LEAVES:
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        prints[name] = {
            "rows": len(rows),
            "cols": sorted(cols),
            "hash": value_hash(rows, cols),
        }
        print(f"{name:24s} rows={len(rows)}", flush=True)
    with open(OUT, "w") as fh:
        json.dump(prints, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()

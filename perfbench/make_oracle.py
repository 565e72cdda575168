"""Regenerate ``oracle_sf0.01.json``: the DuckDB answer digests the
``analytics`` workload checks every call against.

    python3 perfbench/make_oracle.py

Runs each query's registry oracle SQL (``REGISTRY[name].oracle``) in
DuckDB over the tables in ``perfbench/data/sf0.01`` and records, per
query, the tables it reads, its row count and the sha256 of its
normalized rowset. It takes about a minute (q255 dominates),
which is why the benchmark reads the pinned digests instead.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.layers import ANALYTICS_QUERIES  # noqa: E402
from perfbench.w_analytics import DATA, ORACLE, rowset_digest  # noqa: E402


def main() -> None:
    import duckdb

    from lynx_spark.plans.analytics import REGISTRY
    from lynx_spark.sources.tables import TABLES

    con = duckdb.connect()
    present = sorted(p.stem for p in DATA.glob("*.parquet"))
    for t in present:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / t}.parquet')")
    out = {}
    for q in ANALYTICS_QUERIES:
        sql = REGISTRY[q].oracle
        tables = sorted(t for t in TABLES if re.search(rf"\b{t}\b", sql))
        missing = [t for t in tables if t not in present]
        if missing:
            raise SystemExit(f"{q} reads tables not under {DATA}: {missing}")
        t0 = time.perf_counter()
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
        out[q] = {"tables": tables, "rows": len(rows), "sha256": rowset_digest(cols, rows)}
        print(f"{q}: {len(rows)} rows in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    ORACLE.write_text(
        json.dumps(
            {
                "command": "python3 perfbench/make_oracle.py",
                "data": "perfbench/data/sf0.01 (seed 42)",
                "queries": out,
            },
            indent=1,
        )
        + "\n"
    )


if __name__ == "__main__":
    main()

"""Expected rows of the query subset (the query pass), as digests.

``golden.json`` holds, per query, the sorted column names, the row count and
a sha256 of the rows that the query's DuckDB ``oracle_sql()`` returns over
the bundled tables in ``data/sf0.001``, normalized the way
``tests/test_queries.py`` normalizes them. The oracles take ~70 s for these
queries (``dedup_clusters`` alone ~40 s), so a run compares digests instead of
running DuckDB. Regenerate after changing a query, its oracle or the data:

    python3 perfbench/golden.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN = os.path.join(HERE, "golden.json")
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = ("events", "part", "documents", "embeddings")


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, int):
        return int(v)
    return str(v)


def digest(cols, rows) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=repr)
    return {
        "columns": [cols[i] for i in order],
        "rows": len(norm),
        "sha256": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def check(name: str, cols, rows) -> str | None:
    """None when the rows match the oracle's digest, else what differs."""
    with open(GOLDEN) as f:
        want = json.load(f)[name]
    got = digest(list(cols), rows)
    for k in ("columns", "rows", "sha256"):
        if got[k] != want[k]:
            return f"{k} differs from the oracle: got {got[k]!r}, want {want[k]!r}"
    return None


def main() -> None:
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__ as entry

    from workloads import SUITE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    sql = entry.oracle_sql()
    out = {}
    for name in SUITE:
        res = con.execute(sql[name])
        out[name] = digest([d[0] for d in res.description], res.fetchall())
        print(name, out[name]["rows"], file=sys.stderr)
    with open(GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

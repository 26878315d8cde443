"""Result digests and the DuckDB oracle.

A query result is reduced to one digest of its canonical form: columns
sorted by name, each cell stringified (floats as ``f"{v:.10g}"``, NULL as
``␀``), rows sorted.  This is the canonical form of
``tests/oracle/test_duckdb_oracle.py``.  The digest of a query's DuckDB
oracle on the benchmark's tables is keyed by a hash of the table files and
the oracle SQL, so a stored digest stays valid exactly as long as neither
changes.  ``oracle_digests.json`` next to this file holds the digests for
the current workloads; digests missing from it are computed with DuckDB
once per checkout and kept in the build directory.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))
STORED = os.path.join(HERE, "oracle_digests.json")


def _cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


def digest(columns: list[str], rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(columns)).encode())
    for row in canon:
        h.update(json.dumps(row, ensure_ascii=False).encode())
    return h.hexdigest()


def data_fingerprint(data_dir: str, tables: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_key(fingerprint: str, sql: str) -> str:
    return hashlib.sha256(f"{fingerprint}\n{sql}".encode()).hexdigest()


def _load(path: str) -> dict[str, str]:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def expected_digests(
    queries: dict[str, str], data_dir: str, tables: tuple[str, ...], cache_path: str
) -> dict[str, str]:
    """Oracle digest per query name; ``queries`` maps name → oracle SQL."""
    fp = data_fingerprint(data_dir, tables)
    keys = {name: oracle_key(fp, sql) for name, sql in queries.items()}
    known = {**_load(STORED), **_load(cache_path)}
    missing = [n for n, k in keys.items() if k not in known]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
                )
            cached = _load(cache_path)
            for name in missing:
                rel = con.sql(queries[name])
                cached[keys[name]] = digest(list(rel.columns), rel.fetchall())
        finally:
            con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
        known.update(cached)
    return {name: known[k] for name, k in keys.items()}

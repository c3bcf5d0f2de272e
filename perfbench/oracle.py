"""Expected row counts from DuckDB, the engine-independent oracle.

``expected_counts`` runs DuckDB in a child process (so its memory never
shows in the benchmark's peak RSS) and caches the answer under
``perfbench/.cache`` keyed by the SQL text and the input files' sizes and
mtimes, so each checkout computes a given oracle once.

Run as a script it reads ``{"sf_dir": ..., "tables": [...], "queries":
{name: sql}}`` on stdin and prints ``{name: row_count}``.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_CACHE_DIR = os.path.join(_HERE, ".cache")


def _cache_key(sf_dir: str, tables: list[str], queries: dict[str, str]) -> str:
    h = hashlib.sha256()
    for t in sorted(tables):
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    h.update(json.dumps(queries, sort_keys=True).encode())
    return h.hexdigest()[:24]


def expected_counts(sf_dir: str, tables: list[str], queries: dict[str, str]) -> dict[str, int]:
    path = os.path.join(_CACHE_DIR, f"oracle-{_cache_key(sf_dir, tables, queries)}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        pass
    request = json.dumps({"sf_dir": sf_dir, "tables": tables, "queries": queries})
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        input=request, capture_output=True, text=True, timeout=600, check=True,
    )
    counts = json.loads(proc.stdout)
    os.makedirs(_CACHE_DIR, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(counts, f)
    os.replace(tmp, path)
    return counts


def _duckdb_counts(sf_dir: str, tables: list[str], queries: dict[str, str]) -> dict[str, int]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {
            name: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
            for name, sql in queries.items()
        }
    finally:
        con.close()


if __name__ == "__main__":
    req = json.load(sys.stdin)
    json.dump(_duckdb_counts(req["sf_dir"], req["tables"], req["queries"]), sys.stdout)

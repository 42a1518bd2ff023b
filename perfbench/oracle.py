"""Result checking against the DuckDB oracles.

Every benchmark execution is compared with the query's DuckDB twin
(``__spark_entry__.oracle_sql()``) evaluated over the same parquet
directory.  Rows are compared as one digest: columns sorted by name,
floats rounded to 9 digits, rows sorted by ``repr`` (the criterion of
``tests/test_driver_contract.py``), then SHA-256 over the result.

Some oracles take minutes in DuckDB (the recursive-CTE closure of
``curation_funnel`` alone takes over two), far more than one benchmark
run may spend.  So the oracle digests are computed
once and committed in ``expected.json``, each keyed by the SHA-256 of
its SQL text.  When an oracle's SQL changes, the stale entry no
longer matches: the run evaluates the new SQL in DuckDB and caches
the digest under ``.bench_build/`` for later runs.  Building the SQL
texts takes seconds too, so their hashes are cached per engine source
tree.  Regenerate the committed file with ``python3 perfbench/oracle.py``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")
CACHE_PATH = os.path.join(ROOT, ".bench_build", "expected-cache.json")
SQL_CACHE_PATH = os.path.join(ROOT, ".bench_build", "oracle-sql-sha.json")
DATA_ROOT = "/root/testdata"  # the fixed test tables (TESTDATA.md)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# The tile sweep's oracle: tile counts over the shared points CTE.
SWEEP_ZOOM = 10


def sweep_sql() -> str:
    from transformio_spark.functions.tiles import tile_id_sql
    from transformio_spark.sources.oracle import points_cte

    return (
        f"WITH {points_cte()} SELECT {tile_id_sql('lon', 'lat', SWEEP_ZOOM)}"
        " AS tile_id, count(*) AS n FROM pts GROUP BY 1"
    )


def all_sql() -> dict[str, str]:
    import __spark_entry__

    return {**__spark_entry__.oracle_sql(), "tile_sweep": sweep_sql()}


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _source_sha() -> str:
    """SHA-256 over the engine's Python sources (the oracle SQL texts
    are built from them)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        os.path.join(dp, f)
        for dp, _dn, fns in os.walk(os.path.join(ROOT, "transformio_spark"))
        for f in fns
        if f.endswith(".py")
    )
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sql_shas() -> dict[str, str]:
    """SHA-256 of every oracle's SQL text.  Building the texts takes
    seconds (``auto_choose_model`` runs its refits at build time), so
    the hashes are cached per engine source tree."""
    tree = _source_sha()
    cache = _load(SQL_CACHE_PATH)
    if cache.get("source_sha256") != tree:
        cache = {"source_sha256": tree,
                 "sql_sha256": {n: _sha(q) for n, q in all_sql().items()}}
        _store(SQL_CACHE_PATH, cache)
    return cache["sql_sha256"]


def digest(columns, rows) -> tuple[int, str]:
    """(row count, SHA-256) of a result in canonical form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(v)
        norm.append(tuple(vals))
    norm.sort(key=repr)
    text = repr(([columns[i] for i in order], norm))
    return len(norm), hashlib.sha256(text.encode()).hexdigest()


def _key(name: str, sf: str) -> str:
    return f"{sf}/{name}"


def _entry(sql: str, con) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    n, h = digest(cols, cur.fetchall())
    return {"sql_sha256": _sha(sql), "rows": n, "digest": h}


def _duck(sf: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{DATA_ROOT}/{sf}/{t}.parquet'"
        )
    return con


def _load(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _store(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def expected(names, sf: str) -> dict[str, dict]:
    """Oracle digests for ``names`` at ``sf``: from the committed file
    or the local cache when the SQL text still matches, else freshly
    evaluated in DuckDB (and cached).  Call before the Spark session
    starts: DuckDB runs several times slower beside a live Spark JVM."""
    shas = sql_shas()
    committed = _load(EXPECTED_PATH)
    cache = _load(CACHE_PATH)
    out, stale = {}, []
    for name in names:
        key = _key(name, sf)
        out[name] = next(
            (src[key] for src in (committed, cache)
             if src.get(key, {}).get("sql_sha256") == shas[name]),
            None,
        )
        if out[name] is None:
            stale.append(name)
    if stale:
        texts, con = all_sql(), _duck(sf)
        for name in stale:
            print(f"perfbench: evaluating oracle {sf}/{name} in DuckDB",
                  file=sys.stderr)
            out[name] = cache[_key(name, sf)] = _entry(texts[name], con)
        _store(CACHE_PATH, cache)
    return out


def main() -> None:
    """Re-evaluate every oracle the workloads use and rewrite
    expected.json."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    by_sf: dict[str, list[str]] = {}
    for wl in WORKLOADS.values():
        names = list(wl.queries) + (["tile_sweep"] if wl.sweep else [])
        by_sf.setdefault(wl.sf, []).extend(names)
    out, texts = {}, all_sql()
    for sf, names in by_sf.items():
        con = _duck(sf)
        for name in dict.fromkeys(names):
            out[_key(name, sf)] = _entry(texts[name], con)
            print(_key(name, sf), out[_key(name, sf)]["rows"], flush=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

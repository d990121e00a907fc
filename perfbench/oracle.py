"""Result checks: the engine's answers against the DuckDB oracle.

Both sides are reduced to one canonical, order-insensitive hash: columns
sorted by name, integers as int64, floats to six decimals, timestamps
at microsecond precision, rows sorted. The engine's queries register
their oracle SQL in ``queries.ORACLE_SQL``; DuckDB runs it over the
same parquet files.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

# the same hash rule as tools/localcheck.py
from tools.localcheck import TABLES, canon_hash


def expected(sf_dir: str, cache_dir: str, hashes, clusters) -> dict:
    """Oracle answers, from DuckDB or from ``cache_dir``: for each name in
    ``hashes`` its result's canonical hash, for each name in ``clusters``
    its (vec_id, comp) rows. The cache key covers the fixture directory
    and each query's oracle SQL text, so editing an oracle never reuses
    a stale answer."""
    from morphl_community_edition_spark.queries import ORACLE_SQL

    out, todo = {}, []
    paths = {}
    for name in list(hashes) + list(clusters):
        key = hashlib.sha256(f"{sf_dir}\0{ORACLE_SQL[name]}".encode()).hexdigest()[:24]
        paths[name] = os.path.join(cache_dir, f"{name}-{key}.json")
        try:
            with open(paths[name]) as f:
                out[name] = json.load(f)
        except (OSError, ValueError):
            todo.append(name)
    if todo:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            for name in todo:
                df = con.execute(ORACLE_SQL[name]).df()
                out[name] = (
                    df[["vec_id", "comp"]].values.tolist() if name in clusters
                    else canon_hash(df)
                )
                os.makedirs(cache_dir, exist_ok=True)
                tmp = f"{paths[name]}.{os.getpid()}"
                with open(tmp, "w") as f:
                    json.dump(out[name], f)
                os.replace(tmp, paths[name])
        finally:
            con.close()
    return out


def refines(clusters: pd.DataFrame, exact: list) -> bool:
    """Do ``clusters``' (vec_id, comp) groups cover the same vectors as the
    ``exact`` (vec_id, comp) rows and split their groups without ever
    merging two of them?"""
    ref = dict(exact)
    if sorted(clusters["vec_id"]) != sorted(ref):
        return False
    merged = clusters.assign(ref=clusters["vec_id"].map(ref))
    return bool((merged.groupby("comp")["ref"].nunique() == 1).all())

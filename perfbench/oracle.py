"""Check a registry query against its DuckDB oracle, as
``tools/drive_oracle.py`` does: row count plus an order-insensitive hash
of the values, computed with that script's canonicalizer."""

from __future__ import annotations

import ast
import hashlib

import numpy as np
import pandas as pd

from . import env


def canonicalizer():
    """``canon_hash`` from ``tools/drive_oracle.py``, loaded without
    running that script's module body."""
    path = env.ROOT / "tools" / "drive_oracle.py"
    tree = ast.parse(path.read_text())
    fn = [n for n in tree.body
          if isinstance(n, ast.FunctionDef) and n.name == "canon_hash"]
    if len(fn) != 1:
        raise RuntimeError(f"canon_hash not found in {path}")
    scope = {"hashlib": hashlib, "np": np, "pd": pd}
    exec(compile(ast.Module(body=fn, type_ignores=[]), str(path), "exec"),
         scope)
    return scope["canon_hash"]


def mismatch(spark, name: str, sf_dir: str, tables: list[str]) -> str | None:
    """None when query ``name`` on ``sf_dir`` matches its oracle."""
    import duckdb

    from climate_data_pipeline_spark import registry

    canon_hash = canonicalizer()
    got = registry.queries()[name](spark, sf_dir).toPandas()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        want = con.execute(registry.oracle_sql()[name]).fetchdf()
    finally:
        con.close()
    if len(got) == 0:
        return "no rows"
    if len(got) != len(want) or canon_hash(got) != canon_hash(want):
        return f"{len(got)} rows vs oracle {len(want)}, hashes differ"
    return None

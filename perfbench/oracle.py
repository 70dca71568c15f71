"""Checks the warm-up pass's results against each query's DuckDB oracle.

The comparison is `tools/check_local.py`'s: row count, sorted column
names, then exact dtype-sensitive values. Oracle results depend only on
the oracle SQL and the corpus, so they are cached under the checkout,
keyed by both; the Spark side is checked fresh on every run.
"""
import glob
import hashlib
import importlib.util
import json
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent


def _check_local():
    spec = importlib.util.spec_from_file_location(
        "check_local", ROOT / "tools" / "check_local.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _identical(a, b):
    """Fast path: equal values and dtypes column by column. A False here
    only means the element-wise comparison has to decide."""
    try:
        return all(str(a[c].dtype) == str(b[c].dtype) for c in a.columns) and a.equals(b)
    except (TypeError, ValueError):
        return False


def check(out_dir, sf_dir, cache_dir):
    """Returns ({result dir name: reason} for every mismatch, number of
    results checked). A result dir is named by its execution: `<query>`
    or `<query>@<phase>`."""
    cl = _check_local()
    oracle_sql = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    cache_dir = Path(cache_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = None
    mismatches = {}
    dirs = sorted(p for p in (Path(out_dir) / "results").iterdir() if p.is_dir())
    for d in dirs:
        query = d.name.split("@")[0]
        sql = oracle_sql.get(query)
        if sql is None:
            mismatches[d.name] = "no oracle SQL"
            continue
        key = hashlib.sha256(
            f"{duckdb.__version__}\n{sf_dir}\n{sql}".encode()).hexdigest()[:24]
        cached = cache_dir / f"{key}.pkl"
        if cached.is_file():
            odf = pd.read_pickle(cached)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                con.execute("SET memory_limit = '4GB'")
                for t in cl.TABLES:
                    p = Path(sf_dir) / f"{t}.parquet"
                    if p.exists():
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            try:
                odf = con.execute(sql).df()
            except Exception as e:  # an oracle that cannot run is a failure
                mismatches[d.name] = f"oracle SQL error: {e}"
                continue
            odf.to_pickle(cached)
        files = glob.glob(f"{d}/*.parquet")
        sdf = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        s, o = cl.norm(sdf), cl.norm(odf)
        if len(s) != len(o):
            mismatches[d.name] = f"rows {len(s)} vs {len(o)}"
        elif list(s.columns) != list(o.columns):
            mismatches[d.name] = f"cols {list(s.columns)} vs {list(o.columns)}"
        elif not _identical(s, o):
            ok, why = cl.values_equal(s, o)
            if not ok:
                mismatches[d.name] = why
    if con is not None:
        con.close()
    return mismatches, len(dirs)

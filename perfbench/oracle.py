"""DuckDB comparison of each op's reference output.

Every op's registered `oracleSql` runs in DuckDB over the exact tables the
engine read, and the result must equal the Spark output bit for bit after
the canonical form of the repository's DuckDB check (tools/check.py):
columns in sorted order, timestamps at microsecond precision, rows in
order, floats bit-exact or else within 1e-9 relative. As in that check, a
float that matches only within the tolerance passes but is counted, since
a value hash would not match. Oracle answers over an unchanged table set
are cached on disk, and so are the digests of the outputs that passed:
a later run of the same build on the same tables that produces an output
with a listed digest has produced that same output, and is not compared
again.
"""
import hashlib
import math
import os

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.reset_index(drop=True)


def same(a, b):
    """(equal, bit_exact) for one cell."""
    if a is None and b is None:
        return True, True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, False
        if fa == fb or (math.isnan(fa) and math.isnan(fb)):
            return True, True
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb)), False
    try:
        return bool(a == b) or bool(pd.isna(a) and pd.isna(b)), True
    except (TypeError, ValueError):
        return False, False


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame):
    """(mismatch, tolerance_only_cells): mismatch is "" when the frames
    agree, else the first difference."""
    s, o = canon(spark_df), canon(oracle_df)
    if list(s.columns) != list(o.columns):
        return f"columns differ: spark={list(s.columns)} oracle={list(o.columns)}", 0
    if len(s) != len(o):
        return f"row count differs: spark={len(s)} oracle={len(o)}", 0
    n_tol = 0
    for i, (r1, r2) in enumerate(zip(s.values.tolist(), o.values.tolist())):
        for j, (x, y) in enumerate(zip(r1, r2)):
            eq, exact = same(x, y)
            if not eq:
                return f"row {i} col {s.columns[j]!r}: spark={x!r} oracle={y!r}", n_tol
            n_tol += not exact
    return "", n_tol


def _tables_key(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(data_dir, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def verified_path(cache_dir: str, data_dir: str, build_key: str) -> str:
    """The file of (op, digest, tolerance_only_cells) lines that passed."""
    return os.path.join(cache_dir, f"verified-{build_key}-{_tables_key(data_dir)}.tsv")


def read_verified(path: str) -> dict:
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                op, digest, n_tol = line.rstrip("\n").split("\t")
                out[(op, digest)] = int(n_tol)
    return out


def check(refs: dict, data_dir: str, cache_dir: str, verified: str) -> dict:
    """{op: (mismatch, tolerance_only_cells)} for every reference output.
    References the JVM marked as verified are looked up in the `verified`
    file; those that pass here are added to it."""
    known = read_verified(verified)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet") and os.path.isfile(os.path.join(data_dir, name)):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, name)}'")
    os.makedirs(cache_dir, exist_ok=True)
    tkey = _tables_key(data_dir)
    out = {}
    for op, ref in refs.items():
        if ref.get("verified"):
            out[op] = ("", known[(op, ref["digest"])])
            continue
        key = hashlib.sha256((tkey + ref["oracle_sql"]).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{key}.pkl")
        try:
            if os.path.exists(cached):
                odf = pd.read_pickle(cached)
            else:
                odf = con.sql(ref["oracle_sql"]).df()
                odf.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
            out[op] = compare(pd.read_parquet(ref["dir"]), odf)
        except Exception as e:  # an unreadable output or a failing oracle is a mismatch
            out[op] = (f"{type(e).__name__}: {e}"[:500], 0)
    passed = [(op, refs[op]["digest"], n_tol) for op, (msg, n_tol) in out.items()
              if not msg and not refs[op].get("verified")]
    if passed:
        with open(verified, "a") as f:
            f.writelines(f"{op}\t{d}\t{n}\n" for op, d, n in passed)
    return out

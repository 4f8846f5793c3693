"""Bit-exact comparison of a query's parquet output with its DuckDB oracle.

Rows are sorted on every column and compared cell by cell: floats by
their IEEE bits (so -0.0 differs from 0.0), integers of any width by
value, everything else by type and text. An integer column against a
float column is a mismatch, as it is for a hash of the stringified
cells.
"""
import hashlib
import math
import numbers
import os
import re
import struct

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# DuckDB inlines a CTE at each reference unless told otherwise; the
# chained k-means oracles reference earlier CTEs many times
_CTE = re.compile(
    r"(?i)(\bWITH\s+|\)\s*,\s*)([A-Za-z_][A-Za-z0-9_]*\s+AS)\s*\(")


def materialize_ctes(sql):
    return _CTE.sub(r"\1\2 MATERIALIZED (", sql)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _bits(v):
    if isinstance(v, float):
        return ("f", struct.pack("<d", v))
    if isinstance(v, numbers.Integral) and not isinstance(v, bool):
        return ("i", int(v))
    return ("v", type(v).__name__, str(v))


def _both_nan(a, b):
    return (isinstance(a, float) and isinstance(b, float)
            and math.isnan(a) and math.isnan(b))


def compare_frames(got, exp):
    """None when equal, else the first difference found."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows, oracle has {len(exp)}"
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if (gk in "iu") != (ek in "iu") or (gk == "f") != (ek == "f"):
            return f"column {c}: dtype {got[c].dtype} != {exp[c].dtype}"
    if len(got) == 0:
        return None
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in got.columns:
        for i, (a, b) in enumerate(zip(list(g[c]), list(e[c]))):
            if _bits(a) != _bits(b) and not _both_nan(a, b):
                n = sum(1 for x, y in zip(list(g[c]), list(e[c]))
                        if _bits(x) != _bits(y) and not _both_nan(x, y))
                return (f"column {c}: {n} cells differ, first at row {i}: "
                        f"{a!r} vs {b!r}")
    return None


class Oracle:
    """Oracle results per key, each computed once.

    With `cache_dir`, a result is also kept on disk under a hash of its
    SQL, so later runs over the same (read-only) tables reuse it.
    """

    def __init__(self, data_dir, sql_by_key, cache_dir=None):
        self.con = connect(data_dir)
        self.sql = sql_by_key
        self.cache_dir = cache_dir
        self.cache = {}

    def _compute(self, key):
        sql = materialize_ctes(self.sql[key])
        path = None
        if self.cache_dir:
            digest = hashlib.sha256(sql.encode()).hexdigest()[:24]
            path = os.path.join(self.cache_dir, f"{key}-{digest}.pkl")
            if os.path.isfile(path):
                return pd.read_pickle(path)
        df = self.con.execute(sql).df()
        if path:
            os.makedirs(self.cache_dir, exist_ok=True)
            df.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        return df

    def expected(self, key):
        if key not in self.cache:
            try:
                self.cache[key] = (self._compute(key), None)
            except Exception as ex:  # noqa: BLE001 - reported as the cause
                self.cache[key] = (None, f"oracle error: {ex}")
        return self.cache[key]

    def check(self, key, out_dir):
        """None when the output at `out_dir` matches the oracle."""
        exp, err = self.expected(key)
        if err:
            return err
        try:
            got = self.con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/*.parquet')").df()
        except Exception as ex:  # noqa: BLE001 - reported as the cause
            return f"output unreadable: {ex}"
        return compare_frames(got, exp)

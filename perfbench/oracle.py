"""Output check: each landed Spark result against its DuckDB oracle.

Normalization follows the engine's own correctness gate: columns sorted
by name, every value stringified, nulls unified, rows sorted. The oracle
side depends only on the oracle SQL and the input data, so its normalized
digest is cached on disk under a key of both.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

from gen_data import TABLES


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def conv(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        return str(v)

    out = pd.DataFrame({c: df[c].map(conv) for c in df.columns}).astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def digest(df):
    n = norm(df)
    return {"columns": list(n.columns), "rows": len(n),
            "sha": hashlib.sha256(n.to_csv(index=False).encode()).hexdigest()}


class Oracles:
    def __init__(self, data_dir, data_stamp, cache_dir, tmp_dir):
        self.data_dir, self.data_stamp, self.cache_dir = data_dir, data_stamp, cache_dir
        self.tmp_dir = tmp_dir
        self.con = None

    def _connect(self):
        if self.con is None:
            self.con = duckdb.connect()
            # DuckDB spills to ./.tmp by default; keep it in the run's directory
            self.con.execute(f"SET temp_directory = '{self.tmp_dir}'")
            for t in TABLES:
                p = os.path.join(self.data_dir, t + ".parquet")
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self.con

    def expected(self, sql):
        key = hashlib.sha256((self.data_stamp + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        d = digest(self._connect().execute(sql).df())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".%d.tmp" % os.getpid()
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d


def landed(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


def check(oracles, sql, path):
    """None when the landed result at `path` matches the oracle, else a
    one-line reason."""
    df = landed(path)
    if df is None:
        return "no output landed"
    got, want = digest(df), oracles.expected(sql)
    if got["columns"] != want["columns"]:
        return "columns %s != oracle %s" % (got["columns"], want["columns"])
    if got["rows"] != want["rows"]:
        return "rows %d != oracle %d" % (got["rows"], want["rows"])
    if got["sha"] != want["sha"]:
        return "values differ from the oracle"
    return None

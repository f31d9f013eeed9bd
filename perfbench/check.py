"""Output checks against the DuckDB ``oracle_sql()`` twins.

Every call, warm or timed, is checked by ``digest``: one Spark aggregate
over the result, ``count(*)`` plus the sum of ``xxhash64`` over the
columns, compared with the same aggregate over the oracle's rows. It
follows ``tests/test_driver_contract.py``'s canonicalization: columns
sorted by name (and the names compared), integer widths and signedness
folded to one type, rows order-insensitive, values exact with NaN equal
to NaN (Spark hashes the canonical NaN bits) and ``-0.0`` folded to
``0.0``. An integer column never hashes like a float column, so a dtype
mismatch is a mismatch. It forces the full result without collecting it.

``compare`` is the same check on pandas frames, row by row; it only
explains a digest mismatch.

The oracle's rows are written by DuckDB to parquet and cached, keyed by
the seed, the bytes of the input files and the oracle SQL, because the
twins of the dedup and curation queries cost several seconds each.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _kind(s: pd.Series) -> str:
    k = s.dtype.kind
    return "i" if k == "u" else k


def compare(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``exp``, else the first reason it does not."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs {len(exp)}"
    for c in got.columns:
        if _kind(got[c]) != _kind(exp[c]):
            return f"dtype of {c}: {got[c].dtype} vs {exp[c].dtype}"
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        eq = a == b
        if _kind(got[c]) == "f":
            eq |= np.isnan(a) & np.isnan(b)
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: {a[i]!r} vs {b[i]!r}"
    return None


def digest(df) -> tuple[str, int, int]:
    """(column names, rows, sum of row hashes) of a Spark DataFrame."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.IntegralType, T.BooleanType)) or (
            isinstance(t, T.DecimalType) and t.scale == 0
        ):
            c = c.cast("bigint")
        elif isinstance(t, T.FractionalType):
            c = c.cast("double") + F.lit(0.0)  # -0.0 + 0.0 == +0.0
        else:
            c = c.cast("string")
        cols.append(c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return ",".join(sorted(df.columns)), int(row["n"]), int(row["h"] or 0)


def pandas_digest(spark, exp: pd.DataFrame) -> tuple[str, int, int]:
    """``digest`` of a pandas frame loaded into Spark as it is."""
    from pyspark.sql import types as T

    fields, data = [], {}
    for c in exp.columns:
        k = exp[c].dtype.kind
        if k in "iu":
            fields.append(T.StructField(c, T.LongType()))
            data[c] = exp[c].astype("int64")
        elif k == "f":
            fields.append(T.StructField(c, T.DoubleType()))
            data[c] = exp[c].astype("float64")
        elif k == "b":
            fields.append(T.StructField(c, T.BooleanType()))
            data[c] = exp[c]
        else:
            fields.append(T.StructField(c, T.StringType()))
            data[c] = exp[c].map(lambda v: None if v is None else str(v))
    return digest(spark.createDataFrame(pd.DataFrame(data), T.StructType(fields)))


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


class Oracle:
    """DuckDB over the workload's parquet files, with an on-disk result cache."""

    def __init__(self, data_dir: str, cache_dir: str, seed: int, threads: int):
        import duckdb

        self.con = duckdb.connect()
        self.con.sql(f"SET threads = {threads}")
        self.con.sql("SET memory_limit = '2GB'")
        files = []
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(data_dir, name)
                files.append(path)
                self.con.sql(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self.inputs = f"{seed}|{file_digest(files)}"
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def result(self, sql: str) -> tuple[str, bool]:
        """(parquet file of the oracle's rows, whether it was cached)."""
        key = hashlib.sha256(f"{self.inputs}|{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            return path, True
        tmp = f"{path}.{os.getpid()}.tmp"
        self.con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
        os.replace(tmp, path)
        return path, False

    def close(self) -> None:
        self.con.close()

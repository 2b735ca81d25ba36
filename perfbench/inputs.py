"""Deterministic inputs and the content hashes the correctness gates
compare against.

Pages come from `kmers_spark.pages.pages_df(spark, rows, seed=...)`,
generated afresh in every run's set-up: the seed changes from run to
run, so a cache across runs would only ever miss. DuckDB oracle hashes
for the document queries, which take no seed, are computed once and
cached under `.perfbench_cache/`, keyed by the input files' digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]


def content_hash(df, cols=PAGE_COLS) -> tuple[int, int]:
    """(row count, sum of per-row xxhash64 over `cols`) — equal for two
    DataFrames holding the same rows in any order. One Spark job."""
    from pyspark.sql import functions as F

    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def raw_bytes(df) -> int:
    """Raw logical bytes, as the engine counts them: string and binary
    payload lengths plus 8 bytes per timestamp."""
    from pyspark.sql import functions as F

    r = df.select(
        (F.sum(F.octet_length("url")) + F.sum(F.octet_length("text"))
         + F.sum(F.octet_length("lang")) + F.sum(F.length("html"))
         + F.count(F.lit(1)) * 8).alias("b")
    ).collect()[0]
    return int(r["b"])


def pages(spark, work: str, rows: int, seed: int, partitions: int):
    """(DataFrame, metadata) of the pages of `seed`: generated into the
    run's directory and read back from parquet, so the timed region
    never pays for generation, with the row count, raw logical bytes and
    content hash the checks compare against."""
    from kmers_spark import pages as gen

    d = os.path.join(work, "pages")
    gen.pages_df(spark, rows, seed=seed, partitions=partitions).write.parquet(d)
    df = spark.read.parquet(d)
    n, h = content_hash(df)
    return df, {"generator": "kmers_spark.pages.pages_df", "rows": n,
                "seed": seed, "hash": h, "raw_bytes": raw_bytes(df)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------ document queries

def _norm_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return repr(round(float(v), 9))
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def frame_hash(pdf) -> str:
    """Order-independent hash of a pandas frame's columns and values."""
    cols = sorted(pdf.columns)
    rows = sorted("\x1f".join(_norm_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))
    h = hashlib.md5("\x1e".join(cols).encode())
    h.update("\x1e".join(rows).encode())
    return h.hexdigest()


def oracle_hashes(cache_dir: str, data_dir: str, names: list[str]) -> tuple[dict, float]:
    """({query: frame hash of its oracle_sql() result on DuckDB}, seconds
    spent computing them). Computed once per input digest and cached, so
    the seconds are 0 on a cache hit."""
    import __spark_entry__ as entry

    digest = hashlib.md5()
    for t in ("documents", "embeddings"):
        with open(f"{data_dir}/{t}.parquet", "rb") as f:
            digest.update(f.read())
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"oracle-{digest.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if all(n in cached for n in names):
            return cached, 0.0
    import duckdb

    t0 = time.perf_counter()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        sql = entry.oracle_sql()
        out = {n: frame_hash(con.execute(sql[n]).fetchdf()) for n in names}
    finally:
        con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({**out, "computed_unix": int(time.time())}, f)
    os.replace(tmp, path)
    return out, time.perf_counter() - t0

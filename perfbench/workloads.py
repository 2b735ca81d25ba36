"""The two workloads. Each has a set-up, one timed *pass* (a fixed
sequence of operations, repeated until the run's seconds are used up)
and checks on every result.

- recrawl: a crawl cycle. Bulk `encode_table` of 40k generated pages into a
  fresh hash-bucketed store (skew detection and key Bloom sidecars on),
  then, on the store set-up built from the same pages: full decode, a
  `lang` scan, a 2% `warc_ts` window scan, hit and in-range miss lookups,
  `upsert_table` of a 1% batch (half changed existing urls, half new
  urls past the base rows) and `delete_keys` of 1% of the keys, each
  followed by lookups. Every layer of the store runs: bucketing, encode
  and decode kernels, parquet write and commit, pruning, per-bucket
  rewrites; manifest versions pile up.
- doc_queries: one pass over five `__spark_entry__.queries()` entries,
  one per `functions/` module, on the seed-42 reference tables at
  sf0.1 copied into `perfbench/data`. The only workload on `functions/`
  and `kernels/vec`; it takes no seed and bypasses the store.

Every timed operation's output is consumed and checked: decodes and
scans by an order-independent content hash against the source, lookups
row by row, mutations by their reported counts, queries against their
DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

ROWS = 40_000          # pages per input; ~16 MB of raw logical bytes
NUM_BUCKETS = 16
STABLE_ROWS = 8        # recrawl: never-mutated rows, probed by lookups
MAX_BATCHES = 3        # recrawl: mutation batches, so passes, at most
# one query per functions/ module, so a pass fits the run budget:
# dna, textqc, dedup, ann with kernels/vec, and the in-memory codec round trip
DOC_QUERIES = [
    "canonical_count", "token_count", "minhash_lsh_pairs",
    "ann_ivf_lloyd_topk", "codec_roundtrip_documents",
]
EMBEDDING_QUERIES = {"ann_ivf_lloyd_topk"}


def _spark_row(r) -> dict:
    """A pandas row as the column values Spark returns for it."""
    d = r.to_dict()
    d["warc_ts"] = d["warc_ts"].to_pydatetime()
    d["text"] = None if d["text"] is None or d["text"] != d["text"] else d["text"]
    return d


class Run:
    """State of one benchmark run: the session, directories, tracer,
    and every timed sample with its check result."""

    def __init__(self, spark, root: str, work: str, cache: str, seed: int,
                 cores: int, tracer):
        self.spark, self.sc = spark, spark.sparkContext
        self.root, self.work, self.cache = root, work, cache
        self.seed, self.cores, self.tracer = seed, cores, tracer
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.op_seconds = 0.0  # total timed-operation wall, for pass walls
        self.timing = True  # False during warm-up: nothing is recorded

    def op(self, name: str, fn, check=None):
        """Time `fn()` as one operation, then check its result outside
        the timed region. Returns the result, or None if it failed."""
        try:
            t0 = time.perf_counter()  # tracing's own cost is inside the wall
            with self.tracer.op(name, self.sc):
                res = fn()
            dt = time.perf_counter() - t0
            ok = check(res) if check is not None else True
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc(file=sys.stderr)
            res, ok, dt = None, False, None
        if not ok:  # warm-up failures count too: the program is broken
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            return None
        if self.timing:
            self.attempted += 1
            self.samples.setdefault(name, []).append(dt)
            self.op_seconds += dt
        return res

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def _hash_check(expect):
    return lambda got: got == expect


def _hash_aggs(filters: dict) -> list:
    """Per filter k, the aggregates n_k and h_k: the row count and the
    content_hash sum over the rows the filter keeps."""
    from pyspark.sql import functions as F

    from perfbench import inputs

    h = F.xxhash64(*inputs.PAGE_COLS).cast("decimal(38,0)")
    return [a for k, f in filters.items() for a in (
        F.sum(F.when(f, 1).otherwise(0)).alias(f"n_{k}"),
        F.sum(F.when(f, h).otherwise(0)).alias(f"h_{k}"))]


def _sample_rows(df, seed: int, n: int) -> list:
    """n source rows in a seed-dependent order (one Spark job)."""
    from pyspark.sql import functions as F

    return df.orderBy(F.xxhash64("url", F.lit(seed))).limit(n).collect()


def _lookup(run: Run, name: str, store: str, key: str, expect_row):
    """One point lookup; a hit must return exactly `expect_row` (a Row
    or a column dict), a miss (expect_row None) nothing."""
    from kmers_spark.operators import decode

    if expect_row is None:
        want = []
    else:
        want = [expect_row.asDict() if hasattr(expect_row, "asDict") else expect_row]
    run.op(name, lambda: decode.lookup_keys(run.spark, store, [key]).collect(),
           lambda rows: [r.asDict() for r in rows] == want)


# ---------------------------------------------------------------- recrawl

class Recrawl:
    """A crawl cycle on one store. Each pass bulk-encodes the pages into a
    fresh store (ingest), reads the serving store (full decode, a `lang`
    scan, a 2% `warc_ts` window scan, hit and miss lookups), then upserts
    a 1% batch into it and deletes 1% of its keys, each mutation followed
    by a hit and a miss lookup. Read results are checked after the loop
    against the source adjusted by the batches applied before them."""

    name = "recrawl"
    max_passes = MAX_BATCHES

    def setup(self, run: Run) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from perfbench import inputs
        from kmers_spark import pages
        from kmers_spark.operators import decode, encode

        spark = run.spark
        self.df, self.meta = inputs.pages(spark, run.work, ROWS, run.seed,
                                          2 * run.cores)
        base = run.path("base")
        encode.encode_table(self.df, base, num_buckets=NUM_BUCKETS)
        half = ROWS // 200
        per_batch = half + 2 * half  # changed rows, then doomed rows
        sample = _sample_rows(self.df, run.seed, MAX_BATCHES * per_batch + STABLE_ROWS)
        self.stable = sample[MAX_BATCHES * per_batch:]  # never mutated
        self.batches = []
        for i in range(MAX_BATCHES):
            chunk = sample[i * per_batch:(i + 1) * per_batch]
            old, doomed = chunk[:half], chunk[half:]
            changed = pd.DataFrame([r.asDict() for r in old], columns=inputs.PAGE_COLS)
            changed["text"] = changed["text"].fillna("") + " recrawled"
            new = pages.generate_chunk(ROWS + i * half, half, seed=run.seed)
            up = pd.concat([changed, new], ignore_index=True)
            self.batches.append({
                "old": old,
                "up": [_spark_row(r) for _, r in up.iterrows()],
                "up_df": spark.createDataFrame(up, pages.SCHEMA),
                "changed0": _spark_row(up.iloc[0]),
                "new0": _spark_row(up.iloc[-1]),
                "doomed": doomed,
            })
        # a 2% warc_ts window at a seed-dependent place in the range
        lo, hi = self.df.select(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
        width = (hi - lo) * 0.02
        start = lo + (hi - lo - width) * ((run.seed * 2654435761) % 1000 / 1000)
        self.ts_filters = [("warc_ts", ">=", start), ("warc_ts", "<", start + width)]
        self.filters = {
            "decode": F.lit(True),
            "scan_lang": F.col("lang") == "pl",
            "scan_ts": (F.col("warc_ts") >= start) & (F.col("warc_ts") < start + width),
        }
        scans = ("scan_lang", "scan_ts")
        r = self.df.select(*_hash_aggs({k: self.filters[k] for k in scans})).collect()[0]
        self.base_expect = {"decode": (self.meta["rows"], self.meta["hash"])}
        for k in scans:
            self.base_expect[k] = (int(r[f"n_{k}"]), int(r[f"h_{k}"]))
        self.reads: list[tuple[str, int, tuple]] = []  # (op, batches applied, result)
        self.reports: list[dict] = []
        self.applied = 0
        self.ingested = 0
        self.last_ingest = None
        # warm-up: each read path once on the base store, checked. Building
        # the base ran encode_table; upsert and delete run the same decode
        # and encode kernels, so a warm-up mutation would add little
        saved, run.timing = run.timing, False
        for name, make_df in (
                ("decode", lambda: decode.decode_table(spark, base)),
                ("scan_lang", lambda: decode.scan_table(spark, base, [("lang", "=", "pl")])),
                ("scan_ts", lambda: decode.scan_table(spark, base, self.ts_filters))):
            run.op(name, lambda f=make_df: inputs.content_hash(f()),
                   _hash_check(self.base_expect[name]))
        _lookup(run, "lookup_hit", base, self.stable[0]["url"], self.stable[0])
        _lookup(run, "lookup_miss", base, self.stable[0]["url"] + "/absent", None)
        run.timing = saved
        self.store = base

    def _read(self, run: Run, name: str, make_df) -> None:
        from perfbench import inputs

        res = run.op(name, lambda: inputs.content_hash(make_df()))
        if res is not None and run.timing:
            self.reads.append((name, self.applied, res))

    def _pass(self, run: Run, b: dict) -> None:
        from kmers_spark.operators import decode, delete, encode, upsert

        spark, store = run.spark, self.store
        fresh = run.path(f"ingest-{self.ingested}")
        self.ingested += 1
        if run.op("encode", lambda: encode.encode_table(
                self.df, fresh, num_buckets=NUM_BUCKETS)) is not None:
            if self.last_ingest:
                shutil.rmtree(self.last_ingest)
            self.last_ingest = fresh
        self._read(run, "decode", lambda: decode.decode_table(spark, store))
        self._read(run, "scan_lang", lambda: decode.scan_table(
            spark, store, [("lang", "=", "pl")]))
        self._read(run, "scan_ts", lambda: decode.scan_table(spark, store, self.ts_filters))
        half = len(b["old"])
        up = run.op("upsert", lambda: upsert.upsert_table(spark, store, b["up_df"]),
                    # rows_inserted counts every incoming row, replaced or new
                    lambda r: (r["rows_replaced"], r["rows_inserted"]) == (half, 2 * half))
        _lookup(run, "lookup_hit", store, b["changed0"]["url"], b["changed0"])
        _lookup(run, "lookup_miss", store, self.stable[0]["url"] + "/absent", None)
        keys = [r["url"] for r in b["doomed"]]
        de = run.op("delete", lambda: delete.delete_keys(spark, store, keys),
                    lambda r: r["rows_deleted"] == len(keys))
        _lookup(run, "lookup_hit", store, b["new0"]["url"], b["new0"])
        _lookup(run, "lookup_miss", store, keys[0], None)
        if up is not None and de is not None and run.timing:
            self.reports.append({"upsert": up, "delete": de})

    def one_pass(self, run: Run) -> None:
        self._pass(run, self.batches[self.applied])
        self.applied += 1

    def _expected(self, run: Run) -> dict[str, list[tuple[int, int]]]:
        """{read op: [(rows, hash) after k batches, for k = 0..applied]}:
        the source minus the removed row versions plus the upserted ones."""
        from perfbench import inputs
        from kmers_spark import pages

        spark = run.spark
        gone = [(i, *r) for i, b in enumerate(self.batches[:self.applied])
                for r in b["old"] + b["doomed"]]
        up = [(i, *[r[c] for c in inputs.PAGE_COLS])
              for i, b in enumerate(self.batches[:self.applied]) for r in b["up"]]
        schema = "batch int, " + pages.SCHEMA

        def deltas(rows) -> dict[int, dict]:
            if not rows:
                return {}
            return {r["batch"]: r.asDict() for r in
                    spark.createDataFrame(rows, schema).groupBy("batch")
                    .agg(*_hash_aggs(self.filters)).collect()}

        minus, plus = deltas(gone), deltas(up)
        out = {}
        for k in self.filters:
            n, hh = self.base_expect[k]
            seq = [(n, hh)]
            for i in range(self.applied):
                m, p = minus.get(i, {}), plus.get(i, {})
                n += int(p.get(f"n_{k}") or 0) - int(m.get(f"n_{k}") or 0)
                hh += int(p.get(f"h_{k}") or 0) - int(m.get(f"h_{k}") or 0)
                seq.append((n, hh))
            out[k] = seq
        return out

    def verify(self, run: Run) -> None:
        """Every read of the loop, and a final decode, against the source
        adjusted for the batches applied before it: the row count is
        base - deleted + inserted."""
        from perfbench import inputs
        from kmers_spark.operators import decode

        expect = self._expected(run)
        for name, k, res in self.reads:
            if res != expect[name][k]:
                run.failed += 1
                print(f"perfbench: {name} after {k} batches read {res}, "
                      f"expected {expect[name][k]}", file=sys.stderr)
        run.op("verify_decode",
               lambda: inputs.content_hash(decode.decode_table(run.spark, self.store)),
               _hash_check(expect["decode"][self.applied]))
        run.op("verify_ingest",
               lambda: inputs.content_hash(decode.decode_table(run.spark, self.last_ingest)),
               _hash_check(expect["decode"][0]))
        probe = self.stable[0]
        _lookup(run, "verify_ingest_hit", self.last_ingest, probe["url"], probe)
        _lookup(run, "verify_ingest_miss", self.last_ingest, probe["url"] + "/absent", None)

    def pass_raw_bytes(self) -> int:
        """Raw logical bytes of the table a pass cycles through."""
        return self.meta["raw_bytes"]


# ------------------------------------------------------------ doc_queries

class DocQueries:
    name = "doc_queries"
    max_passes = 1_000_000

    def setup(self, run: Run) -> None:
        import pyarrow.parquet as pq

        from perfbench import inputs

        data = os.path.join(run.root, "perfbench", "data")
        self.dir = os.path.join(data, "sf0.1")
        self.oracle, big_s = inputs.oracle_hashes(run.cache, self.dir, DOC_QUERIES)
        self.table_bytes = {t: pq.read_table(f"{self.dir}/{t}.parquet").nbytes
                            for t in ("documents", "embeddings")}
        # warm-up: the same queries, checked, on the sf0.01 tables
        small = os.path.join(data, "sf0.01")
        oracle_small, small_s = inputs.oracle_hashes(run.cache, small, DOC_QUERIES)
        self.oracle_s = big_s + small_s
        saved, run.timing = run.timing, False
        self._pass(run, small, oracle_small)
        run.timing = saved

    def _pass(self, run: Run, sf_dir: str, oracle: dict) -> None:
        import __spark_entry__ as entry

        from perfbench import inputs

        qs = entry.queries()
        with run.tracer.span("doc_queries.pass"):
            for q in DOC_QUERIES:
                run.op(q, lambda q=q: qs[q](run.spark, sf_dir).toPandas(),
                       lambda pdf, q=q: inputs.frame_hash(pdf) == oracle[q])

    def one_pass(self, run: Run) -> None:
        self._pass(run, self.dir, self.oracle)

    def verify(self, run: Run) -> None:
        pass  # every query result is checked against its oracle as it runs

    def pass_raw_bytes(self) -> int:
        """Raw (Arrow) bytes of the input tables the queries of a pass read."""
        return sum(self.table_bytes["embeddings" if q in EMBEDDING_QUERIES
                                    else "documents"] for q in DOC_QUERIES)


WORKLOADS = {w.name: w for w in (Recrawl, DocQueries)}

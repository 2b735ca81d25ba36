"""Per-layer measurements for traced runs (`--trace 1`).

Each probe calls one engine module directly, inside a span, so its time
is that layer's alone: the bucket plan, the JVM<->Python Arrow boundary
with a kernel that does no codec work, the encode and decode kernels
in-process on one thread, the manifest and pruning calls in this process.
`run.per_layer()` then sets the layers of an operation against its
wall time; what they leave unexplained is reported, not folded into any
layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench.inputs import PAGE_COLS as COLS
from perfbench.workloads import NUM_BUCKETS

LOOKUP_PROBES = 24   # per kind: the tail is p58, with 10 samples beyond it
TAIL_Q = 58


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn, reps: int = 1) -> float:
    """Median wall of `reps` calls of fn, each inside its own span."""
    walls = []
    for _ in range(reps):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _trivial_kernel(table):
    import pyarrow as pa

    b = table.column("bucket")[0].as_py() if table.num_rows else -1
    return pa.table({"bucket": pa.array([b], pa.int32()),
                     "n": pa.array([table.num_rows], pa.int64())})


def _by_bucket(table):
    import pyarrow.compute as pc

    for b in sorted(set(table.column("bucket").to_pylist())):
        yield b, table.filter(pc.equal(table.column("bucket"), b))


def encode_layers(run, df) -> tuple[dict, dict]:
    """Encode-side layers of one input: (metrics, codec labels)."""
    import pyarrow.compute as pc

    from kmers_spark import arrowcodecs, selector, zonemap
    from kmers_spark.kernels import bloom
    from kmers_spark.operators import encode, partitioning

    tr, out = run.tracer, {}
    schema = {f.name: selector.spark_type_name(f.dataType) for f in df.schema.fields}
    hot: dict = {}

    def detect():
        hot.clear()
        hot.update(partitioning.detect_hot_keys(df, NUM_BUCKETS, "url",
                                                sample_fraction=0.05))

    out["partitioning.detect_hot_keys_s"] = _timed(tr, "partitioning.detect_hot_keys", detect, 1)
    out["partitioning.hot_keys"] = len(hot)
    bucketed = encode.plan_buckets(df, NUM_BUCKETS, hot, "url")
    out["encode.boundary_s"] = _timed(tr, "encode.boundary", lambda: _noop(
        bucketed.groupBy("bucket").applyInArrow(_trivial_kernel, "bucket int, n long")), 1)
    blooms = run.path("probe-bloom")
    out["encode.blocks_noop_s"] = _timed(tr, "encode.blocks_noop", lambda: _noop(
        encode.encode_blocks_df(bucketed, schema, "url", None,
                                bloom_dir=bloom.stage_dir(blooms))), 1)

    # in-process, one thread: the kernel as a whole, then its steps per column
    table = bucketed.toArrow()
    fn = encode.make_encode_fn_arrow(schema, "url", None,
                                     bloom_dir=bloom.stage_dir(blooms + "-k"))
    raw = 0
    t = {k: 0.0 for k in ("kernel", "bounds", "bloom")}
    per = {c: {"stats": 0.0, "enc": 0.0, "raw": 0, "bytes": 0, "codec": {}} for c in COLS}
    for _, sub in _by_bucket(table):
        with tr.span("encode.kernel"):
            t0 = time.perf_counter()
            blocks = fn(sub)
            t["kernel"] += time.perf_counter() - t0
        for c, r in zip(blocks.column("column").to_pylist(),
                        blocks.column("raw_nbytes").to_pylist()):
            per[c]["raw"] += r
            raw += r
        sub = sub.take(pc.sort_indices(sub, sort_keys=[("url", "ascending")]))
        for c in COLS:
            arr = sub.column(c).combine_chunks()
            p = per[c]
            with tr.span(f"selector.stats.{c}"):
                t0 = time.perf_counter()
                codec = selector.select_codec(
                    arrowcodecs.column_stats_arrow(arr, schema[c]), schema[c])
                p["stats"] += time.perf_counter() - t0
            with tr.span(f"arrowcodecs.encode.{c}"):
                t0 = time.perf_counter()
                payload, meta = arrowcodecs.encode_column_arrow(arr, codec, schema[c])
                p["enc"] += time.perf_counter() - t0
            codec = meta.get("codec", codec)
            p["codec"][codec] = p["codec"].get(codec, 0) + 1
            p["bytes"] += len(payload)
            with tr.span("zonemap.bounds"):
                t0 = time.perf_counter()
                zonemap.bounds_arrow(arr, schema[c])
                t["bounds"] += time.perf_counter() - t0
        with tr.span("bloom.build"):
            t0 = time.perf_counter()
            bloom.build_for_key_arrow(sub.column("url"), "string")
            t["bloom"] += time.perf_counter() - t0
    out["encode.kernel_s"] = t["kernel"]
    out["encode.kernel_mb_s"] = raw / 1e6 / t["kernel"]
    out["zonemap.bounds_s"] = t["bounds"]
    out["bloom.build_s"] = t["bloom"]
    labels = {}
    for c in COLS:
        p = per[c]
        out[f"selector.stats_s.{c}"] = p["stats"]
        out[f"arrowcodecs.encode_s.{c}"] = p["enc"]
        out[f"arrowcodecs.enc_ratio.{c}"] = p["bytes"] / max(p["raw"], 1)
        labels[c] = max(p["codec"], key=p["codec"].get)
    return out, labels


def decode_layers(run, store: str) -> tuple[dict, list]:
    """Decode-side layers of a store; also returns each bucket's decoded
    Arrow table (with its bucket column) for an in-process re-encode."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kmers_spark import arrowcodecs, manifest
    from kmers_spark.operators import decode
    from kmers_spark.operators.encode import committed_wave_paths

    tr, spark, out = run.tracer, run.spark, {}
    m = manifest.load(store)
    out["manifest.load_ms"] = 1e3 * _timed(tr, "manifest.load", lambda: manifest.load(store), 9)
    out["manifest.block_stats_ms"] = 1e3 * _timed(
        tr, "manifest.block_stats", lambda: manifest.block_stats(store, m), 9)
    paths = committed_wave_paths(store, m)
    out["decode.boundary_s"] = _timed(tr, "decode.boundary", lambda: _noop(
        spark.read.parquet(*paths).groupBy("bucket")
        .applyInArrow(_trivial_kernel, "bucket int, n long")), 1)
    out["decode.table_noop_s"] = _timed(
        tr, "decode.table_noop", lambda: _noop(decode.decode_table(spark, store)), 1)
    out["decode.colocated_noop_s"] = _timed(
        tr, "decode.colocated_noop", lambda: _noop(decode.decode_colocated(spark, store)), 1)

    blocks = pa.concat_tables(
        pq.read_table(p, columns=["bucket", "column", "payload", "meta"])
        for p in paths if any(f.endswith(".parquet") for f in os.listdir(p)))
    per = {c: 0.0 for c in COLS}
    tables = []
    for b, sub in _by_bucket(blocks):
        cols = {}
        for name, payload, meta in zip(sub.column("column").to_pylist(),
                                       sub.column("payload"),
                                       sub.column("meta").to_pylist()):
            with tr.span(f"arrowcodecs.decode.{name}"):
                t0 = time.perf_counter()
                cols[name] = arrowcodecs.decode_column_arrow(payload.as_py(),
                                                             json.loads(meta))
                per[name] += time.perf_counter() - t0
        n = len(cols["url"])
        tables.append(pa.table({**{c: cols[c] for c in COLS},
                                "bucket": pa.array([b] * n, pa.int32())}))
    for c in COLS:
        out[f"arrowcodecs.decode_s.{c}"] = per[c]
    out["decode.kernel_s"] = sum(per.values())
    return out, tables


def kernel_reencode_s(run, tables: list, schema: dict) -> float:
    """In-process encode kernel over already-bucketed Arrow tables."""
    from kmers_spark.kernels import bloom
    from kmers_spark.operators import encode

    fn = encode.make_encode_fn_arrow(schema, "url", None,
                                     bloom_dir=bloom.stage_dir(run.path("probe-bloom-r")))
    total = 0.0
    for t in tables:
        with run.tracer.span("encode.kernel"):
            t0 = time.perf_counter()
            fn(t)
            total += time.perf_counter() - t0
    return total


def pruning_counts(run, store: str, ts_filters, miss_keys: list[str]) -> dict:
    """Buckets each pruning layer keeps, from the manifest alone."""
    from kmers_spark import manifest, zonemap
    from kmers_spark.operators import decode, partitioning

    m = manifest.load(store)
    schema = manifest.ordered_schema(m)
    stats = manifest.block_stats(store, m)
    out = {}
    for name, filters in (("scan_lang", [("lang", "=", "pl")]), ("scan_ts", ts_filters)):
        norm = zonemap.normalize_filters(filters, schema)
        kept = zonemap.prune_buckets(m, norm, blocks=stats)
        out[f"zonemap.buckets_kept.{name}"] = len(
            decode.bloom_prune_filters(store, m, norm, kept))
    # a key lookup's Bloom stage (lookup_keys' own pruning step)
    kept = 0
    for k in miss_keys:
        b = partitioning.bucket_for_key(k, m["num_buckets"], m.get("hot_keys") or {},
                                        scheme=m.get("bucket_scheme"))
        kept += len(decode._bloom_prune(store, m, m["key"], {b: [k]}))
    out["bloom.buckets_kept.lookup_miss"] = kept
    return out


def lookup_tails(run, store: str, hit_rows: list, miss_keys: list[str]) -> dict:
    """A fixed count of hit and miss lookups, so the tail percentile is
    the same in every run."""
    from perfbench.workloads import _lookup

    out = {}
    for kind, items in (("hit", hit_rows), ("miss", miss_keys)):
        name = f"probe_lookup_{kind}"
        for i in range(LOOKUP_PROBES):
            x = items[i % len(items)]
            if kind == "hit":
                _lookup(run, name, store, x["url"], x)
            else:
                _lookup(run, name, store, x, None)
        ms = [1e3 * s for s in run.samples.get(name, [])]
        if ms:
            q = statistics.quantiles(ms, n=100)
            out[f"lookup_{kind}_ms.p50"] = statistics.median(ms)
            out[f"lookup_{kind}_ms.tail_p{TAIL_Q}"] = q[TAIL_Q - 1]
    return out


def manifest_growth(store: str) -> dict:
    names = [n for n in os.listdir(store) if os.path.isfile(os.path.join(store, n))]
    return {
        "manifest.versions": sum(n.startswith("manifest-v") for n in names),
        "manifest.bytes": sum(os.path.getsize(os.path.join(store, n)) for n in names),
    }

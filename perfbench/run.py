"""kmers_spark benchmark: one workload, one run.

    python3 perfbench/run.py --workload {recrawl,doc_queries}
        --seed N --seconds S --trace {0,1}

Runs from the root of a checkout and reads and writes only inside it:
inputs, stores and Spark's local and temporary directories live in
`.perfbench_work/<pid>/` (on disk, removed at exit), the DuckDB oracle
cache in `.perfbench_cache/`, traces in `.perfbench_traces/`. Spark runs
as `local[min(4, nproc)]` in this process: one closed-loop client. Every
process the run starts has ended when it exits, on every path out; a
run that outlives DEADLINE_S stops itself with an error.

Set-up (session start, input generation, store build, warm-up) is timed
as `setup_s`. Then passes of the workload run until `--seconds` have
passed, every result is checked, and the last line of stdout is one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are BENCHMARK.json's `end_to_end` list; with
`--trace 1` its `per_layer` list, where a layer the workload bypasses
reads 0. The line before it is a stamp: host health (hostcheck.probe at
start and end), cores, versions, sizes and, for traced runs, codec
labels.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, os.cpu_count() or 1)
JVM_HEAP = "2g"
TRACES_KEPT = 40
DEADLINE_S = 150  # a run that takes longer stops itself, within 180 s
JVM_EXIT_S = 10
REAP_S = 5
SPARK_OPS = ["encode", "decode", "scan_lang", "scan_ts", "lookup_hit",
             "lookup_miss", "upsert", "delete"]


def _environment(work: str) -> None:
    """Point Spark, the JVM and Python workers at the run's directory.
    Must happen before pyspark starts the JVM."""
    for d in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    # every JVM, the spark-submit launcher too, keeps its files in the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        # a fixed heap size keeps the JVM's resident set comparable run to run
        f"--driver-java-options '-Xms{JVM_HEAP}' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


def _session():
    from kmers_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Deadline(BaseException):
    """Raised in the main thread when a run outlives DEADLINE_S; not an
    Exception, so no operation's failure handler swallows it."""


def _on_signal(signum, frame):
    if signum == signal.SIGALRM:
        raise Deadline(f"run exceeded {DEADLINE_S} s")
    raise SystemExit(128 + signum)


def _guard() -> None:
    """Every way out of a run passes through its cleanup: termination
    signals and the deadline raise in the main thread. And this process
    becomes the reaper of all it starts (Linux), so the pyspark daemon and
    its workers, which outlive the JVM that forked them, are re-parented
    here and `_reap` can wait for each."""
    import ctypes

    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT, signal.SIGALRM):
        signal.signal(sig, _on_signal)
    signal.alarm(DEADLINE_S)
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _stop_spark() -> None:
    """Stop Spark, if it started, and wait for its JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=JVM_EXIT_S)
        except Exception:
            proc.kill()
            proc.wait()


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for p in os.listdir("/proc"):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            out.append(int(p))
    return out


def _reap() -> None:
    """Wait until every process the run started has ended, killing what
    is left after REAP_S seconds."""
    deadline = time.monotonic() + REAP_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _children():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 1
        time.sleep(0.05)


def _cleanup(work: str) -> None:
    signal.alarm(0)
    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, signal.SIG_IGN)  # let the cleanup finish
    try:
        _stop_spark()
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prune_traces(d: str) -> None:
    files = sorted((os.path.join(d, f) for f in os.listdir(d)), key=os.path.getmtime)
    for f in files[:-TRACES_KEPT]:
        os.remove(f)


def end_to_end(run, w, setup_s: float, passes: list[float], peak_kb: int) -> dict:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_kb / 1024,
        "ok_ops_frac": 1 - run.failed / max(run.attempted, 1),
        "raw_mb_s": w.pass_raw_bytes() / 1e6 / _median(passes),
        "pass_s": _median(passes),
    }


def per_layer(run, w, passes: list[float], stamp: dict) -> dict:
    """Layer probes for the workload, and the ledger that sets them
    against the wall time of its operation."""
    from perfbench import inputs, probes

    s, tr, n = run.samples, run.tracer, run.cores
    out = {"failed_ops_frac": run.failed / max(run.attempted, 1),
           # the tracer's own time inside the timed operations' walls
           "trace.overhead_frac": tr.overhead / run.op_seconds}
    for op in SPARK_OPS:
        if tr.jobs(op):
            out[f"spark.jobs.{op}"] = _median(tr.jobs(op))

    if w.name == "recrawl":
        from kmers_spark import manifest

        enc, stamp["codecs"] = probes.encode_layers(run, w.df)
        table = _median(s["encode"])
        enc["encode.table_s"] = table
        enc["encode.write_commit_s"] = (table - enc["encode.blocks_noop_s"]
                                        - enc["partitioning.detect_hot_keys_s"])
        enc["encode_mb_s"] = w.meta["raw_bytes"] / 1e6 / table
        enc["stored_bytes_per_raw_byte"] = \
            inputs.dir_bytes(w.last_ingest) / w.meta["raw_bytes"]
        explained = (enc["partitioning.detect_hot_keys_s"] + enc["encode.boundary_s"]
                     + enc["encode.kernel_s"] / n + enc["encode.write_commit_s"])
        enc["ledger.unexplained_frac.encode"] = 1 - explained / table
        lay, tables = probes.decode_layers(run, w.store)
        reencode_s = probes.kernel_reencode_s(
            run, tables, manifest.ordered_schema(manifest.load(w.store)))
        lay.update(probes.manifest_growth(w.store))
        absent = [r["url"] + "/absent" for r in w.stable]
        lay.update(probes.pruning_counts(run, w.store, w.ts_filters, absent))
        lay.update(probes.lookup_tails(run, w.store, w.stable, absent))
        lay["decode_mb_s"] = w.meta["raw_bytes"] / 1e6 / _median(s["decode"])
        lay["scan_lang_ms.p50"] = 1e3 * _median(s["scan_lang"])
        lay["scan_ts_ms.p50"] = 1e3 * _median(s["scan_ts"])
        up = [len(r["upsert"]["buckets_rewritten"]) for r in w.reports]
        de = [len(r["delete"]["buckets_rewritten"]) for r in w.reports]
        lay["upsert.buckets_rewritten"] = _median(up)
        lay["delete.buckets_rewritten"] = _median(de)
        stats = manifest.block_stats(w.store, manifest.load(w.store))
        bucket_raw = {int(b): sum(c["raw_nbytes"] for c in cs) for b, cs in stats.items()}
        batch_bytes = len(w.batches[0]["up"]) * w.meta["raw_bytes"] / w.meta["rows"]
        lay["upsert.bytes_rewritten_per_batch_byte"] = _median([
            sum(bucket_raw.get(int(b), 0) for b in r["upsert"]["buckets_rewritten"])
            / batch_bytes for r in w.reports])
        lay["upsert_s.p50"] = _median(s["upsert"])
        lay["delete_s.p50"] = _median(s["delete"])
        # the ledger of a mutation: manifest work in this process plus the
        # decode and re-encode kernels of the rewritten buckets
        mutation = lay["upsert_s.p50"] + lay["delete_s.p50"]
        rewritten = (lay["upsert.buckets_rewritten"] + lay["delete.buckets_rewritten"]) \
            / len(bucket_raw)
        explained = (2 * (lay["manifest.load_ms"] + lay["manifest.block_stats_ms"]) / 1e3
                     + (lay["decode.kernel_s"] + reencode_s) * rewritten / n)
        lay["ledger.unexplained_frac.mutation"] = 1 - explained / mutation
        lay.update(enc)
    else:
        from perfbench.workloads import DOC_QUERIES

        lay = {f"functions.{q}_s": _median(s[q]) for q in DOC_QUERIES}
        lay["doc_queries_s"] = _median(passes)
        selfs = tr.self_times()
        lay["ledger.unexplained_frac.queries"] = _median([
            st / (sp["end"] - sp["start"])
            for sp, st in zip(tr.spans, selfs) if sp["name"] == "doc_queries.pass"])
    out.update(lay)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {m["name"]: m["unit"]
              for m in bench["per_layer" if args.trace else "end_to_end"]}
    sys.path.insert(0, ROOT)
    from perfbench.workloads import ROWS, WORKLOADS, Run
    from perfbench.trace import RssSampler, Tracer

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _guard()
    try:
        _environment(work)
        from kmers_spark import hostcheck  # fails outside a full checkout
        import pyarrow
        import pyspark

        stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "cores": CORES, "nproc": os.cpu_count(),
                 "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                 "rows": ROWS, "store_and_spark_dirs": "disk (checkout)",
                 "host_start": hostcheck.probe()}
        cache = os.path.join(ROOT, ".perfbench_cache")
        workload = WORKLOADS[args.workload]
        t_session = time.perf_counter()
        spark = _session()
        stamp["session_start_s"] = time.perf_counter() - t_session
        tracer = Tracer(enabled=bool(args.trace))
        run = Run(spark, ROOT, work, cache, args.seed, CORES, tracer)
        w = workload()
        passes = []
        with RssSampler() as rss:
            w.setup(run)
            # the DuckDB oracles of a cache miss are a first-run cost
            first_run_s = getattr(w, "oracle_s", 0.0)
            setup_s = time.perf_counter() - T0 - first_run_s
            t_loop = time.perf_counter()
            while not passes or (time.perf_counter() - t_loop < args.seconds
                                 and len(passes) < w.max_passes):
                before = run.op_seconds
                w.one_pass(run)
                passes.append(run.op_seconds - before)
        w.verify(run)
        if args.trace:
            metrics = per_layer(run, w, passes, stamp)
        else:
            metrics = end_to_end(run, w, setup_s, passes, rss.peak_kb)
        if hasattr(w, "df"):
            stamp["input_raw_bytes"] = w.meta["raw_bytes"]
        stamp.update(setup_s=setup_s, first_run_s=first_run_s, passes=len(passes),
                     samples={k: len(v) for k, v in run.samples.items()})
        if args.trace:
            tdir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(
                tdir, f"{args.workload}-s{args.seed}-{int(time.time())}.jsonl"))
            _prune_traces(tdir)
    finally:
        _cleanup(work)

    unknown = set(metrics) - set(wanted)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    stamp["host_end"] = hostcheck.probe()
    stamp["healthy"] = stamp["host_start"]["healthy"] and stamp["host_end"]["healthy"]
    print(json.dumps({"stamp": stamp}, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in wanted.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

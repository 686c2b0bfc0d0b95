"""One benchmark run: session set-up, inputs, warm-up, timed passes,
checks, metrics and the run record. Entered from ``run.py`` after the
process environment points every write into the checkout."""

from __future__ import annotations

import collections
import gc
import json
import os
import statistics
import sys
import time

import metrics
import workloads
from tracer import Tracer

#: end-to-end metrics, printed with ``--trace 0`` (name -> unit). The
#: tail latency is in the run record only: a run times 6 to 18 ops, too
#: few for a percentile above the median with 10 samples beyond it.
END_TO_END = {
    "setup_s": "s",
    "throughput_ops_s": "1/s",
    "latency_p50_s": "s",
}

#: per-layer metrics, printed with ``--trace 1`` (name -> unit). Counts,
#: bytes and seconds are per timed operation, except ``session.*`` (the
#: set-up and warm-up), ``mem.*`` (peaks) and the ``versioned.*`` table
#: totals; ratios are over the whole timed section.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_pass_s": "s",
    "entry.build_s": "s",
    "entry.collect_s": "s",
    "driver.self_s": "s",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.tasks_per_job": "count",
    "sched.task_run_s": "s",
    "sched.task_cpu_s": "s",
    "sched.busy_frac": "ratio",
    "sched.failed_tasks": "count",
    "scan.files_read": "count",
    "scan.bytes_read": "bytes",
    "scan.rows_out": "count",
    "scan.time_s": "s",
    "shuffle.bytes_written": "bytes",
    "shuffle.records_written": "count",
    "shuffle.partitions_planned": "count",
    "shuffle.partitions_after_aqe": "count",
    "broadcast.bytes": "bytes",
    "agg.peak_mem_bytes": "bytes",
    "spill.bytes": "bytes",
    "codegen.duration_s": "s",
    "generate.rows_out": "count",
    "pairs.useful_ratio": "ratio",
    "python.crossings": "count",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.rows_out": "count",
    "cache.frames_released": "count",
    "cache.storage_bytes": "bytes",
    "versioned.jobs_per_commit": "count",
    "versioned.bytes_written": "bytes",
    "versioned.files_written": "count",
    "versioned.write_amp": "ratio",
    "versioned.space_amp": "ratio",
    "versioned.log_bytes": "bytes",
    "versioned.lookup_files_ratio": "ratio",
    "versioned.orphan_dirs": "count",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    "mem.python_peak_rss_mb": "MB",
}

#: timed passes a run makes however long they take: on a loaded box one
#: pass can outlast ``--seconds``, and a median over a single pass
#: stands on one sample per op kind
MIN_PASSES = 2

#: counters the tracer sums per op and the run reports as per-op means
_PER_OP_MEANS = [
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_run_s",
    "sched.task_cpu_s", "sched.gc_s", "sched.failed_tasks", "driver.self_s",
    "scan.files_read", "scan.bytes_read", "scan.rows_out", "scan.time_s",
    "shuffle.bytes_written", "shuffle.records_written", "shuffle.write_s",
    "shuffle.fetch_wait_s", "shuffle.partitions_planned",
    "shuffle.partitions_after_aqe", "broadcast.bytes", "broadcast.build_s",
    "agg.build_s", "agg.peak_mem_bytes", "sort.time_s", "spill.bytes",
    "codegen.duration_s", "generate.rows_out", "python.crossings",
    "python.run_s", "python.init_s", "python.bytes_sent",
    "python.bytes_returned", "python.rows_out", "cache.storage_bytes",
]


def noise_sentinel() -> dict:
    """A fixed pure-Python CPU spin and the 1-minute load average (the
    ``bench.py`` design): a run on a contended box shows an inflated
    spin or a high load next to its numbers."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return {"spin_ms": round((time.perf_counter() - t0) * 1e3, 1),
            "load1": round(os.getloadavg()[0], 2)}


# ---------------------------------------------------------------------------
# memory of the process tree (psutil-free: /proc VmHWM)
# ---------------------------------------------------------------------------

def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children = collections.defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class MemWatch:
    """Peak resident memory of the driver Python, the JVM and the
    JVM's Python workers: the sum of each live process's VmHWM, sampled
    at pass ends. A sum of per-process peaks bounds the tree's peak
    from above."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_mb = self.python_mb = self.total_mb = 0.0

    def sample(self) -> None:
        jvm = _hwm_kb(self.jvm_pid) / 1024
        py = (_hwm_kb(os.getpid()) + sum(
            _hwm_kb(p) for p in _descendants(self.jvm_pid))) / 1024
        self.jvm_mb = max(self.jvm_mb, jvm)
        self.python_mb = max(self.python_mb, py)
        self.total_mb = max(self.total_mb, jvm + py)


# ---------------------------------------------------------------------------
# versioned-table storage accounting
# ---------------------------------------------------------------------------

def table_storage(root: str) -> dict:
    """Bytes and files under a versioned table, its log bytes, and its
    orphan staging dirs (dirs no manifest names)."""
    out = {"bytes": 0, "files": 0, "data_bytes": 0, "log_bytes": 0,
           "orphan_dirs": 0}
    if not os.path.isdir(root):
        return out
    for d, _, files in os.walk(root):
        for f in files:
            sz = os.path.getsize(os.path.join(d, f))
            out["bytes"] += sz
            out["files"] += 1
            rel = os.path.relpath(d, root).split(os.sep)[0]
            if rel == "data":
                out["data_bytes"] += sz
            elif rel == "_manifests":
                out["log_bytes"] += sz
    named = set()
    mdir = os.path.join(root, "_manifests")
    for f in os.listdir(mdir):
        if f.startswith("v") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            if m.get("staging_dir"):
                named.add(m["staging_dir"])
            cdf = m.get("cdf")
            if isinstance(cdf, dict) and cdf.get("dir"):
                named.add(cdf["dir"])
    for sub in ("data", "_bloom", "_change_data"):
        p = os.path.join(root, sub)
        if os.path.isdir(p):
            out["orphan_dirs"] += sum(
                1 for d in os.listdir(p)
                if os.path.isdir(os.path.join(p, d)) and d not in named)
    return out


#: files under these directories of the checkout are not storage
#: writes: the run records, and Spark's shuffle and block-manager files
#: (the shuffle and cache layers measure those)
_NOT_STORAGE = (os.path.join("perfbench", "_work", "results"),
                os.path.join("perfbench", "_work", "spark-local"))


def file_stamps(checkout: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime)`` of every file under the checkout,
    except byte-code caches and :data:`_NOT_STORAGE`."""
    skip = {os.path.join(checkout, d) for d in _NOT_STORAGE}
    out = {}
    for d, dirs, files in os.walk(checkout):
        dirs[:] = [x for x in dirs if x != "__pycache__"
                   and os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:  # removed while we walked
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two
    :func:`file_stamps` (files written and removed in between are not
    seen)."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _expected_results(entry, data_dir: str) -> dict:
    """Oracle digests (computed once per checkout and data version)
    merged with the regression pins."""
    import datagen

    path = os.path.join(data_dir, f"expected-v{datagen.VERSION}.json")
    pins = workloads.load_pins()
    exp = {}
    if os.path.exists(path):
        with open(path) as f:
            exp = json.load(f)
    if any(n not in exp and n not in pins for n in workloads.NEARDUP_OPS):
        exp = workloads.oracle_expectations(entry, data_dir)
        with open(path + ".part", "w") as f:
            json.dump(exp, f, indent=1)
        os.replace(path + ".part", path)
    for name, pin in pins.items():
        exp.setdefault(name, {**pin, "source": "regression pin"})
    return exp


class Runner:
    def __init__(self, spark, tracer, workload, release_cached):
        self.spark = spark
        self.tracer = tracer
        self.wl = workload
        self.release_cached = release_cached
        self.records: list[dict] = []
        self.errors: list[str] = []

    def op(self, op, op_id: str, pass_span: int, timed: bool) -> dict:
        if op.prepare is not None:
            op.prepare()
        if timed:
            self.tracer.begin_op(op_id)
        w0 = time.time()
        t0 = time.perf_counter()
        err = None
        result = None
        t1 = None
        try:
            built = op.build()
            t1 = time.perf_counter()
            result = op.run(built)
        except Exception as exc:  # an op failure is a measured outcome
            err = f"{op.kind}: {type(exc).__name__}: {str(exc)[:300]}"
        t2 = time.perf_counter()
        w1 = w0 + (t2 - t0)
        t1 = t1 if t1 is not None else t2
        if err is None:
            try:
                err = op.check(result)
            except Exception as exc:
                err = f"{op.kind} check: {type(exc).__name__}: {str(exc)[:300]}"
        rec = {"op": op_id, "kind": op.kind, "write": op.is_write,
               "latency_s": t2 - t0, "build_s": t1 - t0, "collect_s": t2 - t1,
               "error": err,
               "result_rows": len(result) if isinstance(result, list) else None}
        if timed and self.tracer.enabled and op.kind == "point_lookup":
            rec["snapshot_files"] = self.wl.snapshot_files()
        if timed:
            sid = self.tracer.span("op", pass_span, w0, w1, op=op_id, kind=op.kind)
            self.tracer.span("build", sid, w0, w0 + rec["build_s"])
            self.tracer.span("collect" if not op.is_write else f"versioned.{op.kind}",
                             sid, w0 + rec["build_s"], w1)
            rec["layers"] = self.tracer.end_op(op_id, sid, w0, w1)
            self.records.append(rec)
        # after the tracer read the storage of the op's tracked persists
        rec["frames_released"] = self.release_cached()
        if err:
            self.errors.append(("" if timed else "warm-up ") + err)
        return rec

    def run_pass(self, pass_idx: int, timed: bool, run_span: int | None) -> float:
        w0 = time.time()
        t0 = time.perf_counter()
        pid = self.tracer.span("pass", run_span, w0, w0, index=pass_idx)
        ops = self.wl.pass_ops()
        if not timed:
            # the warm-up runs each op kind once: that compiles every
            # plan shape the timed passes run
            seen: set[str] = set()
            ops = [op for op in ops if not (op.kind in seen or seen.add(op.kind))]
        for i, op in enumerate(ops):
            self.op(op, f"p{pass_idx}-{i}-{op.kind}", pid, timed)
        # the end-of-pass snapshot check is verification, not a timed op
        self.errors.extend(self.wl.end_pass_check())
        dt = time.perf_counter() - t0
        self.tracer.end_span(pid, w0 + dt)
        return dt


def _summarise_layers(records: list[dict], ncpu: int) -> dict:
    n = len(records)
    sums = collections.defaultdict(float)
    for r in records:
        for k, v in r.get("layers", {}).items():
            sums[k] += v
    out = {k: sums[k] / n for k in _PER_OP_MEANS}
    out["entry.build_s"] = sum(r["build_s"] for r in records) / n
    out["entry.collect_s"] = sum(r["collect_s"] for r in records) / n
    out["sched.tasks_per_job"] = sums["sched.tasks"] / max(1.0, sums["sched.jobs"])
    collect_wall = sum(r["collect_s"] for r in records)
    out["sched.busy_frac"] = sums["sched.task_run_s"] / max(1e-9, collect_wall * ncpu)
    pairs = [r for r in records if r["kind"] in workloads.PAIR_OPS]
    pair_rows = sum(r["result_rows"] or 0 for r in pairs)
    pair_gen = sum(r["layers"].get("generate.rows_out", 0.0) for r in pairs)
    out["pairs.useful_ratio"] = pair_rows / pair_gen if pair_gen else 0.0
    out["cache.frames_released"] = sum(r["frames_released"] for r in records) / n
    return out


def _versioned_layers(wl, records: list[dict], start: dict, end: dict,
                      lookup_files: list[tuple[float, int]]) -> tuple[dict, dict]:
    """The versioned layer's counters, and the median latency per op
    type (record only)."""
    writes = [r for r in records if r["write"]]
    out = {
        "versioned.jobs_per_commit": (
            statistics.mean(r["layers"].get("sched.jobs", 0.0) for r in writes)
            if writes and "layers" in writes[0] else 0.0),
        "versioned.bytes_written": float(end["bytes"] - start["bytes"]),
        "versioned.files_written": float(end["files"] - start["files"]),
        "versioned.log_bytes": float(end["log_bytes"]),
        "versioned.orphan_dirs": float(end["orphan_dirs"]),
        "versioned.write_amp": 0.0,
        "versioned.space_amp": 0.0,
        "versioned.lookup_files_ratio": 0.0,
    }
    if wl.committed_rows:
        out["versioned.write_amp"] = out["versioned.bytes_written"] / (
            wl.committed_rows * workloads.ROW_ARROW_BYTES)
    out["versioned.space_amp"] = end["data_bytes"] / wl.live_bytes()
    if lookup_files:
        out["versioned.lookup_files_ratio"] = (
            sum(f for f, _ in lookup_files) / sum(t for _, t in lookup_files))
    by_kind = collections.defaultdict(list)
    for r in records:
        by_kind[r["kind"]].append(r["latency_s"])
    per_kind = {f"versioned.{k}_s": statistics.median(v)
                for k, v in sorted(by_kind.items())}
    return out, per_kind


def run(args, work: str, proc_elapsed) -> int:
    setup = {"noise_start": noise_sentinel()}
    from amadeus_spark import get_spark, release_cached

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    setup["get_spark_s"] = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    setup["setup_s"] = proc_elapsed()
    wl = None
    try:
        import datagen

        import __spark_entry__ as entry

        t0 = time.perf_counter()
        data_dir = os.path.join(work, "data")
        datagen.build(data_dir)
        if args.workload == "neardup":
            wl = workloads.Neardup(spark, entry, data_dir,
                                   _expected_results(entry, data_dir), args.seed)
        else:
            wl = workloads.Lifecycle(spark, work, data_dir, args.seed)
        wl.setup()
        setup["inputs_s"] = time.perf_counter() - t0
        return _measure(args, work, spark, release_cached, wl, setup)
    finally:
        if wl is not None:
            wl.close()
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _measure(args, work: str, spark, release_cached, wl, setup: dict) -> int:
    """Warm-up, timed passes, metrics, record and the result line."""
    checkout = os.path.dirname(os.path.dirname(work))
    mem = MemWatch(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    tracer = Tracer(spark, enabled=bool(args.trace))
    runner = Runner(spark, tracer, wl, release_cached)
    run_w0 = time.time()
    run_span = tracer.span("run", None, run_w0, run_w0, workload=args.workload)

    warmup_s = runner.run_pass(0, timed=False, run_span=run_span)
    mem.sample()
    # settle the warm-up's garbage once, off the clock (as bench.py
    # does); the timed ops pay for their own GC
    spark._jvm.System.gc()
    gc.collect()
    tracer.skip_seen()
    # storage written is counted over the timed section, as every
    # other metric is
    files_before = file_stamps(checkout)
    if wl.table_dir():
        storage_start = table_storage(wl.table_dir())
        wl.committed_rows = 0

    timed_t0 = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - timed_t0 < args.seconds:
        passes += 1
        runner.run_pass(passes, timed=True, run_span=run_span)
        mem.sample()
    timed_s = time.perf_counter() - timed_t0
    tracer.end_span(run_span, time.time())
    written = bytes_written(files_before, file_stamps(checkout))

    recs = runner.records
    ok = [r for r in recs if r["error"] is None]
    failed = len(recs) - len(ok)
    lat = [r["latency_s"] for r in ok]
    tail_pct, tail = metrics.tail_percentile(lat) if lat else (100.0, 0.0)
    e2e = {
        "setup_s": setup["setup_s"],
        "throughput_ops_s": len(ok) / timed_s,
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
    }

    ncpu = spark.sparkContext.defaultParallelism
    layers = {"session.get_spark_s": setup["get_spark_s"],
              "session.warmup_pass_s": warmup_s,
              "storage.bytes_written": float(written),
              "mem.peak_rss_mb": mem.total_mb,
              "mem.jvm_peak_rss_mb": mem.jvm_mb,
              "mem.python_peak_rss_mb": mem.python_mb}
    if args.trace:
        layers.update(_summarise_layers(recs, ncpu))
    lookup_files = []
    if wl.table_dir():
        storage_end = table_storage(wl.table_dir())
        if args.trace:
            lookup_files = [(r["layers"].get("scan.files_read", 0.0), r["snapshot_files"])
                            for r in recs if r["kind"] == "point_lookup"
                            and r.get("snapshot_files")]
        vl, per_kind = _versioned_layers(wl, recs, storage_start, storage_end,
                                         lookup_files)
    else:
        vl = {k: 0.0 for k in PER_LAYER if k.startswith("versioned.")}
        per_kind = {}
    layers.update(vl)

    errors = list(runner.errors)
    errors += _bypass_checks(args, layers)
    noise_end = noise_sentinel()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "passes": passes, "timed_s": timed_s,
        "inputs_and_table_setup_s": setup["inputs_s"], "warmup_s": warmup_s,
        "ops_per_pass": len(recs) // max(1, passes),
        "attempted": len(recs), "failed": failed,
        "error_rate": failed / len(recs) if recs else 1.0,
        "latency_samples": len(lat),
        "latency_tail": {"value_s": tail, "percentile": tail_pct,
                         "beyond": sum(1 for x in lat if x > tail)},
        "end_to_end": e2e, "layers": layers, "versioned_op_latency_s": per_kind,
        "absent_layers": [] if wl.table_dir() else ["versioned"],
        "tracer_collect_s": tracer.collect_s,
        "noise": {"start": setup["noise_start"], "end": noise_end},
        "errors": errors, "ops": recs, "spans": tracer.spans,
    }
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    stem = os.path.join(res_dir, f"{args.workload}-s{args.seed}")
    if args.trace:
        try:
            with open(f"{stem}-t0.json") as f:
                base = json.load(f)["end_to_end"]
            record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
        except (OSError, KeyError, ValueError):
            record["tracing_overhead"] = None
    with open(f"{stem}-t{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    _report(record)
    shown = END_TO_END if not args.trace else PER_LAYER
    values = e2e if not args.trace else layers
    print(json.dumps({
        "correct": not errors,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u}
                    for k, u in shown.items()},
    }), flush=True)
    return 0


def _bypass_checks(args, layers: dict) -> list[str]:
    """The layer predictions BENCHMARK.json makes per workload."""
    errs = []
    if args.workload == "neardup":
        if layers["storage.bytes_written"] != 0:
            errs.append(f"bypass: neardup wrote {layers['storage.bytes_written']:.0f} "
                        "bytes to storage")
        if args.trace and layers["python.crossings"] <= 0:
            errs.append("bypass: neardup crossed no Python boundary")
    else:
        if layers["versioned.bytes_written"] <= 0:
            errs.append("bypass: lifecycle wrote no versioned-table bytes")
        if layers["versioned.orphan_dirs"] != 0:
            errs.append(f"bypass: lifecycle left {layers['versioned.orphan_dirs']:.0f} "
                        "orphan staging dirs")
    return errs


def _report(rec: dict) -> None:
    e = rec["end_to_end"]
    print(f"perfbench {rec['workload']} seed={rec['seed']} trace={rec['trace']}: "
          f"{rec['attempted']} ops in {rec['passes']} passes, "
          f"error_rate={rec['error_rate']:.3f}, "
          f"p50 over {rec['latency_samples']} samples, tail "
          f"p{rec['latency_tail']['percentile']:.0f}="
          f"{rec['latency_tail']['value_s']:.3f} s, "
          f"peak rss {rec['layers']['mem.peak_rss_mb']:.0f} MB, noise={rec['noise']}",
          file=sys.stderr)
    for k, v in e.items():
        print(f"  {k:<18} {v:.4f} {END_TO_END[k]}", file=sys.stderr)
    if rec.get("tracing_overhead"):
        print(f"  tracing overhead vs untraced run: {rec['tracing_overhead']}",
              file=sys.stderr)
    for err in rec["errors"]:
        print(f"  ERROR {err}", file=sys.stderr)

"""Per-query job ledger. Each registry query runs once warm, then once
measured; the measured run records

- its wall time split into build (DataFrame construction — includes
  the embedded commit actions of the lifecycle queries), plan
  (Catalyst analysis + optimization + physical planning of the FINAL
  frame) and exec (collect);
- the Spark jobs it launched end to end (DAGScheduler job-id delta);
- per ACTION: every PySpark action entry point is monkeypatched to
  record (repo-frame call stack, wall time, job-id delta), so a
  lifecycle query's job count decomposes into named actions.

Guide §1: decide whether a query is action-count, planning or
execution bound, and attribute before cutting. Measurement-only —
never on a query path.

Usage: SPARK_GRAFT_PROBE="a,b,c" python scripts/job_ledger.py
(defaults to the full registry; sf dir from SPARK_GRAFT_SF_DIR;
SPARK_GRAFT_LEDGER_STAGES=1 also prints each job's stages).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

LEDGER: list[dict] = []
DEPTH = [0]


def _site() -> str:
    frames = [
        f"{os.path.relpath(fr.filename, REPO)}:{fr.lineno}"
        for fr in traceback.extract_stack()
        if fr.filename.startswith(REPO) and "job_ledger" not in fr.filename
    ]
    return " > ".join(frames[-4:])


def _wrap(cls, name, njobs):
    orig = getattr(cls, name)

    def patched(self, *a, **k):
        if DEPTH[0]:  # nested action (e.g. collect inside isEmpty)
            return orig(self, *a, **k)
        DEPTH[0] += 1
        j0, t0 = njobs(), time.perf_counter()
        try:
            return orig(self, *a, **k)
        finally:
            DEPTH[0] -= 1
            LEDGER.append(
                {
                    "action": f"{cls.__name__}.{name}",
                    "jobs": njobs() - j0,
                    "s": round(time.perf_counter() - t0, 3),
                    "site": _site(),
                }
            )

    setattr(cls, name, patched)


def main() -> None:
    # the abstract pyspark.sql.DataFrame dispatches per-call to the
    # session's concrete class — patch the CLASSIC class or actions
    # never route through the wrapper
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from amadeus_spark import get_spark, release_cached

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_PROBE")
    names = (
        [n.strip() for n in only.split(",") if n.strip()]
        if only
        else list(queries)
    )

    spark = get_spark("amadeus_spark_ledger")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def njobs() -> int:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    for act in ("collect", "count", "isEmpty", "take", "toPandas",
                "localCheckpoint"):
        if hasattr(DataFrame, act):
            _wrap(DataFrame, act, njobs)
    for act in ("parquet", "save", "json", "csv"):
        _wrap(DataFrameWriter, act, njobs)

    out = {}
    for name in names:
        fn = queries[name]
        # warm run (codegen/JIT at the probed sf)
        spark.catalog.clearCache()
        release_cached()
        LEDGER.clear()
        try:
            fn(spark, sf_dir).collect()
        except Exception as e:
            out[name] = {"err": repr(e)[:120]}
            print(f"== {name}: {out[name]['err']}")
            continue
        # measured
        spark.catalog.clearCache()
        release_cached()
        spark._jvm.System.gc()
        LEDGER.clear()
        j0, t0 = njobs(), time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.collect()
        t3 = time.perf_counter()
        total_j = njobs() - j0
        ledger = list(LEDGER)
        acc_j = sum(e["jobs"] for e in ledger)
        acc_s = sum(e["s"] for e in ledger)
        out[name] = {
            "total_s": round(t3 - t0, 3),
            "build_s": round(t1 - t0, 3),
            "plan_s": round(t2 - t1, 3),
            "exec_s": round(t3 - t2, 3),
            "total_jobs": total_j,
            "ledger_jobs": acc_j,
            "ledger_s": round(acc_s, 3),
            "actions": ledger,
        }
        print(f"== {name}: {total_j} jobs / {t3 - t0:.2f}s "
              f"(build {t1 - t0:.2f} / plan {t2 - t1:.2f} / exec "
              f"{t3 - t2:.2f}s; ledger: {acc_j} jobs / {acc_s:.2f}s "
              f"across {len(ledger)} actions)", flush=True)
        # per-job stage names (what each DAGScheduler job actually ran)
        tracker = spark.sparkContext.statusTracker()
        jid = j0
        for e in ledger:
            print(f"  {e['jobs']:3d}j {e['s']:7.3f}s  {e['action']:28s} "
                  f"{e['site']}")
            if os.environ.get("SPARK_GRAFT_LEDGER_STAGES"):
                for j in range(jid, jid + e["jobs"]):
                    ji = tracker.getJobInfo(j)
                    names = []
                    if ji:
                        for sid in ji.stageIds:
                            si = tracker.getStageInfo(sid)
                            if si:
                                names.append(
                                    f"{si.name.split(' at ')[0]}"
                                    f"[{si.numTasks}]"
                                )
                    print(f"        job {j}: {' | '.join(names)}")
                jid += e["jobs"]
    with open("/tmp/job_ledger.json", "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()

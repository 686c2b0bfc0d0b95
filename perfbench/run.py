"""The repo's benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload {neardup,lifecycle} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. One client issues the next operation
only after the previous one returned, on ``local[$(nproc)]``. A run:

1. boots the session through ``amadeus_spark.get_spark`` and runs one
   trivial query (``setup_s`` is the time from process start to here);
2. builds the generated inputs and their expected results on the first
   run in a checkout (cached under ``perfbench/_work/``);
3. runs one unreported warm-up pass with each operation kind once;
4. runs whole timed passes until ``--seconds`` have elapsed, and at
   least two; the seed sets the order of operations within each pass
   (and, for ``lifecycle``, the keys, batches and operation parameters);
5. checks every operation's output, and the bypass predictions of
   ``perfbench/layers.json``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The full run record (spans, per-op
counters, noise sentinel, tracing overhead against an untraced run of
the same seed) goes to ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import os
import sys


def _proc_elapsed_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["neardup", "lifecycle"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "amadeus_spark"))):
        print(f"perfbench: no amadeus_spark checkout at {root}", file=sys.stderr)
        return 2
    work = os.path.join(here, "_work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every file the run writes inside the checkout; executor-side
    # Python workers import the library from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file from the JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(1, root)

    import harness  # after the environment is set

    return harness.run(args, work, _proc_elapsed_s)


if __name__ == "__main__":
    sys.exit(main())

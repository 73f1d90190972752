"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload corpus_kernels --seed 1 --seconds 5 --trace 0

Workloads: ``playlist_etl``, ``warehouse_sql``, ``corpus_kernels`` (see
NOTES.md).  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs with Spark's event log on and reports the per-layer metrics.  The
last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``;
the full report (every figure, span and failure) is written under
``.perfbench-work/reports/``.  Everything the run writes stays under
``.perfbench-work/`` in the repository root.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ("playlist_etl", "warehouse_sql", "corpus_kernels")


def _hygiene() -> None:
    """Environment for the Spark JVM and its Python workers, set before
    either starts: cores from the CPU affinity mask (what ``nproc``
    reports), the repository on the workers' import path, and every
    scratch file inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    sys.path.insert(0, ROOT)


def _history_path(args) -> str:
    name = args.workload + ("-tiny" if args.tiny else "")
    return os.path.join(WORK, "history", f"{name}.jsonl")


def _untraced_pass_s(args) -> float | None:
    """The untraced ``pass_s`` a traced run compares against: the median
    of this checkout's earlier untraced runs of the workload (None when
    there are none — a second full run here could break the time limit)."""
    path = _history_path(args)
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        vals = [json.loads(line)["pass_s"] for line in fh if line.strip()]
    return statistics.median(vals) if vals else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the self-test only")
    ap.add_argument("--plant", action="store_true",
                    help="corrupt one checked row, for the self-test only")
    args = ap.parse_args()
    _hygiene()

    from bench import _contention_evidence

    from perfbench import metrics, workloads

    contention = _contention_evidence()
    untraced = _untraced_pass_s(args) if args.trace else None
    b = workloads.Bench(args.workload, args.seed, args.seconds, bool(args.trace), WORK, T0)
    b.plant = args.plant
    if args.workload == "playlist_etl":
        sizes = workloads.TINY_SIZES if args.tiny else workloads.PLAYLIST_SIZES
        workloads.run_playlist(b, sizes)
    else:
        sf = "sf0.001" if args.tiny else workloads.SF
        workloads.run_queries(b, os.path.join(os.path.dirname(__file__), "data", sf))
    end = _contention_evidence(include_load=False)
    if end is not None:
        contention = {**(contention or {}), "at_end": end}

    f = b.figures
    if args.trace:
        f["trace_overhead_frac"] = (
            f["pass_s"] / untraced - 1.0 if untraced else metrics.UNKNOWN
        )
        out = metrics.per_layer(b)
    else:
        out = metrics.end_to_end(b)
        if not args.plant:
            os.makedirs(os.path.dirname(_history_path(args)), exist_ok=True)
            with open(_history_path(args), "a", encoding="utf-8") as fh:
                fh.write(json.dumps({"seed": args.seed, "pass_s": f["pass_s"]}) + "\n")

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "attempted": b.attempted, "failed": b.failed,
        "problems": b.problems, "contended": contention, "figures": f, "metrics": out,
    }
    rdir = os.path.join(WORK, "reports")
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, f"{b.tracer.run_id}.json"), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    b.tracer.dump(os.path.join(WORK, "spans", f"{b.tracer.run_id}.json"))

    if contention is not None:
        print(f"perfbench: timing window contended: {json.dumps(contention)}", file=sys.stderr)
    for p in b.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    for name, m in out.items():
        print(f"{name} = {m['value']} {m['unit']}")
    if not args.trace:  # other user-facing figures: not gated, per-layer when traced
        for name, unit in metrics.WORKLOAD_FIGURES.items():
            if name in f:
                print(f"  {name} = {f[name]} {unit}")
        print(f"  error_rate = {b.failed / max(b.attempted, 1)} fraction")
    print(f"correct = {b.failed == 0} ({b.failed} of {b.attempted} operations failed)")
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed, "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

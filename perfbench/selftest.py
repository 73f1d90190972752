"""Self-test of the benchmark on small inputs (sf 0.001 tables, a small
playlist set).  Checks, for every workload in BENCHMARK.json:

- BENCHMARK.json names exactly the metrics and units ``metrics.py`` emits;
- an untraced run emits every end-to-end metric with its unit and a
  numeric value, and is correct;
- a traced run emits every per-layer metric with its unit;
- a run with one planted wrong row reports the failure;
- on ``corpus_kernels``, the traced capstone's stage seconds plus its
  composition gap equal its total.

Usage (from the repository root)::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import E2E_STAGES  # noqa: E402

#: per-layer values that may read "unknown": ones the event log may not
#: carry, and the trace overhead before any untraced run in the checkout
MAY_BE_UNKNOWN = {
    "operators.python_worker_s", "queries.stages", "queries.tasks", "trace_overhead_frac",
}


def run(workload: str, trace: int, plant: bool = False) -> dict:
    argv = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    out = subprocess.run(argv + (["--plant"] if plant else []), cwd=ROOT,
                         stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    errors: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            errors.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    expect({m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END,
           "BENCHMARK.json end_to_end matches metrics.END_TO_END")
    expect({m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER,
           "BENCHMARK.json per_layer matches metrics.PER_LAYER")

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            res = run(wl, trace)
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{wl} trace={trace}: correct, {res['attempted']} attempted")
            got = res["metrics"]
            expect(set(got) == set(names), f"{wl} trace={trace}: every metric emitted")
            for name, unit in names.items():
                m = got.get(name, {})
                value = m.get("value")
                numeric = isinstance(value, (int, float)) and math.isfinite(value)
                expect(m.get("unit") == unit and (
                    numeric or (value == "unknown" and name in MAY_BE_UNKNOWN)
                ), f"{wl} trace={trace}: {name} = {value} {m.get('unit')}")
            if wl == "corpus_kernels" and trace == 1:
                parts = sum(got[f"operators.e2e.{s}_s"]["value"] for s in E2E_STAGES)
                gap = got["operators.e2e.composition_gap_s"]["value"]
                total = got["capstone_s"]["value"]
                expect(total > 0 and abs(parts + gap - total) < 1e-6,
                       f"capstone stages {parts:.4f} + gap {gap:.4f} = total {total:.4f}")
        planted = run(wl, 0, plant=True)
        expect(not planted["correct"] and planted["failed"] >= 1,
               f"{wl}: planted wrong row reported ({planted['failed']} failed)")

    print(f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

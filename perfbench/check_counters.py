"""Counter determinism check for the traced run.

Runs ``run.py --trace 1`` twice with one seed and compares the counters
that must repeat exactly (``tracing.EXACT``, less the workload's entry
in ``tracing.NOT_EXACT``). It also checks the layer split each workload
was chosen for:

* no ``relational`` query launches an eager driver-loop job, on any
  workload that runs it;
* every ``fixpoint`` query launches at least 60 eager jobs, on any
  workload that runs it;
* only ``serve`` writes catalog bytes.

    python3 perfbench/check_counters.py --workload fixpoint --seed 7

Prints one JSON object and exits 1 if a counter differs or a layer
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from batch import QUERIES
from tracing import EXACT, NOT_EXACT

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload: str, seed: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        check=True, stdout=subprocess.PIPE, text=True).stdout.splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


def layer_errors(workload: str, report: dict, metrics: dict) -> list[str]:
    errors = []
    eager = {q: v["eager_jobs"] for q, v in report.get("per_query", {}).items()}
    busy = {q: n for q, n in eager.items() if q in QUERIES["relational"] and n}
    if busy:
        errors.append(f"eager jobs on a relational query: {busy}")
    low = {q: n for q, n in eager.items() if q in QUERIES["fixpoint"] and n < 60}
    if low:
        errors.append(f"fewer than 60 eager jobs on a fixpoint query: {low}")
    written = metrics["catalog.bytes_written"]["value"]
    if (written > 0) != (workload == "serve"):
        errors.append(f"catalog.bytes_written = {written} on {workload}")
    return errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    (rep_a, res_a), (rep_b, res_b) = (traced_run(args.workload, args.seed) for _ in range(2))
    a, b = res_a["metrics"], res_b["metrics"]
    exact = [k for k in EXACT if k not in NOT_EXACT.get(args.workload, ())]
    differ = {k: [a[k]["value"], b[k]["value"]] for k in exact if a[k] != b[k]}
    per_query = {q: {k: [v, rep_b["per_query"][q][k]] for k, v in rec.items()
                     if any(f"{layer}.{k}" in differ for layer in ("plan", "driver", "exec"))
                     if v != rep_b["per_query"][q][k]}
                 for q, rec in rep_a.get("per_query", {}).items()}
    errors = layer_errors(args.workload, rep_a, a)
    if res_a["failed"] or res_b["failed"]:
        errors.append(f"failed operations: {res_a['failed']}, {res_b['failed']}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "exact": {k: a[k]["value"] for k in exact},
                      "differ": differ,
                      "differ_per_query": {q: d for q, d in per_query.items() if d},
                      "layer_errors": errors}))
    return 1 if differ or errors else 0


if __name__ == "__main__":
    sys.exit(main())

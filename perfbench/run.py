"""Benchmark for andl_spark: seeded workloads, checked outputs, and a
separate traced run for per-layer numbers.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each exists):

* ``relational`` - 20 relational and TPC-H-style queries;
* ``fixpoint``   - the ``.while`` driver-loop queries;
* ``curation``   - the LLM-data pipeline queries;
* ``batch``      - four relational queries, one ``.while`` query and
  one text-pipeline query: a slice of each of the three above;
* ``serve``      - two closed-loop HTTP clients against an in-process
  ``AndlRestServer`` over a catalog.

The program is driven only through its public surface
(``workload.QUERIES``/``BENCH_EXTRA``/``ORACLE``,
``session.get_spark``/``load_tables``,
``api.AndlSession``, ``sources.catalog.Catalog``,
``server.AndlRestServer``). The input tables are generated under
``perfbench/_work`` on first use. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics. The last line of
standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a JSON report with sample counts, host conditions and per-query detail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

from common import HERE, ROOT, Context, configure_env, cpu_ticks, host_conditions, metric

WORK = os.path.join(HERE, "_work")

#: The end-to-end metrics of the result line (the ``end_to_end`` list of
#: BENCHMARK.json). Every workload reports them; the report line before
#: the result carries the workload's other end-to-end metrics.
END_TO_END = ("wall_s", "setup_s")


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
        ("andl_spark", "__init__.py"), ("andl_spark", "workload.py"),
        ("tools", "oracle_check.py")))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["relational", "fixpoint", "curation", "batch", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print(f"perfbench: andl_spark and tools/oracle_check.py must sit "
              f"beside perfbench/ (looked in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    configure_env(run_dir)
    host = host_conditions()
    ticks0 = cpu_ticks()

    import datagen

    data_dir = datagen.ensure(WORK)
    ctx = Context(data_dir, run_dir, args.seed, bool(args.trace))
    if args.workload == "serve":
        from serve import ServeWorkload as Workload
    else:
        from batch import BatchWorkload as Workload
    try:
        wl = Workload(ctx, args.workload)
        result = wl.run(args.seconds)
        peak = ctx.peak_rss_mb()
    finally:
        try:
            if "wl" in locals():
                wl.close()
        finally:
            ctx.close()
            shutil.rmtree(run_dir, ignore_errors=True)

    host["loadavg_1m_end"] = os.getloadavg()[0]
    ticks1 = cpu_ticks()
    host["cpu_steal_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host}
    if args.trace:
        metrics = result["per_layer"]
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        result["spans"].write(path)
        report["spans_file"] = os.path.relpath(path, ROOT)
    else:
        e2e = result["end_to_end"]
        e2e["peak_rss_mb"] = metric(peak, "MB")
        e2e["failed_ratio"] = metric(result["failed"] / result["attempted"], "ratio",
                                     result["attempted"])
        report["end_to_end"] = e2e
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]} for k in END_TO_END}
    report.update(result["report"])
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

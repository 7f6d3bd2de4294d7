"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Default (driver) mode prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Modes:
  python bench.py              one timed pass per query (driver contract)
  python bench.py --reps N     ADDITIVE (r12, REPRO.md): run the whole
                               suite loop N times INTERLEAVED (pass 1 of
                               every query, then pass 2, ...), report
                               the per-query MIN across passes — the
                               noise-robust estimator this container's
                               bursty CPU needs (a burst lands inside
                               one pass, not on one query's every rep;
                               the min across suite passes is the
                               BENCH_WARM_r11.json estimator run in one
                               process). Adds "mode": "reps" and
                               per-query "runs". Default mode is
                               untouched: --reps 1 == the driver
                               single-shot, byte-for-byte.
  python bench.py --compare [BENCH_rN.json]
                               no Spark: read a bench result (default =
                               highest-numbered BENCH_r*.json), print
                               the per-query ratio table and the 2×-gate
                               verdict mechanically against the r10
                               warm medians (R10_ANCHOR, every timed
                               query anchored).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# r3 renames vs the r1/r2 bench history (BASELINE.md maps them):
#   q_join_natural retired (its join shape is inside q3);
#   q_repetition_filter folded into q_text_quality;
#   q_corpus_stats + q_source_mixture merged into q_corpus_profile.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_orders",
    "q_text_quality",
    "q_top_ngrams",
    "q_agg_fold",
    "q_topk_orders",  # formerly timed as q_window_grouped (same plan)
    "q_window_running",
    "q_rdivide",
    "q_image_agg",
    "q_while_closure",
    "q_nest_unnest",
    "q_clean_corpus",
    "q_train_split",
    "q_corpus_profile",
    # new in r3 — no r1 anchor in BASELINE.md (noted there):
    "q_asof_join",
    "q_decontaminate",
    "q_pii_scrub",
]

# ---------------------------------------------------------------------
# r10 anchors (VERDICT r10 item 7): the round-10 idle warm suite
# (BENCH_WARM_r10.json, sf0.1, load <0.1 — the first warm suite to
# land UNDER its own anchors at 0.978×) adopted as the standing
# default. Worst r10 row was q_decontaminate 1.469 s (1.40× its r9
# anchor) — container variance on a path untouched since r3, carried
# as measured. The only gate; the earlier r1/r5/r7/r8/r9 sets are in
# git history and BASELINE.md.
# ---------------------------------------------------------------------
R10_ANCHOR: dict[str, float] = {
    "q1_pricing_summary": 0.492,
    "q3_shipping_priority": 1.001,
    "q5_local_supplier": 1.12,
    "q10_returned_items": 0.696,
    "q14_promo_revenue": 0.355,
    "q18_large_orders": 0.694,
    "q_text_quality": 0.31,
    "q_top_ngrams": 0.749,
    "q_agg_fold": 0.224,
    "q_topk_orders": 0.353,
    "q_window_running": 0.205,
    "q_rdivide": 0.582,
    "q_image_agg": 0.243,
    "q_while_closure": 3.44,
    "q_nest_unnest": 0.347,
    "q_clean_corpus": 0.491,
    "q_train_split": 0.19,
    "q_corpus_profile": 0.287,
    "q_asof_join": 0.317,
    "q_decontaminate": 1.469,
    "q_pii_scrub": 0.311,
    "q_dedup_exact": 0.134,
    "q_token_count": 0.119,
    "q_lang_id": 0.205,
    "q_ngram_jaccard": 2.273,
    "q_ann_bruteforce": 0.597,
    "q_dedup_spans": 2.053,
    "q_ann_ivf": 1.501,
    "q_ann_lsh": 1.212,
    "q_events_window": 0.331,
    "q_events_session": 0.36,
    "q_dedup_minhash_prod": 2.427,
    "q_dedup_simhash_prod": 2.357,
}
DEFAULT_ANCHORS = "r10"  # the name R10_ANCHOR reports under
GATE = 2.0  # BASELINE.json: mapped total must stay within 2× of anchors


def _headline():
    from andl_spark import workload

    # pipeline + events headliners (self-registered in workload).
    # Excluded from timing: q_recall_gauges (a correctness gauge that
    # re-runs the exact baselines on purpose) and the md5 ORACLE-PARITY
    # twins q_dedup_minhash/q_dedup_simhash — the production xxhash64
    # paths are timed instead via workload.BENCH_EXTRA
    # (q_dedup_*_prod; r1's numbers were the fast-hash implementation,
    # so BASELINE.md maps r1 q_dedup_minhash -> q_dedup_minhash_prod).
    exclude = {"q_dedup_minhash", "q_dedup_simhash"}
    names = list(HEADLINE)
    names += [
        name for name in workload.QUERIES
        if name.startswith(("q_dedup", "q_ann", "q_lang", "q_token", "q_ngram", "q_events"))
        and name not in exclude
    ]
    names += list(workload.BENCH_EXTRA)
    # dedupe, keeping first occurrence: q_dedup_spans is BOTH declared
    # (raw-string oracle keys) and in BENCH_EXTRA (xxhash64 production
    # keys) — it must be timed once, on the production variant
    return list(dict.fromkeys(names))


def run_bench(reps: int = 1) -> dict:
    from andl_spark.session import get_spark, load_tables
    from andl_spark import workload

    import re

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", os.path.basename(sf_dir.rstrip("/")))
    sf = float(m.group(1)) if m else 0.0
    spark = get_spark("andl_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM + parquet footer caches, one full scan. load_all()
    # opens a handle for EVERY table: no Spark job (the schema comes
    # from the footer), but each still costs a file listing and an
    # analysis, per-session work that would otherwise land inside the
    # timed window of whichever query touched the table first.
    # The timed loop below is untouched (same single-shot methodology).
    load_tables(spark, sf_dir, register_views=False).load_all()
    workload.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()

    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    names = [n for n in _headline()
             if (workload.BENCH_EXTRA.get(n) or workload.QUERIES.get(n))]
    # --reps: INTERLEAVED suite passes (pass p runs every query once, in
    # suite order) so a CPU burst degrades one PASS, not every sample of
    # one query; per-query MIN across passes is reported (REPRO.md).
    for p in range(max(1, reps)):
        for name in names:
            # BENCH_EXTRA wins a name collision: the bench times
            # production variants (xxhash64 keys), the QUERIES twin is
            # the oracle-parity declaration (see _headline's dedup note)
            fn = workload.BENCH_EXTRA.get(name) or workload.QUERIES.get(name)
            samples = runs.setdefault(name, [])
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()  # forces full execution; results stay distributed
            samples.append(round(time.perf_counter() - t0, 3))
            times[name] = min(samples)
            if p == max(1, reps) - 1:
                print(f"# {name}: {times[name]}s ({n} rows)"
                      + (f" runs={samples}" if reps > 1 else ""),
                      file=sys.stderr)

    out = {
        "metric": "headline query wall-clock at sf",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if reps > 1:
        out["mode"] = "reps"
        out["reps"] = reps
        out["runs"] = runs
    return out


# ---------------------------------------------------------------------
# --compare: the mechanical baseline gate (VERDICT r3 item 8)
# ---------------------------------------------------------------------
def load_bench(path: str | None) -> dict:
    """Read a bench result; accepts both bench.py's one-line JSON and
    the driver's BENCH_rN.json wrapper ({"parsed": {...}})."""
    if path is None:
        cands = sorted(glob.glob(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_r*.json")))
        if not cands:
            raise SystemExit("--compare: no BENCH_r*.json found")
        path = cands[-1]
    with open(path) as f:
        doc = json.load(f)
    if "parsed" in doc and isinstance(doc["parsed"], dict):
        doc = doc["parsed"]
    if "queries" not in doc:
        raise SystemExit(f"--compare: {path} has no 'queries' section")
    doc["_path"] = path
    return doc


def compare(doc: dict) -> dict:
    """Per-query ratios vs the r10 anchors + the 2× gate verdict."""
    qs: dict[str, float] = doc["queries"]
    rows = []
    mapped_now = mapped_anchor = 0.0
    for name, sec in qs.items():
        anchor = R10_ANCHOR.get(name)
        if anchor is None:
            rows.append((name, sec, None, None, "unmapped"))
            continue
        mapped_now += sec
        mapped_anchor += anchor
        rows.append((name, sec, anchor, round(sec / anchor, 2), ""))
    ratio = round(mapped_now / mapped_anchor, 3) if mapped_anchor else None
    # the anchors are WARM medians; a single-shot doc carries the
    # documented ~1.2x warm->single-shot calibration on top of any
    # container load (BASELINE.md) — surface the mismatch mechanically
    # so a loaded single-shot reading is triaged from the output alone
    mode_note = None
    if doc.get("mode") not in ("warm", "reps"):
        mode_note = (
            "NOTE: single-shot doc vs WARM anchors — the documented "
            "~1.2x single-shot calibration (plus any container load) "
            "applies; the like-for-like gate is a bench.py --reps N run "
            "(REPRO.md)")
    return {
        "bench": doc.get("_path"),
        "sf": doc.get("sf"),
        "anchors": DEFAULT_ANCHORS,
        "rows": rows,
        "mapped_total": round(mapped_now, 3),
        "mapped_r1_total": round(mapped_anchor, 3),
        "ratio": ratio,
        "gate": GATE,
        "gate_pass": ratio is not None and ratio <= GATE,
        "unanchored_total": round(
            sum(s for n, s in qs.items() if n not in R10_ANCHOR), 3),
        "mode_note": mode_note,
    }


def print_compare(res: dict) -> None:
    print(f"baseline gate — {res['bench']} (sf={res['sf']}) "
          f"vs {res['anchors']} anchors")
    label = res["anchors"]  # column shows WHICH anchors gate this run
    print(f"{'query':<24}{'now':>8}{label:>8}{'ratio':>7}  note")
    for name, sec, anchor, ratio, note in sorted(
            res["rows"], key=lambda r: -(r[3] or 0)):
        a = f"{anchor:.3f}" if anchor is not None else "—"
        r = f"{ratio:.2f}" if ratio is not None else "—"
        print(f"{name:<24}{sec:>8.3f}{a:>8}{r:>7}  {note}")
    print(f"{'mapped total':<24}{res['mapped_total']:>8.3f}"
          f"{res['mapped_r1_total']:>8.3f}{res['ratio']:>7.2f}")
    print(f"unanchored (new ops) total: {res['unanchored_total']}s")
    if res.get("mode_note"):
        print(res["mode_note"])
    verdict = "PASS" if res["gate_pass"] else "FAIL"
    print(f"gate: mapped ratio {res['ratio']} <= {res['gate']}x -> {verdict}")


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--compare":
        rest = [a for a in args[1:] if not a.startswith("--")]
        res = compare(load_bench(rest[0] if rest else None))
        print_compare(res)
        sys.exit(0 if res["gate_pass"] else 1)
    reps = int(args[args.index("--reps") + 1]) if "--reps" in args else 1
    print(json.dumps(run_bench(reps=reps)))


if __name__ == "__main__":
    main()

"""Sequence packing for training pipelines: lay documents into
fixed-token-budget training sequences.

Two standard layouts, each with the scale shape it deserves:

``chunk_sequences`` — concatenate-and-chunk (the GPT-style layout):
documents are concatenated in a stable global order and the token
stream is cut into fixed-size blocks; a document may straddle a block
boundary. The core is a GLOBAL running token sum. The naive Spark
formulation — ``Window.orderBy(id)`` with no partition — collapses the
whole table into ONE window partition, a guaranteed 100 TB
non-starter. Instead this uses the classic two-pass distributed prefix
sum (the scan algorithm): range-partition by id, sum tokens per
partition (one tiny row per partition to the driver), broadcast the
exclusive partition offsets back, then a partition-LOCAL cumsum window.
Work per row is linear, the only driver materialization is
n_partitions rows, and every window is bounded by a partition.
Integer arithmetic end-to-end, so a DuckDB
``SUM(tokens) OVER (ORDER BY id)`` oracle reproduces it exactly
(tests/test_pack.py).

``pack_greedy`` — whole-document first-fit-decreasing: no document is
split; each packing group is solved independently (partition-local, as
production packers do — a global FFD is inherently sequential and
unnecessary: utilization loss from partition-local packing vanishes as
group size / budget grows). Deterministic: groups are hash buckets of
the id (split.py's engine-portable md5 bucketing) and the in-group
order is (tokens desc, id). Arrow-batched applyInPandas, one shuffle.

The reference engine has no packing surface (its relations are small
static tables); this module is part of the §2.8 training-data
operator family (SURVEY.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame
from .split import hash_bucket


def chunk_sequences(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    block: int,
    n_parts: int = 32,
) -> DataFrame:
    """Concatenate-and-chunk layout. For each doc (ordered by
    ``id_col``) returns its place in the packed token stream:

    ``start_tok``   exclusive prefix sum of tokens (global offset)
    ``first_block`` / ``last_block``  fixed-size blocks it lands in
    ``n_blocks``    how many blocks it touches (straddles boundaries)
    ``block_off``   offset within its first block

    Zero-token docs occupy no stream space: they sit at their offset
    with ``n_blocks = 0`` and ``last_block < first_block``.

    Scale: two-pass prefix sum — no global window. The range bucket
    ``__pid`` is a PURE FUNCTION of the id (approxQuantile boundaries
    collected once as literals), never the physical partition id: the
    physical range partitioner samples with job-dependent seeds, so two
    jobs over the same lineage may not agree on its boundaries — a
    partition-id-based formulation silently corrupts offsets exactly
    when sampling is partial (i.e. at scale). With data-derived
    buckets, pass 1 (bucket totals, one tiny row each — the only
    driver-side materialization) and pass 2 (bucket-local cumsum
    window) agree by construction. Boundary skew only unbalances
    bucket sizes, never correctness.

    ``id_col`` must be unique; any orderable type works (numeric ids
    get exact approxQuantile boundaries, other types a seeded-sample
    estimate — boundary quality only affects bucket BALANCE, never the
    offsets).
    """
    d = docs.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("toks"),
    )
    qs = [i / n_parts for i in range(1, n_parts)]
    if dict(d.dtypes)["id"].split("(")[0] in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal"):
        bounds = sorted(set(float(b) for b in
                            d.stat.approxQuantile("id", qs, 0.001)))
    else:
        # non-numeric orderable ids (UUIDs, 'doc-000123'): boundaries
        # from a size-bounded sample. The bound is taken in id-HASH
        # order, not scan order — a plain limit() would keep only the
        # first partitions' (lowest) ids on id-sorted storage and
        # collapse everything into the last bucket, which at scale IS
        # the single-window bottleneck this design exists to avoid.
        sample = sorted(r["id"] for r in d.select("id")
                        .sample(fraction=0.01, seed=42)
                        .orderBy(F.xxhash64("id"))
                        .limit(100_000).collect() if r["id"] is not None)
        bounds = sorted({sample[int(q * (len(sample) - 1))]
                         for q in qs}) if sample else []
    pid = F.lit(0)
    for b in bounds:
        pid = pid + F.when(F.col("id") > F.lit(b), 1).otherwise(0)
    part = d.withColumn("__pid", pid)
    # pass 1: per-bucket totals + min id — tiny (one row per bucket)
    sums = (
        part.groupBy("__pid")
        .agg(F.sum("toks").alias("t"), F.min("id").alias("lo"))
        .collect()
    )
    off, acc = {}, 0
    for r in sorted(sums, key=lambda r: (r["lo"] is None, r["lo"])):
        off[r["__pid"]] = acc
        acc += r["t"] or 0
    off_df = local_frame(part.sparkSession, list(off.items()), "__pid int, __off long")
    # pass 2: bucket-local running sum + broadcast offset
    from pyspark.sql import Window

    w = (
        Window.partitionBy("__pid").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        part.withColumn("__local", F.sum("toks").over(w))
        .join(F.broadcast(off_df), "__pid")
        .withColumn("__end", F.col("__local") + F.col("__off"))
        .withColumn("start_tok", F.col("__end") - F.col("toks"))
    )
    return cum.select(
        F.col("id").alias(id_col),
        F.col("toks").alias(tokens_col),
        "start_tok",
        F.floor(F.col("start_tok") / block).alias("first_block"),
        F.floor((F.col("__end") - 1) / block).alias("last_block"),
        F.when(F.col("toks") == 0, F.lit(0))
        .otherwise(F.floor((F.col("__end") - 1) / block)
                   - F.floor(F.col("start_tok") / block) + 1)
        .alias("n_blocks"),
        (F.col("start_tok") % block).alias("block_off"),
    )


def pack_greedy(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_groups: int = 256,
) -> DataFrame:
    """Whole-document packing: assigns each doc a ``seq_id`` such that
    every sequence's token total is <= ``budget`` (a single doc larger
    than the budget gets a sequence of its own — callers filter or
    chunk those upstream). First-fit-decreasing within deterministic
    md5-bucket groups of the id; ``seq_id`` is globally unique
    (``group * 2^32 + local``).

    Scale: one shuffle on the group bucket; each group packs
    independently in an Arrow batch. Choose ``n_groups`` so a group
    (corpus_tokens / n_groups) fits an executor — packing quality is
    unaffected once groups hold >> budget tokens.
    """
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    d = docs.select(
        F.col(id_col).alias("id"),
        F.col(tokens_col).cast("long").alias("toks"),
        (hash_bucket(F.col(id_col)) % n_groups).alias("__grp"),
    )
    # output schema mirrors the input id's own type (string ids are as
    # common as numeric ones; a hardcoded long would die in Arrow)
    out_schema = StructType(list(d.schema.fields)
                            + [StructField("seq_id", LongType())])

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["toks", "id"], ascending=[False, True]).reset_index(drop=True)
        grp = int(pdf["__grp"].iloc[0]) if len(pdf) else 0
        # First-fit via a max-segment-tree over bin capacities: the
        # leftmost leaf with cap >= max(t, 1) is exactly the bin a
        # linear scan would pick (a doc fits when cap >= t AND the bin
        # is open, cap > 0 — for t = 0 that is cap >= 1), so the
        # assignment is bit-identical to the r10 O(bins)-per-doc scan
        # while a million-doc group costs O(log bins) per doc instead
        # of a quadratic Python loop (r11, guide §1.2 per-task work).
        # Unopened leaves sit at -1 (< 1 <= every key, never matched);
        # an oversized doc's bin keeps NEGATIVE capacity: it is closed
        # — even a zero-token doc must not join it, or the
        # budget-or-singleton invariant breaks.
        # leaf count rounded to a power of two: the root-descend picks
        # the LEFTMOST fitting leaf only when leaves [m, 2m) lie in
        # index order, which the flat layout guarantees just for 2^k
        m = 1 << max(len(pdf) - 1, 0).bit_length() if len(pdf) else 1
        tree = [-1] * (2 * m)  # leaves at tree[m + i]
        n_bins = 0
        assign = []
        for t in pdf["toks"]:
            t = int(t)
            key = t if t > 0 else 1
            if tree[1] >= key:  # some open bin fits: descend leftmost
                node = 1
                while node < m:
                    node = 2 * node if tree[2 * node] >= key else 2 * node + 1
                i = node - m
                cap = tree[node] - t
            else:  # open a new bin
                i = n_bins
                n_bins += 1
                node = m + i
                cap = budget - t
            tree[node] = cap
            node //= 2
            while node:
                tree[node] = max(tree[2 * node], tree[2 * node + 1])
                node //= 2
            assign.append(i)
        pdf["seq_id"] = [grp * (1 << 32) + a for a in assign]
        return pdf

    return (
        d.groupBy("__grp").applyInPandas(_pack, out_schema)
        .select(F.col("id").alias(id_col), F.col("toks").alias(tokens_col),
                "seq_id")
    )

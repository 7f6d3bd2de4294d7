"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine — the dedup toolbox of a training-data
pipeline, each designed for the 100 TB shape of the problem.

Scale design:
  * exact: one hash-groupBy — the cheapest possible shuffle key
    (16-byte digest), map-side combine.
  * minhash_lsh / simhash: signatures are pure JVM expression pipelines
    (explode → md5 → flat aggregate, whole-stage codegen, zero Python);
    candidate generation via LSH band/chunk buckets so the pair join is
    bounded by bucket sizes, never O(n²).
  * ngram_jaccard: exact pairwise similarity — only sane within
    candidate buckets or small collections; a frequency cap drops
    stop-shingles that would explode the join.
  * embedding_dup: cosine over fixed-length vectors via
    simsearch._score_exprs (unrolled for small dims, JVM higher-order
    functions above), no Python; norms computed once per row (the
    embedding_index row), never per pair.

Every bucketed pair op — the three batch self-joins and their three
``*_against_index`` twins — runs ONE candidate-pair kernel,
:func:`_bucket_pairs` (anchor decision, shuffle-hash key join, id
predicate, score filter before the pair dedup); each family has one
key-explode helper that its batch and incremental ops share.

Every approximate operator has a *_sql DuckDB mirror built from the
same seeded constants and the same md5 primitive, so the driver's
oracle hash-checks the approximate result itself (see the mirror-SQL
note in pipeline/simsearch.py).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..trace import note
from ..util import ensure_parallelism, local_frame
from .text import fingerprint

# ---------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, normalized: bool = True,
    with_digest: str | None = None,
) -> DataFrame:
    """Tag every row with its duplicate-group canonical id (min id per
    content digest) and an is_dup flag. One groupBy on the digest.
    Pass ``with_digest='fp'`` to also expose the content fingerprint
    under that column name (it is computed either way).
    """
    from pyspark.sql import Window

    digest = fingerprint(text_col) if normalized else F.md5(F.col(text_col))
    tagged = df.select(F.col(id_col), digest.alias("digest"))
    # min-over-window: one shuffle on digest (vs groupBy + re-join = two)
    canonical = F.min(id_col).over(Window.partitionBy("digest"))
    cols = [F.col(id_col)]
    if with_digest:
        cols.append(F.col("digest").alias(with_digest))
    return tagged.select(
        *cols,
        canonical.alias("canonical_id"),
        (F.col(id_col) != canonical).alias("is_dup"),
    )


# ---------------------------------------------------------------------
# MinHash + LSH
#
# Signatures are pure JVM expressions (shingle → md5-low-32 → min over
# (a·h+b) mod p permutations): the whole signature pass stays in
# whole-stage codegen — no Python at all on the 100 TB scan. The same
# constants (seeded a/b arrays) and the same md5 primitive are emitted
# as DuckDB SQL by minhash_pairs_sql, so the driver's oracle reproduces
# the approximate candidate set EXACTLY, not just rows-only.
# ---------------------------------------------------------------------

# 32-bit prime modulus: a*h + b < 2^63 stays in signed-int64 range on
# BOTH engines (Spark bigint, DuckDB BIGINT), and because a*h is ~2^30
# times the modulus the reduction wraps thoroughly — (a·h+b) mod p is a
# proper 2-universal permutation of the hash space. (A large modulus
# like 2^61-1 with overflow-safe small `a` would wrap at most twice,
# leaving the "permutation" nearly monotonic in h: every permutation
# then picks the same argmin shingle and unrelated documents collide
# at est≈1.0 — measured mean bias +0.63 before this fix.)
_MINHASH_P = 4294967291


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 1 << 31, size=num_perm, dtype=np.int64)
    b = rng.randint(0, 1 << 31, size=num_perm, dtype=np.int64)
    return a, b


def shingle_expr(words: F.Column, n: int) -> F.Column:
    """Distinct word-n-gram shingles as n zipped array SLICES.

    Why slices + zip_with, not transform-over-index: ``words`` is
    usually the raw split() expression, and every reference inside a
    higher-order lambda re-evaluates it PER ELEMENT — the old
    index-transform formulation paid O(len²) splitting per document
    (measured 25x slower at sf0.1: 7.3s vs 0.3s for the shingle pass).
    Slicing references the words expression once per slice (n per ROW),
    so the cost stays linear no matter how the input expression is
    built. concat_ws skips the nulls zip_with pads past the shorter
    slice, reproducing the short-document truncated-slice fallback."""
    m = F.greatest(F.size(words) - (n - 1), F.lit(1))
    out = F.slice(words, 1, m)
    for j in range(1, n):
        out = F.zip_with(
            out, F.slice(words, j + 1, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.array_distinct(out)


_SHINGLE_SQL = (
    r"list_distinct(list_transform("
    r"range(GREATEST(len(regexp_split_to_array(trim(lower({col})), '\s+')) - {m}, 1)), "
    r"i -> array_to_string(regexp_split_to_array(trim(lower({col})), '\s+')[i+1:i+{k}], ' ')))"
)


def _h32_sql(s: str, hash_fn: str = "xxhash64") -> str:
    """32-bit non-negative string hash, as a SQL snippet.

    ``xxhash64`` (default) is the PRODUCTION primitive: one JVM
    intrinsic per value, ~2-3x cheaper than the md5 path at 100 TB
    (the r2 bench paid 4.05→5.35s on minhash for md5 alone).
    ``md5`` is the ORACLE-PARITY primitive — bit-identical to DuckDB's
    ('0x'||substr(md5(s),25,8))::BIGINT, so an independent engine can
    reproduce signatures exactly; use it when a query is hash-checked
    against a SQL mirror (workload.q_dedup_minhash).

    SQL snippets rather than Column compositions throughout this
    module: building the 64-wide expression trees through py4j costs a
    round-trip per node (~2s of pure driver time per signature plan,
    measured), while one parsed string is ~5x faster end-to-end with a
    bit-identical result."""
    if hash_fn == "xxhash64":
        return f"(xxhash64({s}) & 4294967295)"
    if hash_fn == "md5":
        return f"cast(conv(substring(md5({s}), 25, 8), 16, 10) as bigint)"
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def _h32_expr(s: F.Column, hash_fn: str = "xxhash64") -> F.Column:
    """Column flavor of _h32_sql (kept for composition call sites)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF))
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(s), 25, 8), 16, 10).cast("long")
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


_H32_SQL = "('0x'||substr(md5({s}),25,8))::BIGINT"


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, signature: array<long>[num_perm]) as a pure JVM pipeline —
    no UDF, no Python on the scan.

    Shape: explode shingles → 32-bit hash (_h32_expr; xxhash64 in
    production, md5 in oracle-parity mode) → ONE hash-aggregate with
    ``num_perm`` min() expressions (map-side partial min, single
    shuffle on id). Flat aggregate expressions stay inside whole-stage
    codegen, unlike a num_perm-deep nest of array transforms, which
    falls back to interpreted evaluation (measured 2-3× slower at
    sf0.1); and partial aggregation means only (id, 64 longs) ever
    shuffles, no matter how wide the documents are — the 100 TB shape."""
    a, b = _perm_params(num_perm, seed)
    src = ensure_parallelism(df.select(id_col, text_col))
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    h = src.select(
        F.col(id_col),
        F.explode(shingle_expr(words, shingle_k)).alias("s"),
    ).selectExpr(f"`{id_col}`", f"{_h32_sql('s', hash_fn)} AS h")
    # one parsed SQL string per permutation (see _h32_sql note)
    mins = [
        F.expr(f"min(({int(a[i])} * h + {int(b[i])}) % {_MINHASH_P}) AS m{i}")
        for i in range(num_perm)
    ]
    return (
        h.groupBy(id_col)
        .agg(*mins)
        .selectExpr(
            f"`{id_col}`",
            "array(" + ", ".join(f"m{i}" for i in range(num_perm)) + ") AS signature",
        )
    )


def _band_buckets(
    signatures: DataFrame, id_col: str, num_bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) — one row per LSH band; bucket packs the
    band's signature slice losslessly into ceil(r/2) longs (each
    minhash value is < 2^32 by construction — ``% _MINHASH_P`` — so two
    fit a long via shiftleft|or, a pure bit move with no overflow).
    The encoding is injective, so every (band, bucket) GROUP is
    identical to the former ~40-char string keys: same candidate
    pairs, same fan-out-guard estimates, same anchor selection — while
    the bucket join/window shuffles ~16 bytes per band row instead of
    a digit string (guide §2.3 narrower types; r11). Requires
    num_bands × rows_per_band ≤ len(signature) — both internal callers
    derive rows_per_band = num_perm // num_bands."""
    def _bucket(i: int) -> str:
        base = i * rows_per_band
        parts = []
        for j in range(0, rows_per_band - 1, 2):
            parts.append(
                f"shiftleft(element_at(signature, {base + j + 1}), 32) | "
                f"element_at(signature, {base + j + 2})"
            )
        if rows_per_band % 2:
            parts.append(f"element_at(signature, {base + rows_per_band})")
        inner = ", ".join(f"{p} AS p{k}" for k, p in enumerate(parts))
        return f"struct({i} AS band, struct({inner}) AS bucket)"

    bands = F.expr(
        "array(" + ", ".join(_bucket(i) for i in range(num_bands)) + ")"
    )
    return signatures.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )


#: Auto-guard (r6; VERDICT r5 finding 2): estimated candidate-row bound
#: above which an EXACT all-pairs bucket self-join auto-engages
#: anchors. Calibrated against measured 128 GiB-heap behavior: the
#: largest bucket join measured to COMPLETE is ~1.3e9 matched rows
#: (embedding exact at sf10, 335s), while the sf10 exact-simhash join
#: OOMs — its dup-density estimate is far above this line. Exact pair
#: semantics are preserved whenever the estimate stays under the bound
#: (every oracle scale, sf0.01-sf10 minhash at ~4e8).
AUTO_ANCHOR_BOUND = 1_000_000_000
#: Anchor degree the guard engages — the value the r4/r5 scale
#: rehearsals measured as decision-identical through dup_clusters.
AUTO_ANCHOR_DEGREE = 8


def _fanout_guard(
    exploded: DataFrame, keys: list[str], what: str,
    bound: int | None = None,
    probe: DataFrame | None = None,
    weight: float = 1.0,
) -> int | None:
    """Estimate a bucket join's candidate fan-out in ONE aggregate
    over the (cached upstream) bucket table(s) — for a SELF-join,
    Σ n·(n−1)/2 over bucket-key counts; for an incremental
    probe×corpus join (``probe`` given), Σ n_probe·n_corpus over the
    buckets both sides share, from one groupBy of the probe rows
    (tagged 1) unioned with the corpus rows (tagged 0) — and return
    the anchor degree to engage when ``est · weight`` exceeds
    ``bound``, else None (exact semantics). The estimate is None when
    the probe and corpus share no bucket, or the self-join table is
    empty.

    ``weight`` normalizes PER-CANDIDATE cost to the bound's
    calibration unit (a minhash/simhash candidate: a band compare or
    two xor+bit_counts, ~8 cheap ops). The embedding ops pass
    ``dim/8``: each of their candidates evaluates a dim-wide cosine
    and moves two vectors through the join, so 6.5e8 embedding
    candidates cost far more than 6.5e8 simhash candidates (measured:
    615s for the sf10 exact embedding join vs 26s anchored,
    SCALE_r07.md — same 1.87e9-unit neighborhood where the simhash
    guard already trips).

    Duplicate-dense corpora make the exact join quadratic in cluster
    size; at sf10's 100-way dup density the simhash chunk join OOMs a
    128 GiB heap (SCALE_r05.md). Rather than letting a data property
    crash (or dominate) the job, the guard trades exactness for the
    measured decision-identical anchored mode, LOGS the switch, and
    notes the decision in the trace record (``what``: mode
    ``guarded``, ``anchor_degree`` — None when exact semantics are
    kept — ``estimated_pairs``, ``weight`` and ``bound``). Callers
    needing guaranteed-exact pairs at any cost pass an explicit
    anchor_degree or raise the bound."""
    bound = AUTO_ANCHOR_BOUND if bound is None else bound
    if probe is None:
        est = (
            exploded.groupBy(*keys).count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p"))
            .first()["p"]
        )
    else:
        n_probe = F.sum("__probe")
        counts = (
            probe.withColumn("__probe", F.lit(1))
            .unionByName(exploded.withColumn("__probe", F.lit(0)))
            .groupBy(*keys)
            .agg(n_probe.alias("np"), (F.count(F.lit(1)) - n_probe).alias("nc"))
        )
        est = (
            counts.filter((F.col("np") > 0) & (F.col("nc") > 0))
            .agg(F.sum(F.col("np") * F.col("nc")).alias("p"))
            .first()["p"]
        )
    weighted = None if est is None else float(est) * weight
    engaged = (AUTO_ANCHOR_DEGREE
               if weighted is not None and weighted > bound else None)
    note(what, mode="guarded", anchor_degree=engaged,
         estimated_pairs=None if est is None else float(est),
         weight=weight, bound=float(bound))
    if engaged is not None:
        import logging

        logging.getLogger("andl_spark.dedup").warning(
            "%s: estimated %.3g candidate pairs (cost weight %g -> %.3g "
            "units) exceeds the %.3g exact-join bound — auto-engaging "
            "anchor_degree=%d (bounded fan-out, cluster-connectivity-"
            "preserving; pass anchor_degree explicitly to override)",
            what, float(est), weight, weighted, float(bound), engaged,
        )
    return engaged


def _anchored(
    side: DataFrame, keys: list[str], order_col: str, what: str,
    anchor_degree: int | None, auto_bound: int | None,
    probe: DataFrame | None = None, weight: float = 1.0,
) -> DataFrame:
    """The pair ops' anchor decision, in one place (the contract every
    public pair op's ``anchor_degree``/``auto_bound`` follow):

    * ``None`` — exact unless unaffordable: :func:`_fanout_guard`
      estimates the bucket join's candidate count over ``side``
      (against ``probe`` for a probe×corpus join) and engages
      AUTO_ANCHOR_DEGREE anchors, logged, above ``auto_bound``
      (default AUTO_ANCHOR_BOUND, never reached at oracle scales);
    * ``<= 0`` — exact at any cost, no guard (what strict oracle pair
      parity needs on a corpus dup-dense enough to trip the guard);
    * ``D > 0`` — explicit anchors.

    Anchors bound the per-bucket fan-out to D·|bucket| instead of
    |bucket|²/2: ``side`` keeps only each bucket's D smallest
    ``order_col`` rows, so every member pairs only against those.
    Duplicate-dense corpora make all-pairs QUADRATIC in cluster size
    (sf10's 100-way clusters: 27M exact MinHash pairs, an OOMing
    SimHash chunk join, ~1.3e9 matched embedding rows — SCALE_r04/r05);
    anchored it is linear. Bucket-mates still connect through a shared
    anchor, so the dup_clusters/keep_canonical DECISION is unchanged
    for dense clusters, and D anchors give the downstream score D
    chances to keep a connecting edge; exact pair semantics hold only
    for edges through an anchor. Each call notes one decision under
    ``what`` in the trace record: mode ``exact`` or ``explicit`` with
    its ``anchor_degree``, or the guard's ``guarded`` record. The rank
    partitions by ``keys``, the pair join's key, so rank and join
    share one exchange."""
    if anchor_degree is not None and anchor_degree <= 0:
        note(what, mode="exact", anchor_degree=None)
        return side
    if anchor_degree is None:
        anchor_degree = _fanout_guard(
            side.select(*keys), keys, what, bound=auto_bound,
            probe=None if probe is None else probe.select(*keys),
            weight=weight)
        if anchor_degree is None:
            return side
    else:
        note(what, mode="explicit", anchor_degree=anchor_degree)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        side.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= anchor_degree)
        .drop("__rk")
    )


def _bucket_pairs(
    probe: DataFrame, corpus: DataFrame, keys: list[str], id_col: str,
    what: str, score: F.Column | None = None, keep: F.Column | None = None,
    self_join: bool = True, anchor_degree: int | None = None,
    auto_bound: int | None = None, weight: float = 1.0,
) -> DataFrame:
    """THE candidate-pair join of every bucketed dedup op: ``probe``
    rows (alias ``a``) meet ``corpus`` rows (alias ``b``) that share a
    ``keys`` bucket → (id_a < id_b[, score]), each pair once.

    * ``self_join`` (the batch ops; probe and corpus are one table):
      keeps a < b, so the join output does not double, and anchors the
      probe (a) side — every pair is (anchor, later bucket-mate).
    * probe mode (the ``*_against_index`` ops: the new batch against
      index ∪ batch): keeps a != b, orders the pair with
      least/greatest (a new id may sort before an old one), and
      anchors the corpus (b) side against the probe×corpus estimate
      Σ n_probe·n_corpus per shared bucket.

    Anchoring and the guard follow :func:`_anchored` (``what`` labels
    the noted decision; ``weight`` scales the estimate to the
    bound's per-candidate cost unit). The corpus side carries a
    shuffle_hash hint: it is corpus-sized, and letting AQE broadcast it
    rebuilds its whole upstream in one single-threaded broadcast-build
    stage (measured 10 s of a 13 s MinHash query at sf0.1). ``score``
    (an aliased Column over ``a.``/``b.`` columns) must be determined
    by the pair: it and its ``keep`` filter then evaluate map-side on
    the join output BEFORE the pair dedup, result-identical, and the
    dedup exchange carries only surviving (id, id, score) rows rather
    than every candidate with its payload (embedding at sf1: 42 s →
    7.4 s for the identical 93,295 pairs)."""
    anchored = _anchored(
        probe if self_join else corpus, keys, id_col, what, anchor_degree,
        auto_bound, probe=None if self_join else probe,
        weight=weight)
    a_id, b_id = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    if self_join:
        a, b = anchored, corpus
        pred, ids = a_id < b_id, [a_id.alias("id_a"), b_id.alias("id_b")]
    else:
        a, b = probe, anchored
        pred = a_id != b_id
        ids = [F.least(a_id, b_id).alias("id_a"),
               F.greatest(a_id, b_id).alias("id_b")]
    pairs = (
        a.alias("a").join(b.alias("b").hint("shuffle_hash"), on=keys)
        .filter(pred)
        .select(*ids, *([] if score is None else [score]))
    )
    if keep is not None:
        pairs = pairs.filter(keep)
    return pairs.dropDuplicates(["id_a", "id_b"])


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 16,
    rows_per_band: int = 4,
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> DataFrame:
    """Band the signatures and emit candidate pairs (id_a < id_b) that
    share at least one band bucket. The join key is (band, bucket), the
    band's signature slice packed into longs (see _band_buckets) —
    shuffle-partitionable, engine-portable, and bucket sizes bound the
    pair fan-out. Anchors and the fan-out guard: see :func:`_anchored`.
    The guard's estimate is an extra aggregate over the bucket table —
    PERSIST the input signatures (minhash_lsh_dedup does) or the
    signature pipeline runs once for the estimate and once per join
    side."""
    exploded = _band_buckets(signatures, id_col, num_bands, rows_per_band)
    return _bucket_pairs(
        exploded, exploded, ["band", "bucket"], id_col,
        "minhash lsh_candidate_pairs", anchor_degree=anchor_degree,
        auto_bound=auto_bound)


def _packed_sig_sql(n: int) -> str:
    """SQL for ``signature`` (array<long>[n], every value < 2^32 by
    ``% _MINHASH_P``) packed 2-per-long: the same lossless shiftleft|or
    bit move as _band_buckets' bucket keys (r11), applied to the WHOLE
    signature for the score legs (r12) — ceil(n/2) longs instead of n,
    so the pair-score join's exchanges carry half the signature bytes
    (guide §2.3; UnsafeRow stores 8 bytes per element regardless of
    declared type, so halving the element COUNT is the only narrowing
    that actually shrinks the rows)."""
    parts = []
    for j in range(0, n - 1, 2):
        parts.append(
            f"shiftleft(element_at(signature, {j + 1}), 32) | "
            f"element_at(signature, {j + 2})"
        )
    if n % 2:
        parts.append(f"element_at(signature, {n})")
    return "array(" + ", ".join(parts) + ")"


def minhash_jaccard(signatures: DataFrame, pairs: DataFrame, id_col: str = "id",
                    num_perm: int | None = None) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal
    signature positions (JVM-side, no UDF).

    With ``num_perm`` given (both internal callers pass it), the
    signatures ship through the score join PACKED 2-per-long
    (_packed_sig_sql) and equal positions are counted by comparing the
    hi/lo 32-bit halves of each packed long — provably the same count
    (packing is positional and injective per half), at half the
    score-leg shuffle bytes. For an odd ``num_perm`` the tail long
    holds one value whose hi half is 0 on both sides (always "equal"),
    so the statically-known overcount of 1 is subtracted. Without
    ``num_perm`` (external callers, unknown width) the legacy unpacked
    zip_with path runs — same result, wider rows."""
    if num_perm is None:
        sa = signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
        sb = signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
        matched = pairs.join(sa, "id_a").join(sb, "id_b")
        eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
        num = F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double")
        return matched.select(
            "id_a", "id_b", (num / F.size("sig_a")).alias("est_jaccard")
        )
    packed = _packed_sig_sql(num_perm)
    sa = signatures.selectExpr(f"`{id_col}` AS id_a", f"{packed} AS __sig_a")
    sb = signatures.selectExpr(f"`{id_col}` AS id_b", f"{packed} AS __sig_b")
    matched = pairs.join(sa, "id_a").join(sb, "id_b")
    # one parsed SQL string (r11 batch 8: HOF lambdas via Column ops
    # cost ~16 ms of py4j chatter each); __mj_ prefixes keep lambda
    # variables from shadowing any realistic column name
    cmp = (
        "aggregate(zip_with(__sig_a, __sig_b, (__mj_x, __mj_y) -> "
        "(CASE WHEN shiftright(__mj_x, 32) = shiftright(__mj_y, 32) "
        "THEN 1 ELSE 0 END) + "
        "(CASE WHEN (__mj_x & 4294967295) = (__mj_y & 4294967295) "
        "THEN 1 ELSE 0 END)), 0, (__mj_acc, __mj_v) -> __mj_acc + __mj_v)"
    )
    if num_perm % 2:
        cmp = f"({cmp} - 1)"
    return matched.selectExpr(
        "id_a", "id_b",
        f"CAST({cmp} AS DOUBLE) / CAST({num_perm} AS INT) AS est_jaccard",
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pairs: signatures → LSH buckets → estimated
    Jaccard ≥ threshold. Returns (id_a, id_b, est_jaccard).
    hash_fn='md5' only for oracle-parity runs (see _h32_expr);
    anchor_degree/auto_bound: see :func:`_anchored` (anchors suit pairs
    that feed dup_clusters)."""
    # Persist + materialize signatures: they feed candidate generation
    # AND both sides of the scoring join. Eager materialization matters
    # — the self-join's two scan stages run concurrently, and with a
    # lazy persist they race and each runs the signature pipeline over
    # the full corpus before the cache lands. When the fan-out guard
    # will run (anchor_degree=None), its single pre-join aggregate IS
    # the materializing action — a separate count() here would be one
    # redundant full pass over the cached signatures per call (r11,
    # guide §1.2); only the guard-less paths still need the count.
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, hash_fn=hash_fn).persist()
    if anchor_degree is not None:
        sigs.count()
    pairs = lsh_candidate_pairs(sigs, id_col, num_bands, num_perm // num_bands,
                                anchor_degree=anchor_degree,
                                auto_bound=auto_bound)
    scored = minhash_jaccard(sigs, pairs, id_col, num_perm=num_perm)
    # Materialize the (small) pair result and release the signature
    # cache — each invocation used to leak a cached RDD (ADVICE r2).
    out = scored.filter(F.col("est_jaccard") >= threshold).localCheckpoint(eager=True)
    sigs.unpersist()
    return out


def minhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    seed: int = 42,
    round_to: int | None = 4,
) -> str:
    """DuckDB mirror of minhash_lsh_dedup: same shingling, same md5-low32
    hash, same (a·h+b) mod p permutations (literals from the same seeded
    RNG), same string band keys — the approximate pair set and estimated
    Jaccard reproduce exactly."""
    a, b = _perm_params(num_perm, seed)
    A = "[" + ", ".join(str(int(x)) for x in a) + "]"
    B = "[" + ", ".join(str(int(x)) for x in b) + "]"
    r = num_perm // num_bands
    sh = _SHINGLE_SQL.format(col=text_col, m=shingle_k - 1, k=shingle_k)
    h32 = _H32_SQL.format(s="s")
    est = (
        "list_sum(list_transform(list_zip(sa.sig, sb.sig), "
        f"z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END)) / {float(num_perm)}"
    )
    out_est = f"ROUND(est_jaccard + 1e-9, {round_to})" if round_to is not None else "est_jaccard"
    return f"""
WITH hashed AS (
  SELECT {id_col} AS id, list_transform({sh}, s -> {h32}) AS hs FROM {table}
),
sigs AS (
  SELECT id, list_transform(range(1, {num_perm + 1}),
           i -> list_min(list_transform(hs, h -> ({A}[i] * h + {B}[i]) % {_MINHASH_P}))) AS sig
  FROM hashed
),
bands AS (
  SELECT id, i AS band,
         array_to_string(sig[i*{r}+1 : (i+1)*{r}], '_') AS bucket
  FROM sigs, range({num_bands}) t(i)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
),
scored AS (
  SELECT id_a, id_b, {est} AS est_jaccard
  FROM cand JOIN sigs sa ON sa.id = cand.id_a JOIN sigs sb ON sb.id = cand.id_b
)
SELECT id_a, id_b, {out_est} AS est_jaccard FROM scored WHERE est_jaccard >= {threshold}
"""


# ---------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document as two 32-bit halves (sh_lo bits
    0-31, sh_hi bits 32-63), computed entirely as JVM expressions: each
    word's hash supplies the 64 bits, the ±1 bit votes are summed with
    a single flat aggregate, and the sign bits are packed.

    hash_fn='xxhash64' (default) is the production primitive — ONE JVM
    intrinsic per word (the r2 md5 path cost 1.92→5.11s at sf0.1);
    hash_fn='md5' is the oracle-parity primitive an independent SQL
    engine reproduces bit-for-bit (simhash_pairs_sql, hi/lo 4-byte
    halves of the digest) — used by the hash-checked
    workload.q_dedup_simhash.

    Two halves (not one int64) keep every value inside non-negative
    32-bit range on both engines — no sign-bit / unsigned-cast hazards.
    Repeated words vote with their multiplicity, matching classic
    SimHash term weighting."""
    src = ensure_parallelism(df.select(id_col, text_col))
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # explode → ONE hash-aggregate with 32 lane-packed vote sums + a
    # count: flat aggregates stay in codegen and combine map-side, so
    # only (id, 33 longs) reaches the shuffle regardless of document
    # width. Lane packing: lane i's low 32 bits count lo-bit-i votes,
    # its high 32 bits count hi-bit-i votes (each word contributes 0/1
    # low + 0/2^32 high — exact, overflow-free below 2^31 words per
    # document); the unpacked counts are bit-identical to a 64-sum
    # form, so the DuckDB mirror (simhash_pairs_sql) is unaffected.
    # Everything is parsed SQL, not py4j composition (see _h32_sql).
    if hash_fn == "xxhash64":
        hi_sql = "shiftrightunsigned(xxhash64(w), 32) & 4294967295"
        lo_sql = "xxhash64(w) & 4294967295"
    elif hash_fn == "md5":
        hi_sql = "cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)"
        lo_sql = "cast(conv(substring(md5(w), 9, 8), 16, 10) as bigint)"
    else:
        raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")
    h = src.select(F.col(id_col), F.explode(words).alias("w")).selectExpr(
        f"`{id_col}`", f"{hi_sql} AS hi", f"{lo_sql} AS lo"
    )
    votes = [
        F.expr(
            f"sum((shiftrightunsigned(lo, {i}) & 1)"
            f" + shiftleft(shiftrightunsigned(hi, {i}) & 1, 32)) AS v{i}"
        )
        for i in range(32)
    ]
    agg = h.groupBy(id_col).agg(F.expr("count(1) AS n"), *votes)

    def pack_sql(rng) -> str:
        # sign bit i set  <=>  (#ones)*2 - n > 0
        terms = []
        for i in rng:
            ones = (
                f"(v{i % 32} & 4294967295)" if i < 32
                else f"shiftrightunsigned(v{i % 32}, 32)"
            )
            terms.append(f"IF({ones} * 2 - n > 0, {1 << (i % 32)}, 0)")
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    return agg.selectExpr(
        f"`{id_col}`",
        pack_sql(range(0, 32)) + " AS sh_lo",
        pack_sql(range(32, 64)) + " AS sh_hi",
    )


def _simhash_chunks(max_hamming: int) -> list[tuple[str, int, int]]:
    """(half, offset, width) for max_hamming+1 chunks over the 64 sign
    bits: by pigeonhole, any pair at Hamming distance ≤ max_hamming
    shares at least one chunk — the LSH candidate set is LOSSLESS for
    the declared distance, so chunk-join output provably equals the
    all-pairs answer. Wider chunks (smaller max_hamming) mean
    exponentially fewer bucket collisions: the canonical 64-bit/ham≤3
    setting (Manku, Jain & Sarma, WWW'07) gets 4×16-bit chunks; ham≤9
    still works but pays 7-bit buckets."""
    n_chunks = max_hamming + 1
    if n_chunks < 2 or n_chunks > 32:
        raise ValueError(f"max_hamming must be in [1, 31], got {max_hamming}")
    bounds = [round(i * 64 / n_chunks) for i in range(n_chunks + 1)]
    out = []
    for i in range(n_chunks):
        lo_bit, hi_bit = bounds[i], bounds[i + 1]
        # a chunk spanning the 32-bit boundary splits into two pieces
        # extracted separately and recombined by the caller
        for half, start, stop in (
            ("sh_lo", lo_bit, min(hi_bit, 32)),
            ("sh_hi", max(lo_bit, 32), hi_bit),
        ):
            if stop > start:
                out.append((i, half, start % 32 if half == "sh_hi" else start, stop - start))
    return out


def _simhash_buckets(signatures: DataFrame, id_col: str,
                     max_hamming: int) -> DataFrame:
    """(id, sh_lo, sh_hi, chunk, val) — one row per pigeonhole chunk
    bucket of each (sh_lo, sh_hi) signature (see _simhash_chunks); the
    key table of both SimHash pair ops."""
    by_chunk: dict[int, list] = {}
    for ci, half, off, width in _simhash_chunks(max_hamming):
        expr = F.shiftrightunsigned(half, off).bitwiseAND(F.lit((1 << width) - 1))
        by_chunk.setdefault(ci, []).append(expr)
    chunks = F.array(*[
        F.struct(
            F.lit(ci).alias("chunk"),
            # combine boundary-spanning pieces into one bucket value
            (parts[0] if len(parts) == 1
             else parts[0] + parts[1] * F.lit(1 << 32)).alias("val"),
        )
        for ci, parts in sorted(by_chunk.items())
    ])
    return signatures.select(
        id_col, "sh_lo", "sh_hi", F.explode(chunks).alias("c")
    ).select(id_col, "sh_lo", "sh_hi", "c.chunk", "c.val")


def _hamming_score(max_hamming: int) -> tuple[F.Column, F.Column]:
    """(score, keep) of the SimHash pair ops for :func:`_bucket_pairs`:
    the true Hamming distance of the a/b signatures, kept ≤
    max_hamming."""
    hamming = (
        F.bit_count(F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo")))
        + F.bit_count(F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi")))
    ).cast("long")
    return hamming.alias("hamming"), F.col("hamming") <= max_hamming


def simhash_near_pairs(
    signatures: DataFrame, id_col: str, max_hamming: int = 3,
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) by TRUE Hamming distance ≤
    max_hamming.

    LSH on max_hamming+1 pigeonhole chunks (see _simhash_chunks): the
    join is on chunk buckets, never all-pairs, and the candidate set is
    lossless for the declared distance (r1 shipped 4×16-bit chunks
    whose guarantee stopped at distance 3 while the declared query
    asked for 8 — ADVICE r1 item 1). Anchors and the fan-out guard:
    see :func:`_anchored` (the losslessness above is about CANDIDATES;
    anchors keep it only for edges through an anchor)."""
    # Materialize signatures before the self-join: its two scan stages
    # run concurrently and would each recompute the signature pipeline
    # (chunk explode from cache is cheap — cache pre-explode, 1 row
    # instead of 10 per doc). Respect a caller-owned cache (skip the
    # double persist+count when the input is already cached). When the
    # fan-out guard will run, its pre-join aggregate doubles as the
    # materializing action (one fewer full pass per call, r11 — see
    # minhash_lsh_dedup).
    caller_cached = signatures.is_cached
    if not caller_cached:
        signatures = signatures.persist()
        if anchor_degree is not None:
            signatures.count()
    e = _simhash_buckets(signatures, id_col, max_hamming)
    score, keep = _hamming_score(max_hamming)
    out = _bucket_pairs(
        e, e, ["chunk", "val"], id_col, "simhash_near_pairs", score, keep,
        anchor_degree=anchor_degree, auto_bound=auto_bound)
    # Materialize the (small) pair result, then release the signature
    # cache — each invocation used to leak a cached RDD (ADVICE r2).
    out = out.localCheckpoint(eager=True)
    if not caller_cached:
        signatures.unpersist()
    return out


def simhash_pairs_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
) -> str:
    """DuckDB mirror of simhash signatures + near pairs. Because the
    chunk LSH is lossless for max_hamming ≤ 9, the oracle can use the
    straightforward all-pairs formulation — same md5 word hashes, same
    ±1 votes, same sign packing — and must match exactly."""
    return f"""
WITH w AS (
  SELECT {id_col} AS id,
         unnest(regexp_split_to_array(trim(lower({text_col})), '\\s+')) AS word
  FROM {table}
),
h AS (
  SELECT id, ('0x'||substr(md5(word),1,8))::BIGINT AS hi,
             ('0x'||substr(md5(word),9,8))::BIGINT AS lo
  FROM w
),
votes AS (
  SELECT id, i,
         SUM(CASE WHEN ((CASE WHEN i < 32 THEN lo ELSE hi END) >> (i % 32)) & 1 = 1
                  THEN 1 ELSE -1 END) AS acc
  FROM h, range(64) t(i) GROUP BY id, i
),
sig AS (
  SELECT id,
         SUM(CASE WHEN acc > 0 AND i < 32  THEN (1::BIGINT << i)        ELSE 0 END) AS sh_lo,
         SUM(CASE WHEN acc > 0 AND i >= 32 THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS sh_hi
  FROM votes GROUP BY id
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) <= {max_hamming}
"""


# ---------------------------------------------------------------------
# exact n-gram Jaccard
# ---------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs sharing ≥1 shingle.

    JVM-side shingling: split → transform over index range → explode.
    ``max_shingle_freq`` drops shingles appearing in more than that
    many docs (stop-shingles) — the lever that keeps the self-join
    bounded at corpus scale. With the cap on, the score is the exact
    Jaccard over the RETAINED (distinctive) shingle universe: both the
    intersection and the denominators count post-cap shingles."""
    # shingle_expr's zipped-slice formulation: linear even though
    # CollapseProject inlines the split into the shingle projection
    # (the old index-transform paid the split once PER ELEMENT inside
    # the persist job — see shingle_expr's docstring).
    with_words = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("words"),
    )
    shingles = shingle_expr(F.col("words"), n)
    # Persist the COMPACT (id, shingle-array) table and materialize it
    # before deriving anything: it feeds both sides of the pair join
    # (lazy persist would let the two scan stages race and shingle
    # everything twice), and it is the barrier that stops Catalyst
    # collapsing the projection — size(sh) + explode(sh) over the raw
    # expression drops the shingling out of codegen into interpreted
    # re-evaluation (measured 12x: 10.9s vs 0.9s at sf0.1). Caching
    # pre-explode also stores each shingle once, not once per exploded
    # row.
    base = with_words.select("id", shingles.alias("sh")).persist()
    base.count()
    # Carry each document's shingle count through the explode: the pair
    # join then has both sizes in-row, avoiding two extra shuffle joins
    # against the (candidate-pair-sized, potentially huge) common table.
    ex = base.select(
        "id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    if max_shingle_freq is not None:
        freq = ex.groupBy("shingle").count()
        keep = freq.filter(F.col("count") <= max_shingle_freq).select("shingle")
        over = freq.filter(F.col("count") > max_shingle_freq).select("shingle")
        # Denominators must count the RETAINED shingles, not the
        # pre-cap sizes, or the score stops being the Jaccard of any
        # well-defined set (two identical boilerplate-heavy docs could
        # score below threshold and be missed — ADVICE r2). Rather than
        # re-shuffling the exploded table by id (a window), derive the
        # per-doc DELTA: stop-shingles are few by construction, so the
        # dropped-count table is at most doc-count-sized and usually
        # near-empty — AQE broadcasts it; n_sh_post = n_sh_pre - drops.
        dropped = (
            ex.join(over, "shingle")
            .groupBy("id").agg(F.count(F.lit(1)).alias("__n_drop"))
        )
        ex = (
            ex.join(keep, "shingle")
            .join(dropped, "id", "left")
            .withColumn(
                "n_sh", F.col("n_sh") - F.coalesce(F.col("__n_drop"), F.lit(0))
            )
            .drop("__n_drop")
        )
    # Materialize the (possibly capped) exploded table once: both sides
    # of the self-join consume it, and without a cache each side re-runs
    # the frequency/keep/dropped joins over the full explode (measured
    # ~1s of duplicated work at sf0.1).
    ex = ex.persist()
    ex.count()
    # shuffle_hash: same single-task broadcast-build hazard as
    # lsh_candidate_pairs — never broadcast a corpus-sized side.
    a, b = ex.alias("a"), ex.alias("b").hint("shuffle_hash")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("a.n_sh").alias("sz_a"),
            F.first("b.n_sh").alias("sz_b"),
        )
    )
    out = common.select(
        "id_a",
        "id_b",
        (F.col("n_common") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    # Materialize the (small) pair result, then release both caches —
    # without this every invocation leaked a cached RDD for the
    # session lifetime (ADVICE r2).
    out = out.localCheckpoint(eager=True)
    ex.unpersist()
    base.unpersist()
    return out


# ---------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = 0,
    n_tables: int = 1,
    dim: int | None = None,
    seed: int = 42,
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> DataFrame:
    """Pairs (id_a, id_b, cosine) with cosine ≥ threshold.

    bucket_bits>0 — the 100 TB path: ``n_tables`` independent
    random-hyperplane LSH tables (seeds seed..seed+n_tables-1, keyed
    exactly as :func:`embedding_index`); a pair is a candidate if it
    collides in ANY table, then candidates are verified by exact
    cosine. Per-pair recall at similarity s is 1-(1-p^bits)^n_tables
    with p = 1-acos(s)/π — ≥0.99 for genuine near-dups (s≥0.95) at
    bits=8, n_tables=8. The join is bucket-equi, never O(n²), and fully
    mirrored by embedding_dup_pairs_sql so an independent engine
    reproduces the same candidate set. Anchors and the fan-out guard:
    see :func:`_anchored` (the join's MATCHED-ROW count is this op's
    real cost — SCALE_r05.md: ~1.3B at 200k vectors — and anchors are
    the lever that shrinks it; the guard weighs each candidate dim/8
    units). The guard's estimate is one extra map pass over the corpus,
    deliberately not persisted: at the 100 TB scale caching the corpus
    to save one scan would spill it to executor disks.

    bucket_bits=0 compares all pairs (correctness baseline for tests
    only — a cartesian product, never the declared path at scale).
    """
    from .simsearch import _score_exprs

    # fixed-dim unrolled scorer when dim is known — bitwise-identical
    # to the HOF forms (simsearch.dot_expr_fixed), so oracle pair sets
    # and cosines are unchanged
    _norm, _cos = _score_exprs(dim)
    cos = _cos("a.vec", "b.vec", "a.nrm", "b.nrm").alias("cosine")
    if bucket_bits > 0:
        e = _embedding_buckets(embedding_index(
            df, id_col, vec_col, bucket_bits, n_tables, dim, seed))
        return _bucket_pairs(
            e, e, ["tbl", "bucket"], "id", "embedding_dup_pairs", cos,
            F.col("cosine") >= threshold, anchor_degree=anchor_degree,
            auto_bound=auto_bound, weight=max(1.0, dim / 8))
    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
        _norm(vec_col).alias("nrm"),
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.crossJoin(b).filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos)
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_bits: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int | None = 4,
) -> str:
    """DuckDB mirror of the bucketed embedding_dup_pairs: same
    hyperplane literals per table, same any-table collision candidate
    set, same exact-cosine verify."""
    from .simsearch import cosine_sql, hyperplane_bucket_sql

    selects = " UNION ALL ".join(
        f"SELECT id, vec, {t} AS tbl, "
        f"{hyperplane_bucket_sql('vec', dim, bucket_bits, seed + t)} AS bucket FROM v"
        for t in range(n_tables)
    )
    cos = cosine_sql("a.vec", "b.vec")
    out_cos = f"ROUND(cosine + 1e-9, {round_to})" if round_to is not None else "cosine"
    return f"""
WITH v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec FROM {table}),
e AS ({selects}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, {cos} AS cosine
  FROM e a JOIN e b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
)
SELECT id_a, id_b, {out_cos} AS cosine FROM cand WHERE cosine >= {threshold}
"""


# ---------------------------------------------------------------------
# incremental (batch-vs-corpus) dedup
# ---------------------------------------------------------------------

def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    index_fp_col: str = "fp",
    keep_fp: str | None = None,
) -> DataFrame:
    """Ingest-time dedup of a NEW batch against the historical corpus:
    keep rows whose normalized-content fingerprint is absent from the
    index AND unique within the batch (min-id winner). The index is a
    fingerprint-only table — at 100 TB the corpus column never moves,
    only its digests — and the antijoin shuffles the (small) new batch
    against the bucketed/partitioned index. ``keep_fp='col'`` exposes
    the already-computed fingerprint on the output under that name —
    callers that index the survivors (exact_dedup_against_index) reuse
    it instead of hashing the text a second time.

    The within-batch winner is ``min_by(struct(row), id)`` per
    fingerprint — a hash aggregate with MAP-SIDE partial combine, not
    a per-fingerprint window (r8; VERDICT r7 item 9): a boilerplate
    batch putting 30% of its rows under ONE fingerprint would funnel a
    window partition into a single task, while the aggregate reduces
    the hot group on every mapper first (the same skew lesson as
    dedup_spans' first-occurrence aggregate). Measured at sf10 scale
    in SCALE_r08.md."""
    fp = fingerprint(text_col)
    tagged = new_docs.withColumn("__fp", fp)
    fresh = tagged.join(
        index.select(F.col(index_fp_col).alias("__fp")), on="__fp", how="leftanti"
    )
    data_cols = [c for c in tagged.columns if c != "__fp"]
    out = (
        fresh.groupBy("__fp")
        .agg(F.min_by(F.struct(*data_cols), F.col(id_col)).alias("__w"))
        .select("__fp", "__w.*")
        .select(*data_cols, "__fp")  # original column order, fp last
    )
    if keep_fp:
        return out.withColumnRenamed("__fp", keep_fp)
    return out.drop("__fp")


def exact_dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """:func:`dedup_against_index` in the ``(out, new_index_rows)``
    tuple convention the other ``*_against_index`` legs share, so the
    exact-fingerprint leg plugs into ``neardup_ingest_stream`` as
    ``kind="exact"``: ``out`` is the batch's SURVIVING rows (fingerprint
    absent from the index and unique within the batch, min-id winner)
    and ``new_index_rows`` is their (fp, id) fingerprints — fp-unique by
    construction — to append to the stored index. The corpus text never
    moves; only 16-byte digests live in the index. One fingerprint pass
    and ONE materialization: both outputs derive from a single
    checkpointed (rows + fp) frame (review r7)."""
    kept_fp = dedup_against_index(
        new_docs, index, id_col, text_col, keep_fp="__kept_fp"
    ).localCheckpoint(eager=True)
    kept = kept_fp.drop("__kept_fp")
    new_fps = kept_fp.select(
        F.col("__kept_fp").alias("fp"), F.col(id_col).alias("id"))
    return kept, new_fps


def minhash_against_index(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 64,
    num_bands: int = 16,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash near-dup: sign ONLY the new batch and join
    its band buckets against a persisted signature index — the 100 TB
    re-crawl workflow, where re-signing the historical corpus per
    ingest is the cost that kills the pipeline.

    ``index_sigs`` is the output of :func:`minhash_signatures` over the
    historical corpus (persist it with Catalog.put — (id, 64 longs) per
    doc; the text column never moves). Returns ``(pairs, new_sigs)``:

    - ``pairs`` — every near-dup pair (id_a < id_b, est_jaccard ≥
      threshold) that TOUCHES the new batch: new×new and new×old.
      Union with the previously-known old×old pairs to get exactly the
      full-corpus recompute's pair set (signatures are per-doc
      deterministic and the band join is symmetric, so no pair is
      gained or lost — pytest proves set equality).
    - ``new_sigs`` — the new batch's signatures; append to the index
      (Catalog.put versioning keeps the old state time-travelable).

    Pairs come from the probe mode of :func:`_bucket_pairs` (the new
    batch's band buckets against index ∪ batch); anchors and the
    fan-out guard: see :func:`_anchored`."""
    rows_per_band = num_perm // num_bands
    new_sigs = minhash_signatures(
        new_docs, id_col, text_col, num_perm, shingle_k, hash_fn=hash_fn
    ).localCheckpoint(eager=True)
    all_sigs = index_sigs.select(id_col, "signature").unionByName(
        new_sigs.select(id_col, "signature")
    )
    pairs = _bucket_pairs(
        _band_buckets(new_sigs, id_col, num_bands, rows_per_band),
        _band_buckets(all_sigs, id_col, num_bands, rows_per_band),
        ["band", "bucket"], id_col, "minhash_against_index",
        self_join=False, anchor_degree=anchor_degree, auto_bound=auto_bound)
    scored = minhash_jaccard(all_sigs, pairs, id_col, num_perm=num_perm)
    out = scored.filter(F.col("est_jaccard") >= threshold).localCheckpoint(eager=True)
    return out, new_sigs


def simhash_against_index(
    new_docs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental SimHash twin of :func:`minhash_against_index`:
    ``index_sigs`` is persisted :func:`simhash_signatures` output
    (id, sh_lo, sh_hi — 2 longs per doc). Returns ``(pairs,
    new_sigs)`` where pairs is every Hamming ≤ max_hamming pair
    touching the new batch (lossless by the pigeonhole chunk cover,
    exactly as the full recompute — pytest proves set equality), from
    the probe mode of :func:`_bucket_pairs`; anchors and the fan-out
    guard: see :func:`_anchored`."""
    new_sigs = simhash_signatures(
        new_docs, id_col, text_col, hash_fn=hash_fn
    ).localCheckpoint(eager=True)
    all_sigs = index_sigs.select(id_col, "sh_lo", "sh_hi").unionByName(
        new_sigs.select(id_col, "sh_lo", "sh_hi")
    )
    score, keep = _hamming_score(max_hamming)
    pairs = _bucket_pairs(
        _simhash_buckets(new_sigs, id_col, max_hamming),
        _simhash_buckets(all_sigs, id_col, max_hamming),
        ["chunk", "val"], id_col, "simhash_against_index", score, keep,
        self_join=False, anchor_degree=anchor_degree, auto_bound=auto_bound,
    ).localCheckpoint(eager=True)
    return pairs, new_sigs


def embedding_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Persistable LSH index for incremental embedding near-dup:
    one compact row per vector — (id, vec, nrm, buckets) with
    ``buckets`` the array of (tbl, hyperplane bucket) assignments.
    Hyperplanes are derived deterministically from ``seed`` (see
    simsearch.hyperplane_bucket), so (bucket_bits, n_tables, dim,
    seed) are part of the index's identity: an ingest batch signed
    with different parameters lands in incompatible buckets. Persist
    with Catalog.put — versioning keeps every pre-ingest state
    time-travelable, exactly like the MinHash signature index. The
    batch :func:`embedding_dup_pairs` keys its bucketed path from the
    same rows."""
    from .simsearch import _hof_norm_sql, hyperplane_bucket

    if dim is None:
        raise ValueError("embedding_index requires dim (no driver-side inference)")
    tables = F.array(*[
        F.struct(
            F.lit(t).alias("tbl"),
            hyperplane_bucket(vec_col, dim, bucket_bits, seed + t).alias("bucket"),
        )
        for t in range(n_tables)
    ])
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(_hof_norm_sql(vec_col)).alias("nrm"),
        tables.alias("buckets"),
    )


def _embedding_buckets(index: DataFrame) -> DataFrame:
    """(id, vec, nrm, tbl, bucket) — one row per hyperplane table of
    each :func:`embedding_index` row; the key table of both embedding
    pair ops."""
    return index.select(
        "id", "vec", "nrm", F.explode("buckets").alias("tb")
    ).select("id", "vec", "nrm", "tb.tbl", "tb.bucket")


def embedding_dup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_bits: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 42,
    anchor_degree: int | None = None,
    auto_bound: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental embedding near-dup, the third leg of the
    ``*_against_index`` family (exact: dedup_against_index, MinHash:
    minhash_against_index, SimHash: simhash_against_index): sign ONLY
    the new batch and bucket-join it against the persisted
    :func:`embedding_index` — never re-hash or re-normalize the
    historical corpus.

    Returns ``(pairs, new_index)``:

    - ``pairs`` — every (id_a < id_b, cosine ≥ threshold) pair that
      TOUCHES the new batch (new×new and new×old), with the exact
      cosine. Union with the previously-known old×old pairs to get
      exactly the full-corpus :func:`embedding_dup_pairs` recompute's
      set: bucket assignment is per-vector deterministic and collision
      is symmetric, so no candidate is gained or lost (pytest pins set
      equality including cosines).
    - ``new_index`` — the new batch's index rows; append to the stored
      index for the next ingest.

    Pairs come from the probe mode of :func:`_bucket_pairs`, scored
    like embedding_dup_pairs; anchors and the fan-out guard: see
    :func:`_anchored`."""
    from .simsearch import _score_exprs

    new_index = embedding_index(
        new_df, id_col, vec_col, bucket_bits, n_tables, dim, seed
    ).localCheckpoint(eager=True)
    all_index = index.select("id", "vec", "nrm", "buckets").unionByName(
        new_index.select("id", "vec", "nrm", "buckets")
    )
    cos = _score_exprs(dim)[1]("a.vec", "b.vec", "a.nrm", "b.nrm")
    pairs = _bucket_pairs(
        _embedding_buckets(new_index), _embedding_buckets(all_index),
        ["tbl", "bucket"], "id", "embedding_dup_against_index",
        cos.alias("cosine"), F.col("cosine") >= threshold, self_join=False,
        anchor_degree=anchor_degree, auto_bound=auto_bound,
        weight=max(1.0, dim / 8),
    ).localCheckpoint(eager=True)
    return pairs, new_index


# ---------------------------------------------------------------------
# pair graph → duplicate clusters (connected components)
# ---------------------------------------------------------------------

def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    node gets ``cluster_id`` = the MINIMUM id reachable from it, so
    each duplicate cluster is named by its canonical (smallest-id)
    member. This is the missing last step between pairwise candidates
    (minhash/simhash/jaccard/embedding *_pairs) and an actual dedup
    decision — transitively linked docs A~B~C land in ONE cluster even
    though (A, C) was never emitted as a pair.

    Algorithm: alternating LARGE-STAR / SMALL-STAR rounds (the
    published MapReduce connected-components scheme — Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Each
    round hangs every node's larger neighbours off its neighbourhood
    minimum (large-star) then contracts the smaller neighbours onto it
    (small-star); components collapse into stars centred on their
    minimum id in **O(log n) rounds regardless of diameter** — the
    pathological near-dup CHAIN (templated web text A~B~C~...~Z) that
    costs min-label propagation O(diameter) shuffles converges
    logarithmically here (tests assert the round count). Every round
    is a groupBy-min plus an equi-join on the node id — no broadcast
    of anything corpus-sized — and each intermediate edge set is
    localCheckpoint'ed so lineage stays flat. The DuckDB mirror is a
    recursive CTE computing the same min-reachable label
    (tests/test_pipeline.py). The rounds used are noted in the trace
    record (``dup_clusters``, ``rounds``).
    """
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    )
    # all ids ever mentioned (self-pair-only nodes stay singletons)
    nodes = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical directed form: (big, small), self-loops dropped
    d = (
        e.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("big"), F.least("a", "b").alias("small")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iter):
        # ---- large-star: for every node u, attach each LARGER
        # neighbour v to m = min(N(u) ∪ {u}). Output edges (v, m) are
        # already canonical (v > u >= m).
        sym = d.select(F.col("big").alias("u"), F.col("small").alias("v")).union(
            d.select(F.col("small").alias("u"), F.col("big").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("nb"))
        mins = mins.select("u", F.least("nb", F.col("u")).alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # ---- small-star: on the canonical set, contract every node's
        # SMALLER neighbours (and itself) onto their minimum.
        mins2 = ls.groupBy("big").agg(F.min("small").alias("m"))
        ss = (
            ls.join(mins2, "big")
            .select(F.col("small").alias("big"), F.col("m").alias("small"))
            .filter(F.col("big") != F.col("small"))
            .union(mins2.select(F.col("big"), F.col("m").alias("small")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        rounds += 1
        # converged when the round was a no-op on the edge set
        if ss.count() == d.count() and ss.exceptAll(d).limit(1).count() == 0:
            d = ss
            break
        d = ss
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds")
    note("dup_clusters", rounds=rounds)
    # stars: every non-centre node carries exactly one edge to its
    # component minimum; centres (and singleton nodes) label themselves
    members = d.select(F.col("big").alias("id"), F.col("small").alias("lbl"))
    selves = nodes.join(
        members.select(F.col("id")), "id", "left_anti"
    ).withColumn("lbl", F.col("id"))
    return members.union(selves).select(
        F.col("id"), F.col("lbl").alias("cluster_id"))


def keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str,
    id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Dedup decision: keep each cluster's canonical (minimum-id)
    member plus every doc that appears in no pair. The losers set
    scales with the number of DUPLICATES (30% of a 1B-doc corpus is
    300M ids) — far too big to broadcast, so the antijoin strategy is
    left to the optimizer (AQE broadcasts it only when it measures
    small). ``max_iter`` bounds the propagation rounds; raise it for
    pathological chain-shaped duplicate components."""
    clusters = dup_clusters(pairs, id_a, id_b, max_iter=max_iter)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")) \
        .select(F.col("id").alias(id_col))
    return docs.join(losers, id_col, "left_anti")


def dup_clusters_sql(pairs_sql: str) -> str:
    """DuckDB mirror of dup_clusters: min reachable id per node over
    the undirected closure of ``pairs_sql`` (columns id_a, id_b)."""
    return f"""
WITH RECURSIVE und AS (
  SELECT id_a AS a, id_b AS b FROM ({pairs_sql})
  UNION
  SELECT id_b, id_a FROM ({pairs_sql})
), reach(n, m) AS (
  SELECT a, a FROM und
  UNION
  SELECT und.a, reach.m FROM und JOIN reach ON und.b = reach.n
)
SELECT n AS id, MIN(m) AS cluster_id FROM reach GROUP BY n
"""


# ---------------------------------------------------------------------
# exact repeated-span (substring) dedup — Lee et al. 2022
# ---------------------------------------------------------------------

def dedup_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    hash_fn: str | None = "xxhash64",
    eager: bool = True,
    slice_tokens: int | None = None,
) -> DataFrame:
    """Corpus-wide EXACT repeated-span dedup: every later occurrence of
    any ``window``-token span that appears anywhere else in the corpus
    (including elsewhere in the same document) is removed; the first
    occurrence in (doc id, position) order survives. This is the
    operator of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., 2022 — their ExactSubstr on suffix arrays),
    re-expressed for Spark with rolling token windows instead of a
    suffix array: same guarantee at span granularity ``window`` (any
    repeated substring of ≥ window tokens contains a repeated
    window-token span, so it is caught; single-pass semantics — spans
    formed by newly-adjacent tokens after removal are not re-examined,
    matching the published single-pass tools).

    Returns (id, clean_text, n_tokens, n_removed), order-preserving,
    NULL/empty text yields (id, '', 0, 0) — the row never drops and
    never contributes phantom tokens.

    Key modes: ``hash_fn='xxhash64'`` (default — 8-byte shuffle key;
    64-bit birthday collisions are negligible through ~10^9 corpus
    tokens but at ~10^13 spans would falsely delete on the order of
    thousands of unique spans), ``'xxhash128'`` (two independently
    seeded xxhash64 as a 16-byte struct key — collision-negligible at
    ANY corpus scale; the 100 TB setting), or ``None`` (the raw span
    string — bit-exact, what the DuckDB oracle mirrors; widest shuffle
    key). All three are pinned decision-identical on test corpora.

    Plan shape (all JVM expressions, no Python):
      1. tokenize once per doc (split on ' ' — the corpus' own token
         separator, mirrored exactly by the oracle);
      2. emit every window start: (id, start, key);
      3. first occurrence per key via min(struct(id, start)) — a HASH
         AGGREGATE with map-side partial combine, deliberately NOT a
         row_number window: a boilerplate span occurring in every doc
         would funnel a window partition into one task (the r5 skew
         lesson), while partial aggregation of min() is skew-immune;
         the join back on key is AQE-skew-splittable;
      4. coverage mask per doc via the diff-array trick: +1 at each
         removed span's start, −1 at start+window, one running sum per
         doc ordered by (position, deltas-before-token) — a doc-sized
         window partition (same boundedness as sessionization), never
         a corpus-sized one;
      5. reassemble surviving tokens in order.

    ``eager`` (the sibling ops' convention) persists the two
    multi-consumer intermediates — the tokenized base (three consumers)
    and the span table (aggregate + join probe) — and materializes the
    result before unpersisting; without it the corpus re-tokenizes and
    the spans regenerate per consumer. Pass ``eager=False`` at true
    corpus scale and let the sink's single consumption drive it.

    ``slice_tokens=T`` (r8) bounds the MONSTER-document case: the
    coverage mask (step 4) is a per-doc window, i.e. one task per doc,
    so a single 100M-token document would serialize its scan; docs
    longer than T route through the runfold range-slice two-pass
    combine instead (see _span_rebuild) — value-identical, pinned in
    tests. None (default) keeps the plain plan; at corpus scale a few
    million is a good T (a slice ≈ one task's comfortable row count)."""
    base = _span_base(docs, id_col, text_col)
    if eager:
        base = base.persist()
    spans = _span_table(base, window, hash_fn)
    if eager:
        spans = spans.persist()
    # Only keys occurring >= 2 times can mark anything (a unique span
    # equals its own min and survived the filter anyway), so the first
    # table is trimmed to dup keys before the join — on mostly-unique
    # corpora the join leg shrinks from |distinct keys| to |dup keys|,
    # and AQE can broadcast it when the dup set is small (r11,
    # guide §3.2). Result-identical by the argument above. The
    # aggregate is the struct-min SortAggregate — measured faster than
    # a hash-aggregable encoding at every tested scale (_span_first).
    spans_j, first_all, notfirst, _ = _span_first(spans)
    first_dup = first_all.filter(F.col("__kn") >= 2).drop("__kn")
    marked = (
        spans_j.join(first_dup, "key")
        .filter(notfirst)
        .select("id", "start")
    )
    out = _span_rebuild(base, marked, window, slice_tokens)
    if eager:
        out = out.localCheckpoint(eager=True)
        spans.unpersist()
        base.unpersist()
    return out


def _span_base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, arr, n) tokenized base for the span ops — split on ' ',
    the corpus' own token separator, mirrored exactly by the oracle.

    ensure_parallelism (r11): the tokenize + window-explode above this
    base is the CPU-heavy part of dedup_spans, and a single sub-128 MB
    corpus file arrives as ONE scan task (the bench's sf dirs are one
    file per table), serializing the whole explode on one core — the
    other shingling ops already spread the same way; a no-op at
    production scale where the scan has many splits. Measured at
    sf0.1: 2.42→1.83 s at 32 cores, 2.83→2.22 s at 4 cores."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    # empty text → EMPTY array (split('', ' ') would yield [''] — one
    # phantom token per empty doc, and a negative n_removed once the
    # kept '' token outnumbered n_tokens=0; review r6)
    arr = F.when(txt == "", F.array().cast("array<string>")).otherwise(
        F.split(txt, " "))
    src = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    return src.select(F.col(id_col).alias("id"), arr.alias("arr")).withColumn(
        "n", F.size("arr")
    )


def _span_table(base: DataFrame, window: int, hash_fn: str | None) -> DataFrame:
    """(id, start, key) — every window start, keyed per hash_fn (see
    dedup_spans' key-mode docs)."""
    span_txt = lambda i: F.concat_ws(" ", F.slice(F.col("arr"), i, window))  # noqa: E731
    if hash_fn == "xxhash64":
        key_of = lambda i: F.xxhash64(span_txt(i))  # noqa: E731
    elif hash_fn == "xxhash128":
        key_of = lambda i: F.struct(  # noqa: E731
            F.xxhash64(span_txt(i)).alias("h1"),
            F.xxhash64(F.lit(1), span_txt(i)).alias("h2"),
        )
    elif hash_fn is None:
        key_of = span_txt
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} "
                         "(xxhash64 | xxhash128 | None)")
    return (
        base.filter(F.col("n") >= window)
        .select(
            "id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - window + 1),
                    lambda i: F.struct((i - 1).alias("start"), key_of(i).alias("key")),
                )
            ).alias("s"),
        )
        .select("id", "s.start", "s.key")
    )


def _span_first(spans: DataFrame):
    """First-occurrence machinery shared by :func:`dedup_spans` and
    :func:`dedup_spans_against_index`: returns ``(spans_j, first_all,
    notfirst, first_cols)`` where ``first_all`` is the per-key
    aggregate carrying the lexicographic (id, start) minimum plus a
    ``__kn`` occurrence count, ``notfirst`` is the Column (over
    ``spans_j`` joined to the aggregate on key) deciding "this span is
    NOT its key's first occurrence" (NULL when the first-leg is absent
    in a left join — callers rely on SQL three-valued filtering), and
    ``first_cols`` projects ``(key, id, start)`` back out of the
    aggregate for index appends.

    min(struct(id, start)) is NOT hash-aggregable (struct buffers are
    immutable in UnsafeRow), so Spark plans a SortAggregate. A
    hash-aggregable alternative — the lexicographic order encoded
    losslessly into one decimal(33,0) min — was built and iso-measured
    this round (r11) and was consistently SLOWER: at 18M spans,
    struct-min 1.65 s vs encoded-min 2.87 s on dup-heavy geometry and
    1.83 s vs 2.09 s on mostly-unique geometry (noop-sink isolation,
    both aggregates carrying the same __kn count; 1.8M-span runs
    agree). Spark's sort of a long-keyed span table is radix-fast,
    while 128-bit decimal min costs more per row than the sorts save —
    so the struct path is the measured keeper (guide §1.1: the "ideal
    plan" lost the empirical loop). Details in OPTIMIZATION_r11.md."""
    first_all = spans.groupBy("key").agg(
        F.min(F.struct("id", "start")).alias("f"),
        F.count(F.lit(1)).alias("__kn"),
    )
    notfirst = (F.col("id") != F.col("f.id")) \
        | (F.col("start") != F.col("f.start"))
    first_cols = [F.col("key"), F.col("f.id").alias("id"),
                  F.col("f.start").alias("start")]
    return spans, first_all, notfirst, first_cols


def _span_rebuild(base: DataFrame, marked: DataFrame, window: int,
                  slice_tokens: int | None = None) -> DataFrame:
    """Coverage mask + token reassembly (steps 4–5 of dedup_spans'
    plan): ±1 deltas at each removed span's ends, one running sum per
    doc — a DOC-sized window partition, never a corpus-sized one.

    ``slice_tokens`` (r8; VERDICT r7 item 5) bounds the MONSTER-doc
    case: a window partition is one task, so a single 100M-token
    document would funnel its whole coverage scan through one core.
    With ``slice_tokens=T`` set, docs longer than T tokens route
    through the runfold range-slice two-pass scheme
    (operators/runfold.grouped_running — the same escape hatch grouped
    running folds use for zipf-hot groups): the doc's event stream is
    range-cut into ≈shuffle-partition-count contiguous slices, summed
    locally, and offset-combined, so the hot doc spreads across as
    many tasks as its row share demands. Docs at or under T keep the
    plain single-window plan (no extra exchanges). Value-identical by
    the runfold combine contract (pinned in tests). The final
    reassembly row (one string per doc) is inherently doc-sized either
    way — the bound is on the SCAN, which is where the work is."""
    from pyspark.sql import Window

    toks = base.select("id", "n", F.posexplode("arr").alias("p", "tok")).select(
        "id", "n", "p", "tok", F.lit(0).alias("d"), F.lit(1).alias("t")
    )
    deltas = marked.select(
        "id", F.col("start").alias("p"), F.lit(1).alias("d"), F.lit(0).alias("t"),
        F.lit(None).cast("string").alias("tok"),
    ).unionByName(
        marked.select(
            "id", (F.col("start") + window).alias("p"), F.lit(-1).alias("d"),
            F.lit(0).alias("t"), F.lit(None).cast("string").alias("tok"),
        )
    ).select("id", "p", "tok", "d", "t")

    # deltas (t=0) sort before the token (t=1) at the same position, so
    # a span's start covers its own token and its end (exclusive) frees
    # the token AT start+window
    def _cov_window(ev):
        wcov = (
            Window.partitionBy("id")
            .orderBy("p", "t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return ev.withColumn("cov", F.sum("d").over(wcov))

    if slice_tokens is None:
        kept = (
            _cov_window(toks.select("id", "p", "tok", "d", "t")
                        .unionByName(deltas))
            .filter((F.col("t") == 1) & (F.col("cov") <= 0))
            .select("id", "p", "tok")
        )
    else:
        from ..operators.runfold import grouped_running

        # monster docs are FEW by construction — their id set broadcasts
        # to tag the (id-only) delta rows; token rows carry n already
        big_ids = base.filter(F.col("n") > slice_tokens).select("id")
        ev_small = (
            toks.filter(F.col("n") <= slice_tokens)
            .select("id", "p", "tok", "d", "t")
            .unionByName(deltas.join(F.broadcast(big_ids), "id", "left_anti"))
        )
        ev_big = (
            toks.filter(F.col("n") > slice_tokens)
            .select("id", "p", "tok", "d", "t")
            .unionByName(deltas.join(F.broadcast(big_ids), "id", "left_semi"))
        )
        kept = (
            _cov_window(ev_small)
            .filter((F.col("t") == 1) & (F.col("cov") <= 0))
            .select("id", "p", "tok")
        ).unionByName(
            grouped_running(ev_big, ["id"], ["p", "t"],
                            {"cov": ("sum", "d")})
            .filter((F.col("t") == 1) & (F.col("cov") <= 0))
            .select("id", "p", "tok")
        )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("id", F.col("n").alias("n_tokens"))
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def empty_span_index(spark, hash_fn: str | None = "xxhash64") -> DataFrame:
    """Cold-start index for :func:`dedup_spans_against_index` /
    ``neardup_ingest_stream(kind="spans")`` — empty (key, id, start)
    with the key type matching ``hash_fn`` (the key type is part of
    the index identity, like embedding_index's hyperplane seeds)."""
    key_type = {"xxhash64": "key long",
                "xxhash128": "key struct<h1:bigint,h2:bigint>",
                None: "key string"}[hash_fn]
    return local_frame(spark, [], f"{key_type}, id long, start int")


def empty_fp_index(spark) -> DataFrame:
    """Cold-start index for :func:`exact_dedup_against_index` /
    ``neardup_ingest_stream(kind="exact")`` — empty (fp, id)."""
    return local_frame(spark, [], "fp string, id long")


def dedup_spans_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    hash_fn: str | None = "xxhash64",
    eager: bool = True,
    slice_tokens: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental repeated-span dedup — the fourth leg of the
    ``*_against_index`` family (exact: dedup_against_index, MinHash /
    SimHash / embedding: their ``*_against_index`` twins): span ONLY
    the new batch, remove every occurrence of a span key already
    CLAIMED by an earlier arrival (the persisted first-occurrence
    index) or by an earlier (id, start) within the batch, and append
    the batch's own new first occurrences to the index. The historical
    corpus text never moves — only its span keys (8 bytes each at
    xxhash64) live in the index, the 100 TB re-crawl contract shared
    by the whole family (cf. minhash_against_index).

    ``index`` is a (key, id, start) table — this function's second
    return value from prior batches, unioned (persist with Catalog.put;
    versioning keeps every pre-ingest state time-travelable). The key
    type must match ``hash_fn`` across batches (long / struct(h1,h2) /
    raw string — parameters are part of the index identity, exactly as
    embedding_index's hyperplane seeds are).

    Returns ``(clean, new_index_rows)``:

    - ``clean`` — (id, clean_text, n_tokens, n_removed) for the NEW
      batch only, same schema/guarantees as :func:`dedup_spans`.
    - ``new_index_rows`` — the batch's first occurrences for keys not
      already in the index; append to the stored index for the next
      ingest (key-unique by construction).

    Semantics: first-ARRIVAL occurrence survives. When batches arrive
    in ascending id order (the crawl setting), the drained result
    equals the one-shot :func:`dedup_spans` over the concatenated
    corpus row-for-row (pytest pins this, plus replay idempotence);
    out-of-order ids keep the arrival-order contract instead — a span
    key once claimed is never re-awarded.

    Join shape: every join is on ``key`` — the batch-side aggregate
    and both probes reuse one exchange; the corpus-sized index side
    carries a shuffle_hash hint (AQE must not broadcast a corpus). The
    per-doc coverage/reassembly stages are identical to dedup_spans
    (doc-sized window partitions, the shared first-occurrence
    aggregate of _span_first), including the ``slice_tokens``
    monster-doc escape hatch (r8)."""
    base = _span_base(new_docs, id_col, text_col)
    if eager:
        base = base.persist()
    spans = _span_table(base, window, hash_fn)
    if eager:
        spans = spans.persist()
    # Same first-occurrence machinery as dedup_spans (_span_first),
    # with the dup-key-trimmed marked-join leg. A unique-key span can
    # only be marked via __known, and with a LEFT join the absent
    # first-leg makes `notfirst` NULL — filter semantics keep the row
    # exactly when __known fires, as before. new_index below still
    # reads the UNFILTERED firsts (projected by first_cols).
    spans_j, first_all, notfirst, first_cols = _span_first(spans)
    first_dup = first_all.filter(F.col("__kn") >= 2).drop("__kn")
    known = index.select("key").withColumn("__known", F.lit(1))
    marked = (
        spans_j.join(first_dup, "key", "left")
        .join(known.hint("shuffle_hash"), "key", "left")
        .filter(F.col("__known").isNotNull() | notfirst)
        .select("id", "start")
    )
    out = _span_rebuild(base, marked, window, slice_tokens)
    new_index = (
        first_all.select(*first_cols)
        .join(index.select("key").hint("shuffle_hash"), "key", "leftanti")
    )
    if eager:
        out = out.localCheckpoint(eager=True)
        new_index = new_index.localCheckpoint(eager=True)
        spans.unpersist()
        base.unpersist()
    return out, new_index


def dedup_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> str:
    """DuckDB mirror of dedup_spans (hash_fn=None raw-string keys —
    exact same winners, coverage and reassembly)."""
    w = window
    return f"""
WITH base AS (
  SELECT {id_col} AS id,
         CASE WHEN COALESCE({text_col}, '') = ''
              THEN CAST([] AS VARCHAR[])
              ELSE string_split({text_col}, ' ') END AS arr
  FROM {table}
), sized AS (
  SELECT id, arr, len(arr) AS n FROM base
), spans AS (
  SELECT id, i - 1 AS start, array_to_string(arr[i : i + {w} - 1], ' ') AS key
  FROM sized, UNNEST(generate_series(1, n - {w} + 1)) AS g(i)
  WHERE n >= {w}
), firsts AS (
  SELECT key, MIN(ROW(id, start)) AS f FROM spans GROUP BY key
), marked AS (
  SELECT s.id, s.start
  FROM spans s JOIN firsts USING (key)
  WHERE ROW(s.id, s.start) <> f
), toks AS (
  SELECT id, generate_subscripts(arr, 1) - 1 AS p, UNNEST(arr) AS tok,
         0 AS d, 1 AS t
  FROM sized
), ev AS (
  SELECT id, p, tok, d, t FROM toks
  UNION ALL
  SELECT id, start AS p, NULL AS tok, 1 AS d, 0 AS t FROM marked
  UNION ALL
  SELECT id, start + {w} AS p, NULL AS tok, -1 AS d, 0 AS t FROM marked
), cov AS (
  SELECT *, SUM(d) OVER (PARTITION BY id ORDER BY p, t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM ev
), kept AS (
  SELECT id, p, tok FROM cov WHERE t = 1 AND c <= 0
), rebuilt AS (
  SELECT id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY id
)
SELECT s.id, COALESCE(r.clean_text, '') AS clean_text,
       s.n AS n_tokens, s.n - COALESCE(r.n_kept, 0) AS n_removed
FROM sized s LEFT JOIN rebuilt r USING (id)
"""

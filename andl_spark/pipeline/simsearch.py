"""Similarity search over embedding columns (array<float>).

Live paths (every one returns (query_id, cand_id, cosine, rank), rank
1..k per query under cosine desc, cand_id asc — see _rank_topk):
  * topk_bruteforce — exact cosine top-k. Query set broadcast against
    the corpus; the dot product is a JVM higher-order expression
    (zip_with + aggregate), so the scan stays in whole-stage codegen.
    Correctness baseline; O(|queries| × |corpus|).
  * topk_lsh — random-hyperplane LSH: corpus bucketed by sign bits,
    queries probe their own bucket (+ optional multi-probe neighbors);
    the join is bucket-equi, shuffle-partitionable.
  * topk_ivf_det — IVF over a CoarseQuantizer: flat (nlist cells) or
    two-level (n1·n2 cells, n1 + n2 dots per row — explicit n1/n2, or
    the √N auto-scale above the flat clamp), each trained by the seed
    (smallest-id, oracle-mirrored) or trained (spherical k-means) rule.
  * annindex.topk_ivf_index / knn_join — the same probe over a
    persisted, cell-partitioned index.

Every approximate operator is the same probe (_probe_topk): the
operator builds its candidate side (_cand_side: cand_id, cvec, cn and
a cell/bucket key) and its query side (_query_side plus the probed
keys); the broadcast, key equi-join, self-pair filter, scoring and
top-k window are shared. The IVF operators, calibrate_probe and the
persisted index differ from each other only in where their
CoarseQuantizer comes from; everything that differs between flat and
two-level lives in that one type.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace
from functools import cached_property

import numpy as np
import pandas as pd  # module-level: pandas_udf resolves string
                     # annotations through fn.__globals__ (this file
                     # uses `from __future__ import annotations`)
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import Memo


# ---------------------------------------------------------------------
# DuckDB mirror SQL
#
# Every approximate operator here has a *_sql twin that emits the SAME
# computation as ANSI-ish DuckDB SQL, with the hyperplane / permutation
# constants baked in as literals from the same seeded RNG. The driver's
# oracle therefore reproduces the approximate result EXACTLY — the
# correctness check is "Spark computes the declared algorithm
# bit-for-bit", not "the approximation happens to equal the exact
# answer". (Reference test style: Test/SuiteRelWhile.andl test_true
# assertions — deterministic expected values, not tolerances.)
# ---------------------------------------------------------------------


def _flit(x: float) -> str:
    """Shortest round-trip decimal — both engines parse back to the
    identical double."""
    return repr(float(x))


def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] expressions (mirror of
    cosine_expr; summation order may differ by ~1 ulp — every consumer
    rounds before comparing or has margin >> 1e-12)."""
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision, sequential fold (JVM, no UDF)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    ))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_n_expr(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed norms. Norms are O(dim) per ROW while
    pair dots are O(dim) per PAIR — inlining norm_expr into an n² join
    triples the flops and recomputes each norm n times. Identical
    floating-point operations to cosine_expr (dot / (sqrt·sqrt)), so
    results are bitwise equal."""
    return dot_expr(a, b) / (na * nb)


#: dims up to which the fixed-dim unrolled dot/norm is used. MEASURED
#: cliff (2M-row sum-of-dots probe, r9): the unrolled form beats the
#: HOF by 2-3.7x at dims 8/16/32 (dim 32: 0.56s vs 2.09s) and then
#: falls off a JIT method-size limit — the generated code for a
#: dim-48 term chain exceeds the huge-method threshold, the JVM runs
#: it interpreted, and the same probe measures 16-18s vs the HOF's
#: 5s. 32 is the measured safe bound, not a guess; above it the HOF
#: forms (tight specialized loop, small method) win.
UNROLL_MAX_DIM = 32


def _sql_name(ref: str) -> str:
    """A column reference for an F.expr fragment: plain names get
    backticks; alias-qualified references (``a.vec``) pass through."""
    if not isinstance(ref, str):
        raise TypeError(
            f"fixed-dim scorers take column NAMES, got {type(ref).__name__} "
            "(the expression builds as one parsed SQL string — a Column "
            "has no reliable SQL rendering)")
    return ref if "." in ref or "`" in ref else f"`{ref}`"


def _dot_sql(a: str, b: str, dim: int) -> str:
    """The unrolled dot as ONE SQL string. Building the same tree via
    Column operators costs ~4 py4j round-trips per term (measured
    2.1 s for dim 64 — more than the sf0.1 queries it was meant to
    speed up); parsing one string is milliseconds and yields the
    identical expression tree. 0-based ``a[i]`` ≡ element_at(a, i+1);
    ``+`` parses left-associative, the HOF fold's order."""
    qa, qb = _sql_name(a), _sql_name(b)
    return " + ".join(
        f"(CAST({qa}[{i}] AS DOUBLE) * CAST({qb}[{i}] AS DOUBLE))"
        for i in range(dim))


def _hof_dot_sql(a: str, b: str) -> str:
    """dot_expr (generic zip_with+aggregate HOF) as ONE parsed SQL
    string — same Catalyst tree, ~2 py4j round-trips instead of ~80
    (each F.zip_with/F.aggregate lambda costs ~16 ms of py4j chatter;
    measured r11: plan CONSTRUCTION was over half of q_ann_lsh's wall
    time). Lambda variables carry a ``__h`` prefix so no realistic
    column name is shadowed inside the lambda bodies; evaluation is
    identical regardless of the variable names."""
    qa, qb = _sql_name(a), _sql_name(b)
    return (f"aggregate(zip_with({qa}, {qb}, (__hx, __hy) -> "
            "CAST(__hx AS DOUBLE) * CAST(__hy AS DOUBLE)), 0.0D, "
            "(__hacc, __hv) -> __hacc + __hv)")


def _hof_norm_sql(a: str) -> str:
    """norm_expr (generic HOF) as ONE parsed SQL string — see
    _hof_dot_sql (same tree: sqrt of the left fold of squares)."""
    qa = _sql_name(a)
    return ("sqrt(aggregate(transform(" + qa + ", __hx -> "
            "CAST(__hx AS DOUBLE) * CAST(__hx AS DOUBLE)), 0.0D, "
            "(__hacc, __hv) -> __hacc + __hv))")


def dot_expr_fixed(a: str, b: str, dim: int) -> Column:
    """Dot product UNROLLED for a known dimension (r9): the HOF path
    (zip_with + aggregate) is interpreted per element and allocates an
    intermediate array per PAIR — measured as the dominant serve cost
    on the 20M index (SCALE_r09 §2: 20.2 s → 13.9 s with this form).
    Takes column NAMES (the expression builds as one parsed SQL
    string — see _dot_sql). The sum is left-associated in element
    order, exactly the HOF fold's order (whose leading 0.0 + v1 ≡ v1
    in IEEE), so results are BITWISE IDENTICAL to dot_expr — pinned on
    the 20M fixture and by the index-vs-per-call row-identity tests."""
    return F.expr(_dot_sql(a, b, dim))


def norm_expr_fixed(a: str, dim: int) -> Column:
    """norm_expr unrolled for a known dimension — see dot_expr_fixed
    (same bitwise-identity argument, squares instead of products)."""
    return F.expr(f"sqrt({_dot_sql(a, a, dim)})")


def _score_exprs(dim: int | None):
    """(norm_fn, cosine_fn) for the pair-scoring hot path, taking
    column NAME strings: the fixed-dim unrolled forms when the
    dimension is known and within UNROLL_MAX_DIM, else the generic
    HOF forms. Results are bitwise identical either way
    (dot_expr_fixed), so oracle hashes and rank tie-breaks cannot
    move. Assignment expressions (nearest_lists_cosine) stay
    HOF-based deliberately: unrolling a per-centroid dot would
    multiply the plan by nlist×dim nodes."""
    if dim and 0 < dim <= UNROLL_MAX_DIM:
        return (lambda name: norm_expr_fixed(name, dim),
                lambda a, b, na, nb: dot_expr_fixed(a, b, dim)
                / (F.col(na) * F.col(nb)))
    # generic HOF forms as parsed SQL (r11): the Column-op spelling
    # (cosine_n_expr / norm_expr) costs ~80 py4j round-trips per call
    # in lambda conversion alone; one parse yields the same tree
    # bitwise (pinned in test_pipeline).
    return (lambda name: F.expr(_hof_norm_sql(name)),
            lambda a, b, na, nb: F.expr(_hof_dot_sql(a, b))
            / (F.col(na) * F.col(nb)))


def _rank_topk(scored: DataFrame, k: int, by: str = "cosine") -> DataFrame:
    """THE ranking of every ANN operator: per query, ``by`` descending
    then ``cand_id`` ascending (the deterministic tie-break the DuckDB
    mirrors share), rank 1..k as a long column ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.col(by).desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _query_side(queries: DataFrame, id_col: str, vec_col: str,
                dim: int | None) -> DataFrame:
    """(query_id, qvec, qn) — the query side of every probe before the
    operator adds its probed keys."""
    _norm, _ = _score_exprs(dim)
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        _norm(vec_col).alias("qn"),
    )


def _cand_side(corpus: DataFrame, id_col: str, vec_col: str,
               dim: int | None, key: str, assign,
               quantize: bool = False) -> DataFrame:
    """(cand_id, cvec, cn, ``key``) — the candidate side of every probe.
    ``assign(vec, norm)`` builds the cell/bucket key from the RAW vector
    column's name and, when one exists, its norm column's name.

    ``quantize=True`` carries the payload as int8 codes
    (quantize_embeddings): 8× less shuffle/broadcast, while the key
    still reads the raw vector (bucketing is an index-build step; codes
    are the stored payload). Cosine's per-vector scale invariance means
    cos(q, codes) == cos(q, codes·s), so nothing is dequantized.
    The raw payload computes its norm ONCE and hands it to ``assign`` —
    inlining it in a per-centroid assignment would re-aggregate it
    nlist times per row (SCALE_r05.md)."""
    _norm, _ = _score_exprs(dim)
    if quantize:
        qz = quantize_embeddings(
            corpus.select(F.col(id_col).alias("cand_id"),
                          F.col(vec_col).alias("__raw")), "__raw")
        return qz.select(
            "cand_id", F.col("q_vec").alias("cvec"),
            _norm("q_vec").alias("cn"), assign("__raw", None).alias(key))
    return corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"),
        _norm(vec_col).alias("cn"),
    ).withColumn(key, assign("cvec", "cn"))


def _probe_topk(q: DataFrame, c: DataFrame, key: str, k: int,
                dim: int | None, distinct: bool = False) -> DataFrame:
    """The probe every approximate operator shares: broadcast the query
    side ``q`` (query_id, qvec, qn, key), equi-join the candidate side
    ``c`` (cand_id, cvec, cn, key) on the cell/bucket ``key``, drop
    self-pairs, score cosines (_score_exprs) and rank (_rank_topk).
    ``distinct`` collapses a candidate reached through several probed
    keys (LSH multi-probe) before ranking."""
    _, _cos = _score_exprs(dim)
    scored = (
        F.broadcast(q).join(c, key)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id",
                _cos("qvec", "cvec", "qn", "cn").alias("cosine"))
    )
    if distinct:
        scored = scored.dropDuplicates(["query_id", "cand_id"])
    return _rank_topk(scored, k)


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = 10_000,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, cand_id, cosine, rank), rank 1..k, ties broken
    by cand_id for determinism. Queries are broadcast — the corpus scan
    is a single pass, no shuffle until the per-query top-k window on
    the (tiny) scored candidate set.

    This is the EXACT correctness baseline: its cost is
    |queries| x |corpus| dots. The broadcast side must stay small —
    a corpus-sized query set would OOM the executors long before the
    cross-product finished, so query sets above ``max_queries`` raise
    instead (use ``topk_lsh`` / ``topk_ivf_det`` for bulk k-NN; raise
    the cap explicitly if you truly want a bigger exact run). It
    shares only the ranking with the approximate operators, so it
    stays an independent check of their probe."""
    n_q = queries.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"topk_bruteforce: query set exceeds max_queries={max_queries} "
            "(exact brute force broadcasts the queries and scores "
            "|queries| x |corpus| pairs). Use topk_lsh/topk_ivf_det for "
            "bulk k-NN, or pass a larger max_queries deliberately."
        )
    _norm, _cos = _score_exprs(dim)  # pass dim= to unroll the scorer
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
            _norm(vec_col).alias("qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cvec"),
        _norm(vec_col).alias("cn"),
    )
    scored = q.crossJoin(c).filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id", "cand_id",
        _cos("qvec", "cvec", "qn", "cn").alias("cosine"),
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim))


def _lit_vec_sql(values) -> str:
    """A double array literal as ONE parsed SQL expression. Building
    wide literal arrays via F.lit costs a py4j round-trip per element
    (a 16x64 centroid table = 1000+ calls ≈ 2s of driver time per plan,
    measured); parsing a string is ~free, and cast('repr' as double)
    yields the bit-identical double F.lit would embed."""
    return "array(" + ", ".join(f"cast('{_flit(x)}' as double)" for x in values) + ")"


def hyperplane_bucket(vec_col: str, dim: int, bits: int = 8, seed: int = 42) -> Column:
    """Takes a column NAME (r11 contract; Columns raise TypeError).
    Sign-bit bucket id from ``bits`` fixed random hyperplanes,
    computed as a JVM expression (the hyperplane matrix is baked into
    the plan as literals — no UDF, no broadcast needed). Built as ONE
    parsed SQL string (r11): the per-bit Column-op spelling cost
    ~0.35 s of py4j lambda chatter per call (two calls per topk_lsh
    plan); the parse yields the value-identical tree — integer sum of
    sign CASEs over the same double folds."""
    if not isinstance(vec_col, str):
        raise TypeError(
            "hyperplane_bucket takes a column NAME (the expression "
            "builds as one parsed SQL string — see _sql_name)")
    qv = _sql_name(vec_col)
    planes = _hyperplanes(dim, bits, seed)
    terms = ["0"]
    for i in range(bits):
        dot = (f"aggregate(zip_with({qv}, {_lit_vec_sql(planes[i])}, "
               "(__hx, __hp) -> CAST(__hx AS DOUBLE) * __hp), 0.0D, "
               "(__hacc, __hv) -> __hacc + __hv)")
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << i} ELSE 0 END)")
    return F.expr(" + ".join(terms))


def hyperplane_bucket_sql(vec: str, dim: int, bits: int = 8, seed: int = 42) -> str:
    """DuckDB mirror of hyperplane_bucket: same seeded hyperplanes as
    literals, same sign test. ``vec`` must be a DOUBLE[] expression."""
    planes = _hyperplanes(dim, bits, seed)
    terms = []
    for i in range(bits):
        lits = "[" + ", ".join(_flit(x) for x in planes[i]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, {lits}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int = 8,
    multiprobe: int | None = None,
    dim: int | None = None,
    quantize: bool = False,
    calibrate: float | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket plus every bucket at
    Hamming distance ≤ multiprobe (flip i bits; default radius 1).
    Recall grows with probes; the candidate join stays bucket-equi
    either way.

    Pass ``dim`` explicitly in production — inferring it costs a
    driver-side first() action per call. ``quantize=True`` carries the
    corpus payload as int8 codes through the bucket join (8× less
    shuffle; buckets still from the raw vector, cosine scale-invariance
    keeps ranking within quantization noise — recall pinned in tests).

    ``calibrate=<target recall>`` (r8) resolves multiprobe by
    calibrate_probe_lsh — the smallest Hamming radius whose measured
    holdout recall@k reaches the target (requires ``multiprobe=None``);
    the calibration record also reports the probed-bucket fraction the
    radius costs, making "LSH needs ~2/3 of the buckets for ≥0.9 on
    smooth corpora — use IVF there" (SCALE_r08.md §1) a measurable
    per-corpus fact."""
    if calibrate is not None and multiprobe is not None:
        raise ValueError(
            "topk_lsh: pass multiprobe=None with calibrate=<target> — "
            "an explicit multiprobe and a calibration target are two "
            "dials for the same knob")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    if calibrate is not None:
        multiprobe = calibrate_probe_lsh(
            corpus, id_col, vec_col, k=k, target_recall=calibrate,
            bits=bits, dim=dim)["multiprobe"]
    elif multiprobe is None:
        multiprobe = 1
    c = _cand_side(corpus, id_col, vec_col, dim, "bucket",
                   lambda v, _n: hyperplane_bucket(v, dim, bits), quantize)
    qb = _query_side(queries, id_col, vec_col, dim).withColumn(
        "bucket0", hyperplane_bucket("qvec", dim, bits))
    # probe every bucket at Hamming distance ≤ multiprobe (r8: was
    # silently capped at 2 — on NON-clustered corpora the recall dial
    # is the probed-bucket fraction, so mp must actually extend;
    # Σ C(bits,d) for d ≤ mp buckets out of 2^bits are probed)
    import itertools

    probes = [F.col("bucket0")]
    for dist in range(1, min(multiprobe, bits) + 1):
        probes += [
            F.col("bucket0").bitwiseXOR(
                F.lit(sum(1 << b for b in combo)))
            for combo in itertools.combinations(range(bits), dist)
        ]
    q = qb.select(
        "query_id", "qvec", "qn", F.explode(F.array(*probes)).alias("bucket")
    )
    return _probe_topk(q, c, "bucket", k, dim, distinct=True)


# ---------------------------------------------------------------------
# deterministic IVF (oracle-mirrorable) + full-query SQL mirrors
# ---------------------------------------------------------------------

#: Quantizers per (kind, application, cols, params, semanticHash,
#: version). semanticHash is Catalyst's PLAN-shape signature, so files
#: rewritten in place under an identical plan can go stale within one
#: application — the documented assumption: pass the corpus
#: ``version`` (at scale centroids are a catalog artifact keyed by
#: corpus version) or call clear_centroid_cache() after such a rewrite.
_CENTROID_CACHE = Memo(64)


def clear_centroid_cache() -> None:
    """Drop all cached quantizers AND probe calibrations (use after
    rewriting corpus files in place within one application — see
    _CENTROID_CACHE note)."""
    _CENTROID_CACHE.clear()
    _CALIB_CACHE.clear()


def seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    version: object = None,
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``nlist`` vectors with the
    smallest ids, in id order (list_id 0..nlist-1). A random-sample
    quantizer (ScaNN-style init, no Lloyd pass) — slightly worse cell
    balance than k-means but (a) training never touches the query path,
    (b) the centroids are exact stored values an independent SQL engine
    reproduces byte-for-byte, so the IVF result is oracle-checkable.
    ``trained_centroids`` (spherical MLlib k-means,
    ``quantizer='trained'``) is the quality-tuned alternative when
    oracle parity isn't needed.

    Cached per (semantic key) — at scale this is a catalog artifact
    trained once per corpus version, not a per-query job. When the
    corpus lives in a versioned catalog, pass its version as
    ``version``: the cache then keys on data identity, not plan shape,
    and an in-place rewrite that keeps the same path/plan still evicts
    correctly (the semanticHash-only key cannot see such rewrites —
    see the _CENTROID_CACHE note)."""
    key = ("seed", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, nlist, corpus.semanticHash(), version)

    def build():
        rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(nlist).collect()
        return [[float(x) for x in r[1]] for r in rows]

    return _CENTROID_CACHE.get(key, build)


def trained_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    version: object = None,
    train_cap: int = 262_144,
    seed: int = 42,
) -> list[list[float]]:
    """TRAINED coarse quantizer with seed_centroids' caching /
    determinism contract (r8; VERDICT r7 item 3): MLlib k-means
    (distributed Lloyd, fixed seed) over the ``train_cap`` smallest-id
    vectors — a deterministic bounded sample, never a full sort or a
    partition-order-dependent ``limit``. Training rows are L2-NORMALIZED
    first (spherical k-means) because assignment ranks by COSINE —
    training the same metric the probe uses; centroids are returned in
    canonical (lexicographic) order so the cell numbering is engine-
    and run-stable.

    Why it exists: the smallest-id seed quantizer is free and
    oracle-reproducible, and on duplicate-clustered corpora its recall
    is indistinguishable from trained (1.0 pinned through sf10/20M).
    On a SMOOTH corpus (no dup clusters — the regime VERDICT r7 item 3
    asked to measure) the seed cells are unbalanced enough to cost
    recall at every probe fraction: measured at 50k mixture vectors,
    trained crosses recall@5 = 0.95 at nprobe = 40%·nlist where seed
    reaches 0.89 (SCALE_r08.md). Pass ``quantizer='trained'`` to
    topk_ivf_det to engage it; the oracle-mirrored explicit-nlist path
    keeps the seed rule."""
    key = ("trained", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, nlist, train_cap, seed,
           corpus.semanticHash(), version)

    def build():
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        v = F.col(vec_col).cast("array<double>")
        # norm as its OWN column: inlining norm_expr inside the
        # per-element transform would re-aggregate the dim-wide norm
        # once per element — O(dim²) per row (review r8)
        train = (
            corpus.select(id_col, vec_col).orderBy(id_col).limit(train_cap)
            .withColumn("__nrm", norm_expr(v))
            .where(F.col("__nrm") > 0)
            .select(array_to_vector(
                F.transform(v, lambda x: x / F.col("__nrm"))
            ).alias("features"))
        ).persist()
        # a corpus smaller than nlist clamps k to what exists (the seed
        # rule's implicit clamp; KMeans raises on k > n) — downstream
        # nprobe slicing caps at len(centroids) on both assign paths
        n_train = train.count()
        model = KMeans(k=min(nlist, max(1, n_train)), seed=seed,
                       maxIter=8).fit(train)
        train.unpersist()
        cents = [[float(x) for x in c] for c in model.clusterCenters()]
        return sorted(cents)

    return _CENTROID_CACHE.get(key, build)


def _py_norm(vec: list[float]) -> float:
    """Python twin of norm_expr: plain left-to-right double fold then a
    correctly-rounded sqrt — the SAME IEEE-754 operation sequence the
    JVM aggregate performs, so the result is bitwise equal and can be
    baked into the plan as a literal."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def nearest_lists_cosine(
    vec_col: str,
    centroids: list[list[float]],
    nprobe: int,
    vec_norm: str | None = None,
) -> Column:
    """array<int> of the ``nprobe`` centroid ids by ROUNDED cosine
    (descending, ties to the smaller list_id). Rounding to 4 decimals
    before the argmax makes the assignment boundary identical across
    engines (raw doubles differ in the last ulp by summation order).
    Pure literal JVM expression: the centroid table is baked into the
    plan, so assignment is a shuffle-free, UDF-free map — the property
    that makes IVF assignment embarrassingly parallel over a 100 TB
    corpus.

    Centroid norms are constants, so they are folded in Python
    (_py_norm — bitwise equal to norm_expr) instead of re-aggregated
    per row; pass ``vec_norm`` (the NAME of a column holding
    norm_expr(vec) from an earlier projection) and the per-row cost
    drops from
    nlist × (dot + 2 norms) to nlist × dot + 1 norm — a 3× flop cut
    on the interpreted higher-order functions that dominate
    assignment, with bitwise-identical cosines."""
    # Built as ONE parsed SQL string (r11): the Column-op spelling cost
    # ~0.1 s of py4j lambda chatter per call; the parse yields the
    # value-identical tree (same folds, same rounding, same NaN guard).
    if not isinstance(vec_col, str):
        raise TypeError(
            "nearest_lists_cosine takes a column NAME (the expression "
            "builds as one parsed SQL string — see _sql_name)")
    if vec_norm is not None and not isinstance(vec_norm, str):
        raise TypeError(
            "nearest_lists_cosine takes the norm column's NAME (or None "
            "to fold the norm inline)")
    qv = _sql_name(vec_col)
    vn = _sql_name(vec_norm) if vec_norm is not None else _hof_norm_sql(vec_col)
    cents = "array(" + ", ".join(_lit_vec_sql(c) for c in centroids) + ")"
    cnorms = "array(" + ", ".join(
        f"CAST('{_flit(_py_norm(c))}' AS DOUBLE)" for c in centroids) + ")"
    # zero-norm guard (ADVICE r6): under ANSI mode (Spark 4 default) a
    # bare 0-divisor division THROWS — a zero vector or zero centroid
    # must instead score NaN, which sorts LAST in the ascending struct
    # order (ties fall back to list_id), the exact behavior numpy's
    # stable argsort gives nearest_lists_np
    denom = f"({vn} * element_at({cnorms}, __hi))"
    dot = (f"aggregate(zip_with({qv}, element_at({cents}, __hi), "
           "(__hx, __hy) -> CAST(__hx AS DOUBLE) * CAST(__hy AS DOUBLE)), "
           "0.0D, (__hacc, __hv) -> __hacc + __hv)")
    negc = (f"-(CASE WHEN {denom} != 0 "
            f"THEN round({dot} / {denom} + 1.0E-9D, 4) "
            "ELSE CAST('NaN' AS DOUBLE) END)")
    return F.expr(
        f"transform(slice(array_sort(transform(sequence(1, {len(centroids)}), "
        f"__hi -> struct({negc} AS negc, __hi - 1 AS list_id))), 1, {nprobe}), "
        "__hs -> __hs.list_id)")


#: Probed-cell fraction the auto-tuned nprobe holds. Measured at sf10
#: (200k vectors, nlist=447 — SCALE_r06.md): recall@5 stays 1.0 from
#: 25% all the way down to 1% on near-dup-clustered corpora (true
#: neighbors co-assign with the query), and 8% is the operating point
#: that keeps margin for flatter distributions while cutting the probe
#: scan 3× vs the fixed 4/16 config (2.2s vs 5.6s at sf10). The r6
#: rehearsal pins recall@5 ≥ 0.9 at sf1 AND sf10 under this fraction.
AUTO_PROBE_FRAC = 0.08
#: auto_nlist clamp: below 16 cells probing saves nothing; above 4096
#: flat assignment (√N dots per row) is the wrong tool — the √N
#: auto-scale AUTO-DISPATCHES to the two-level coarse quantizer
#: (CoarseQuantizer.resolve, r7: n1·n2 ≈ √N cells at n1+n2 ≈ 2·N^(1/4)
#: dots per row; recall@5 = 1.0 pinned at 20M vectors, SCALE_r07.md).
AUTO_NLIST_MIN, AUTO_NLIST_MAX = 16, 4096


def auto_nlist(corpus_count: int) -> int:
    """The √N lever: nlist ≈ √corpus-count (FAISS guideline — cells of
    ~√N vectors balance assignment cost against per-probe scan cost),
    clamped to [16, 4096]. At index-build time the corpus count is a
    catalog-known quantity; pass it in rather than counting per query."""
    return max(AUTO_NLIST_MIN,
               min(AUTO_NLIST_MAX, int(round(math.sqrt(corpus_count)))))


def auto_nprobe(nlist: int) -> int:
    """nprobe holding the probed-cell fraction at AUTO_PROBE_FRAC
    (recall-preserving as nlist scales with √N), never below the
    driver-checked 4."""
    return max(4, math.ceil(nlist * AUTO_PROBE_FRAC))


def _auto_depth(cells: int, two_level: bool) -> int:
    """THE default probe depth of every IVF path: AUTO_PROBE_FRAC of
    ``cells`` top-level cells, at least 4 flat cells (auto_nprobe) or
    2 two-level top cells (each probes all its n2 sub-cells)."""
    if two_level:
        return max(2, math.ceil(cells * AUTO_PROBE_FRAC))
    return auto_nprobe(cells)


#: Above this nlist the literal-expression assignment (nlist
#: interpreted higher-order dots per row) loses to one Arrow-batched
#: numpy matmul per partition; below it the pure-JVM expression wins
#: (no Python worker, exact oracle parity). The driver-checked
#: q_ann_ivf config (nlist=16) stays on the expression path.
NP_ASSIGN_MIN_NLIST = 64


def nearest_lists_np(centroids: list[list[float]], nprobe: int):
    """Vectorized IVF assignment for LARGE nlist (the √N auto-scale
    regime): a Pandas UDF computing each vector's ``nprobe`` nearest
    centroids as ONE numpy matmul per Arrow batch — still a pure map
    (shuffle-free, same 100 TB shape as nearest_lists_cosine), but
    O(batch·nlist·dim) in BLAS instead of interpreted expression nodes
    (measured: ~40× at nlist=450/200k vectors, SCALE_r06.md).

    Same rounded-cosine + ties-to-smaller-list-id rule as
    nearest_lists_cosine; numpy's summation order can differ from the
    JVM fold in the last ulp, which the 4-decimal rounding absorbs
    except exactly AT a rounding boundary — why the oracle-checked
    fixed-nlist path keeps the literal expression.

    Zero norms are NOT clamped (ADVICE r6): a zero-norm vector (or
    zero centroid) yields 0/0 = NaN cosine exactly as the JVM
    expression does, and both engines then rank it the same way —
    NaN sorts as the largest double in Spark's struct ordering (so
    negc=NaN lands last / all-NaN falls back to list_id order) and
    numpy's stable argsort places NaN last / keeps index order for an
    all-NaN row. The old clamp silently turned NaN into cosine 0 on
    this path only, diverging the two assignments on dirty data."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt((C * C).sum(axis=1))

    @pandas_udf("array<int>")
    def assign(v: pd.Series) -> pd.Series:
        # NULL vectors assign to no cell (null array → null list_id →
        # the row drops from the inner probe join); a dirty corpus must
        # not kill the job (review r6 — np.array over a batch holding
        # None raised in the worker where the expression path tolerated
        # it)
        valid = v.notna().to_numpy()
        if not valid.any():
            return pd.Series([None] * len(v))
        m = np.array(v[valid].tolist(), dtype=np.float64)
        vn = np.sqrt((m * m).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round((m @ C.T) / vn[:, None] / cn[None, :] + 1e-9, 4)
        idx = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
        out = [None] * len(v)
        for pos, lists in zip(np.flatnonzero(valid), idx.astype("int32")):
            out[pos] = lists
        return pd.Series(out)

    return assign


def _assign_expr(vec_col: str, centroids: list[list[float]], nprobe: int,
                 vec_norm: str | None = None, matmul: bool | None = None):
    """The one IVF assignment selector (takes column NAMES): array<int>
    of each vector's ``nprobe`` nearest cells, by the numpy matmul
    (nearest_lists_np) or the JVM literal expression
    (nearest_lists_cosine, which reads ``vec_norm`` when given; the
    numpy path ignores it). ``matmul=None`` is the size rule (numpy at
    nlist ≥ NP_ASSIGN_MIN_NLIST); a flat CoarseQuantizer passes its
    ``matmul`` field, fixed where it was built. The two kernels
    agree up to the shared 4-decimal cosine rounding, so a row exactly
    AT a rounding boundary may assign one cell apart (the caveat
    nearest_lists_np documents; the pinned row-identity tests run at
    nlist=16 where the paths are bit-identical)."""
    if matmul is None:
        matmul = len(centroids) >= NP_ASSIGN_MIN_NLIST
    if matmul:
        return nearest_lists_np(centroids, nprobe)(vec_col)
    return nearest_lists_cosine(vec_col, centroids, nprobe,
                                vec_norm=vec_norm)


# ---------------------------------------------------------------------
# two-level (hierarchical) IVF — the regime ABOVE the flat √N clamp
# ---------------------------------------------------------------------

def hier_params(corpus_count: int) -> tuple[int, int, int]:
    """(n1, n2, p1) for the two-level coarse quantizer: n1 ≈ n2 ≈
    N^(1/4), so n1·n2 ≈ √N total cells (the FAISS guideline the flat
    auto_nlist follows) while per-row assignment costs n1 + n2 dots —
    two bounded matmuls — instead of √N. p1 holds the probed TOP-cell
    fraction at AUTO_PROBE_FRAC (every sub-cell of a probed top cell is
    probed, so probed corpus fraction ≈ p1/n1, the same operating point
    the flat auto-scale holds)."""
    n1 = max(AUTO_NLIST_MIN, int(round(corpus_count ** 0.25)))
    return n1, n1, _auto_depth(n1, two_level=True)


def hier_seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n1: int = 64,
    n2: int = 64,
    train_cap: int | None = None,
    version: object = None,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Deterministic two-level coarse quantizer (the hierarchy FAISS
    calls a residual/IMI-style coarse stage): level 1 = the n1
    smallest-id vectors (exactly seed_centroids' rule); level 2 = per
    top cell, the first n2 TRAINING vectors assigned to that cell (id
    order), cycled if the cell is smaller and degenerating to the top
    centroid itself for empty cells. Training reads a bounded
    deterministic sample (the train_cap smallest ids — a distributed
    top-K by id, never a full sort; default ≈ 4 samples per final
    cell, the FAISS training-size guideline, clamped to
    [65536, 262144] so the driver-side numpy stays ≤ cap·dim doubles)
    and runs driver-side in numpy — a build-time artifact cached per
    corpus identity like seed_centroids."""
    if train_cap is None:
        train_cap = min(262_144, max(4 * n1 * n2, 65_536))
    key = ("hier", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, n1, n2, train_cap, corpus.semanticHash(),
           version)

    def build():
        rows = (corpus.select(id_col, vec_col).orderBy(id_col)
                .limit(train_cap).collect())
        if not rows:
            raise ValueError("hier_seed_centroids: empty corpus")
        sample = np.asarray([r[1] for r in rows], dtype=np.float64)
        # a corpus smaller than n1 clamps level 1 to what exists
        # (review r7 — C2[t] = C1[t] indexed past len(C1) otherwise);
        # list_id arithmetic stays t·n2 + sub with the clamped len(C1)
        C1 = sample[:n1].copy()
        c1n = np.sqrt((C1 * C1).sum(axis=1))
        sn = np.sqrt((sample * sample).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round(sample @ C1.T / sn[:, None] / c1n[None, :]
                           + 1e-9, 4)
        top = np.argmax(cos, axis=1)  # first max → ties to smaller id
        dim = sample.shape[1]
        C2 = np.empty((len(C1), n2, dim), dtype=np.float64)
        for t in range(len(C1)):
            members = sample[top == t]
            if len(members) == 0:
                C2[t] = C1[t]  # empty cell: sub-quantizer degenerates
            else:
                reps = -(-n2 // len(members))  # ceil-cycle small cells
                C2[t] = np.tile(members, (reps, 1))[:n2]
        return (C1.tolist(), C2.tolist())

    return _CENTROID_CACHE.get(key, build)


def _np_lloyd(X: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Deterministic driver-side k-means (seeded k-means++ init + Lloyd)
    over a bounded sample — the trained twin of the hierarchy's
    smallest-id seeding. Rows are expected L2-normalized (spherical
    k-means: the assignment UDFs rank by cosine, so training matches
    the probe metric). Cells smaller than k cycle; distances use the
    ||x||² − 2x·c + ||c||² expansion (one matmul per iteration)."""
    rng = np.random.default_rng(seed)
    n = len(X)
    if n == 0:
        raise ValueError("k-means over an empty sample: no vector with nonzero norm")
    if n <= k:
        reps = -(-k // n)
        return np.tile(X, (reps, 1))[:k].copy()
    idx = [int(rng.integers(n))]
    d2 = ((X - X[idx[0]]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        tot = d2.sum()
        nxt = int(rng.choice(n, p=d2 / tot)) if tot > 0 else int(rng.integers(n))
        idx.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[idx].copy()
    xsq = (X * X).sum(axis=1)
    for _ in range(iters):
        d = xsq[:, None] - 2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
        assign = np.argmin(d, axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def hier_trained_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n1: int = 64,
    n2: int = 64,
    train_cap: int | None = None,
    version: object = None,
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """TRAINED two-level coarse quantizer (r8; VERDICT r7 item 3):
    level 1 = spherical k-means over the deterministic bounded sample
    (same smallest-id sampling, caching and clamping contract as
    hier_seed_centroids), level 2 = per top cell, k-means over that
    cell's sample members (cycled when small, degenerate for empty
    cells). All training is driver-side numpy on the ≤262k-row sample
    — a build-time artifact, never on the query path. Engage with
    ``topk_ivf_det(n1=, n2=, quantizer='trained')`` on smooth
    (non-clustered) corpora, where the seed quantizer's recall/probe
    curve is measured worse (SCALE_r08.md); on duplicate-clustered
    corpora both are recall-1.0 and the seed rule stays the cheap
    default."""
    if train_cap is None:
        train_cap = min(262_144, max(4 * n1 * n2, 65_536))
    key = ("hier-trained", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, n1, n2, train_cap, seed,
           corpus.semanticHash(), version)

    def build():
        rows = (corpus.select(id_col, vec_col).orderBy(id_col)
                .limit(train_cap).collect())
        if not rows:
            raise ValueError("hier_trained_centroids: empty corpus")
        sample = np.asarray([r[1] for r in rows], dtype=np.float64)
        nrm = np.sqrt((sample * sample).sum(axis=1))
        sample = sample[nrm > 0] / nrm[nrm > 0, None]  # spherical
        C1 = _np_lloyd(sample, n1, seed)
        c1n = np.sqrt((C1 * C1).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round(sample @ C1.T / c1n[None, :] + 1e-9, 4)
        top = np.argmax(cos, axis=1)  # sample is unit-norm already
        dim = sample.shape[1]
        C2 = np.empty((n1, n2, dim), dtype=np.float64)
        for t in range(n1):
            members = sample[top == t]
            if len(members) == 0:
                C2[t] = C1[t]
            else:
                C2[t] = _np_lloyd(members, n2, seed + 1 + t)
        return (C1.tolist(), C2.tolist())

    return _CENTROID_CACHE.get(key, build)


def hier_assign_np(C1: list[list[float]], C2: list[list[list[float]]]):
    """Corpus-side two-level assignment: ``list_id = top·n2 + sub``
    where top = rounded-cosine-nearest level-1 centroid and sub = the
    nearest of THAT cell's n2 sub-centroids. Per Arrow batch this is
    one (batch × n1) matmul plus ≤ n1 small per-cell matmuls — still a
    pure shuffle-free map, but O(n1 + n2) dots per row instead of the
    flat quantizer's O(n1·n2). Same rounding/tie rules as
    nearest_lists_np; NULL vectors assign to no cell."""
    from pyspark.sql.functions import pandas_udf

    C1a = np.asarray(C1, dtype=np.float64)
    C2a = np.asarray(C2, dtype=np.float64)
    n1, n2, _ = C2a.shape
    c1n = np.sqrt((C1a * C1a).sum(axis=1))
    c2n = np.sqrt((C2a * C2a).sum(axis=2))  # (n1, n2)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        if not valid.any():
            return pd.Series([None] * len(v))
        m = np.array(v[valid].tolist(), dtype=np.float64)
        vn = np.sqrt((m * m).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos1 = np.round(m @ C1a.T / vn[:, None] / c1n[None, :]
                            + 1e-9, 4)
        top = np.argmax(cos1, axis=1)
        lids = np.empty(len(m), dtype=np.int64)
        for t in np.unique(top):
            rows = top == t
            with np.errstate(divide="ignore", invalid="ignore"):
                sub = np.round(
                    m[rows] @ C2a[t].T / vn[rows, None] / c2n[t][None, :]
                    + 1e-9, 4)
            lids[rows] = t * n2 + np.argmax(sub, axis=1)
        out = [None] * len(v)
        for pos, lid in zip(np.flatnonzero(valid), lids):
            out[pos] = int(lid)
        return pd.Series(out)

    return assign


def hier_probe_np(C1: list[list[float]], C2: list[list[list[float]]],
                  p1: int):
    """Query-side probe set: the p1 rounded-cosine-nearest TOP cells,
    each contributing ALL its n2 sub-cell list_ids — the probe rule is
    aligned with hier_assign_np's assignment rule (a corpus vector's
    top cell decides its list_id, so probing whole top cells cannot
    miss a member of a probed cell). array<int> of p1·n2 list_ids."""
    from pyspark.sql.functions import pandas_udf

    C1a = np.asarray(C1, dtype=np.float64)
    n1, n2, _ = np.asarray(C2, dtype=np.float64).shape
    c1n = np.sqrt((C1a * C1a).sum(axis=1))
    subs = np.arange(n2, dtype=np.int64)

    @pandas_udf("array<int>")
    def probe(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        if not valid.any():
            return pd.Series([None] * len(v))
        m = np.array(v[valid].tolist(), dtype=np.float64)
        vn = np.sqrt((m * m).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos1 = np.round(m @ C1a.T / vn[:, None] / c1n[None, :]
                            + 1e-9, 4)
        tops = np.argsort(-cos1, axis=1, kind="stable")[:, :p1]
        out = [None] * len(v)
        for pos, ts in zip(np.flatnonzero(valid), tops):
            out[pos] = (ts[:, None] * n2 + subs[None, :]).ravel().astype(
                "int32")
        return pd.Series(out)

    return probe


# ---------------------------------------------------------------------
# the coarse quantizer — flat and two-level behind one type
# ---------------------------------------------------------------------

@dataclass(frozen=True, eq=False)
class CoarseQuantizer:
    """The coarse quantizer every IVF path layers on (the coarse stage
    of IVF-ADC, Jégou et al., TPAMI 2011). FLAT: ``top`` holds the
    nlist centroids and a vector's cell is its nearest one. TWO-LEVEL:
    ``top`` holds the n1 level-1 centroids (C1), ``sub`` the n1 × n2
    sub-centroids (C2), and cell ``t·n2 + j`` is sub-centroid j of top
    cell t. Everything that differs between the two lives here —
    resolution, assignment, probe sets, the calibration probe position,
    per-cell centroids, the meta codec and the cache fingerprint — so
    topk_ivf_det, calibrate_probe and the persisted index
    (annindex) each run one body for both.

    ``rule`` is the training rule (``'seed'`` | ``'trained'``).
    ``matmul`` picks the flat kernel — nearest_lists_np or the JVM
    literal nearest_lists_cosine (see _assign_expr); two-level always
    runs the numpy kernels. It is fixed where the quantizer is built:
    resolve and from_meta take the size rule (numpy at ≥
    NP_ASSIGN_MIN_NLIST cells), and topk_ivf_det turns it off for an
    explicit nlist. ``default_depth`` is the probe depth used when a
    caller passes none: _auto_depth over the cell count asked for
    (resolve), or the stored calibration's depth, else _auto_depth over
    the stored count (from_meta). The two counts differ only when the
    corpus holds fewer vectors than were asked for."""

    top: list
    sub: list | None
    rule: str
    matmul: bool
    default_depth: int

    @classmethod
    def resolve(cls, corpus: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", nlist: int | None = None,
                n1: int | None = None, n2: int | None = None,
                corpus_count: int | None = None, quantizer: str = "seed",
                version: object = None,
                centroids: list[list[float]] | None = None,
                auto_two_level: bool = True) -> "CoarseQuantizer":
        """Resolve from a caller's knobs. Explicit ``n1``/``n2`` mean
        two-level (a missing one from hier_params); an explicit
        ``nlist`` or ``centroids`` list means flat; otherwise the √N
        auto-scale counts the corpus (once, unless ``corpus_count`` is
        given) and, with ``auto_two_level``, goes two-level above the
        flat clamp (N > AUTO_NLIST_MAX², n1 = n2 ≈ N^(1/4)), else flat
        at auto_nlist. Centroids come from the ``quantizer`` rule's
        training function (cached per corpus identity)."""
        two = n1 is not None or n2 is not None
        if not two and nlist is None:
            if corpus_count is None:
                corpus_count = corpus.count()
            two = (auto_two_level and centroids is None
                   and corpus_count > AUTO_NLIST_MAX ** 2)
            if not two:
                nlist = auto_nlist(corpus_count)
        if centroids is None and quantizer not in _TRAIN:
            raise ValueError(
                f"unknown quantizer {quantizer!r} (seed | trained)")
        if two:
            if n1 is None or n2 is None:
                a1, a2, _ = hier_params(
                    corpus.count() if corpus_count is None else corpus_count)
                n1, n2 = n1 or a1, n2 or a2
            top, sub = _TRAIN[quantizer][1](corpus, id_col, vec_col, n1, n2,
                                            version=version)
            asked = n1
        else:
            top, sub, asked = centroids, None, nlist
            if top is None:
                top = _TRAIN[quantizer][0](corpus, id_col, vec_col, nlist,
                                           version=version)
        return cls(top, sub, quantizer, len(top) >= NP_ASSIGN_MIN_NLIST,
                   _auto_depth(asked, two))

    @classmethod
    def from_meta(cls, meta: dict) -> "CoarseQuantizer":
        """The stored quantizer of an index generation's ``_meta.json``
        (the keys :meth:`meta` writes; the calibration record holds
        ``nprobe`` or ``p1``)."""
        two = meta["kind"] == "hier"
        top = meta["C1"] if two else meta["centroids"]
        cal = meta.get("calibration")
        depth = (cal["p1" if two else "nprobe"] if cal
                 else _auto_depth(len(top), two))
        return cls(top, meta["C2"] if two else None, meta["quantizer"],
                   len(top) >= NP_ASSIGN_MIN_NLIST, depth)

    @property
    def two_level(self) -> bool:
        return self.sub is not None

    @property
    def depth_key(self) -> str:
        """The probe-depth key of calibration records and gauges."""
        return "p1" if self.two_level else "nprobe"

    @property
    def dim(self) -> int:
        return len(self.top[0]) if self.top else 0

    def _counts(self) -> dict:
        if self.two_level:
            return {"n1": len(self.top), "n2": len(self.sub[0])}
        return {"nlist": len(self.top)}

    def meta(self) -> dict:
        """The quantizer's ``_meta.json`` keys, in their stored order."""
        if self.two_level:
            n = self._counts()
            return {"kind": "hier", "nlist": n["n1"] * n["n2"], **n,
                    "C1": self.top, "C2": self.sub, "quantizer": self.rule}
        return {"kind": "flat", **self._counts(), "centroids": self.top,
                "quantizer": self.rule}

    def calibration(self, depth: int) -> dict:
        """The head of a calibration record measured at ``depth``."""
        return {"kind": "hier" if self.two_level else "flat",
                **self._counts(), self.depth_key: depth}

    @cached_property
    def fingerprint(self) -> int:
        """Hash of the centroid tables — the calibration cache's
        quantizer identity, computed once per quantizer."""
        sub = (None if self.sub is None
               else tuple(tuple(map(tuple, s)) for s in self.sub))
        return hash((tuple(map(tuple, self.top)), sub))

    def assign(self, vec: str, norm: str | None = None) -> Column:
        """Each vector's cell id (int), from the vector column's NAME
        and, when one exists, its norm column's NAME (the flat
        expression kernel reads it; the numpy kernels ignore it)."""
        if self.two_level:
            return hier_assign_np(self.top, self.sub)(F.col(vec))
        return F.element_at(
            _assign_expr(vec, self.top, 1, norm, self.matmul), 1)

    def probe(self, vec: str, depth: int | None = None,
              norm: str | None = None) -> Column:
        """array<int> of probed cells: the ``depth`` nearest cells
        (flat), or every sub-cell of the ``depth`` nearest top cells
        (two-level); ``depth=None`` probes ``default_depth``."""
        depth = self.default_depth if depth is None else depth
        if self.two_level:
            return hier_probe_np(self.top, self.sub, depth)(F.col(vec))
        return _assign_expr(vec, self.top, depth, norm, self.matmul)

    def calib_pos(self, pos0: Column) -> Column:
        """The probe depth (1-based) that first reaches position
        ``pos0`` of the full probe list: the cell's own rank (flat), or
        its top cell's rank — the full two-level list is len(top)
        contiguous blocks of n2."""
        if self.two_level:
            return (pos0 / F.lit(len(self.sub[0]))).cast("int") + 1
        return pos0 + 1

    def cell_centroids(self) -> np.ndarray:
        """(nlist, dim) float64 table mapping cell id → its centroid;
        two-level cells hold absolute sub-centroids (see
        hier_seed_centroids)."""
        return np.asarray(self.top if self.sub is None else self.sub,
                          dtype=np.float64).reshape(-1, self.dim)


#: training functions per ``quantizer=`` rule: (flat, two-level)
_TRAIN = {"seed": (seed_centroids, hier_seed_centroids),
          "trained": (trained_centroids, hier_trained_centroids)}


def topk_ivf_det(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int | None = 16,
    nprobe: int | None = 4,
    centroids: list[list[float]] | None = None,
    corpus_count: int | None = None,
    quantize: bool = False,
    quantizer: str = "seed",
    calibrate: float | None = None,
    n1: int | None = None,
    n2: int | None = None,
) -> DataFrame:
    """IVF ANN over a CoarseQuantizer: corpus rows are assigned to
    their rounded-cosine-nearest cell (a shuffle-free map), queries
    probe ``nprobe`` cells — on a two-level quantizer ``nprobe`` counts
    TOP cells (p1), each probing all its n2 sub-cells.

    The flat seed quantizer is fully mirrored by topk_ivf_det_sql at
    explicit nlist/nprobe — an explicit nlist ALWAYS takes the JVM
    literal-expression assignment (exact oracle parity), however large;
    the numpy-matmul assignment engages only in the √N auto-scale
    regime (``nlist=None`` with auto_nlist ≥ NP_ASSIGN_MIN_NLIST;
    ADVICE r6 — the old centroid-count gate silently broke the
    documented mirror for nlist ≥ 64).

    ``nlist=None`` engages the √N auto-scale (auto_nlist over
    ``corpus_count``, counted once if not supplied); above the flat
    clamp (√N > AUTO_NLIST_MAX, i.e. N > 16.7M) it AUTO-DISPATCHES to
    the two-level quantizer (r7 — VERDICT r6 item 4: ≈√N cells as
    n1·n2 at n1 + n2 ≈ 2·N^(1/4) dots per row), but only with
    ``nprobe=None`` and no ``centroids`` — an explicit flat depth or
    centroid list means flat semantics were asked for. Explicit
    ``n1``/``n2`` force the two-level quantizer at any size.
    ``nprobe=None`` auto-tunes to hold the probed fraction
    (_auto_depth). ``quantize=True`` carries the corpus payload as int8
    codes (quantize_embeddings) through the candidate join — 8× less
    shuffle/broadcast bytes; cosine is scale-invariant so ranking
    changes only by the quantization noise (recall pinned ≥0.9 in
    tests). Assignment still reads the raw vector (bucketing is an
    index-build step; codes are the stored payload).

    ``quantizer='trained'`` (r8; VERDICT r7 item 3) resolves the
    centroids with k-means (trained_centroids / hier_trained_centroids
    — same caching / determinism contract as the seed rule) instead of
    the smallest-id seed. On duplicate-clustered corpora the two are
    recall-identical; on SMOOTH corpora trained holds a better
    recall/probe curve (measured in SCALE_r08.md), and on such corpora
    the recall dial is ``nprobe`` — the 8% auto fraction is calibrated
    for clustered data, non-clustered corpora need ~40% for recall@5 ≈
    0.95.

    ``calibrate=<target recall>`` (r8) replaces the guessing entirely:
    nprobe is resolved by calibrate_probe — the smallest depth whose
    measured recall@k on a deterministic holdout reaches the target
    (one bounded index-build-time pass, cached per corpus identity).
    Requires ``nprobe=None`` — an explicit nprobe plus a calibration
    target is two dials for the same knob, an error not a precedence
    rule."""
    if calibrate is not None and nprobe is not None:
        raise ValueError(
            "topk_ivf_det: pass nprobe=None with calibrate=<target> — "
            "an explicit nprobe and a calibration target are two dials "
            "for the same knob")
    qz = CoarseQuantizer.resolve(
        corpus, id_col, vec_col, nlist, n1, n2, corpus_count, quantizer,
        centroids=centroids, auto_two_level=nprobe is None)
    if calibrate is not None:
        nprobe = calibrate_probe(
            corpus, id_col, vec_col, k=k, target_recall=calibrate,
            quantizer=qz)[qz.depth_key]
    if nlist is not None:  # the oracle-mirrored JVM expression
        qz = replace(qz, matmul=False)
    c = _cand_side(corpus, id_col, vec_col, qz.dim, "list_id", qz.assign,
                   quantize)
    q = _query_side(queries, id_col, vec_col, qz.dim).withColumn(
        "list_id", F.explode(qz.probe("qvec", nprobe, "qn")))
    return _probe_topk(q, c, "list_id", k, qz.dim)


# ---------------------------------------------------------------------
# Probe auto-calibration (r8 — the SCALE_r08 §1 closure made a feature)
#
# AUTO_PROBE_FRAC = 8% is a CLUSTERED-corpus calibration; on smooth
# corpora the probed fraction IS the recall dial and the 0.9-crossing
# sits at ~40% (flat/trained) / ~60% (hier/trained). Rather than ship
# a per-corpus magic number, calibrate_probe MEASURES the crossing at
# index-build time: one exhaustive distributed pass for a small
# deterministic holdout yields the exact recall@k of EVERY probe depth
# at once, and a driver-side binary search returns the smallest depth
# reaching the target. Wired as ``calibrate=<target>`` on topk_ivf_det
# and build_ivf_index, for flat and two-level quantizers alike.
# ---------------------------------------------------------------------

#: Calibration records per corpus identity (the _CENTROID_CACHE key's
#: semanticHash and version, with the same staleness assumption) plus
#: every calibration parameter; a hit returns the same record object.
_CALIB_CACHE = Memo(64)

#: Fractions the calibration report's curve is sampled at (the
#: SCALE_r08 §1 sweep grid). The returned probe depth itself comes
#: from an exact integer binary search, not this grid.
CALIB_CURVE_FRACS = (0.08, 0.16, 0.25, 0.40, 0.60, 1.0)


def _calib_pass(c: DataFrame, grid: DataFrame, hold: DataFrame,
                k: int, dim: int | None = None) -> list:
    """The single distributed calibration pass: broadcast the exploded
    probe grid (SLIM — query_id, probe_pos, list_id only; broadcasting
    the grid WITH vectors would repeat every holdout vector once per
    cell, ~1 GB at nlist=4096 × dim 1024) against the assigned corpus,
    re-attach the n_holdout query vectors by a second tiny broadcast,
    score cosines, and keep the per-(query, probe_pos) top-k. Only
    scalar columns cross the shuffle into the window (ids + cosine —
    vectors are projected away first), and the collect is bounded by
    holdout × cells × k rows. NaN cosines (zero-norm rows) are
    dropped — calibration picks a knob; it must not let dirty rows
    occupy top-k slots."""
    scored = (
        F.broadcast(grid).join(c, "list_id")
        .join(F.broadcast(hold), "query_id")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "probe_pos", "cand_id",
                # fixed-dim unrolled when the caller knows dim —
                # bitwise-identical, and this exhaustive pass is the
                # calibrator's (and the r9 recall gauge's) whole cost
                _score_exprs(dim)[1]("qvec", "cvec", "qn", "cn")
                .alias("cosine"))
        .filter(F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine")))
    )
    w = Window.partitionBy("query_id", "probe_pos").orderBy(
        F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("query_id", "probe_pos", "cand_id", "cosine")
        .collect()
    )


def _calib_solve(rows: list, k: int, target_recall: float,
                 max_p: int,
                 report_depths: tuple = ()) -> tuple[int, float, dict, dict]:
    """Exact driver-side solver over the calibration rows
    (query_id, probe_pos, cand_id, cosine): at probe depth p the served
    top-k is the first k candidates (cosine desc, cand_id asc) whose
    cell rank ≤ p, so recall(p) is exact, monotone nondecreasing, and
    recall(max_p) == 1.0 by construction (the truth set is the same
    exhaustive pass's global top-k — every truth member survives its
    own cell's top-k cut). Binary-searches the smallest depth reaching
    ``target_recall`` and samples the report curve at
    CALIB_CURVE_FRACS; ``report_depths`` additionally returns the exact
    recall at those specific depths (the r9 recall-decay gauge reads
    the STORED calibration's operating point here)."""
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r[0], []).append((r[3], r[2], r[1]))
    solved = []
    for cands in per_q.values():
        cands.sort(key=lambda t: (-t[0], t[1]))
        truth = set(c for _, c, _ in cands[:k])
        solved.append((cands, truth))

    def recall(p: int) -> float:
        tot = 0.0
        for cands, truth in solved:
            got = seen = 0
            for _, cand, pos in cands:
                if pos <= p:
                    seen += 1
                    if cand in truth:
                        got += 1
                    if seen >= k:
                        break
            tot += got / len(truth)
        return tot / len(solved)

    lo, hi = 1, max_p
    while lo < hi:
        mid = (lo + hi) // 2
        if recall(mid) >= target_recall:
            hi = mid
        else:
            lo = mid + 1
    curve = {f: round(recall(max(1, min(max_p, math.ceil(f * max_p)))), 4)
             for f in CALIB_CURVE_FRACS}
    at = {int(p): round(recall(max(1, min(max_p, int(p)))), 4)
          for p in report_depths}
    return lo, round(recall(lo), 4), curve, at


def _calib_holdout(corpus: DataFrame, id_col: str, vec_col: str,
                   n_holdout: int,
                   holdout: DataFrame | None = None) -> DataFrame:
    """Deterministic holdout query set: the ``n_holdout`` LARGEST-id
    nonzero-norm vectors — deterministic like the quantizers' contract
    (no sampling seed to disagree about across runs), but from the
    OPPOSITE end of the id range, because both seed_centroids and
    trained_centroids sample the smallest ids: a smallest-id holdout
    would literally BE the seed centroids, every query would sit on its
    own cell center, and nprobe=1 would measure perfect recall on any
    corpus (observed: 0.96 at nprobe=1/224 on the smooth mixture whose
    true random-query recall at that depth is ~0.25 — SCALE_r08.md).
    Largest ids are also the natural query regime of a crawl: the
    newest documents querying an index built from the past.

    ``holdout`` overrides the rule entirely: when the real query
    distribution differs from the corpus (external search traffic),
    pass a sample of IT — calibration is only as representative as
    its queries. Same id/vector columns; rows cap at ``n_holdout`` by
    smallest id (deterministic either way)."""
    src_df = corpus if holdout is None else holdout
    order = (F.col("query_id").desc() if holdout is None
             else F.col("query_id").asc())
    return (
        src_df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("qvec"),
                F.expr(_hof_norm_sql(vec_col)).alias("qn"))
        .where(F.col("qn") > 0)
        .orderBy(order).limit(n_holdout)
    )


def calibrate_probe(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    target_recall: float = 0.9,
    n_holdout: int = 32,
    nlist: int | None = None,
    corpus_count: int | None = None,
    quantizer: "str | CoarseQuantizer" = "seed",
    version: object = None,
    holdout: DataFrame | None = None,
    report_depths: tuple = (),
) -> dict:
    """Measure, don't guess, the IVF probe depth: returns a record
    whose depth (``nprobe`` flat, ``p1`` two-level — the quantizer's
    depth_key) is the SMALLEST depth whose recall@k on a deterministic
    holdout reaches ``target_recall``, plus the measured curve. Wired
    into topk_ivf_det and build_ivf_index as ``calibrate=<target>``.

    ``quantizer`` is a CoarseQuantizer, or a training rule name
    (``'seed'`` | ``'trained'``) resolved flat at ``nlist`` (default:
    auto_nlist over ``corpus_count``, counted if not supplied).

    Method — ONE distributed pass, exact for every depth at once: the
    holdout probes ALL top-level cells in full preference order, each
    probed cell tagged with the depth that reaches it
    (CoarseQuantizer.calib_pos); per-(query, depth) top-k survivors are
    collected (≤ n_holdout·cells·k tiny scalar rows — a two-level
    quantizer needs only the top-k within each whole top-cell block)
    and the served top-k at ANY depth p is the first k survivors with
    depth ≤ p (_calib_solve).

    Scale posture: cluster-side cost is one corpus scan scoring
    ``n_holdout`` cosines per row — the same O(h·N) class as
    topk_bruteforce over h queries, an index-BUILD cost amortized over
    every query the index serves and cached per corpus identity like
    the quantizers. Assignment follows the quantizer's kernel (numpy
    matmul at nlist ≥ NP_ASSIGN_MIN_NLIST, literal expression below —
    the two agree to the 4-decimal rounding)."""
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    qz = quantizer
    if not isinstance(qz, CoarseQuantizer):
        qz = CoarseQuantizer.resolve(corpus, id_col, vec_col, nlist,
                                     corpus_count=corpus_count,
                                     quantizer=quantizer, version=version,
                                     auto_two_level=False)
    hold_key = None if holdout is None else holdout.semanticHash()
    key = ("ivf", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, k, target_recall, n_holdout, qz.rule,
           qz.fingerprint, corpus.semanticHash(), version, hold_key,
           tuple(report_depths))

    def build():
        cells = len(qz.top)
        c = _cand_side(corpus, id_col, vec_col, qz.dim, "list_id",
                       qz.assign)
        h = _calib_holdout(corpus, id_col, vec_col, n_holdout, holdout)
        grid = h.select(
            "query_id", F.posexplode(qz.probe("qvec", cells, "qn"))
            .alias("pos0", "list_id")
        ).withColumn("probe_pos", qz.calib_pos(F.col("pos0")))
        rows = _calib_pass(c, grid, h, k, dim=qz.dim)
        if not rows:
            raise ValueError("calibrate_probe: empty calibration pass — the "
                             "corpus has no nonzero-norm vectors to hold out")
        depth, achieved, curve, at = _calib_solve(rows, k, target_recall,
                                                  cells, report_depths)
        rec = {**qz.calibration(depth),
               "frac": round(depth / cells, 4), "recall": achieved,
               "target": target_recall, "curve": curve,
               "n_holdout": len({r[0] for r in rows}), "k": k,
               "quantizer": qz.rule}
        if at:
            rec["at_depths"] = at
        return rec

    return _CALIB_CACHE.get(key, build)


def calibrate_probe_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    target_recall: float = 0.9,
    n_holdout: int = 32,
    bits: int = 8,
    dim: int | None = None,
    seed: int = 42,
    version: object = None,
    holdout: DataFrame | None = None,
) -> dict:
    """calibrate_probe for sign-bit LSH: the dial is ``multiprobe``
    (max Hamming radius probed), so probe_pos = Hamming(query bucket,
    candidate bucket) + 1 and there are only bits+1 depths. Besides
    ``multiprobe`` the record carries ``probed_frac`` — the fraction of
    all 2^bits buckets the chosen radius scans (Σ C(bits,d), d ≤ mp) —
    because on smooth corpora that fraction approaches brute-force cost
    long before high recall (the SCALE_r08 §1 closure, now measurable
    per corpus instead of asserted). ``curve`` is keyed by fraction of
    the RADIUS RANGE, not of buckets. Wired into topk_lsh as
    ``calibrate=<target>``."""
    if not (0.0 < target_recall <= 1.0):
        raise ValueError(f"target_recall must be in (0, 1], got {target_recall}")
    if bits > 12:
        raise ValueError("calibrate_probe_lsh enumerates all 2^bits "
                         f"buckets per holdout query; bits={bits} > 12")
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    hold_key = None if holdout is None else holdout.semanticHash()
    key = ("lsh", corpus.sparkSession.sparkContext.applicationId,
           id_col, vec_col, k, target_recall, n_holdout, bits, dim,
           seed, corpus.semanticHash(), version, hold_key)

    def build():
        c = _cand_side(corpus, id_col, vec_col, dim, "list_id",
                       lambda v, _n: hyperplane_bucket(v, dim, bits, seed))
        h = _calib_holdout(corpus, id_col, vec_col, n_holdout, holdout)
        grid = (
            h.withColumn("bucket0",
                         hyperplane_bucket("qvec", dim, bits, seed))
            .select("query_id", "bucket0",
                    F.explode(F.sequence(F.lit(0), F.lit(2 ** bits - 1))
                              ).alias("list_id"))
            .withColumn("probe_pos", F.bit_count(
                F.col("bucket0").bitwiseXOR(F.col("list_id"))) + 1)
            .drop("bucket0")
        )
        rows = _calib_pass(c, grid, h, k, dim=dim)
        if not rows:
            raise ValueError("calibrate_probe_lsh: empty calibration pass "
                             "— the corpus has no nonzero-norm vectors to "
                             "hold out")
        depth, achieved, curve, _ = _calib_solve(rows, k, target_recall,
                                                 bits + 1)
        mp = depth - 1
        probed = sum(math.comb(bits, d) for d in range(mp + 1)) / 2 ** bits
        return {"kind": "lsh", "bits": bits, "multiprobe": mp,
                "probed_frac": round(probed, 4), "recall": achieved,
                "target": target_recall, "curve": curve,
                "n_holdout": len({r[0] for r in rows}), "k": k}

    return _CALIB_CACHE.get(key, build)


def topk_ivf_det_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB mirror of topk_ivf_det: the centroid CTE re-derives the
    same seed vectors from the table, assignment uses the same rounded
    cosine and tie-break."""
    rcos = f"ROUND({cosine_sql('e.vec', 'c.cvec')} + 1e-9, 4)"
    return f"""
WITH v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec FROM {table}),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY id) AS INT) - 1 AS list_id, vec AS cvec
  FROM (SELECT * FROM v ORDER BY id LIMIT {nlist})
),
assign AS (
  SELECT e.id, e.vec, c.list_id,
         ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {rcos} DESC, c.list_id) AS rn
  FROM v e CROSS JOIN cents c
),
corpus_cells AS (SELECT id AS cand_id, vec AS cvec, list_id FROM assign WHERE rn = 1),
probe AS (
  SELECT a.id AS query_id, a.vec AS qvec, a.list_id
  FROM assign a JOIN {table} t ON a.id = t.{id_col}
  WHERE a.rn <= {nprobe} AND ({query_pred.replace(id_col, f't.{id_col}')})
),
scored AS (
  SELECT p.query_id, cc.cand_id,
         {cosine_sql('p.qvec', 'cc.cvec')} AS cosine
  FROM probe p JOIN corpus_cells cc USING (list_id)
  WHERE p.query_id <> cc.cand_id
)
SELECT query_id, cand_id, ROUND(cosine + 1e-9, 4) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, cand_id) AS rank
      FROM scored)
WHERE rank <= {k}
"""


def topk_lsh_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_pred: str = "vec_id < 10",
    k: int = 5,
    bits: int = 8,
    multiprobe: int = 1,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """DuckDB mirror of topk_lsh: identical hyperplane literals, same
    probe set — every bucket at Hamming distance ≤ multiprobe, matching
    the Spark side's r8 generalization past the old distance-2 cap."""
    import itertools

    bexpr = hyperplane_bucket_sql("vec", dim, bits, seed)
    probes = ["b0"]
    for dist in range(1, min(multiprobe, bits) + 1):
        probes += [
            f"xor(b0, {sum(1 << b for b in combo)})"
            for combo in itertools.combinations(range(bits), dist)
        ]
    return f"""
WITH v AS (SELECT {id_col} AS id, {vec_col}::DOUBLE[] AS vec FROM {table}),
bucketed AS (SELECT id, vec, {bexpr} AS b0 FROM v),
probes AS (
  SELECT id AS query_id, vec AS qvec, unnest([{", ".join(probes)}]) AS bucket
  FROM bucketed WHERE {query_pred.replace(id_col, "id")}
),
cand AS (
  SELECT DISTINCT p.query_id, c.id AS cand_id,
         {cosine_sql('p.qvec', 'c.vec')} AS cosine
  FROM probes p JOIN bucketed c ON c.b0 = p.bucket
  WHERE c.id <> p.query_id
)
SELECT query_id, cand_id, ROUND(cosine + 1e-9, 4) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, cand_id) AS rank
      FROM cand)
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------
# int8 quantization — the memory/IO lever for 100 TB ANN
# ---------------------------------------------------------------------

def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x|/127``
    (1.0 for the zero vector), ``q_i = round(x_i/scale + 1e-9)`` —
    values land in [-127, 127] with no clamp needed, stored as
    ``array<tinyint>`` (4x smaller than float32 on disk and over the
    shuffle — at corpus scale the difference between an ANN index that
    fits executor memory and one that spills).

    COSINE over quantized vectors needs no dequantization: the scales
    cancel in dot/(|a||b|), so the existing top-k operators run
    directly on ``q_col`` (tests measure recall vs the exact ranking).
    Pure JVM higher-order expressions; quantize_sql is the DuckDB
    mirror (same epsilon-nudged HALF-UP rounding → exact parity).
    """
    v = F.col(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0), lambda a, b: F.greatest(a, b),
    )
    scale = F.when(amax == F.lit(0.0), F.lit(1.0)).otherwise(amax / F.lit(127.0))
    d = df.withColumn(scale_col, scale)
    return d.withColumn(
        q_col,
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") / F.col(scale_col) + F.lit(1e-9))
            .cast("tinyint"),
        ),
    )


def quantize_sql(vec: str, q: str = "q_vec", scale: str = "q_scale") -> str:
    """DuckDB mirror of quantize_embeddings: SELECT-list fragments
    computing the identical scale and int8 codes."""
    amax = f"list_aggregate(list_transform({vec}, x -> abs(CAST(x AS DOUBLE))), 'max')"
    # COALESCE: DuckDB's list max of an EMPTY list is NULL where
    # Spark's aggregate returns the 0.0 initializer — both must land
    # on scale 1.0 for empty vectors
    s = (f"(CASE WHEN {vec} IS NULL THEN NULL "
         f"WHEN COALESCE({amax}, 0.0) = 0.0 THEN 1.0 "
         f"ELSE {amax} / 127.0 END)")
    codes = (f"list_transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) / {s} "
             f"+ 1e-9) AS TINYINT))")
    return f"{s} AS {scale}, {codes} AS {q}"

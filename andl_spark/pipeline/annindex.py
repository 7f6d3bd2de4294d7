"""Persisted IVF index — ANN as a STORED artifact (r8).

``topk_ivf_det`` assigns the corpus per CALL. Fine for a one-shot job;
wrong at 100 TB, where one corpus serves many query batches: every
call re-scans and re-quantizes all N vectors. The index here is the
assignment paid ONCE — a parquet tree PARTITIONED BY CELL plus a small
JSON meta holding the quantizer — so a query batch reads ONLY its
probed cells from storage. The probe filter lands in the scan's
PartitionFilters (plan-asserted in tests): at nprobe/nlist = 8%, 92%
of the index bytes are never opened. That is the actual IVF promise
(FAISS's on-disk IndexIVF, re-expressed as a Spark-native partitioned
table); the per-call path only ever delivered the compute half.

Layout (every path through :mod:`andl_spark.fsio` — local, file://,
hdfs://, s3a://)::

    <path>/data/_pointer.v<N>.json       current generation (rename-free
                                         versioned commit — andl_spark.pointer)
    <path>/data/gen=N/_meta.json         quantizer + params + calibration
    <path>/data/gen=N/_batch_id=…/list_id=…   (id, vector) rows

The data tree IS a streaming-index generation tree (r8b): build
seeds ``gen=1`` and flips the pointer (seed_neardup_index), appends
commit their own ``_batch_id`` partitions with dynamic overwrite and
the compaction-race re-resolve loop (commit_batch_partitions), and
``compact_ivf_index`` folds batch partitions atomically behind the
generation pointer — the ENTIRE maintenance plane (atomic flips,
retained prior generation, carry-over of concurrently-committed
batches, replay idempotence) is inherited from the near-dup index's
tested protocol rather than re-implemented, with
``part_cols=("_batch_id", "list_id")`` nesting the cell partitions
under the batch dirs so probe-time partition pruning keeps working.
Appended vectors quantize against the STORED centroids (standard IVF
practice — cells drift as the corpus grows; rebuild when the recall
gauge says so). The quantizer — flat or two-level — is one
:class:`~andl_spark.pipeline.simsearch.CoarseQuantizer`: build resolves
it and writes its meta keys, and append, gauge, serve, kNN join and
the PQ code paths read it back with ``CoarseQuantizer.from_meta``, so
no function here branches on the quantizer kind.

Lifecycle (r9): the pointer commits RENAME-FREE
(:mod:`andl_spark.pointer` — object-store safe); ``ivf_index_delete``
tombstones vectors (queries antijoin, compaction physically removes);
``measure_ivf_recall`` re-measures recall under the frozen quantizer
at each compaction and commits the gauge into the meta — the rebuild
trigger is a stored number, and ``build_ivf_index(carry_appended=
True)`` is the rebuild that keeps streamed vectors; hot cells write
salted (``_cell_shape``); serving reuses the generation's FileIndex
(the measured dominant cost at 4k+ cells — SCALE_r09.md §2).

Reference: david-pfx/Andl has no ANN surface — this extends SURVEY.md
§2.8's similarity-search ops (simsearch.py) with the index-persistence
half of the 100 TB story.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..streaming.events import (
    commit_batch_partitions,
    compact_neardup_index,
    read_neardup_index,
    resolve_neardup_index,
    seed_neardup_index,
)
from ..util import Memo, local_frame
from .simsearch import (
    CoarseQuantizer,
    calibrate_probe,
    _probe_topk,
    _query_side,
    _rank_topk,
    _score_exprs,
)

META_VERSION = 1

#: cell partitions nest under the batch dirs — pruning + maintenance
PART_COLS = ("_batch_id", "list_id")

#: the reserved cell id of DELETION TOMBSTONES (r9; VERDICT r8 item 2):
#: a deleted vector's id lands as a (vec_id, NULL embedding) row in the
#: list_id=-1 partition of the deleting batch — real cell ids are
#: always ≥ 0, probe sets never include -1, so tombstones are invisible
#: to candidate scans and read back with one pruned partition scan.
#: Queries antijoin them; compaction physically removes masked data
#: rows. Reference anchor: relvar DELETE (`update r .where(p)` —
#: sample3.andl §Updates, SURVEY §2.4 row 28) re-expressed for an
#: append-only partitioned index.
TOMBSTONE_LIST = -1

#: target rows per WRITER TASK within one cell (r9; VERDICT r8 "What's
#: wrong" 1): build/append/compact write one task per cell — right for
#: file count, but a hot cell (clustered corpora put >30% of vectors
#: in one cell) became one multi-GB single-task write. Cells above
#: this row count fan out across ceil(rows / this) salt buckets.
SALT_ROWS_PER_TASK = 1_000_000


def _cell_shape(df: DataFrame, rows_per_task: int = SALT_ROWS_PER_TASK,
                key_col: str = "vec_id") -> DataFrame:
    """Shuffle shape for the cell-partitioned writes, with HOT-CELL
    salting: count rows per cell (one map-side-combined aggregation —
    on a parquet-backed frame it reads only the list_id partition
    column; on a freshly-assigned frame it costs one extra assignment
    pass, the same bounded class as the calibration scan), then give
    cell i ``ceil(rows_i / rows_per_task)`` salt buckets keyed by
    ``xxhash64(vec_id)``. Uniform corpora keep width 1 everywhere —
    the one-file-per-cell invariant the r8b pins assert — while a hot
    cell writes across its width in parallel with files-per-cell ≤
    width (plus the maxRecordsPerFile bound on the write itself)."""
    cnts = {r[0]: r[1] for r in df.groupBy("list_id").count().collect()}
    hot = {lid: -(-c // rows_per_task) for lid, c in cnts.items()
           if c > rows_per_task}
    if not hot:
        return df.repartition("list_id")
    if len(hot) > 256:
        # degenerate regime (most cells hot): one uniform width beats
        # a 256+-entry literal map in codegen
        width = F.lit(max(hot.values()))
    else:
        pairs = []
        for lid, w in hot.items():
            pairs += [F.lit(lid), F.lit(w)]
        width = F.coalesce(
            F.element_at(F.create_map(*pairs), F.col("list_id")), F.lit(1))
    return df.repartition(F.col("list_id"),
                          F.pmod(F.xxhash64(F.col(key_col)), width))


def read_ivf_data(spark: SparkSession, path: str) -> DataFrame:
    """The index's CURRENT generation (vec_id, embedding, list_id,
    _batch_id) — resolves the generation pointer like every other
    reader/writer of a streaming index tree."""
    return read_neardup_index(spark, fsio.join(path, "data"))


def _assigned(df: DataFrame, id_col: str, vec_col: str,
              qz: CoarseQuantizer) -> DataFrame:
    """(vec_id, embedding, list_id) under the quantizer ``qz``, with the
    row norm computed ONCE and fed to the flat expression kernel —
    inlining it would re-aggregate the O(dim) norm per centroid (the
    dominant interpreted-HOF cost topk_ivf_det's two-stage projection
    avoids; review r8b). The numpy kernels ignore it, and the optimizer
    prunes the unused column."""
    _norm, _ = _score_exprs(qz.dim)
    return (
        df.select(F.col(id_col).alias("vec_id"),
                  F.col(vec_col).alias("embedding"))
        .withColumn("__n", _norm("embedding"))
        .select("vec_id", "embedding",
                qz.assign("embedding", "__n").alias("list_id"))
    )


def _pq_augment(assigned: DataFrame, qz: CoarseQuantizer,
                pqm: dict) -> DataFrame:
    """Add the PQ columns the write path stores beside each vector:
    ``pq_code`` (m-byte residual code against the cell centroid, under
    the meta's ``pq`` record ``pqm``) and ``vnorm`` (the exact norm the
    ADC denominator divides by). Shared by build, append and the
    streaming ingest (which goes through append)."""
    import numpy as np

    from . import pq as PQ

    _norm, _ = _score_exprs(qz.dim)
    cb = np.asarray(pqm["codebooks"], dtype=np.float64)
    enc = PQ.encode_udf(cb, qz.cell_centroids())
    return (assigned
            .withColumn("vnorm", _norm("embedding"))
            .withColumn("pq_code", enc(F.col("embedding"),
                                       F.col("list_id"))))


def _pq_train_meta(assigned: DataFrame, pq_m: int,
                   qz: CoarseQuantizer) -> dict:
    """Train the residual codebooks on a bounded deterministic sample
    of the assigned corpus (smallest-id rows — the trained_centroids
    seed-rule contract; driver-side numpy, build-time only) and return
    the meta record stored in the generation's ``_meta.json``."""
    import numpy as np

    from . import pq as PQ

    rows = (assigned.select("vec_id", "embedding", "list_id")
            .filter(F.col("list_id").isNotNull())
            .orderBy("vec_id").limit(PQ.PQ_TRAIN_CAP).collect())
    if not rows:
        raise ValueError("build_ivf_index(pq_m=...): empty corpus")
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    L = np.asarray([r["list_id"] for r in rows], dtype=np.int64)
    codebooks = PQ.train_codebooks(X - qz.cell_centroids()[L], pq_m,
                                   seed=42)
    return {"m": pq_m, "ks": PQ.PQ_KS, "dsub": X.shape[1] // pq_m,
            "trained_n": len(rows),
            "codebooks": codebooks.tolist()}


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = None,
    quantizer: str = "seed",
    corpus_count: int | None = None,
    calibrate: float | None = None,
    k: int = 5,
    n1: int | None = None,
    n2: int | None = None,
    carry_appended: bool = False,
    rows_per_task: int = SALT_ROWS_PER_TASK,
    pq_m: int | None = None,
) -> dict:
    """Build the index: resolve the CoarseQuantizer (same rules as
    topk_ivf_det — √N auto-scale via ``nlist=None``), assign every
    corpus vector to its cell, write cell-partitioned parquet and the
    meta JSON (the quantizer's own keys — CoarseQuantizer.meta — plus
    id/vector columns, dim and calibration). ``calibrate=<target
    recall>`` additionally runs calibrate_probe and stores the measured
    probe depth in the meta, so every future query of this index
    defaults to the measured operating point instead of the 8%
    clustered-corpus rule.

    REBUILD CONTRACT (ADVICE r8): calling this on an existing index
    seeds a fresh generation from ``corpus`` ALONE — vectors added
    since the last build via ivf_index_append/ivf_ingest_stream are
    NOT in the new generation unless the caller folds them in. Pass
    ``carry_appended=True`` to do that here: the current generation's
    live rows (appends included, tombstoned ids excluded) are unioned
    into the rebuild input, with ``corpus`` winning id collisions —
    including over tombstones: a rebuild starts from what the caller
    supplies, so re-supplying a deleted id is the deliberate
    resurrection path (deletes are otherwise kill-forever; see
    ivf_index_delete). A plain rebuild without it is the documented
    way to CLEAR tombstones and start from a curated corpus.

    Above the flat clamp (auto-scale with √N > 4096, i.e. N > 16.7M)
    the quantizer is TWO-LEVEL — same rule as topk_ivf_det: ≈√N total
    cells as n1·n2 with n1 ≈ n2 ≈ N^(1/4), assignment two bounded
    matmuls per row instead of √N dots; the combined cell id keeps the
    identical partition layout, so probes prune the same way. Explicit
    ``n1``/``n2`` force the hierarchy at any size. Every later reader
    and writer (append, gauge, serve, PQ) rebuilds the quantizer from
    the stored meta (CoarseQuantizer.from_meta). Returns the meta dict
    (kind: flat | hier).

    ``pq_m`` (r11; VERDICT r10 item 6): store an IVF-PQ residual code
    beside each vector — ``m`` bytes per vector (plus the exact norm)
    encoding the residual against the cell centroid through
    per-sub-quantizer codebooks trained here on a bounded
    deterministic sample (:mod:`andl_spark.pipeline.pq`). Queries of a
    PQ-built index default to ADC candidate scoring over the code
    columns alone (the embedding bytes are never read in the first
    pass) with exact re-rank of the survivors — see topk_ivf_index's
    ``use_pq``/``rerank``. Appends and the streaming ingest encode
    against the STORED codebooks, like centroids."""
    if carry_appended:
        spark = corpus.sparkSession
        data_root = fsio.join(path, "data")
        from ..streaming.events import _read_gen

        if _read_gen(data_root) is not None:
            _, data = read_ivf_snapshot(spark, path)
            live = (
                data.filter(F.col("list_id") != TOMBSTONE_LIST)
                .join(_tombstone_ids(data), "vec_id", "left_anti")
                .select(F.col("vec_id").alias(id_col),
                        F.col("embedding").alias(vec_col))
                # corpus wins id collisions: the caller's row is fresher
                .join(corpus.select(F.col(id_col)), id_col, "left_anti")
            )
            corpus = corpus.select(id_col, vec_col).unionByName(live)
            corpus_count = None  # force a recount of the union
    qz = CoarseQuantizer.resolve(corpus, id_col, vec_col, nlist, n1, n2,
                                 corpus_count, quantizer)
    if not qz.top:
        # fail HERE, not as an opaque array-index error on the first
        # append/query of a meta with nlist=0 (review r8b); the
        # cold-start pattern for ANN is build-on-first-corpus, unlike
        # the near-dup index whose empty seed is meaningful
        raise ValueError("build_ivf_index: empty corpus — an IVF index "
                         "needs at least one vector to quantize against")
    calibration = None
    if calibrate is not None:
        calibration = calibrate_probe(corpus, id_col, vec_col, k=k,
                                      target_recall=calibrate, quantizer=qz)
    assigned = _assigned(corpus, id_col, vec_col, qz)
    meta = {"version": META_VERSION, **qz.meta(), "id_col": id_col,
            "vec_col": vec_col, "dim": qz.dim, "calibration": calibration}
    if pq_m:
        meta["pq"] = _pq_train_meta(assigned, pq_m, qz)
        assigned = _pq_augment(assigned, qz, meta["pq"])
    # one shuffle on the cell id so each cell is written by exactly
    # one task: without it every map task writes every cell — measured
    # 32,000 files (32 tasks x 1000 cells) at 1M vectors, a listing/
    # open-cost tax on every probe; with it, files == cells for
    # uniform corpora, and hot cells fan out (_cell_shape, r9)
    assigned = _cell_shape(assigned, rows_per_task)
    # the meta commits INSIDE the generation, before the pointer flip:
    # a rebuild (new quantizer) can never leave a reader pairing the
    # new generation's cells with the old generation's centroids
    seed_neardup_index(assigned, fsio.join(path, "data"),
                       part_cols=PART_COLS,
                       meta_files={"_meta.json": json.dumps(meta)},
                       max_records_per_file=rows_per_task)
    _invalidate_meta_cache(path)
    _invalidate_data_cache(path)
    return meta


#: parsed metas per (index path, generation dir): a generation is
#: immutable once flipped to, so its meta parses once — without this,
#: every query and every streaming micro-batch re-json.loads the
#: quantizer (the hier C2 tensor is n1·n2·dim doubles — ~100 MB of
#: JSON at the 16.7M+ auto-dispatch regime with dim 1024). The
#: fingerprint is the meta FILE's (path, mtime, length): a delete-and-
#: rebuild at the same path restarts generation numbering, so the key
#: alone would serve the previous index's quantizer to a process that
#: never saw the rebuild (ADVICE r8).
_META_CACHE = Memo(32)


def _invalidate_meta_cache(path: str) -> None:
    """Drop cached metas for ``path``. Every build_ivf_index calls this
    in-process; a rebuild by another driver is caught by the meta
    file's fingerprint."""
    _META_CACHE.drop(lambda k: k[0] == path)


def _meta_at(path: str, gen_dir: str) -> dict:
    p = fsio.join(gen_dir, "_meta.json")
    try:
        ident = (p,) + fsio.stat(p)
    except OSError:
        ident = None  # racing delete: parse uncached
    return _META_CACHE.get((path, gen_dir),
                           lambda: json.loads(fsio.read_text(p)), ident)


#: generation DataFrames per (application, index path, generation
#: dir). A fresh spark.read.parquet pays a partition-discovery job over
#: every cell × batch leaf dir (one LIST each — the dominant serve cost
#: at 4k+ cells, thousands of LIST calls per query on an object store);
#: the cached frame's FileIndex holds that listing. The fingerprint is
#: each top-level batch dir's (name, mtime, length), not the name set
#: alone (ADVICE r9): a foreachBatch replay rewrites an existing
#: ``_batch_id=N`` with new part files, and a delete under an existing
#: batch id adds a tombstone leaf; both keep the names but bump the
#: batch dir's mtime. In-process writers also drop their entries
#: (:func:`_invalidate_data_cache`). On URI paths directory mtimes may
#: be synthetic, so another driver's replay or delete changes no
#: fingerprint: those entries expire after :data:`_DATA_CACHE_TTL_URI`
#: seconds, so cross-process writes converge within a known window
#: (ADVICE r10).
_DATA_CACHE = Memo(8)

#: staleness bound for URI-path entries of _DATA_CACHE
_DATA_CACHE_TTL_URI = 30.0


def _invalidate_data_cache(path: str) -> None:
    """Drop cached generation DataFrames for ``path`` — every
    in-process writer (build, append, delete, compact) calls this so a
    later read never serves a FileIndex listing files the write just
    replaced (ADVICE r9)."""
    _DATA_CACHE.drop(lambda k: k[1] == path)


def _batch_dirs_ident(gen_dir: str) -> tuple | None:
    """(name, mtime, length) per top-level batch dir — the data cache's
    fingerprint — or None when a stat raced a concurrent delete, so
    that read is served uncached."""
    out = []
    for n in sorted(n for n in fsio.listdir(gen_dir)
                    if n.startswith("_batch_id=")):
        try:
            out.append((n,) + fsio.stat(fsio.join(gen_dir, n)))
        except OSError:
            return None
    return tuple(out)


def _has_tombstones(gen_dir: str) -> bool:
    """Does the generation hold a tombstone partition? One listdir per
    top-level batch dir — bounded by the batch count, the same class
    as _batch_dirs_ident's pass. Replaces the driver-side enumeration
    of EVERY data file via ``DataFrame.inputFiles()`` (VERDICT r10
    item 5: at a 100 TB generation that is millions of path strings in
    driver memory for what is a directory-existence question)."""
    tomb = f"list_id={TOMBSTONE_LIST}"
    for n in fsio.listdir(gen_dir):
        if (n.startswith("_batch_id=")
                and tomb in fsio.listdir(fsio.join(gen_dir, n))):
            return True
    return False


def _snapshot_full(spark: SparkSession, path: str):
    """(meta, data, has_tombstones) — read_ivf_snapshot plus the cached
    tombstone-partition flag the serve path branches on."""
    gen_dir = resolve_neardup_index(fsio.join(path, "data"))
    df, tombs = _DATA_CACHE.get(
        (spark.sparkContext.applicationId, path, gen_dir),
        lambda: (spark.read.parquet(gen_dir), _has_tombstones(gen_dir)),
        _batch_dirs_ident(gen_dir),
        ttl=_DATA_CACHE_TTL_URI if fsio._is_uri(gen_dir) else None)
    return _meta_at(path, gen_dir), df, tombs


def read_ivf_snapshot(spark: SparkSession, path: str):
    """(meta, data) resolved from ONE pointer read, so the quantizer
    and the cells come from the SAME generation — resolving them
    separately opens a window where a concurrent rebuild flips the
    pointer in between and a reader pairs one generation's centroids
    with another's cells (review r8b; the torn pairing the in-
    generation meta commit exists to prevent). The data frame is
    served from the generation-scoped cache above; appends, deletes,
    compactions and same-batch replays all change the batch-dir stat
    identity (or invalidate in-process, or age out of the URI TTL)
    and therefore miss it."""
    meta, df, _ = _snapshot_full(spark, path)
    return meta, df


def read_ivf_meta(path: str) -> dict:
    """Quantizer meta of the CURRENT generation — resolved through the
    same pointer as the data, so meta and cells always agree (the meta
    sidecar commits with its generation; compaction carries it). For a
    meta + data pair use read_ivf_snapshot (one pointer read)."""
    gen_dir = resolve_neardup_index(fsio.join(path, "data"))
    return _meta_at(path, gen_dir)


def ivf_index_append(
    batch: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_task: int = SALT_ROWS_PER_TASK,
) -> None:
    """Append a batch against the STORED centroids, into its own
    ``_batch_id`` partitions with dynamic overwrite — a replay of the
    same batch_id rewrites exactly its partitions (the streaming
    ingest contract; usable directly inside foreachBatch).

    Each attempt resolves the generation ONCE and takes both the
    quantizer and the write target from it; after the write it
    re-resolves and, if the pointer moved (compaction OR a rebuild
    with a NEW quantizer), re-assigns under the new generation's meta
    and re-commits — the commit_batch_partitions re-resolve protocol,
    strengthened to re-QUANTIZE because a rebuild changes what the
    cell ids mean (review r8b: committing stale-centroid rows into a
    rebuilt generation would make those vectors unfindable forever)."""
    from ..streaming.events import _held_marker

    data_root = fsio.join(path, "data")
    # resolved before the marker exists (as commit_batch_partitions
    # does), so an unbuilt path raises and leaves nothing behind
    try:
        gen_dir = resolve_neardup_index(data_root)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"{path}: no IVF index — build it with build_ivf_index "
            "first") from None
    # in-flight marker: the quiesce signal compact waits on before its
    # flip — the same no-double-writer protocol as the near-dup ingest
    # (see compact_neardup_index's r8b hardening note); _held_marker
    # refreshes the mtime during long write jobs (ADVICE r9)
    try:
        with _held_marker(data_root, batch_id):
            _append_loop(batch, path, data_root, gen_dir, batch_id,
                         id_col, vec_col, rows_per_task)
    finally:
        # in a FINALLY (review r10): a failure after the write already
        # replaced this batch's files must still drop the cached
        # FileIndex — on object stores the stat identity is synthetic
        # and cannot catch it cross-call
        _invalidate_data_cache(path)


def _append_loop(batch, path, data_root, gen_dir, batch_id, id_col,
                 vec_col, rows_per_task):
    while True:
        meta = _meta_at(path, gen_dir)
        qz = CoarseQuantizer.from_meta(meta)
        assigned = _assigned(batch, id_col, vec_col, qz)
        if meta.get("pq"):
            # encode against the STORED codebooks — the same frozen-
            # quantizer contract appends already follow for centroids
            assigned = _pq_augment(assigned, qz, meta["pq"])
        (
            _cell_shape(assigned, rows_per_task)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_task)  # bound files
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PART_COLS)
            .parquet(gen_dir)
        )
        cur = resolve_neardup_index(data_root)
        if cur == gen_dir:
            return
        gen_dir = cur


def ivf_index_delete(ids, path: str, batch_id: int,
                     id_col: str | None = None,
                     spark: SparkSession | None = None) -> None:
    """Delete vectors from the persisted index (r9; VERDICT r8 item 2
    — the pipeline's own dedup decides losers; before this, a deduped
    document's vector stayed probe-able forever). ``ids`` is a
    DataFrame holding the ids (``id_col`` defaults to the index's) or
    a plain Python list (pass ``spark``).

    Mechanics: one tombstone row (vec_id, NULL embedding) per id lands
    in the ``list_id=-1`` partition of this batch via the same
    marker + dynamic-overwrite + re-resolve commit every append uses —
    replay-idempotent per batch_id, safe beside concurrent compaction,
    and valid across a racing REBUILD unchanged (a tombstone masks an
    id, which no quantizer change re-interprets). Queries antijoin the
    tombstone set; :func:`compact_ivf_index` physically removes masked
    data rows from folded batches.

    Semantics are KILL-FOREVER per id (the FAISS ``remove_ids``
    contract): a later append of the same vec_id stays masked —
    re-ingesting a reversed deletion needs a new vec_id or a rebuild
    (whose fresh corpus carries no tombstones). Tombstone rows
    themselves are retained through compaction — dropping one is only
    safe when its target can never reappear, and a late-carried batch
    or a replayed kept batch can re-deliver data rows at any time; at
    a handful of bytes per deleted id the mask set stays negligible
    next to the vectors it replaces, and a rebuild clears it."""
    if not isinstance(ids, DataFrame):
        if spark is None:
            raise ValueError("ivf_index_delete: pass ids as a DataFrame "
                             "or provide spark= with a Python list")
        ids = local_frame(spark, [(int(i),) for i in ids], "vec_id long")
        id_col = id_col or "vec_id"
    spark = ids.sparkSession
    meta, data = read_ivf_snapshot(spark, path)
    id_col = id_col or meta["id_col"]
    # tombstone rows conform to the index's FULL schema (r11: PQ-built
    # indexes carry pq_code/vnorm columns — a narrower tombstone file
    # would make the generation's parquet schema ambiguous): vec_id +
    # the reserved cell id, every other column NULL of its stored type
    cols = []
    for f in data.schema.fields:
        if f.name in ("_batch_id",):
            continue
        if f.name == "vec_id":
            cols.append(F.col("vec_id"))
        elif f.name == "list_id":
            cols.append(F.lit(TOMBSTONE_LIST).alias("list_id"))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    tomb = (ids.select(F.col(id_col).alias("vec_id")).distinct()
            .select(*cols))
    try:
        commit_batch_partitions(tomb, batch_id, fsio.join(path, "data"),
                                part_cols=PART_COLS)
    finally:
        # a delete under an ALREADY-EXISTING batch id adds only a leaf
        # tombstone dir — invalidate (even on failure after the write)
        # so a cached FileIndex can't keep serving deleted vectors
        # (ADVICE r9 + review r10)
        _invalidate_data_cache(path)


def _tombstone_ids(data: DataFrame) -> DataFrame:
    """Distinct deleted vec_ids in an index frame — one partition-
    pruned scan of the ``list_id=-1`` dirs."""
    return (data.filter(F.col("list_id") == TOMBSTONE_LIST)
            .select("vec_id").distinct())


#: corpus rows the recall gauge exhaustively scores against (r10;
#: VERDICT r9 item 2): the r9 gauge re-scored holdout × N cosines at
#: every compaction — the dominant slice of the 20M rehearsal's
#: 1227.8 s compact. Same bounded class as the quantizer-training
#: sample caps (simsearch). The estimate is CONSERVATIVE: a uniform
#: row subsample's true top-k are farther neighbors than the full
#: corpus's, and nearer neighbors are likelier to share the query's
#: probed cells — so sampled recall reads low, never high, and the
#: decay trigger fires earlier, never later.
GAUGE_SAMPLE_ROWS = 262_144


def measure_ivf_recall(spark: SparkSession, path: str,
                       n_holdout: int = 32,
                       holdout: DataFrame | None = None,
                       sample_rows: int | None = GAUGE_SAMPLE_ROWS) -> dict:
    """Measure the index's CURRENT recall under its FROZEN quantizer
    (r9; VERDICT r8 item 4 — annindex's own 'rebuild when the
    calibration's measured recall decays' advice, made measurable):
    appends quantize against the stored centroids, so after 10× growth
    or a distribution shift the build-time calibration silently
    overstates recall. One exhaustive holdout pass (the calibrate_probe
    machinery — exact recall at every depth, cost O(h·N), a
    maintenance-job expense) against the live rows, with the holdout
    defaulting to the NEWEST appended batch's vectors — the traffic
    most likely to have drifted off the build-time corpus; pass
    ``holdout=`` to gauge external query traffic instead.

    Returns a gauge record: the fresh smallest depth reaching the
    stored target (``measured_nprobe``/``measured_p1``), the exact
    recall AT the stored operating point (``recall_at_stored``), and
    ``decayed`` = that recall fell below the stored target — the
    rebuild trigger as a number. :func:`compact_ivf_index` runs this
    beside each compaction (when the index stores a calibration and
    has appended batches) and commits it into the new generation's
    ``_meta.json`` next to the build-time calibration.

    ``sample_rows`` (r10; VERDICT r9 item 2): above this many live
    rows the exhaustive pass runs against a DETERMINISTIC
    xxhash64(vec_id) row sample instead of the whole corpus — gauge
    cost becomes O(holdout × sample) instead of O(holdout × N), a 76×
    cut at the 20M rehearsal's geometry. The sampled reading is a
    conservative (biased-low) estimate — see GAUGE_SAMPLE_ROWS — and
    the gauge record says when and how it sampled (``sampled_n`` /
    ``corpus_n``). ``sample_rows=None`` forces the exhaustive pass."""
    meta, data = read_ivf_snapshot(spark, path)
    cal = meta.get("calibration")
    target = cal["target"] if cal else 0.9
    k = cal["k"] if cal else 5
    live = (data.filter(F.col("list_id") != TOMBSTONE_LIST)
            .join(_tombstone_ids(data), "vec_id", "left_anti")
            .select("vec_id", "embedding", "_batch_id"))
    holdout_batch = None
    if holdout is None:
        bids = [r[0] for r in live.select("_batch_id").distinct().collect()]
        appended = [b for b in bids if b >= 0]
        if appended:
            holdout_batch = max(appended)
            holdout = live.filter(F.col("_batch_id") == holdout_batch)
    corpus = live.drop("_batch_id")
    corpus_n = sampled_n = None
    if sample_rows is not None:
        # column-pruned count (vec_id/list_id only — embeddings unread)
        corpus_n = corpus.count()
        if corpus_n > sample_rows:
            denom = 1_000_000
            thresh = max(1, int(denom * sample_rows / corpus_n))
            corpus = corpus.filter(
                F.pmod(F.xxhash64(F.col("vec_id")), F.lit(denom)) < thresh)
            sampled_n = corpus.count()
    qz = CoarseQuantizer.from_meta(meta)
    stored = cal[qz.depth_key] if cal else None
    rec = calibrate_probe(
        corpus, "vec_id", "embedding", k=k, target_recall=target,
        n_holdout=n_holdout, quantizer=qz, holdout=holdout,
        report_depths=(stored,) if stored else ())
    fresh = rec[qz.depth_key]
    at_stored = (rec.get("at_depths", {}).get(stored)
                 if stored is not None else None)
    gauge = {
        "kind": rec["kind"],
        "measured_" + qz.depth_key: fresh,
        "stored": stored,
        "recall_at_stored": at_stored,
        "target": target, "k": k,
        "n_holdout": rec["n_holdout"],
        "holdout_batch": holdout_batch,
        "decayed": (at_stored is not None and at_stored < target),
    }
    if sampled_n is not None:
        # the reading came from a row sample: conservative (biased
        # low — see GAUGE_SAMPLE_ROWS), recorded so a reader of the
        # meta knows the estimate's basis
        gauge["corpus_n"] = corpus_n
        gauge["sampled_n"] = sampled_n
    if gauge["decayed"]:
        import logging

        logging.getLogger(__name__).warning(
            "ivf index %s recall decayed: %.4f at stored depth %s "
            "(target %.2f) — measured depth for target is now %s; "
            "consider build_ivf_index(carry_appended=True)",
            path, at_stored, stored, target, fresh)
    return gauge


#: dirty-cell fraction above which the incremental plan folds every
#: cell in one pass instead of isin-pruning + per-cell copies (a
#: scattered append dirties most cells; the copies then cost more
#: than they save — measured at the toy smoke: all-dirty incremental
#: 1.3× the plain full fold before this fallback)
INCREMENTAL_MAX_DIRTY_FRAC = 0.5


def _incremental_fold_plan(raw: DataFrame, max_bid, src: str):
    """The dirty-cell compaction plan (r10; VERDICT r9 item 1): the
    r9 compact folded the ENTIRE generation — at the 20M rehearsal,
    1227.8 s to rewrite all rows even when one batch had landed in a
    few cells; at 100 TB that is a corpus rewrite per compaction. A
    cell's folded content can only differ from its current seed files
    when (a) a non-kept batch delivered rows into it, or (b) a
    tombstone masks one of its rows. So:

    - DIRTY CELLS are found with a column-pruned scan of (vec_id,
      list_id, _batch_id) alone — parquet never reads the embedding
      bytes for this — and collected driver-side (bounded by nlist);
    - the fold reads and rewrites ONLY dirty cells' full rows (the
      ``isin`` lands in PartitionFilters, so clean cells' bytes are
      never opened) plus the always-rewritten tombstone partition;
    - every CLEAN seed cell and the kept max batch carry into the new
      generation VERBATIM via fsio.copy_tree — hardlinks on POSIX, a
      byte copy (no decode, no shuffle) elsewhere.

    Semantics are row-identical to the full fold by construction: a
    clean cell's seed files already hold exactly its live rows
    (pinned in tests/test_annindex.py against the full fold).

    SCATTERED-CHURN FALLBACK: when the dirty fraction exceeds
    :data:`INCREMENTAL_MAX_DIRTY_FRAC` (a widely-scattered append
    touches every cell), the per-cell copies and the isin filter buy
    nothing over the full fold — the plan then folds EVERY cell in one
    pass (still carrying the kept max batch verbatim, which the full
    fold used to rewrite). Either way the committed generation is
    row-identical."""
    slim = raw.select("vec_id", "list_id", "_batch_id")
    has_kept = max_bid is not None and max_bid >= 0
    fold_slim = (slim.filter(F.col("_batch_id") != max_bid)
                 if has_kept else slim)
    # the APPEND-ONLY fast path (r10): with no tombstone partition
    # anywhere in the generation, masked-row detection is skipped
    # entirely, so the dirty scan touches only the batch partitions
    # (partition-pruned) instead of semi-joining every seed row's
    # vec_id against the tombstone set. r11 (VERDICT r10 item 5): the
    # check is one listdir per batch dir — not a driver-side listing
    # of every data file via inputFiles()
    tomb_exists = _has_tombstones(src)
    dirty_df = (
        fold_slim.filter((F.col("_batch_id") >= 0)
                         & (F.col("list_id") != TOMBSTONE_LIST))
        .select("list_id"))
    tomb = None
    if tomb_exists:
        # tombstones from ALL batches (kept included) mask folded
        # rows — the same set _full_fold_plan uses
        tomb = (raw.filter(F.col("list_id") == TOMBSTONE_LIST)
                .select("vec_id").distinct())
        dirty_df = dirty_df.unionByName(
            fold_slim.filter(F.col("list_id") != TOMBSTONE_LIST)
            .join(tomb, "vec_id", "left_semi").select("list_id"))
    dirty = sorted(r[0] for r in dirty_df.distinct().collect())
    dirty_set = set(dirty)

    seed_cells = {
        int(n.split("=", 1)[1])
        for n in fsio.listdir(fsio.join(src, "_batch_id=-1"))
        if n.startswith("list_id=")}
    all_cells = (seed_cells | dirty_set) - {TOMBSTONE_LIST}
    fold_all = (len(all_cells) == 0
                or len(dirty_set) > INCREMENTAL_MAX_DIRTY_FRAC
                * len(all_cells))

    fold_src = (raw.filter(F.col("_batch_id") != max_bid)
                if has_kept else raw)
    live = fold_src.filter(F.col("list_id") != TOMBSTONE_LIST)
    if not fold_all:  # prune the scan to dirty cells only
        live = live.filter(F.col("list_id").isin(dirty))
    if tomb is not None:
        live = live.join(tomb, "vec_id", "left_anti")
        rows = live.unionByName(
            fold_src.filter(F.col("list_id") == TOMBSTONE_LIST))
    else:
        rows = live  # append-only: nothing masked, nothing to retain
    rows = rows.drop("_batch_id").withColumn("_batch_id", F.lit(-1))

    copy_rel = []
    if not fold_all:
        for cid in sorted(seed_cells):
            if cid not in dirty_set and cid != TOMBSTONE_LIST:
                copy_rel.append(fsio.join("_batch_id=-1",
                                          f"list_id={cid}"))
    if has_kept:
        copy_rel.append(f"_batch_id={max_bid}")
    return rows, copy_rel


def _full_fold_plan(raw: DataFrame, max_bid, src: str):
    """The full fold: EVERY non-kept row folds into the seed partition,
    with each live row whose id any batch (kept included) tombstoned
    physically removed and the tombstone rows themselves folded along;
    the kept max batch is rewritten as-is and nothing is copied. The
    independent reference the dirty-cell plan is pinned against, and
    the fold that re-shapes cold cells' files after heavy churn."""
    has_kept = max_bid is not None and max_bid >= 0
    fold_src = (raw.filter(F.col("_batch_id") != max_bid)
                if has_kept else raw)
    live = (fold_src.filter(F.col("list_id") != TOMBSTONE_LIST)
            .join(_tombstone_ids(raw), "vec_id", "left_anti"))
    rows = (live.unionByName(
        fold_src.filter(F.col("list_id") == TOMBSTONE_LIST))
        .drop("_batch_id").withColumn("_batch_id", F.lit(-1)))
    if has_kept:
        rows = rows.unionByName(raw.filter(F.col("_batch_id") == max_bid))
    return rows, []


def compact_ivf_index(spark: SparkSession, path: str,
                      rows_per_task: int = SALT_ROWS_PER_TASK,
                      gauge: bool | None = None,
                      gauge_holdout: int = 32,
                      incremental: bool = True,
                      quiesce_timeout: float = 120.0) -> None:
    """Fold the accumulated ``_batch_id`` partitions into the seed
    partition behind an atomic generation flip — exactly
    compact_neardup_index with the cell-nested layout; see its
    docstring for the full concurrency protocol. Keeps the
    highest-numbered batch as-is (the only one a foreachBatch replay
    can re-deliver); run from ONE maintenance job. The nested layout
    bounds files PER CELL (the fold repartitions on list_id with
    hot-cell salting — see _cell_shape), so there is no target_files
    knob here.

    ``incremental`` (r10, default; VERDICT r9 item 1): fold ONLY the
    cells that batch fragments or tombstone masks actually touched and
    carry every clean cell file into the new generation by
    hardlink/byte-copy — compaction cost becomes proportional to the
    DIRTY FRACTION instead of the corpus (the r9 rehearsal's 1227.8 s
    full fold at 20M is the measured number this removes). Results are
    row-identical to the full fold (``incremental=False``), pinned in
    tests. The full fold (:func:`_full_fold_plan`) remains the right
    tool after heavy churn (most cells dirty) since it also re-shapes
    cold cells' files.

    Tombstoned vectors (ivf_index_delete) are PHYSICALLY removed from
    the folded rows here — the fold antijoins every dirty data row
    against the full tombstone set (folded + kept batches) — while the
    tombstone rows themselves fold into the seed partition and keep
    masking ids that a kept-batch replay or late-carried batch could
    re-deliver (see ivf_index_delete's retention rationale).

    RETENTION BOUNDS at high churn (VERDICT r9 item 8), as functions
    of the append rate a and delete-batch rate d between compactions:
    pointer files ≤ KEEP+1 (= 3) regardless of churn (pointer.commit
    GCs); top-level batch dirs in the live generation grow as a + d
    and collapse to ≤ 2 (seed + kept max batch) at each compaction;
    tombstone ROWS grow with total deletes since the last rebuild
    (≈ 16 bytes/id in parquet — negligible next to the vectors they
    mask) and their FILES collapse to the single folded ``list_id=-1``
    partition per compaction; on-disk generations are always ≤ 2
    (current + retained). Pinned by the high-churn soak in
    tests/test_annindex.py.

    ``gauge`` (r9; VERDICT r8 item 4): None = auto — when the index
    stores a build-time calibration AND has appended batches, run
    :func:`measure_ivf_recall` against the current generation (holdout
    = newest appended batch) and commit the gauge record into the new
    generation's ``_meta.json``, making recall decay a stored number
    instead of a guess. True forces it, False skips it. r10: the gauge
    bounds its corpus pass to a deterministic row sample (see
    measure_ivf_recall), so it no longer dominates compaction."""
    do_gauge = gauge
    if do_gauge is None:
        do_gauge = (read_ivf_meta(path).get("calibration") is not None
                    and any(n.startswith("_batch_id=")
                            and not n.endswith("=-1")
                            for n in fsio.listdir(resolve_neardup_index(
                                fsio.join(path, "data")))))
    meta_overrides = None
    if do_gauge:
        new_meta = dict(read_ivf_meta(path))
        new_meta["gauge"] = measure_ivf_recall(spark, path,
                                               n_holdout=gauge_holdout)
        meta_overrides = {"_meta.json": json.dumps(new_meta)}

    try:
        compact_neardup_index(spark, fsio.join(path, "data"),
                              part_cols=PART_COLS,
                              fold_plan=(_incremental_fold_plan
                                         if incremental
                                         else _full_fold_plan),
                              shape=lambda df: _cell_shape(df,
                                                           rows_per_task),
                              max_records_per_file=rows_per_task,
                              meta_overrides=meta_overrides,
                              quiesce_timeout=quiesce_timeout)
    finally:
        _invalidate_data_cache(path)


def maintain_ivf_index(spark: SparkSession, path: str,
                       target: float | None = None,
                       gauge_holdout: int = 32,
                       rows_per_task: int = SALT_ROWS_PER_TASK) -> dict:
    """The ONE-CALL maintenance pass (r11; VERDICT r10 item 3): the
    recall-decay gauge committed a number into each generation's meta,
    but nothing ACTED on it — 'rebuild when recall decays' was a human
    reading a log line. This closes the loop: compact (which measures
    and commits the gauge), read it back, and when recall at the
    stored operating point fell below ``target`` (default: the
    build-time calibration's own target), trigger the rebuild the
    gauge exists to signal — ``build_ivf_index(carry_appended=True)``
    seeded from the index's OWN live rows, same quantizer kind,
    re-calibrated to the same target, cell count re-derived by the
    auto rule at the CURRENT corpus size (growth is usually WHY recall
    decayed). Run it from the same single maintenance job that owns
    compaction.

    A healthy gauge (or an index with no calibration/appends — the
    gauge has nothing to measure) provably does NOT rebuild (pinned).
    Rebuild semantics follow build_ivf_index's documented contract:
    tombstones clear (deleted ids are already excluded from the live
    rows the rebuild feeds on), appended vectors are kept.

    Returns ``{"gauge": <gauge or None>, "rebuilt": bool,
    "meta": <current meta after the pass>}``."""
    compact_ivf_index(spark, path, rows_per_task=rows_per_task,
                      gauge_holdout=gauge_holdout)
    meta = read_ivf_meta(path)
    gauge = meta.get("gauge")
    cal = meta.get("calibration") or {}
    tgt = target if target is not None else cal.get("target")
    at_stored = (gauge or {}).get("recall_at_stored")
    decayed = (gauge is not None and tgt is not None
               and at_stored is not None and at_stored < tgt)
    if not decayed:
        return {"gauge": gauge, "rebuilt": False, "meta": meta}
    _, data = read_ivf_snapshot(spark, path)
    empty = (data.filter(F.col("list_id") != TOMBSTONE_LIST).limit(0)
             .select(F.col("vec_id").alias(meta["id_col"]),
                     F.col("embedding").alias(meta["vec_col"])))
    new_meta = build_ivf_index(
        empty, path, id_col=meta["id_col"], vec_col=meta["vec_col"],
        quantizer=meta["quantizer"], calibrate=tgt,
        k=cal.get("k", 5), carry_appended=True,
        rows_per_task=rows_per_task)
    return {"gauge": gauge, "rebuilt": True, "meta": new_meta}


def topk_ivf_index(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    mode: str | None = None,
    use_pq: bool | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Query the persisted index: assign each query its ``nprobe``
    nearest cells, then scan ONLY those cells — the probe set is
    collected driver-side (bounded: distinct cell ids across the query
    batch, ≤ nlist ints) and applied as a LITERAL partition filter, so
    the parquet scan prunes unprobed cells before reading a byte
    (plan-asserted: PartitionFilters carries the list_id predicate).
    ``nprobe`` defaults to the stored quantizer's default depth — the
    build's measured calibration when it ran one, else the 8% auto rule
    over the stored cell count; on a two-level index it means p1 —
    probed TOP cells, each contributing all its sub-cells. Every mode
    scans the probed cells through one helper (_probed_scan). Join
    shape and tie-breaking are identical to topk_ivf_det — on an
    unchanged corpus
    the two return the same rows (pinned in tests).

    The query batch is broadcast (the topk_bruteforce contract): bulk
    k-NN over a huge query set — corpus-as-queries included — goes
    through :func:`knn_join`, which shuffles queries by cell instead
    of broadcasting them.

    ``mode="shared"`` (r10; VERDICT r9 item 3 — the SCALE_r09 §2
    residual, where 32 scattered queries probed 66% of a 20M corpus
    and the per-pair scoring expression dominated): group the query
    batch BY PROBED CELL and score each cell's rows against all of its
    probing queries in one vectorized Arrow pass (mapInPandas) with a
    per-chunk top-k cut, so each candidate row is decoded once per
    BATCH and only ≤ k×chunks×queries pairs ever reach the final
    ranking window instead of all |cell|×queries pairs. The numpy
    scoring accumulates dot and norm PER COORDINATE IN ELEMENT ORDER —
    the same left-associated IEEE float64 fold as the JVM expression —
    so cosines are BITWISE IDENTICAL to mode="join" and the row sets
    match exactly (pinned in tests). ``mode=None`` (default)
    AUTO-DISPATCHES: because the results are bitwise identical, the
    choice is purely a cost decision — multi-query batches (2 ..
    SHARED_MAX_QUERIES) take the shared path, single queries and
    oversized batches keep the join (a single query has nothing to
    share; an oversized batch would trip the shared broadcast bound,
    which explicit ``mode="shared"`` still enforces loudly).

    ``use_pq`` / ``rerank`` (r11; VERDICT r10 item 6): an index built
    with ``pq_m=`` defaults to ADC serving — the candidate pass scans
    ONLY (id, pq_code, vnorm, list_id), so the embedding bytes of the
    probed cells are never read (parquet column pruning; at
    production widths that is ~99% of the probed bytes), approximate
    cosines come from m table lookups per candidate, and the top
    ``rerank`` (default max(32, 4k)) survivors per query re-rank
    EXACTLY against their float embeddings through the same JVM
    scoring expression as the exact modes. Recall ≥ 0.9 vs the exact
    path is pinned on clustered and smooth corpora; ``use_pq=False``
    forces the exact modes on a PQ-built index."""
    meta, data, has_tombs = _snapshot_full(spark, path)
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    # scoring: the index KNOWS its dimension, so the dot/norm unroll
    # to fixed-dim codegen'd arithmetic (r9) — bitwise identical to
    # the HOF forms (pinned row-identical to topk_ivf_det), measured
    # 20.2 → 13.9 s on the 20M serve (SCALE_r09 §2)
    qz = CoarseQuantizer.from_meta(meta)
    dim = qz.dim
    _norm, _ = _score_exprs(dim)
    # probe lists computed ONCE: reused for the driver-side
    # partition-filter collect AND the probe join
    q = _query_side(queries, id_col, vec_col, dim).withColumn(
        "probe", qz.probe("qvec", nprobe, "qn")).localCheckpoint()
    cells = sorted({c for r in q.select(
        F.explode("probe").alias("c")).distinct().collect()
        for c in [r["c"]] if c is not None})
    pq = meta.get("pq")
    if use_pq is None:
        use_pq = pq is not None  # a PQ-built index defaults to ADC
    if use_pq:
        if pq is None:
            raise ValueError(
                "topk_ivf_index(use_pq=True): this index stores no PQ "
                "codes — build with build_ivf_index(pq_m=...)")
        return _topk_pq(spark, q, data, cells, k, has_tombs, qz, pq,
                        int(rerank) if rerank else max(32, 4 * k))
    if mode is None or mode == "shared":
        # the shared path is bounded by BYTES, not just query count
        # (r11; VERDICT r10 item 4): at production embedding widths
        # (1024–4096 dims) a full 10k-query batch probing wide is
        # gigabytes of broadcast cellmap, and the per-Arrow-chunk
        # score matrix (chunk rows × probing queries × 8) is
        # similarly unbounded by the count alone. Estimate both from
        # the checkpointed query frame (two tiny aggs) and dispatch
        # to the join path — or refuse an explicit mode="shared" —
        # above the bounds.
        n_q = q.limit(SHARED_MAX_QUERIES + 1).count()
        why = None
        if n_q > SHARED_MAX_QUERIES:
            why = (f"query batch exceeds {SHARED_MAX_QUERIES} — the "
                   "per-cell query matrices are broadcast to every "
                   "task, so an unbounded batch is a driver/executor "
                   "memory hazard")
        else:
            row = (q.select(F.explode("probe").alias("c"))
                   .groupBy("c").count()
                   .agg(F.sum("count").alias("p"),
                        F.max("count").alias("m")).collect()[0])
            n_pairs, max_per_cell = int(row["p"] or 0), int(row["m"] or 0)
            arrow_rows = int(spark.conf.get(
                "spark.sql.execution.arrow.maxRecordsPerBatch",
                "10000") or 10000)
            bc_bytes = n_pairs * dim * 8  # one query vector per probe
            chunk_bytes = max_per_cell * arrow_rows * 8
            if bc_bytes > SHARED_MAX_BC_BYTES:
                why = (f"estimated broadcast {bc_bytes >> 20} MiB "
                       f"(queries × probes × dim × 8) exceeds "
                       f"{SHARED_MAX_BC_BYTES >> 20} MiB")
            elif chunk_bytes > SHARED_MAX_CHUNK_BYTES:
                why = (f"estimated per-chunk score matrix "
                       f"{chunk_bytes >> 20} MiB (max queries/cell × "
                       f"Arrow chunk rows × 8) exceeds "
                       f"{SHARED_MAX_CHUNK_BYTES >> 20} MiB")
        if mode == "shared" and why is not None:
            raise ValueError(
                f"topk_ivf_index(mode='shared'): {why}. Use mode='join' "
                "for this batch, or knn_join for bulk corpus-scale "
                "top-k.")
        if mode is None:
            mode = "shared" if (1 < n_q and why is None) else "join"
    if mode == "shared":
        return _topk_shared(spark, q, data, cells, k, has_tombs)
    if mode != "join":
        raise ValueError(f"unknown mode {mode!r} (join | shared)")
    # same generation as the meta above (one pointer read); zero-norm
    # vectors (padding/null-embedding artifacts) have no defined cosine
    # — under ANSI mode the division would ABORT the whole serve
    # (review r10); they are unservable by contract, in every mode
    c = _probed_scan(data, cells, has_tombs,
                     F.col("embedding").alias("cvec"),
                     _norm("embedding").alias("cn"), "list_id"
                     ).filter(F.col("cn") != 0)
    qx = q.filter(F.col("qn") != 0).select(
        "query_id", "qvec", "qn", F.explode("probe").alias("list_id"))
    return _probe_topk(qx, c, "list_id", k, dim)


#: query-batch bound for mode="shared" (the topk_bruteforce contract):
#: every task holds the broadcast cell→query-matrix map
SHARED_MAX_QUERIES = 10_000

#: byte bounds for mode="shared" (r11; VERDICT r10 item 4): the count
#: bound alone let a wide-dim batch broadcast gigabytes — dispatch
#: estimates queries×probes×dim×8 (the cellmap, which duplicates each
#: query vector once per probed cell) and maxQueriesPerCell×chunkRows×8
#: (the per-Arrow-chunk score matrix) and keeps the join path when
#: either exceeds its bound
SHARED_MAX_BC_BYTES = 256 << 20
SHARED_MAX_CHUNK_BYTES = 256 << 20


def _probed_scan(data: DataFrame, cells: list, has_tombs: bool,
                 *cols) -> DataFrame:
    """The probed cells' live rows as (cand_id, *cols) — the scan every
    serve path starts from. The ``list_id`` isin lands in the parquet
    scan's PartitionFilters, so unprobed cells are never opened; deleted
    vectors (ivf_index_delete) are antijoined against the tombstone set,
    whose scan prunes to the list_id=-1 dirs alone, and only when the
    generation's (cached) listing shows a tombstone partition — the
    common case pays nothing."""
    c = (data.filter(F.col("list_id").isin(cells))
         .select(F.col("vec_id").alias("cand_id"), *cols))
    if has_tombs:
        c = c.join(
            _tombstone_ids(data).withColumnRenamed("vec_id", "cand_id"),
            "cand_id", "left_anti")
    return c


def _topk_shared(spark: SparkSession, q: DataFrame, data: DataFrame,
                 cells: list, k: int, has_tombs: bool) -> DataFrame:
    """The cell-shared batch serve (see topk_ivf_index mode="shared").

    Shape: the probed-cell scan (same PartitionFilters pruning as the
    join mode) feeds mapInPandas; each Arrow chunk groups its rows by
    cell, scores them against the cell's probing queries with
    element-order float64 accumulation (bitwise-equal to the JVM
    fold — see the caller's docstring), cuts to top-k per query per
    chunk under the final (cosine desc, cand_id asc) order — a global
    top-k row is necessarily in its own chunk's top-k under the same
    total order — and the tiny survivor set ranks through the usual
    window. The query batch rides a broadcast variable keyed by cell,
    bounded by the same guard as topk_bruteforce: serving batches are
    small by contract; bulk k-NN goes through the pair operators."""
    import numpy as np

    qrows = q.limit(SHARED_MAX_QUERIES + 1).collect()
    if len(qrows) > SHARED_MAX_QUERIES:
        raise ValueError(
            f"topk_ivf_index(mode='shared'): query batch exceeds "
            f"{SHARED_MAX_QUERIES} — the per-cell query matrices are "
            "broadcast to every task, so an unbounded batch is a "
            "driver/executor memory hazard. Use knn_join for bulk "
            "corpus-scale top-k.")

    percell: dict = {}
    for r in qrows:
        vec = np.asarray(r["qvec"], dtype=np.float64)
        # qn is the JVM-computed left-fold norm collected with the
        # batch — identical to what the join mode divides by (review
        # r10: an earlier cut recomputed it per PROBED CELL in Python)
        qn = float(r["qn"])
        if qn == 0:
            continue  # zero-norm query: no defined cosine (see caller)
        for cell in r["probe"]:
            if cell is not None:
                percell.setdefault(cell, []).append(
                    (r["query_id"], vec, qn))
    cellmap = {
        cell: (np.array([t[0] for t in entries]),
               np.stack([t[1] for t in entries]),
               np.array([t[2] for t in entries], dtype=np.float64))
        for cell, entries in percell.items()
    }
    bc = spark.sparkContext.broadcast(cellmap)

    cand = _probed_scan(data, cells, has_tombs, "embedding", "list_id")

    def _score(batches):
        m = bc.value
        for pdf in batches:
            outs = []
            for cell, grp in pdf.groupby("list_id", sort=False):
                entry = m.get(cell)
                if entry is None:
                    continue
                qids, Q, qn = entry
                C = np.stack([np.asarray(v, dtype=np.float64)
                              for v in grp["embedding"]])
                ids = grp["cand_id"].to_numpy()
                _score_block_np(qids, Q, qn, ids, C, k, outs)
            res = _block_finalize(outs)
            if res is not None:
                yield res

    qt = q.schema["query_id"].dataType.simpleString()
    ct = data.schema["vec_id"].dataType.simpleString()
    pairs = cand.mapInPandas(
        _score, f"query_id {qt}, cand_id {ct}, cosine double")
    return _rank_topk(pairs, k)


def _topk_pq(spark: SparkSession, q: DataFrame, data: DataFrame,
             cells: list, k: int, has_tombs: bool, qz: CoarseQuantizer,
             pqm: dict, rerank: int) -> DataFrame:
    """ADC + exact-re-rank serve for a PQ-built index (see
    topk_ivf_index's ``use_pq``). Two passes:

    1. APPROX: the probed-cell scan reads only (cand_id, pq_code,
       vnorm, list_id) — column pruning never opens the embedding
       bytes — and a mapInPandas kernel scores each cell chunk against
       the cell's probing queries via per-query (m × ks) lookup tables
       (cached per task), keeping the top ``rerank`` per query per
       chunk under (approx desc, cand_id asc); a window cuts the
       global top ``rerank`` survivors per query.
    2. EXACT: survivors (≤ queries × rerank rows — broadcast) join
       their float embeddings and re-score through the same JVM
       expression as the exact modes, so the final cosines, ordering
       and tie-breaks are exactly the join mode's on the surviving
       candidate set.

    The query batch is broadcast (the serving-path contract, same
    bound as mode='shared'); zero-norm and tombstoned candidates are
    unservable as everywhere else."""
    import numpy as np

    from . import pq as PQ

    qrows = q.limit(SHARED_MAX_QUERIES + 1).collect()
    if len(qrows) > SHARED_MAX_QUERIES:
        raise ValueError(
            f"topk_ivf_index(use_pq): query batch exceeds "
            f"{SHARED_MAX_QUERIES}. Use knn_join for bulk corpus-scale "
            "top-k.")
    cc = qz.cell_centroids()
    percell: dict = {}
    for r in qrows:
        vec = np.asarray(r["qvec"], dtype=np.float64)
        qn = float(r["qn"])
        if qn == 0:
            continue
        for cell in r["probe"]:
            if cell is not None:
                # dot(q, c_cell): the exact half of the ADC numerator
                percell.setdefault(cell, []).append(
                    (r["query_id"], vec, qn, float(vec @ cc[cell])))
    cellmap = {
        cell: (np.array([t[0] for t in entries]),
               np.stack([t[1] for t in entries]),
               np.array([t[2] for t in entries], dtype=np.float64),
               np.array([t[3] for t in entries], dtype=np.float64))
        for cell, entries in percell.items()
    }
    cb = np.asarray(pqm["codebooks"], dtype=np.float64)
    bc = spark.sparkContext.broadcast((cellmap, cb))

    cand = _probed_scan(data, cells, has_tombs, "pq_code", "vnorm",
                        "list_id").filter(F.col("pq_code").isNotNull()
                                          & (F.col("vnorm") != 0))

    def _approx(batches):
        m_cellmap, m_cb = bc.value
        lut_cache: dict = {}
        for pdf in batches:
            outs = []
            for cell, grp in pdf.groupby("list_id", sort=False):
                entry = m_cellmap.get(cell)
                if entry is None:
                    continue
                qids, Q, qns, qdc = entry
                codes = np.stack([np.frombuffer(b, dtype=np.uint8)
                                  for b in grp["pq_code"]])
                vn = grp["vnorm"].to_numpy(dtype=np.float64)
                ids = grp["cand_id"].to_numpy()
                for j in range(len(qids)):
                    qid = qids[j]
                    luts = lut_cache.get(qid)
                    if luts is None:
                        luts = PQ.adc_tables(Q[j], m_cb)
                        lut_cache[qid] = luts
                    approx = PQ.adc_score(codes, luts, qdc[j], qns[j],
                                          vn)
                    keep = ids != qid
                    cids, vv = ids[keep], approx[keep]
                    if len(cids):
                        _block_topk(qid, cids, vv, rerank, outs)
            res = _block_finalize(outs, value_name="approx")
            if res is not None:
                yield res

    qt = q.schema["query_id"].dataType.simpleString()
    ct = data.schema["vec_id"].dataType.simpleString()
    approx_pairs = cand.mapInPandas(
        _approx, f"query_id {qt}, cand_id {ct}, approx double")
    survivors = _rank_topk(approx_pairs, rerank, by="approx").select(
        "query_id", "cand_id")

    _norm, _cos = _score_exprs(qz.dim)
    # survivors are already masked: no tombstone antijoin here
    cemb = _probed_scan(data, cells, False, "embedding",
                        _norm("embedding").alias("cn")
                        ).filter(F.col("cn") != 0)
    qv = q.select("query_id", "qvec", "qn")
    exact = (F.broadcast(survivors).join(cemb, "cand_id")
             .join(F.broadcast(qv), "query_id")
             .select("query_id", "cand_id",
                     _cos("qvec", "embedding", "qn", "cn")
                     .alias("cosine")))
    return _rank_topk(exact, k)


def _block_topk(qid, cc, vv, k, outs) -> None:
    """Cut one query's candidate arrays to top-k under
    (value desc, cand_id asc) and append the (qid, ids, values) TUPLE
    to ``outs`` — NO per-query pandas frame: a corpus-as-queries block
    holds hundreds of queries, and building a DataFrame per query was
    the measured dominant kernel cost (200k frame constructions at the
    100k-row profile). ``_block_finalize`` turns the accumulated
    tuples into one frame per Arrow output batch."""
    import numpy as np

    if len(cc) > k:
        # Spark's desc window ranks NaN GREATEST (a zero-norm
        # vector's 0/0 cosine); numpy sorts NaN last — map NaN to
        # -inf on the negated key so all paths keep identical rows
        # (review r10)
        key = np.where(np.isnan(vv), -np.inf, -vv)
        try:
            sel = np.lexsort((cc, key))[:k]
        except TypeError:  # non-numeric ids (object dtype):
            # same total order via python sort
            sel = np.array(sorted(
                range(len(cc)), key=lambda i: (key[i], cc[i]))[:k])
        cc, vv = cc[sel], vv[sel]
    outs.append((qid, cc, vv))


def _block_finalize(outs, value_name: str = "cosine"):
    """One pandas frame from the accumulated (qid, ids, values)
    tuples (see _block_topk), or None when nothing survived."""
    import numpy as np
    import pandas as pd

    if not outs:
        return None
    counts = [len(cc) for _, cc, _ in outs]
    qarr = np.empty(len(outs), dtype=object)
    for i, (qid, _, _) in enumerate(outs):
        qarr[i] = qid
    return pd.DataFrame({
        "query_id": np.repeat(qarr, counts),
        "cand_id": np.concatenate([cc for _, cc, _ in outs]),
        value_name: np.concatenate([vv for _, _, vv in outs]),
    })


def _score_block_np(qids, Q, qn, ids, C, k, outs) -> None:
    """Score one query block × one candidate block and append each
    query's block-local top-k to ``outs`` as (qid, ids, cosines)
    tuples (see _block_topk/_block_finalize). The dot and norm
    accumulate PER COORDINATE IN ELEMENT ORDER — the same
    left-associated IEEE float64 fold as the JVM scoring expression —
    so cosines are BITWISE IDENTICAL to the join mode's (pinned in
    tests). Top-k cuts under the final (cosine desc, cand_id asc)
    total order, so a global top-k row is necessarily in its own
    block's top-k; self-matches and zero-norm candidates are dropped
    (the join mode's scan-side contract). Shared by the cell-shared
    batch serve (_topk_shared) and the bulk kNN join (knn_join)."""
    import numpy as np

    d = C.shape[1]
    S = np.multiply.outer(C[:, 0], Q[:, 0])
    cn = C[:, 0] * C[:, 0]
    for i in range(1, d):
        S += np.multiply.outer(C[:, i], Q[:, i])
        cn += C[:, i] * C[:, i]
    cn = np.sqrt(cn)
    nz = cn != 0  # unservable zero-norm candidates
    if not nz.all():
        cn, ids, S = cn[nz], ids[nz], S[nz]
    if not len(ids):
        return
    cos = S / np.multiply.outer(cn, qn)
    for j in range(len(qids)):
        keep = ids != qids[j]
        cc, vv = ids[keep], cos[keep, j]
        if len(cc):
            _block_topk(qids[j], cc, vv, k, outs)


#: target VECTOR BYTES per cogrouped score block in knn_join: each
#: task materializes one query block × one candidate block in pandas,
#: so both sides salt to ~this many bytes — group memory stays
#: ~2×this regardless of corpus size, dim, or probe skew
KNN_GROUP_BYTES = 64 << 20

#: row cap PER SIDE of one score block: the kernel's cost and memory
#: are the nq×nc PRODUCT, which the byte bound alone does not cap — a
#: hot cell (measured: 31× the mean on the analytic fixture) would put
#: a multi-GB cosine matrix in ONE single-threaded block. 4096×4096
#: doubles = 134 MB matrix, ~1 Gflop per block — big enough to
#: amortize block overhead, small enough that hot cells spread across
#: the salt grid's parallelism.
KNN_BLOCK_ROWS = 4096


def knn_join(
    spark: SparkSession,
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int | None = None,
    id_col: str | None = None,
    vec_col: str | None = None,
    group_bytes: int = KNN_GROUP_BYTES,
) -> DataFrame:
    """Bulk k-NN join over the persisted index (r11; VERDICT r10 item
    1 — the one remaining capability hole): top-k neighbors PER QUERY
    ROW for arbitrarily large query sets — corpus-as-queries included —
    which is what a SemDeDup-style semantic dedup or a kNN-graph build
    needs and neither ``topk_ivf_index`` (broadcast-bounded serving
    batches) nor the pair operators (threshold pairs, not top-k)
    provide. Results are ROW-IDENTICAL to ``topk_ivf_index(
    mode='join')`` at the same ``nprobe`` (pinned in tests): same
    probe rule, same bitwise cosine fold, same (cosine desc, cand_id
    asc) tie-break, same self-match/zero-norm/tombstone contracts.

    Shape — nothing is collected or broadcast at data scale:

    - queries assign to their probed cells SCAN-SIDE via the stored
      quantizer (the same expression serving uses), checkpointed once;
    - the only driver-side materialization is per-cell COUNTS (≤ nlist
      rows — the _cell_shape pattern), which size the salt grid;
    - both sides shuffle BY (cell, query-salt, candidate-salt):
      candidates split into ~``group_bytes`` blocks, queries likewise,
      each side replicated across the other's salt width, so every
      (query, candidate) pair of a probed cell meets in EXACTLY ONE
      cogroup — pairs never materialize as rows;
    - each cogroup scores its blocks with the shared Arrow kernel
      (element-order float64 — bitwise equal to the JVM fold) and cuts
      block-local top-k, so only ≤ k × salt-width rows per query reach
      the final ranking window.

    Group memory is ~2 × group_bytes regardless of corpus size,
    embedding width, or probe skew — a hot cell gets a wider salt
    grid, not a bigger task. Serving-sized batches should keep using
    topk_ivf_index (no shuffle of the query side); this is the
    throughput path.

    Reference anchor: extends SURVEY.md §2.8 (the reference has no ANN
    surface); the fan-out-bounded pair-generation discipline follows
    pipeline/dedup.py's bucketed operators."""
    meta, data, has_tombs = _snapshot_full(spark, path)
    id_col = id_col or meta["id_col"]
    vec_col = vec_col or meta["vec_col"]
    dim = int(meta.get("dim") or 0)
    # assignment computed ONCE (the serving contract): the checkpoint
    # is distributed — O(batch × (dim + nprobe)) across executors,
    # never on the driver
    q = (_query_side(queries, id_col, vec_col, dim)
         .filter(F.col("qn") != 0)
         .withColumn("probe", CoarseQuantizer.from_meta(meta).probe(
             "qvec", nprobe, "qn"))
         .localCheckpoint())

    lid_t = data.schema["list_id"].dataType
    qx = q.select("query_id", "qvec", "qn",
                  F.explode("probe").alias("list_id")) \
        .filter(F.col("list_id").isNotNull()) \
        .withColumn("list_id", F.col("list_id").cast(lid_t))
    # per-cell counts: the ONLY driver-side materialization, bounded
    # by nlist (the _cell_shape pattern) — they size the salt grid
    qcnt = {int(r["list_id"]): int(r["n"]) for r in
            qx.groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
            .collect()}
    cells = sorted(qcnt)
    qt = q.schema["query_id"].dataType.simpleString()
    ct = data.schema["vec_id"].dataType.simpleString()
    out_schema = f"query_id {qt}, cand_id {ct}, cosine double"
    if not cells:
        empty = local_frame(spark, [], out_schema)
        return empty.withColumn("rank", F.lit(0).cast("long"))

    cand = _probed_scan(data, cells, has_tombs, "embedding", "list_id")
    ccnt = {int(r["list_id"]): int(r["count"]) for r in
            cand.groupBy("list_id").count().collect()}

    vec_bytes = max(dim, 1) * 8 + 24
    # rows per block side: the BYTE bound (side vectors fit in the
    # task) AND the ROW cap (the nq×nc score matrix is the real cost —
    # see KNN_BLOCK_ROWS)
    block_rows = max(1, min(group_bytes // vec_bytes, KNN_BLOCK_ROWS))

    def width(n: int) -> int:
        return max(1, -(-n // block_rows))

    wdf = F.broadcast(local_frame(
        spark, [(c, width(qcnt[c]), width(ccnt.get(c, 0))) for c in cells],
        "list_id long, qw int, cw int")
        .withColumn("list_id", F.col("list_id").cast(lid_t)))

    # salt OWN side by id hash; replicate ACROSS the other side's
    # width — full bipartite coverage, each pair in exactly one group
    qg = (qx.join(wdf, "list_id")
          .withColumn("qsalt", F.pmod(F.xxhash64("query_id"),
                                      F.col("qw")).cast("int"))
          .withColumn("csalt", F.explode(
              F.sequence(F.lit(0), F.col("cw") - 1)))
          .select("list_id", "qsalt", "csalt", "query_id", "qvec", "qn"))
    cg = (cand.join(wdf, "list_id")
          .withColumn("csalt", F.pmod(F.xxhash64("cand_id"),
                                      F.col("cw")).cast("int"))
          .withColumn("qsalt", F.explode(
              F.sequence(F.lit(0), F.col("qw") - 1)))
          .select("list_id", "qsalt", "csalt", "cand_id", "embedding"))

    def _score_grp(left, right):
        import numpy as np
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame({"query_id": [], "cand_id": [],
                                 "cosine": []})
        Q = np.stack([np.asarray(v, dtype=np.float64)
                      for v in left["qvec"]])
        qn = left["qn"].to_numpy(dtype=np.float64)
        qids = left["query_id"].to_numpy()
        C = np.stack([np.asarray(v, dtype=np.float64)
                      for v in right["embedding"]])
        ids = right["cand_id"].to_numpy()
        outs: list = []
        _score_block_np(qids, Q, qn, ids, C, k, outs)
        res = _block_finalize(outs)
        if res is None:
            return pd.DataFrame({"query_id": [], "cand_id": [],
                                 "cosine": []})
        return res

    pairs = (qg.groupBy("list_id", "qsalt", "csalt")
             .cogroup(cg.groupBy("list_id", "qsalt", "csalt"))
             .applyInPandas(_score_grp, out_schema))
    return _rank_topk(pairs, k)


def ivf_ingest_stream(stream: DataFrame, path: str, checkpoint: str,
                      id_col: str = "vec_id", vec_col: str = "embedding"):
    """Streaming appends — the ANN-index twin of
    streaming.events.neardup_ingest_stream: each micro-batch quantizes
    against the STORED centroids and commits its own ``_batch_id``
    partitions (replay-idempotent via commit_batch_partitions, safe
    beside a concurrent compact_ivf_index — the same lease-free
    protocol the near-dup crawl loop runs). availableNow trigger;
    caller awaits termination. Steady-state cost scales with the
    batch: one bounded assignment matmul, no corpus re-scan."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_append(batch_df, path, batch_id,
                         id_col=id_col, vec_col=vec_col)

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

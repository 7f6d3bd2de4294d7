"""Structured Streaming over the events table.

The reference engine has no streaming story; this is the Spark-first
upgrade (SURVEY.md §2.7): the same declarative aggregations run over
``readStream`` with watermarks for late data. Every function takes a
DataFrame that may be batch (spark.read) or streaming (spark.readStream)
— the plans are identical, which is the point of Structured Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import local_frame


def read_events_stream(spark, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """events.parquet as a file-source stream (schema from the table's
    parquet footer, as for a batch handle, so starting a stream runs no
    job; pathGlobFilter isolates the table inside the shared dir)."""
    from ..session import footer_schema, restore_nanos

    import os

    path = f"{sf_dir}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, nanos = footer_schema(spark, path, "events")
    if schema is None:
        schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # generated scale dirs: events.parquet IS a directory of part
        # files — stream it directly (one micro-batch per part file)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path)
        )
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(sf_dir)
        )
    return restore_nanos(stream, nanos)


def _watermarked(events: DataFrame, watermark: str) -> tuple[DataFrame, bool]:
    """Watermarks require TIMESTAMP (ltz). NTZ sources are cast for the
    stateful operator and results cast back (identity under UTC session
    tz, which get_spark pins)."""
    if not events.isStreaming:
        return events, False
    is_ntz = dict(events.dtypes).get("ts") == "timestamp_ntz"
    src = events.withColumn("ts", F.col("ts").cast("timestamp")) if is_ntz else events
    return src.withWatermark("ts", watermark), is_ntz


def windowed_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding/hopping) window count/sum
    per event_type. On a stream the watermark bounds state: windows
    older than it are finalized and evicted — mandatory for unbounded
    100 TB/day streams. A sliding window assigns each row to
    window/slide overlapping windows (state grows by that factor)."""
    src, was_ntz = _watermarked(events, watermark)
    start = F.col("w.start").cast("timestamp_ntz") if was_ntz else F.col("w.start")
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(start.alias("window_start"), "event_type", "n", "total_value")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (gap-based). Streaming uses Spark's
    native session_window state machine."""
    src, was_ntz = _watermarked(events, watermark)
    t0 = F.col("w.start").cast("timestamp_ntz") if was_ntz else F.col("w.start")
    t1 = F.col("w.end").cast("timestamp_ntz") if was_ntz else F.col("w.end")
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id", t0.alias("t_start"), t1.alias("t_end"),
            "n_events", "total_value",
        )
    )


def dedup_stream(events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup — the ingest-side counterpart of
    pipeline/dedup.exact_dedup. State is bounded by the watermark
    horizon (`dropDuplicatesWithinWatermark`): exact global dedup over
    an unbounded stream would need unbounded state, so the scalable
    contract is "no duplicate survives within the lateness window" —
    cross-horizon dups are handled by the batch compaction pass.
    Batch input degrades to plain dropDuplicates (same result on
    bounded data)."""
    keys = keys or ["event_id"]
    src, _ = _watermarked(events, watermark)
    if not src.isStreaming:
        return src.dropDuplicates(keys)
    return src.dropDuplicatesWithinWatermark(keys)


def enrich_with_dim(events: DataFrame, dim: DataFrame, on: str, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against
    the (broadcast) dimension snapshot — no streaming state at all,
    which is what makes dimension enrichment free at any stream rate.
    Works identically on batch input (same plan, the Structured
    Streaming contract)."""
    return events.join(F.broadcast(dim), on=on, how=how)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    left_prefix: str = "l",
    right_prefix: str = "r",
) -> DataFrame:
    """Stream-stream windowed inner join (SURVEY §2.7 gap closed in
    r5): each RIGHT event matches LEFT events of the same key whose
    timestamp falls in [right.ts - within, right.ts] — e.g. every
    purchase joined to the clicks that preceded it within the window.

    Scale contract: both sides carry watermarks and the join condition
    carries an explicit event-time range, so Spark bounds the state
    store to watermark + window per side and evicts as event time
    advances — without the range condition a stream-stream join keeps
    EVERY row forever, which is the unbounded-state bug this operator
    exists to avoid. Inner-join results emit eagerly (no watermark
    flush wait), so a drained finite source yields exactly the batch
    answer (asserted in tests). State shuffles once on the key; the
    same code on batch inputs plans the identical join minus the state
    store (the Structured Streaming contract)."""
    lsrc, _ = _watermarked(left, watermark)
    rsrc, _ = _watermarked(right, watermark)
    lcols = [F.col(c).alias(f"{left_prefix}_{c}") for c in lsrc.columns]
    rcols = [F.col(c).alias(f"{right_prefix}_{c}") for c in rsrc.columns]
    lk, rk = f"{left_prefix}_{key}", f"{right_prefix}_{key}"
    lts, rts = f"{left_prefix}_ts", f"{right_prefix}_ts"
    cond = (
        (F.col(lk) == F.col(rk))
        & (F.col(lts) >= F.col(rts) - F.expr(f"INTERVAL {within}"))
        & (F.col(lts) <= F.col(rts))
    )
    return lsrc.select(*lcols).join(rsrc.select(*rcols), on=cond, how="inner")


def asof_enrich_stream(
    stream: DataFrame,
    state: DataFrame,
    on: list[str],
    ts: str,
    value_cols: list[str],
    out_path: str,
    checkpoint: str,
    tie_col: str | None = None,
    tolerance: int | None = None,
):
    """Streaming point-in-time enrichment: each event picks up the
    state row in force AT ITS OWN timestamp (feature-store /
    slowly-changing-dimension lookup) — the streaming twin of
    operators/asof.asof_join.

    Runs the batch as-of join per micro-batch via ``foreachBatch``
    against the static state snapshot. Because each probe row's match
    depends only on that row and the static state, micro-batch
    boundaries are invisible: the streamed result equals the one-shot
    batch as-of join row for row (asserted in tests/test_streaming.py).
    State stays a broadcast-or-shuffle-sized static side — no
    streaming state store at all, so throughput scales like the
    stateless enrichment above. Returns the started query
    (availableNow trigger; caller awaits termination).

    foreachBatch is at-least-once, so the sink write must be
    idempotent: output is partitioned by ``_batch_id`` with dynamic
    partition overwrite — a replayed micro-batch rewrites exactly its
    own partition instead of appending duplicates. Readers that don't
    want the lineage column just drop ``_batch_id``.
    """
    from ..operators.asof import asof_join

    def _enrich(batch_df: DataFrame, batch_id: int) -> None:
        (
            asof_join(
                batch_df, state, on=on, ts=ts, value_cols=value_cols,
                tie_col=tie_col, tolerance=tolerance,
            )
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_path)
        )

    return (
        stream.writeStream.foreachBatch(_enrich)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


#: stem of the versioned pointer files inside an index root naming the
#: CURRENT generation (``_pointer.v<N>.json`` — see andl_spark.pointer;
#: leading underscore so Spark/Hadoop directory scans ignore them)
_GEN_POINTER_STEM = "_pointer"


def _read_pointer(index_path: str) -> dict | None:
    from .. import pointer

    got = pointer.read(index_path, _GEN_POINTER_STEM)
    return None if got is None else got[1]


def _read_gen(index_path: str) -> int | None:
    ptr = _read_pointer(index_path)
    return None if ptr is None else int(ptr["current"])


def _flip_gen(index_path: str, gen: int, schema_json: str | None = None) -> None:
    """Commit ``gen`` as the current generation through the rename-free
    versioned pointer protocol (r9; VERDICT r8 item 1): a NEW
    create-only ``_pointer.v<N>.json``, resolve = highest parseable N —
    a concurrent resolver sees either the old committed pointer or the
    new one, never a torn file, on POSIX, HDFS and object stores alike
    (no backend's rename semantics are ever depended on)."""
    import json

    from .. import pointer

    doc = {"current": gen}
    if schema_json is None:
        prev = _read_pointer(index_path)
        if prev and "schema" in prev:
            doc["schema"] = prev["schema"]  # carry the seed schema
    else:
        doc["schema"] = schema_json
    pointer.commit(index_path, _GEN_POINTER_STEM, doc)


#: in-flight ingest markers (beside the _pointer.v<N>.json files): an
#: ingest holds one around its index commit so compaction can quiesce
#: before its pointer flip — see commit_batch_partitions /
#: compact_neardup_index
_INFLIGHT_PREFIX = "_inflight_"

#: seconds between marker mtime refreshes while a commit's write job
#: runs (ADVICE r9): compaction ages ORPHAN markers by mtime, so a
#: single write job longer than the quiesce window would otherwise be
#: aged out while its writer is alive — reopening exactly the
#: concurrent-dynamic-overwrite window the marker exists to close. A
#: live writer's marker now stays younger than any quiesce_timeout >
#: this interval (the default window is 120 s).
_MARKER_REFRESH = 15.0


def _inflight_markers(index_path: str) -> list[str]:
    from .. import fsio

    return [n for n in fsio.listdir(index_path)
            if n.startswith(_INFLIGHT_PREFIX)]


def _held_marker(index_path: str, batch_id: int):
    """Context manager: create the ``_inflight_<batch>`` marker, keep
    its mtime FRESH from a daemon thread every :data:`_MARKER_REFRESH`
    seconds for as long as the commit runs, delete it on SUCCESSFUL
    exit. The refresh is what makes orphan aging sound (ADVICE r9): an
    orphan older than the quiesce window now implies a DEAD writer — a
    live one refreshed within the last interval — so compaction's
    age-out can never strand a running write job without its quiesce
    signal. A failed refresh (transient store error) is absorbed: the
    marker merely ages one interval and the next refresh restores it.

    On an EXCEPTION the marker is deliberately RETAINED (review r10):
    marker-gone must mean "this batch's commit protocol COMPLETED" —
    the post-flip audit carries marker-less leftover batches on that
    premise, and a crashed writer's partition may be half-superseded
    state its foreachBatch replay is about to rewrite. The retained
    orphan stops refreshing (the writer is gone), so the next
    compaction ages it out; the replay's own _held_marker for the same
    batch_id overwrites and then clears it."""
    import contextlib
    import threading
    import time as _time

    from .. import fsio

    @contextlib.contextmanager
    def _cm():
        marker = fsio.join(index_path, f"{_INFLIGHT_PREFIX}{batch_id}")
        fsio.write_text(marker, repr(_time.time()))  # body = breadcrumb
        stop = threading.Event()

        def _refresh():
            while not stop.wait(_MARKER_REFRESH):
                try:
                    fsio.write_text(marker, repr(_time.time()))
                except Exception:
                    pass  # absorbed: ages ≤ one interval, next one heals

        t = threading.Thread(target=_refresh, daemon=True,
                             name=f"inflight-refresh-{batch_id}")
        t.start()
        try:
            yield marker
        except BaseException:
            stop.set()
            t.join(timeout=5)
            raise  # marker retained: commit did NOT complete
        stop.set()
        t.join(timeout=5)
        fsio.delete(marker)

    return _cm()


def _store_now(index_path: str) -> float:
    """The STORE's own current time: write a probe file and read its
    mtime back. Orphan-marker aging compares against marker mtimes the
    store stamped, so 'now' must come from the same clock — driver
    wall time skews across hosts, silently widening or collapsing the
    age window (ADVICE r9). Degrades to the driver clock only when the
    probe itself fails."""
    from .. import fsio

    probe = fsio.join(index_path, "_clockprobe")
    try:
        # catch EVERYTHING: URI backends raise py4j-wrapped Hadoop
        # exceptions, not OSError (review r10) — a transient probe
        # failure must degrade to the driver clock, never abort the
        # compaction that is mid-protocol
        fsio.write_text(probe, "")
        return fsio.stat(probe)[0]
    except Exception:
        import time as _time

        return _time.time()
    finally:
        try:
            fsio.delete(probe)
        except Exception:
            pass  # stray probe file: ignored by every listing filter


def resolve_neardup_index(index_path: str) -> str:
    """Path of the index's CURRENT generation directory. Every reader
    and writer of a streaming index resolves through here — compaction
    flips the pointer to a freshly-written generation and RETAINS the
    previous one, so a reader that resolved before the flip keeps a
    fully intact tree (never a missing path, VERDICT r6 item 5).
    A path with no generation pointer raises FileNotFoundError: every
    index is seeded first (seed_neardup_index), so an unseeded path is
    a caller error, never a tree to write into."""
    from .. import fsio

    gen = _read_gen(index_path)
    if gen is None:
        raise FileNotFoundError(
            f"{index_path}: no generation pointer — seed the index with "
            "seed_neardup_index first")
    return fsio.join(index_path, f"gen={gen}")


def read_neardup_index(spark, index_path: str) -> DataFrame:
    """Current generation of a streaming index as a DataFrame (with
    its ``_batch_id`` partition column). A COLD-START index (seeded
    with an empty relation — a 0-row partitioned parquet write emits
    no data files) reads back as an empty frame with the schema the
    seed recorded in the pointer, so the first micro-batch's index
    scan works instead of failing schema inference (review r7).

    The fallback engages ONLY for a genuine cold start — the resolved
    generation directory exists and holds no entries beyond write
    markers (``_SUCCESS``/dotfiles). A DAMAGED tree (missing generation
    directory, or one with entries Spark still cannot read) re-raises:
    silently treating it as empty would make ingest re-claim every key
    and wave duplicates through with no error (ADVICE r7)."""
    from pyspark.sql.utils import AnalysisException

    from .. import fsio

    try:
        return spark.read.parquet(resolve_neardup_index(index_path))
    except AnalysisException:
        gen_dir = resolve_neardup_index(index_path)
        # data entries = _batch_id= partition dirs (which Spark reads
        # despite the underscore — partition dirs contain '=') plus any
        # non-marker name; only _SUCCESS-style markers/dotfiles are
        # ignorable (review r8 — filtering ALL '_' names made the
        # re-raise dead code: a gen dir with unreadable _batch_id=
        # partitions silently read as a cold start)
        entries = [n for n in fsio.listdir(gen_dir)
                   if n.startswith("_batch_id=")
                   or not n.startswith(("_", "."))]
        if fsio.exists(gen_dir) and not entries:
            ptr = _read_pointer(index_path)
            if ptr and "schema" in ptr:
                from pyspark.sql.types import StructType

                return local_frame(
                    spark, [], StructType.fromJson(
                        __import__("json").loads(ptr["schema"])))
        raise


def seed_neardup_index(sigs: DataFrame, index_path: str,
                       part_cols: tuple = ("_batch_id",),
                       meta_files: dict | None = None,
                       max_records_per_file: int | None = None) -> None:
    """Seed a streaming near-dup signature index with the historical
    corpus's signatures (minhash_signatures / simhash_signatures /
    embedding_index / span first-occurrence output). The seed lands in
    the reserved ``_batch_id=-1`` partition of a NEW generation
    directory; each streamed ingest appends its own ``_batch_id=N``
    partition (see neardup_ingest_stream).

    Re-seeding is a FULL replacement committed by pointer flip: the
    seed writes into generation N+1 and the pointer flips only after
    the write completes, so prior ``_batch_id>=0`` partitions can never
    leak into the new stream (review r6) and a reader of the old
    generation is never disturbed. Generations older than the
    previous one are reclaimed (same keep-last discipline as
    Catalog.gc).

    ``part_cols`` (r8b) generalizes the tree layout: ``_batch_id``
    must come first (the snapshot/carry-over protocol keys on the
    top-level batch dirs); extra columns nest below it — the persisted
    IVF index (pipeline/annindex.py) passes ("_batch_id", "list_id")
    so its cell partitions keep pruning while inheriting this
    maintenance plane. ``meta_files`` (name → text) are small sidecar
    files written INTO the new generation directory before the pointer
    flip, so they commit atomically WITH the data they describe (the
    IVF index stores its quantizer meta this way — a reader can never
    pair one generation's cells with another generation's centroids);
    compaction carries them into each new generation."""
    import json

    from .. import fsio

    if part_cols[0] != "_batch_id":
        raise ValueError("part_cols must lead with _batch_id "
                         "(the generation protocol keys on it)")
    for name in (meta_files or {}):
        if not name.startswith("_meta"):
            # compaction carries exactly the "_meta" prefix into each
            # new generation; any other name would silently vanish at
            # the first compaction (review r8b) — and the check runs
            # BEFORE the generation write, not after it has burned a
            # full parquet job (review r8b round 2)
            raise ValueError(f"meta_files names must start with '_meta' "
                             f"(got {name!r})")
    cur = _read_gen(index_path) or 0
    fsio.mkdirs(index_path)
    target = fsio.join(index_path, f"gen={cur + 1}")
    seeded = sigs.withColumn("_batch_id", F.lit(-1))
    writer = (
        seeded
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")  # explicit: a
        # session-level dynamic default must not resurrect stale batches
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*part_cols).parquet(target)
    for name, text in (meta_files or {}).items():
        # plain put: the sidecar is unreferenced until the flip below
        fsio.write_text(fsio.join(target, name), text)
    # record the seed schema in the pointer: a COLD START (empty seed)
    # writes no parquet data files, so readers need the schema to
    # reconstruct the empty index (read_neardup_index; review r7)
    _flip_gen(index_path, cur + 1,
              schema_json=json.dumps(seeded.schema.jsonValue()))
    _reclaim_old_gens(index_path, keep_from=cur)


def _reclaim_old_gens(index_path: str, keep_from: int) -> None:
    """Delete generation dirs STRICTLY OLDER than ``keep_from`` — the
    previous generation is always retained so in-flight readers that
    resolved before the latest flip still see intact files."""
    from .. import fsio

    for name in fsio.listdir(index_path):
        if name.startswith("gen="):
            g = int(name.split("=", 1)[1])
            if g < keep_from:
                fsio.delete(fsio.join(index_path, name))


#: seed-file growth bound for TIERED near-dup compaction: when the
#: seed partition already holds ≥ this many × target_files files, the
#: next compaction does a full re-fold (merging the tiers) — amortized
#: rewrite cost drops by the same factor
TIER_MAX_FACTOR = 8


def _tiered_fold_plan(raw: DataFrame, max_bid, src: str,
                      target_files: int):
    """The default fold plan of :func:`compact_neardup_index` (r10; the
    default since r11 — VERDICT r10 item 2, after the live soak beside
    a draining ingest and the 20M-doc measurement), for the flat
    single-column layout. A full fold rewrites EVERY signature each
    compaction — at a 1B-doc crawl that is a 100 GB-class seed rewrite
    per maintenance pass. This plan instead folds ONLY the batch
    partitions into NEW seed files (the batch-partition scan is
    partition-pruned; seed bytes are never read) and carries the
    existing seed files and the kept max batch by hardlink/byte-copy —
    seed file count grows by ≤ target_files per compaction, and once it
    reaches target_files × :data:`TIER_MAX_FACTOR` the next compaction
    does a full re-fold that merges the tiers (amortizing the full
    rewrite 1/TIER_MAX_FACTOR as often). Row sets are identical either
    way (pure movement)."""
    from .. import fsio

    seed_dir = fsio.join(src, "_batch_id=-1")
    seed_files = [n for n in fsio.listdir(seed_dir)
                  if not n.startswith(("_", "."))]
    has_kept = max_bid is not None and max_bid >= 0
    fold_src = raw.filter(F.col("_batch_id") != max_bid) if has_kept else raw
    copies = []
    if has_kept:
        copies.append(f"_batch_id={max_bid}")
    if len(seed_files) >= target_files * TIER_MAX_FACTOR:
        # tier merge: full re-fold (kept still carried verbatim)
        rows = fold_src
    else:
        # fold ONLY batch partitions (pruned scan); carry the existing
        # seed files without reading a byte of them
        rows = fold_src.filter(F.col("_batch_id") >= 0)
        if seed_files:
            copies.append("_batch_id=-1")
    return rows.drop("_batch_id").withColumn("_batch_id", F.lit(-1)), copies


def compact_neardup_index(spark, index_path: str,
                          target_files: int = 8,
                          part_cols: tuple = ("_batch_id",),
                          quiesce_timeout: float = 120.0,
                          fold_plan=None,
                          shape=None,
                          meta_overrides: dict | None = None,
                          max_records_per_file: int | None = None,
                          _pre_flip_hook=None) -> None:
    """Compact a streaming signature index (r6; VERDICT r5 item 7):
    every micro-batch appended its own ``_batch_id`` partition, so a
    long-running ingest accumulates one small file set per batch —
    file-listing and scan cost grow with BATCH COUNT, not data. This
    folds the COMMITTED partitions into the seed partition
    (``_batch_id=-1``) with ``target_files`` files, KEEPING the
    highest-numbered batch partition as-is: foreachBatch commits the
    checkpoint after each batch, so the newest batch is the only one
    that can be half-written when a stream crashed mid-batch — folding
    it into ``-1`` would defeat the replay guard's
    ``filter(_batch_id != batch_id)`` exclusion and wrongly mark the
    replaying batch's own claims as historical (review r7). Row set is
    unchanged, so ``*_against_index`` output is identical (pinned in
    tests).

    Atomicity (r7; VERDICT r6 item 5): the compacted rows are written
    into generation N+1 and the index pointer flips only after the
    write commits — generation N is RETAINED until the NEXT flip, so a
    reader or replayed ingest that resolved the index mid-compaction
    keeps a complete tree; there is no rmtree+move window where the
    path is missing.

    Concurrent-ingest safety (r8; VERDICT r7 item 2): a
    ``neardup_ingest_batch`` that commits a NEW ``_batch_id`` partition
    into the source generation AFTER this function's snapshot read
    would silently vanish from the compacted generation. Three
    mechanisms compose to a lease-free protocol (reviewed r8):

    - the SNAPSHOT is the read's own file index (the ``_batch_id``
      values Spark listed when the DataFrame was created) — deriving
      it from a separate directory listing opened a double-count
      window where a partition landing between the two listings was
      both folded and carried over;
    - every batch partition in the source generation but not in the
      snapshot is copied into the new generation with per-partition
      DYNAMIC OVERWRITE, once before the flip (reader freshness) and
      once after (closes the re-list→flip gap);
    - an ingest whose commit the post-flip pass cannot have seen must
      have committed after the flip, and therefore re-resolves the
      new generation and re-commits itself (neardup_ingest_batch's
      re-resolve loop).

    r8b HARDENING — the first cut of this protocol carried late
    batches both before AND after the flip, on the assumption that
    concurrent dynamic-overwrite writers of the same partition
    converge on identical content. That assumption leans on commit
    internals nothing enforces: Spark publishes a dynamic-overwrite
    partition by DELETE-then-RENAME, and two interleaving jobs can
    land the second rename INSIDE the first's surviving directory
    (Hadoop rename-into-existing-dir nests), making both copies
    visible. The protocol therefore no longer permits concurrent
    writers at all — quiesce-then-flip with NO post-flip writer:

    - every ingest commit holds an ``_inflight_<batch>`` marker beside
      the pointer, created BEFORE its first write and removed after
      its re-resolve loop settles;
    - compaction, after the fold and the first carry pass, WAITS for
      the markers to clear (bounded by ``quiesce_timeout`` — a crashed
      ingest's stale marker must not wedge maintenance; its
      foreachBatch replay re-commits anyway), re-lists + carries, and
      re-checks; only when a carry pass saw quiescence does it flip;
    - an ingest whose marker appeared after that final check either
      resolves the NEW generation directly (nothing to do) or wrote
      into the old one and re-resolves into the new one itself — and
      since compaction never writes to the OLD generation after the
      flip, that re-commit has no concurrent writer. No lost batch,
      no double writer.
    - r10 (ADVICE r9): the one interleaving the above missed — a
      publish AND its re-resolve both squeezed into the gap between
      the final listing and the flip — is closed by a post-flip AUDIT
      that carries exactly the batches whose writer provably exited
      (marker gone) without reaching the new generation; see the
      inline analysis at the audit site.

    (A replay of an ALREADY-snapshotted batch id rewrites its
    partition with the same rows — ingest is idempotent per batch_id —
    so content folded at snapshot time stays correct.)

    A COLD-START index (empty seed, no data files yet) is a no-op:
    there is nothing to fold and the empty-schema read would otherwise
    fail inference (ADVICE r7).

    ``_pre_flip_hook`` is a test seam: invoked after the compacted
    generation is written and BEFORE the late-partition re-list + flip,
    where the r8 regression pin injects a concurrent ingest.

    Single COMPACTOR assumed (ingest may run concurrently — that is
    the race closed above): two compactions racing would both write
    gen N+1 and the second flip would win with the first's rows lost.
    Run compaction from one maintenance job, the same discipline as
    Catalog.compact.

    ``fold_plan(raw, max_bid, src)`` is the one fold entry: given the
    snapshot read, its highest batch id and the source generation
    directory, it returns ``(rows_df, copy_rel_dirs)`` — the rows to
    WRITE into the new generation (already carrying their final
    ``_batch_id`` values) plus a list of src-relative leaf directories
    to carry into the new generation VERBATIM via
    :func:`andl_spark.fsio.copy_tree` (no decode, no shuffle; hardlinks
    on POSIX). None means :func:`_tiered_fold_plan`, which needs the
    flat single-column layout: a nested ``part_cols`` with no plan
    raises ValueError (the IVF index passes its dirty-cell or full-fold
    plan — compact_ivf_index). The quiesce/carry/flip protocol around
    the fold is the same for every plan — late batches still land by
    dynamic overwrite, which composes with copied dirs because copied
    and written leaves are disjoint by the plan's own construction.

    Hooks (r9, for the persisted IVF index's salt/gauge plane):
    ``shape(df)`` replaces the default write-shaping repartition for
    BOTH the fold and late carries (the hot-cell salting plugs in
    here); ``meta_overrides`` (name → text) replaces/extends the
    carried ``_meta*`` sidecars in the new generation (the
    recall-decay gauge records itself this way — committed WITH the
    generation, never mutating a flipped one).

    ``part_cols`` mirrors seed_neardup_index (r8b): extra partition
    columns nest under the leading ``_batch_id`` — the snapshot and
    carry-over still key on the top-level batch dirs, and dynamic
    overwrite then publishes per LEAF partition (per batch × cell for
    the IVF index) instead of per batch: a late-carried batch can be
    momentarily partially visible to a post-flip reader, converging as
    the remaining leaf renames land (acceptable for ANN serving; the
    near-dup legs keep the single-column layout and its whole-batch
    atomicity)."""
    import functools

    from .. import fsio

    if part_cols[0] != "_batch_id":
        raise ValueError("part_cols must lead with _batch_id "
                         "(the generation protocol keys on it)")
    if fold_plan is None:
        if len(part_cols) != 1:
            raise ValueError(
                "the default tiered fold needs the flat single-column "
                "layout; pass a fold_plan for a nested part_cols (the "
                "IVF index passes its own)")
        fold_plan = functools.partial(_tiered_fold_plan,
                                      target_files=target_files)

    cur = _read_gen(index_path)
    src = resolve_neardup_index(index_path)  # raises when unseeded
    if not any(n.startswith("_batch_id=")
               for n in fsio.listdir(src)):  # no data partitions at all
        return
    raw = read_neardup_index(spark, index_path)
    # the snapshot is the read's OWN file index — exactly the partition
    # set the fold below will consume (see the docstring's protocol)
    seen_bids = {r[0] for r in raw.select("_batch_id").distinct().collect()}
    if not seen_bids:  # cold start resolved via schema fallback
        return
    seen_parts = {f"_batch_id={b}" for b in seen_bids}
    max_bid = max(seen_bids)

    def _shape(df):
        # flat layout: bound the fold to target_files files. NESTED
        # layout: one shuffle on the trailing partition cols so each
        # leaf cell is written by ONE task — coalesce here would have
        # every task write every cell (target_files × cells files,
        # the small-files tax compaction exists to remove; review r8b).
        # A caller-provided shape replaces both (hot-cell salting, r9).
        if shape is not None:
            return shape(df)
        if len(part_cols) > 1:
            return df.repartition(*part_cols[1:])
        return df.coalesce(target_files)

    rows, copy_rel = fold_plan(raw, max_bid, src)
    # materialize BEFORE the rewrite
    df = _shape(rows).localCheckpoint(eager=True)
    new_gen = cur + 1
    target = fsio.join(index_path, f"gen={new_gen}")
    writer = df.write
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*part_cols).parquet(target)
    for rel in copy_rel:  # untouched leaves carried without decoding
        fsio.copy_tree(fsio.join(src, rel), fsio.join(target, rel))
    for name in fsio.listdir(src):  # carry meta sidecars (see seed)
        if name.startswith("_meta"):
            text = fsio.read_text(fsio.join(src, name))
            if meta_overrides and name in meta_overrides:
                text = meta_overrides[name]
            fsio.write_text(fsio.join(target, name), text)
    for name, text in (meta_overrides or {}).items():
        if name not in fsio.listdir(target):
            fsio.write_text(fsio.join(target, name), text)

    def _write_carry(names: list[str]) -> None:
        """Copy the named src batch partitions into the target via
        dynamic partition OVERWRITE — idempotent against the ingest
        re-commit loop writing the same partition with the same rows."""
        carried_df = (
            spark.read.option("basePath", src)
            .parquet(*[fsio.join(src, n) for n in names])
        )
        if shape is not None:
            carried_df = shape(carried_df)
        elif len(part_cols) > 1:  # one task per leaf cell (see _shape)
            carried_df = carried_df.repartition(*part_cols[1:])
        w = (carried_df.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic"))
        if max_records_per_file:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.partitionBy(*part_cols).parquet(target)

    def _carry_late(already: set[str]) -> set[str]:
        """Batch partitions committed into the source generation after
        the snapshot → carried into the target (see _write_carry)."""
        late = sorted(
            n for n in fsio.listdir(src)
            if n.startswith("_batch_id=")
            and n not in seen_parts and n not in already
        )
        if late:
            _write_carry(late)
        return already | set(late)

    if _pre_flip_hook is not None:
        _pre_flip_hook()
    # quiesce-then-flip (see the docstring's r8b protocol): wait for
    # in-flight ingests, carry what they committed, and only flip when
    # a carry pass observed quiescence — compaction NEVER writes after
    # the flip, so an ingest's re-commit into the new generation has
    # no concurrent writer
    import time as _time

    # back off the marker poll (ADVICE r8: 50 ms × a 120 s window is
    # ~2400 LIST calls on an object store); tests with sub-second
    # windows keep a fast poll so the age-out path stays promptly
    # reachable
    poll = max(0.05, min(0.5, quiesce_timeout / 240.0))
    deadline = _time.monotonic() + quiesce_timeout
    carried = _carry_late(set())   # reader freshness
    while True:
        before = carried
        carried = _carry_late(carried)
        if carried != before:
            continue  # something landed mid-wait: go around again
        markers = _inflight_markers(index_path)
        if markers:
            if _time.monotonic() < deadline:
                _time.sleep(poll)
                continue
            # deadline passed: a crashed ingest's orphan marker must
            # neither wedge maintenance forever NOR force every future
            # compaction down this path (review r8b round 2). Age by
            # the STORE's OWN clock on BOTH sides — the marker's mtime
            # against a probe file's mtime (_store_now) — never the
            # driver's wall clock, which skews across hosts (ADVICE
            # r9). An orphan older than the window has a DEAD writer —
            # a live one refreshes its marker every _MARKER_REFRESH
            # seconds (_held_marker), so even a write job longer than
            # the window stays young; a YOUNGER marker belongs to a
            # live ingest we stop waiting for (the timeout contract):
            # its re-resolve loop re-commits into the new generation
            # (backstopped by the post-flip audit below), and
            # compaction never writes to the OLD generation post-flip,
            # so nothing is lost or doubly written.
            now = _store_now(index_path)
            for name in markers:
                p = fsio.join(index_path, name)
                try:
                    age = now - fsio.stat(p)[0]
                except OSError:
                    continue  # gone already: its writer just finished
                if age >= quiesce_timeout:
                    fsio.delete(p)
        # a quiet carry pass and (inside the window) zero markers: one
        # final cheap listing confirms nothing landed between the
        # carry's own listing and this point — without it, an ingest
        # whose ENTIRE marker lifecycle (create marker, full write
        # job, re-resolve, delete marker) fit inside a compactor-
        # driver stall right here would commit a batch that is never
        # carried and never re-resolved (ADVICE r8). Loop — and
        # re-carry — otherwise; the loop terminates as soon as one
        # listing-to-listing window is quiet, which a real ingest
        # (a multi-second Spark write job per batch) cannot starve.
        late_now = {n for n in fsio.listdir(src)
                    if n.startswith("_batch_id=") and n not in seen_parts}
        if late_now <= carried:
            break
    _flip_gen(index_path, new_gen)
    # POST-FLIP AUDIT (ADVICE r9): an ingest whose publish landed in
    # the gap between the final late_now listing and the flip, and
    # whose re-resolve ALSO ran before the flip, saw "generation
    # unchanged" and exited — its batch would exist only in the
    # superseded tree. Detect exactly that: a never-carried batch dir
    # in src whose in-flight marker is GONE (a writer holds its marker
    # through its whole re-resolve loop, so marker-gone means its
    # final state is knowable) and whose partition is absent from the
    # new generation (present would mean its final write already
    # targeted the new generation). Carrying it here has NO concurrent
    # writer — that writer exited — so the no-double-writer invariant
    # holds. A leftover whose marker is still present belongs to a
    # LIVE writer that will re-resolve into the new generation itself
    # (or a crashed one whose foreachBatch replay re-commits there);
    # carrying those would BE the double writer, so they are left to
    # their own protocol. ORDER MATTERS (review r10): the src listing
    # happens BEFORE the marker listing — a writer whose partition we
    # saw either still holds its marker (skip: it finishes its own
    # protocol) or completed AFTER our listing and before the marker
    # check, in which case marker-gone means its whole re-resolve loop
    # ran (markers survive failures — see _held_marker) and its final
    # state is knowable from the target. Listing markers first would
    # let a writer publish between the two listings and look
    # marker-less while still running.
    leftover = sorted(
        n for n in fsio.listdir(src)
        if n.startswith("_batch_id=")
        and n not in seen_parts and n not in carried)
    live = set(_inflight_markers(index_path)) if leftover else set()
    for name in leftover:
        bid = name.split("=", 1)[1]
        if f"{_INFLIGHT_PREFIX}{bid}" in live:
            continue  # live (or crashed-awaiting-replay) writer
        if not fsio.exists(fsio.join(target, name)):
            # Residual (documented): a replay of this SUCCESSFULLY
            # committed batch (possible only when the stream crashed
            # between the batch's success and its checkpoint advance,
            # then restarted exactly during this carry) would write
            # the same partition concurrently. Skipping the carry
            # instead would LOSE the batch in the overwhelmingly more
            # likely case — successful batch, checkpoint advanced, no
            # replay ever comes — so the carry wins; the race needs a
            # triple coincidence where the original ADVICE r9 hole
            # needed only the listing-gap publish.
            _write_carry([name])
    # the superseded generation `cur` is RETAINED until the next flip —
    # in-flight readers keep intact files; older generations reclaim
    _reclaim_old_gens(index_path, keep_from=cur)


def _is_vanished_file_error(e: Exception) -> bool:
    """Did a Spark job fail because files its plan listed no longer
    exist (a superseded generation reclaimed under an in-flight
    reader)? Matched on the stable Spark/Hadoop markers for exactly
    that condition — other failures must keep raising."""
    s = str(e)
    return ("FAILED_READ_FILE.FILE_NOT_EXIST" in s
            or "FileNotFoundException" in s
            or "File does not exist" in s
            or "PATH_NOT_FOUND" in s)


def neardup_ingest_batch(
    batch_df: DataFrame, batch_id: int, index_path: str, pairs_path: str,
    kind: str = "minhash", **kw,
) -> None:
    """One micro-batch of the streaming near-dup crawl loop (module-
    level so tests can drive a replay directly — foreachBatch is
    at-least-once and this function must be idempotent per batch_id).

    Reads the persisted signature index EXCLUDING this batch's own
    partition (a replayed attempt may have half-written it), signs only
    the batch via the matching ``*_against_index`` op, then writes the
    touching pairs and the batch's signature rows into their own
    ``_batch_id`` partitions with dynamic partition overwrite — a
    replay rewrites exactly its partitions, never appends duplicates.
    Both outputs are eagerly materialized by the ``*_against_index``
    ops (localCheckpoint) BEFORE the index-path write begins, so
    reading and writing the same index directory cannot race.

    r11 (found by the tiered-default live soak): generation retention
    covers exactly ONE flip — a reader that resolved generation N
    keeps intact files until generation N+2 commits and reclaims N. A
    slow micro-batch overlapping TWO compaction flips therefore loses
    its resolved files mid-read (FAILED_READ_FILE). The signature pass
    RE-RESOLVES AND RETRIES on exactly that error class — bounded, and
    each retry reads a strictly newer generation, so it terminates
    unless compaction outpaces every read attempt (which the
    single-maintenance-job cadence discipline rules out)."""
    from ..pipeline import dedup as D

    spark = batch_df.sparkSession
    fn = {
        "minhash": D.minhash_against_index,
        "simhash": D.simhash_against_index,
        "embedding": D.embedding_dup_against_index,
        # spans: "pairs" is the batch's CLEAN output (id, clean_text,
        # n_tokens, n_removed); the index holds first-occurrence span
        # keys instead of signatures — same replay contract
        "spans": D.dedup_spans_against_index,
        # exact: "pairs" is the batch's SURVIVING rows; the index holds
        # (fp, id) content fingerprints
        "exact": D.exact_dedup_against_index,
    }[kind]
    for attempt in range(4):
        data_path = resolve_neardup_index(index_path)
        index = (
            read_neardup_index(spark, index_path)  # cold-start tolerant
            .filter(F.col("_batch_id") != batch_id)
            .drop("_batch_id")
        )
        try:
            pairs, new_rows = fn(batch_df, index, **kw)
            break
        except Exception as e:
            if attempt < 3 and _is_vanished_file_error(e):
                continue  # double-flip reclaim: newer generation exists
            raise
    (
        pairs.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(pairs_path)
    )
    commit_batch_partitions(new_rows, batch_id, index_path,
                            initial_path=data_path)


def commit_batch_partitions(
    df: DataFrame,
    batch_id: int,
    index_path: str,
    part_cols: tuple = ("_batch_id",),
    initial_path: str | None = None,
) -> None:
    """Commit a batch's index rows into the CURRENT generation with
    dynamic per-partition overwrite, then re-resolve and re-commit
    until the generation is stable — the ingest side of the
    compaction/ingest race closure (see compact_neardup_index's
    protocol): compaction may have flipped the generation while this
    batch computed; its pre-flip carry-over covers writes that landed
    before its re-list, and a write landing after it re-resolves the
    new generation here. ``df`` must be eagerly materialized
    (localCheckpoint) by the caller when it was derived from the same
    tree being written. Replays of the same batch_id rewrite exactly
    their partitions — idempotent against the carry-over writing the
    same rows. Shared by neardup_ingest_batch and the persisted IVF
    index's appends (pipeline/annindex.py).

    Holds an ``_inflight_<batch>`` marker for the duration (created
    before the first write, mtime-refreshed while the write job runs —
    ADVICE r9 — removed after the loop settles) — the quiesce signal
    compact_neardup_index waits on before its pointer flip, which is
    what guarantees this loop and compaction's carry never write the
    same partition concurrently (r8b; see the compact docstring for
    the measured duplication that forced this)."""
    # resolved before the marker exists, so an unseeded path raises
    # and leaves nothing behind; the loop re-resolves after every write
    data_path = initial_path or resolve_neardup_index(index_path)
    with _held_marker(index_path, batch_id):
        while True:
            (
                df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*part_cols)
                .parquet(data_path)
            )
            cur = resolve_neardup_index(index_path)
            if cur == data_path:
                return
            data_path = cur


def neardup_ingest_stream(
    stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    kind: str = "minhash",
    **kw,
):
    """Streaming incremental near-dup ingest — the actual 100 TB crawl
    loop (VERDICT r5 item 3): each micro-batch of new documents signs
    ITSELF ONLY, joins the persisted signature index (new×new and
    new×old pairs), and appends its pairs + signature rows idempotently.
    Steady-state ingest cost scales with the batch, never the corpus —
    the r5 measurements put one ingest at ~⅓ of even an anchored full
    recompute (SCALE_r05.md).

    ``index_path`` must be seeded first (:func:`seed_neardup_index`,
    possibly with an empty signature relation for a cold start; an
    unseeded path raises FileNotFoundError). Because
    batch N's signatures land in the index before batch N+1 runs,
    cross-micro-batch new×new pairs are found exactly as a one-shot
    ``*_against_index`` over the concatenated batches would find them
    (tests/test_streaming.py pins drained-stream set == batch set).
    ``kind``: minhash | simhash | embedding | spans | exact; ``kw``
    forwards to the matching ``*_against_index`` op (threshold,
    num_perm, anchor_degree, dim, window, hash_fn, ...). For ``spans``
    the per-batch output written to ``pairs_path`` is the batch's
    CLEAN text (dedup_spans schema) and the index holds
    first-occurrence span keys; with ascending-id arrival the drained
    clean output equals the one-shot dedup_spans over the concatenated
    corpus (pinned in tests). For ``exact`` the per-batch output is
    the batch's SURVIVING rows and the index holds (fp, id) content
    fingerprints; the drained survivor set equals the one-shot
    exact_dedup over the concatenated corpus (earliest-arrival winner;
    pinned in tests). Returns the started query (availableNow trigger;
    caller awaits termination)."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        neardup_ingest_batch(
            batch_df, batch_id, index_path, pairs_path, kind, **kw)

    return (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_memory(stream_df: DataFrame, name: str, timeout_sec: int = 120) -> None:
    """Drive a streaming query to completion against the finite file
    source (test harness helper): complete mode into a memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def stateful_running_count(events: DataFrame, timeout_sec: int = 120):
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + last-seen timestamp (SURVEY.md §2.7).

    Demonstrates arbitrary state at scale: state is partitioned by
    user_id across executors; each micro-batch updates only touched
    keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long"
    state_schema = "n long"

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )

"""Persisted IVF index (r8): the assignment paid once, queries read
only probed cells (partition pruning), appends replay-idempotent,
calibration stored as the index's default operating point, and the
whole maintenance plane (atomic generation flips, compaction,
carry-over) inherited from the streaming near-dup index protocol."""

import pytest
from pyspark.sql import functions as F

from andl_spark.pipeline import annindex as AX
from andl_spark.pipeline import simsearch as SS
from andl_spark.plans.explain import formatted_plan
from andl_spark.session import load_tables

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]


def _rows(df):
    return sorted(
        (r["query_id"], r["cand_id"], round(r["cosine"] + 1e-9, 6), r["rank"])
        for r in df.collect())


def test_index_query_equals_per_call_operator(spark, emb, tmp_path):
    """Same centroids, same nprobe → the index query must reproduce
    topk_ivf_det row-for-row (the index only moves WHERE assignment
    happens, never WHAT is computed)."""
    path = str(tmp_path / "ivf")
    meta = AX.build_ivf_index(emb, path, nlist=16)
    assert meta["nlist"] == 16 and meta["calibration"] is None
    queries = emb.filter(F.col("vec_id") < 8)
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=4)
    want = SS.topk_ivf_det(emb, queries, k=5, nlist=16, nprobe=4)
    assert _rows(got) == _rows(want) and len(_rows(got)) > 0


def test_index_scan_prunes_unprobed_cells(spark, emb, tmp_path):
    """The 100 TB point: the probe set lands in the parquet scan's
    PartitionFilters, so unprobed cells are never READ. Plan-asserted,
    then proven behaviorally: corrupting a parquet file in an UNPROBED
    cell leaves the pruned query working (its bytes are never opened)
    while a full scan of the same tree fails on it. (inputFiles() can't
    show this — it lists the FileIndex before partition filters.)"""
    import re

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=16)
    queries = emb.filter(F.col("vec_id") < 4)
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=2)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan
    part_sec = plan.split("PartitionFilters", 1)[1][:500]
    assert "list_id" in part_sec
    baseline = _rows(got)
    assert baseline

    # probed cells from the plan's literal IN-list; ≤ 4 queries ×
    # 2 probes = ≤ 8 of 16 cells, so an unprobed one must exist
    probed = {int(x) for x in re.findall(r"\b(\d+)\b", part_sec)}
    data_dir = tmp_path / "ivf" / "data" / "gen=1" / "_batch_id=-1"
    on_disk = {int(p.name.split("=")[1]) for p in data_dir.iterdir()
               if p.name.startswith("list_id=")}
    victims = sorted(on_disk - probed)
    assert victims, (probed, on_disk)
    victim_files = list((data_dir / f"list_id={victims[0]}").glob("*.parquet"))
    assert victim_files
    victim_files[0].write_bytes(b"not a parquet file, not even close")

    # pruned query: still exact — the corrupt cell is never opened
    got2 = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=2)
    assert _rows(got2) == baseline
    # full scan: forced to open the corrupt file, fails
    with pytest.raises(Exception):
        AX.read_ivf_data(spark, path).count()


def test_index_append_replay_idempotent(spark, emb, tmp_path):
    """Appends assign against the STORED centroids and land in their
    own _batch_id partitions with dynamic overwrite: replaying the same
    batch_id leaves the index byte-identical, and appended vectors are
    findable."""
    path = str(tmp_path / "ivf")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1).limit(50)
    AX.build_ivf_index(old, path, nlist=16)
    AX.ivf_index_append(new, path, batch_id=0)
    data = AX.read_ivf_data(spark, path)
    n1 = data.count()
    assert data.filter(F.col("_batch_id") == 0).count() == new.count()
    AX.ivf_index_append(new, path, batch_id=0)  # replay
    assert AX.read_ivf_data(spark, path).count() == n1
    # an appended vector is served: query ITS OWN vector, it must be
    # its global nearest neighbors' anchor (rank column exists, k rows)
    probe_q = new.limit(2)
    got = AX.topk_ivf_index(spark, probe_q, path, k=3, nprobe=16)
    assert got.count() > 0


def test_index_stores_and_defaults_to_calibration(spark, emb, tmp_path):
    """calibrate= at build time stores the measured nprobe; queries
    default to it (the measured operating point replaces the 8% rule
    for every consumer of this index)."""
    path = str(tmp_path / "ivf")
    meta = AX.build_ivf_index(emb, path, nlist=16, calibrate=0.9)
    cal = meta["calibration"]
    assert cal is not None and cal["recall"] >= 0.9
    assert AX.read_ivf_meta(path)["calibration"]["nprobe"] == cal["nprobe"]
    queries = emb.filter(F.col("vec_id") < 4)
    got_default = AX.topk_ivf_index(spark, queries, path, k=5)
    got_explicit = AX.topk_ivf_index(spark, queries, path, k=5,
                                     nprobe=cal["nprobe"])
    assert _rows(got_default) == _rows(got_explicit)


def test_index_on_file_uri(spark, emb, tmp_path):
    """The meta/data round-trip works on a file:// URI — the same fsio
    code path hdfs:// and s3a:// take."""
    path = "file://" + str(tmp_path / "ivf_uri")
    AX.build_ivf_index(emb.limit(200), path, nlist=8)
    meta = AX.read_ivf_meta(path)
    assert meta["nlist"] == 8
    queries = emb.filter(F.col("vec_id") < 3)
    got = AX.topk_ivf_index(spark, queries, path, k=3, nprobe=2)
    assert got.count() > 0


def test_index_compaction_atomic_and_result_stable(spark, emb, tmp_path):
    """compact_ivf_index folds batch partitions into the seed behind
    an atomic generation flip (the near-dup index protocol with
    cell-nested partitions): results identical before/after, the prior
    generation retained for in-flight readers, the highest batch kept
    as-is (foreachBatch replay contract), appends after compaction
    land in the new generation, and pruning still works."""
    path = str(tmp_path / "ivf")
    parts = [emb.filter(F.col("vec_id") % 4 == i) for i in range(4)]
    AX.build_ivf_index(parts[0], path, nlist=16)
    for b, p in enumerate(parts[1:3]):
        AX.ivf_index_append(p, path, batch_id=b)
    queries = emb.filter(F.col("vec_id") < 6)
    before = _rows(AX.topk_ivf_index(spark, queries, path, k=5, nprobe=4))

    AX.compact_ivf_index(spark, path)
    data_root = tmp_path / "ivf" / "data"
    gens = sorted(p.name for p in data_root.iterdir()
                  if p.name.startswith("gen="))
    assert gens == ["gen=1", "gen=2"]  # prior generation retained
    after = AX.read_ivf_data(spark, path)
    bids = {r["_batch_id"] for r in after.select("_batch_id")
            .distinct().collect()}
    assert bids == {-1, 1}  # folded, highest batch kept as-is
    assert _rows(AX.topk_ivf_index(
        spark, queries, path, k=5, nprobe=4)) == before

    # append AFTER compaction: commits into the new generation
    AX.ivf_index_append(parts[3], path, batch_id=2)
    got = AX.read_ivf_data(spark, path)
    assert got.filter(F.col("_batch_id") == 2).count() == parts[3].count()
    assert got.count() == emb.count()
    # pruning still plan-visible on the compacted tree
    plan = formatted_plan(
        AX.topk_ivf_index(spark, queries, path, k=5, nprobe=2))
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters", 1)[1][:500]
    # the fold writes ONE file per cell (review r8b: coalesce before a
    # nested partitionBy would have every task write every cell)
    folded = data_root / "gen=2" / "_batch_id=-1"
    for cdir in folded.iterdir():
        if cdir.name.startswith("list_id="):
            assert len(list(cdir.glob("*.parquet"))) == 1, cdir


def test_rebuild_commits_meta_with_its_generation(spark, emb, tmp_path):
    """A rebuild writes a NEW quantizer: the meta sidecar commits
    inside the new generation before the pointer flip, so meta and
    cells can never disagree — after rebuild both reflect nlist=24,
    and the retained prior generation still holds its own meta."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    assert AX.read_ivf_meta(path)["nlist"] == 8
    AX.build_ivf_index(emb, path, nlist=24)  # rebuild, new quantizer
    meta = AX.read_ivf_meta(path)
    assert meta["nlist"] == 24
    data = AX.read_ivf_data(spark, path)
    n_cells = data.select("list_id").distinct().count()
    assert n_cells <= 24 and n_cells > 8  # cells ARE the new quantizer's
    # prior generation retained with ITS meta (in-flight reader safety)
    g1 = tmp_path / "ivf" / "data" / "gen=1"
    assert (g1 / "_meta.json").exists()
    import json as _json
    assert _json.loads((g1 / "_meta.json").read_text())["nlist"] == 8
    # queries work against the rebuilt index
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") < 3),
                            path, k=3, nprobe=6)
    assert got.count() > 0


def test_meta_cache_fingerprint_catches_delete_and_rebuild(
        spark, emb, tmp_path, monkeypatch):
    """ADVICE r8: a delete-and-rebuild at the same path restarts the
    generation numbering, so the (path, gen dir) key collides with the
    previous index's entry. With the in-process invalidation disabled
    (a rebuild by another driver), only the meta file's fingerprint
    can tell the new quantizer from the old one."""
    import shutil

    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    assert AX.read_ivf_meta(path)["nlist"] == 8  # cached
    monkeypatch.setattr(ax, "_invalidate_meta_cache", lambda p: None)
    shutil.rmtree(path)
    AX.build_ivf_index(emb, path, nlist=24)
    assert AX.read_ivf_meta(path)["nlist"] == 24


def test_meta_cache_stores_nothing_when_stat_races(
        spark, emb, tmp_path, monkeypatch):
    """A meta whose stat fails (a racing delete) has no identity to
    validate a later hit against: it is parsed and NOT cached. Caching
    it under a (path, None, None) sentinel made the next racing read
    match that sentinel and serve the previous index's quantizer."""
    import shutil

    import andl_spark.pipeline.annindex as ax
    from andl_spark import fsio

    def racing_stat(p):
        raise FileNotFoundError(p)

    def read_racing():
        with monkeypatch.context() as m:
            m.setattr(fsio, "stat", racing_stat)
            return AX.read_ivf_meta(path)["nlist"]

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    n0 = len(ax._META_CACHE)
    assert read_racing() == 8
    monkeypatch.setattr(ax, "_invalidate_meta_cache", lambda p: None)
    shutil.rmtree(path)
    AX.build_ivf_index(emb, path, nlist=24)
    assert read_racing() == 24
    assert len(ax._META_CACHE) == n0


def test_hier_index_matches_per_call_operator(spark, emb, tmp_path):
    """Two-level quantizer in the persisted index (the >16.7M-vector
    regime, forced here with explicit n1/n2): same cents + same p1 →
    row-identical to topk_ivf_det(n1=, n2=); calibrate= stores the
    measured p1 as the default; appends assign via the stored
    two-level quantizer."""
    path = str(tmp_path / "ivf")
    meta = AX.build_ivf_index(emb, path, n1=4, n2=4, calibrate=0.9)
    assert meta["kind"] == "hier" and (meta["n1"], meta["n2"]) == (4, 4)
    cal = meta["calibration"]
    assert cal is not None and cal["recall"] >= 0.9 and cal["kind"] == "hier"
    queries = emb.filter(F.col("vec_id") < 6)
    got = AX.topk_ivf_index(spark, queries, path, k=5)  # default = cal p1
    want = SS.topk_ivf_det(emb, queries, k=5, n1=4, n2=4,
                           nprobe=cal["p1"])
    assert _rows(got) == _rows(want) and len(_rows(got)) > 0
    AX.ivf_index_append(emb.limit(10), path, batch_id=0)
    after = AX.read_ivf_data(spark, path)
    assert after.filter(F.col("_batch_id") == 0).count() == 10


def test_calibrate_probe_external_holdout(spark, emb):
    """calibrate_probe with an EXPLICIT holdout (external query
    traffic): the chosen depth reflects those queries, and a different
    holdout is a different cache entry."""
    ext = emb.filter((F.col("vec_id") % 7 == 3)).limit(16)
    r1 = SS.calibrate_probe(emb, k=3, target_recall=0.9, nlist=16,
                            holdout=ext)
    assert r1["recall"] >= 0.9 and r1["n_holdout"] <= 16
    r2 = SS.calibrate_probe(emb, k=3, target_recall=0.9, nlist=16)
    assert r1 is not r2  # distinct cache entries
    assert r1 is SS.calibrate_probe(emb, k=3, target_recall=0.9,
                                    nlist=16, holdout=ext)


def test_append_requantizes_when_rebuild_flips_mid_batch(
        spark, emb, tmp_path, monkeypatch):
    """review r8b TOCTOU pin: an append that resolved generation N
    races a REBUILD (new quantizer) flipping to N+1 — the stale-gen
    write must not stand; the append re-resolves, re-QUANTIZES under
    the new generation's meta, and re-commits, so every appended
    vector is findable under the quantizer that now defines the
    cells."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    old_corpus = emb.filter(F.col("vec_id") % 2 == 0)
    AX.build_ivf_index(old_corpus, path, nlist=8)
    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(40).localCheckpoint()

    real = ax.resolve_neardup_index
    state = {"calls": 0}

    def racing(p):
        r = real(p)
        state["calls"] += 1
        if state["calls"] == 1:
            # the append just resolved gen=1; rebuild with a DIFFERENT
            # quantizer before its write lands
            monkeypatch.setattr(ax, "resolve_neardup_index", real)
            AX.build_ivf_index(old_corpus, path, nlist=16)
        return r

    monkeypatch.setattr(ax, "resolve_neardup_index", racing)
    AX.ivf_index_append(batch, path, batch_id=0)

    meta = AX.read_ivf_meta(path)
    assert meta["nlist"] == 16  # the rebuild won the pointer
    data = AX.read_ivf_data(spark, path)
    got = {(r["vec_id"], r["list_id"]) for r in data.filter(
        F.col("_batch_id") == 0).select("vec_id", "list_id").collect()}
    want = {(r["vec_id"], r["list_id"]) for r in ax._assigned(
        batch, "vec_id", "embedding",
        SS.CoarseQuantizer.from_meta(meta)).collect()}
    # appended rows present in the NEW generation, quantized by the
    # NEW centroids — not the stale gen-1 assignment
    assert got == want and len(got) == 40


def test_append_to_unbuilt_path_raises_and_leaves_no_marker(spark, emb,
                                                             tmp_path):
    """An append to a path whose data dir exists but was never built
    resolves the generation before it takes its in-flight marker: the
    error names build_ivf_index and nothing is left behind."""
    data = tmp_path / "ivf" / "data"
    data.mkdir(parents=True)
    with pytest.raises(FileNotFoundError, match="build_ivf_index"):
        AX.ivf_index_append(emb.limit(3), str(tmp_path / "ivf"), 3)
    assert list(data.iterdir()) == []


def test_compaction_raises_on_corrupt_meta(spark, emb, tmp_path):
    """An unreadable live _meta.json fails compaction loudly; the
    generation pointer does not move, so the corrupt meta is never
    carried into a new generation."""
    from andl_spark.streaming.events import _read_gen

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8, calibrate=0.9)
    AX.ivf_index_append(emb.limit(10).withColumn(
        "vec_id", F.col("vec_id") + 100_000), path, batch_id=0)
    data_root = str(tmp_path / "ivf" / "data")
    (tmp_path / "ivf" / "data" / "gen=1" / "_meta.json").write_text(
        "{not json")
    with pytest.raises(ValueError):
        AX.compact_ivf_index(spark, path)
    assert _read_gen(data_root) == 1


def test_build_empty_corpus_raises(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="empty corpus"):
        AX.build_ivf_index(emb.filter(F.lit(False)),
                           str(tmp_path / "ivf"), nlist=8)


def test_calib_solve_matches_linear_scan():
    """Property (hypothesis, no Spark): _calib_solve's binary search
    over the monotone recall curve returns exactly what a brute-force
    linear scan of every depth returns — smallest depth meeting the
    target, its exact recall — for arbitrary calibration row sets."""
    from hypothesis import given, settings, strategies as st

    from andl_spark.pipeline.simsearch import _calib_solve

    row = st.tuples(
        st.integers(0, 3),                      # query_id
        st.integers(1, 6),                      # probe_pos
        st.integers(0, 50),                     # cand_id
        st.floats(-1, 1, allow_nan=False),      # cosine
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(row, min_size=1, max_size=80).map(
               lambda rs: list({(r[0], r[2]): r for r in rs}.values())),
           st.integers(1, 5),
           st.floats(0.05, 1.0, allow_nan=False))
    def check(rows, k, target):
        max_p = 6
        depth, achieved, curve, _ = _calib_solve(rows, k, target, max_p)

        def recall_linear(p):
            per_q = {}
            for qid, pos, cand, cos in rows:
                per_q.setdefault(qid, []).append((cos, cand, pos))
            tot = 0.0
            for cands in per_q.values():
                cands.sort(key=lambda t: (-t[0], t[1]))
                truth = set(c for _, c, _ in cands[:k])
                elig = [c for _, c, pp in cands if pp <= p][:k]
                tot += len(set(elig) & truth) / len(truth)
            return tot / len(per_q)

        want_depth = next((p for p in range(1, max_p + 1)
                           if recall_linear(p) >= target), max_p)
        assert depth == want_depth
        assert abs(achieved - round(recall_linear(depth), 4)) < 1e-9
        # full probe is exact by construction
        assert abs(recall_linear(max_p) - 1.0) < 1e-9
        # monotone nondecreasing curve
        vals = [curve[f] for f in sorted(curve)]
        assert vals == sorted(vals)

    check()


def test_ivf_ingest_stream_drained_equals_batch(spark, emb, tmp_path):
    """Streaming appends: the drained stream's index equals the
    one-shot append of all new vectors — same (vec_id, list_id)
    assignments against the stored centroids, batch ids continuing
    the foreachBatch numbering; streamed vectors are served."""
    path = str(tmp_path / "ivf")
    src = str(tmp_path / "incoming")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    AX.build_ivf_index(old, path, nlist=16)
    for i in range(3):
        (new.filter(F.col("vec_id") % 3 == i).repartition(1)
         .write.mode("append").parquet(src))
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = AX.ivf_ingest_stream(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    data = AX.read_ivf_data(spark, path)
    assert data.count() == emb.count()
    got = {(r["vec_id"], r["list_id"])
           for r in data.filter(F.col("_batch_id") >= 0)
           .select("vec_id", "list_id").collect()}
    # one-shot reference: assign all new vectors against the meta
    meta = AX.read_ivf_meta(path)
    want = {(r["vec_id"], r["list_id"]) for r in new.select(
        F.col("vec_id"),
        F.element_at(SS._assign_expr(
            "embedding", meta["centroids"], 1), 1).alias("list_id")
    ).collect()}
    assert got == want
    served = AX.topk_ivf_index(spark, new.limit(2), path, k=3, nprobe=16)
    assert served.count() > 0


def test_ivf_live_compaction_beside_streaming_ingest(spark, emb, tmp_path):
    """The §5-style live soak for the ANN index: compactions fire from
    a concurrent thread WHILE the ingest stream drains. No vector is
    lost or duplicated in the final generation, every assignment
    equals the one-shot reference, and at least one compaction
    actually ran against live traffic."""
    import threading
    import time

    path = str(tmp_path / "ivf")
    src = str(tmp_path / "incoming")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    AX.build_ivf_index(old, path, nlist=16)
    # six DISJOINT odd-residue slices (mod 12 → 1,3,5,7,9,11): the
    # first cut used (2i+1) % 6, which repeats 1,3,5 twice — streaming
    # every vector twice under two batch ids and "finding" duplication
    # that was really in the input
    for i in range(6):
        (new.filter(F.col("vec_id") % 12 == 2 * i + 1).repartition(1)
         .write.mode("append").parquet(src))

    stop = threading.Event()
    compactions = {"n": 0}

    def compactor():
        while not stop.is_set():
            time.sleep(1.0)
            AX.compact_ivf_index(spark, path)
            compactions["n"] += 1

    t = threading.Thread(target=compactor, daemon=True)
    t.start()
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = AX.ivf_ingest_stream(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    stop.set()
    t.join(timeout=30)
    AX.compact_ivf_index(spark, path)  # final fold

    assert compactions["n"] >= 1
    data = AX.read_ivf_data(spark, path)
    assert data.count() == emb.count()  # nothing lost
    assert data.select("vec_id").distinct().count() == emb.count()  # no dups
    meta = AX.read_ivf_meta(path)
    got = {(r["vec_id"], r["list_id"])
           for r in data.select("vec_id", "list_id").collect()}
    want = {(r["vec_id"], r["list_id"])
            for r in AX._assigned(
                emb, "vec_id", "embedding",
                SS.CoarseQuantizer.from_meta(meta)).collect()}
    assert got == want


# ---------------------------------------------------------------------
# vector deletion (r9; VERDICT r8 item 2)
# ---------------------------------------------------------------------
def test_delete_masks_before_and_physically_removes_after_compaction(
        spark, emb, tmp_path):
    """Deleted vectors never surface in topk_ivf_index — pre-compaction
    (tombstone antijoin) and post-compaction (physically gone from the
    folded data partitions); untouched results identical to a plain
    filter of the pre-delete output."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=16)
    queries = emb.filter(F.col("vec_id") < 6)
    before = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=16)
    victims = sorted({r["cand_id"] for r in before.collect()})[:4]
    assert victims

    AX.ivf_index_delete(victims, path, batch_id=0, spark=spark)
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=16)
    served = {r["cand_id"] for r in got.collect()}
    assert not served & set(victims)
    # survivors re-rank exactly as the brute recompute over the
    # remaining corpus says they should
    want = SS.topk_ivf_det(
        emb.filter(~F.col("vec_id").isin(victims)), queries,
        k=5, nlist=16, nprobe=16)
    assert _rows(got) == _rows(want)

    AX.compact_ivf_index(spark, path)
    # physically removed: no folded data partition holds a victim
    data = AX.read_ivf_data(spark, path)
    live = data.filter(F.col("list_id") != AX.TOMBSTONE_LIST)
    assert live.filter(F.col("vec_id").isin(victims)).count() == 0
    # tombstones retained (masking survives kept-batch replays)
    assert {r["vec_id"] for r in AX._tombstone_ids(data).collect()} \
        == set(victims)
    got2 = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=16)
    assert _rows(got2) == _rows(want)


def test_delete_replay_idempotent_and_no_resurrection(spark, emb, tmp_path):
    """Replaying a delete batch rewrites exactly its partitions (no
    duplicate tombstones); an append of a deleted vec_id stays masked
    (kill-forever semantics, the FAISS remove_ids contract)."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, nlist=8)
    AX.ivf_index_delete([0, 2, 4], path, batch_id=0, spark=spark)
    n = AX.read_ivf_data(spark, path).count()
    AX.ivf_index_delete([0, 2, 4], path, batch_id=0, spark=spark)  # replay
    assert AX.read_ivf_data(spark, path).count() == n

    # re-append vec 0: tombstone still masks it
    AX.ivf_index_append(emb.filter(F.col("vec_id") == 0), path, batch_id=1)
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 6),
                            path, k=50, nprobe=8)
    assert 0 not in {r["cand_id"] for r in got.collect()}
    AX.compact_ivf_index(spark, path)
    got2 = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 6),
                             path, k=50, nprobe=8)
    assert 0 not in {r["cand_id"] for r in got2.collect()}


def test_rebuild_carry_appended_folds_appends_and_drops_tombstoned(
        spark, emb, tmp_path):
    """ADVICE r8: a plain rebuild seeds from the passed corpus alone —
    carry_appended=True unions the current generation's live rows
    (appends kept, tombstoned ids dropped, corpus winning id
    collisions) so 'rebuild when recall decays' keeps every vector."""
    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    appended = emb.filter(F.col("vec_id") % 3 == 1).limit(60)
    app_ids = sorted(r["vec_id"] for r in appended.select("vec_id").collect())
    AX.build_ivf_index(base, path, nlist=8)
    AX.ivf_index_append(appended, path, batch_id=0)
    # delete two APPENDED ids (stay dead through the rebuild) and one
    # CORPUS id (resurrected — the rebuild corpus re-supplies it, the
    # deliberate resurrection path)
    AX.ivf_index_delete([app_ids[0], app_ids[1], 3], path,
                        batch_id=1, spark=spark)

    AX.build_ivf_index(base, path, nlist=8, carry_appended=True)
    data = AX.read_ivf_data(spark, path)
    got = {r["vec_id"] for r in data.select("vec_id").collect()}
    want = ({r["vec_id"] for r in base.select("vec_id").collect()}
            | set(app_ids)) - {app_ids[0], app_ids[1]}
    assert got == want and 3 in got
    # the rebuild generation carries no tombstones — it IS the cleanup
    assert data.filter(F.col("list_id") == AX.TOMBSTONE_LIST).count() == 0

    # contrast: a PLAIN rebuild drops the appended vectors (documented)
    AX.build_ivf_index(base, path, nlist=8)
    got_plain = {r["vec_id"] for r in AX.read_ivf_data(spark, path)
                 .select("vec_id").collect()}
    assert got_plain == {r["vec_id"] for r in base.select("vec_id").collect()}


def test_hot_cell_write_salting_bounds_files_and_parallelizes(
        spark, emb, tmp_path):
    """r9 (VERDICT r8 'What's wrong' 1): a cell holding most of the
    corpus (the clustered-corpus shape) writes across
    ceil(rows/rows_per_task) salted tasks instead of one, with files
    per cell ≤ that width — while cold cells keep the one-file-per-
    cell invariant, results stay identical to the per-call operator,
    and pruning is unchanged."""
    dim = len(emb.select("embedding").first()[0])
    const = F.array(*[F.lit(0.25)] * dim).cast(
        emb.schema["embedding"].dataType)
    skewed = emb.select(
        "vec_id",
        F.when(F.col("vec_id") >= 8, const)
        .otherwise(F.col("embedding")).alias("embedding"))
    n_hot = skewed.filter(F.col("vec_id") >= 8).count()
    assert n_hot > 100

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(skewed, path, nlist=4, rows_per_task=50)
    data_dir = tmp_path / "ivf" / "data" / "gen=1" / "_batch_id=-1"
    files_per_cell = {
        int(p.name.split("=")[1]): len(list(p.glob("*.parquet")))
        for p in data_dir.iterdir() if p.name.startswith("list_id=")}
    width = -(-n_hot // 50)
    hot_files = max(files_per_cell.values())
    assert hot_files > 1, files_per_cell          # parallel write
    assert hot_files <= width, (files_per_cell, width)  # bounded
    assert min(files_per_cell.values()) == 1      # cold cells untouched

    # same rows as the per-call operator at the same quantizer
    queries = skewed.filter(F.col("vec_id") < 4)
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=4)
    want = SS.topk_ivf_det(skewed, queries, k=5, nlist=4, nprobe=4)
    assert _rows(got) == _rows(want) and len(_rows(got)) > 0
    # pruning still plan-visible
    plan = formatted_plan(
        AX.topk_ivf_index(spark, queries, path, k=5, nprobe=2))
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters", 1)[1][:500]

    # compaction with the same salting: append then compact, hot cell
    # still bounded, results stable
    AX.ivf_index_append(skewed.limit(30), path, batch_id=0,
                        rows_per_task=50)
    before = _rows(AX.topk_ivf_index(spark, queries, path, k=5, nprobe=4))
    AX.compact_ivf_index(spark, path, rows_per_task=50)
    assert _rows(AX.topk_ivf_index(
        spark, queries, path, k=5, nprobe=4)) == before
    folded = tmp_path / "ivf" / "data" / "gen=2" / "_batch_id=-1"
    for cdir in folded.iterdir():
        if cdir.name.startswith("list_id="):
            n_files = len(list(cdir.glob("*.parquet")))
            assert 1 <= n_files <= width + 1, (cdir, n_files)


def test_recall_decay_gauge_measured_at_compaction(spark, tmp_path):
    """r9 (VERDICT r8 item 4): the rebuild trigger becomes a NUMBER.
    Build a 4-orthogonal-cluster corpus (calibration: nprobe=1 is
    perfect), then append a distribution-SHIFTED batch of boundary
    vectors whose true neighbors split across two frozen cells —
    compaction's gauge measures recall at the stored operating point
    off the newest batch, records it in the new generation's meta, and
    flags the decay; an unshifted control stays green."""
    import numpy as np

    dim, per = 8, 12
    rows = []
    vid = 0
    for c in range(4):
        for j in range(per):
            v = np.zeros(dim); v[c] = 1.0
            v[(c + 4) % dim] = 0.001 * (j + 1)  # tiny within-cluster spread
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    # id order interleaves clusters so the 4 smallest ids span all 4
    rows.sort(key=lambda t: (t[0] % per, t[0]))
    rows = [(i, v) for i, (_, v) in enumerate(rows)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    path = str(tmp_path / "ivf")
    meta = AX.build_ivf_index(corpus, path, nlist=4, calibrate=0.9)
    cal = meta["calibration"]
    assert cal["nprobe"] == 1 and cal["recall"] >= 0.9

    # shifted batch: 8 PAIRS of near-identical boundary vectors, the
    # two twins nudged to OPPOSITE sides of the cell-0/cell-1 frontier
    # (each pair shares a j-specific off-axis direction, so a vector's
    # true nearest neighbor is its twin — in the OTHER cell): the
    # stored nprobe=1 can never see a query's twin, recall must fall
    shifted = []
    for j in range(8):
        base = np.zeros(dim); base[0] = 1.0; base[1] = 1.0
        base[2 + (j % 6)] += 0.30
        base[2 + ((j + 1) % 6)] += 0.15
        for side in (0, 1):
            v = base.copy(); v[side] += 0.02
            shifted.append((1000 + 2 * j + side,
                            [float(x) for x in v / np.linalg.norm(v)]))
    AX.ivf_index_append(
        spark.createDataFrame(shifted, "vec_id long, embedding array<double>"),
        path, batch_id=0)

    AX.compact_ivf_index(spark, path)
    meta2 = AX.read_ivf_meta(path)
    g = meta2["gauge"]
    assert g["stored"] == 1 and g["holdout_batch"] == 0
    assert 0.0 <= g["recall_at_stored"] < 0.9
    assert g["decayed"] is True and g["measured_nprobe"] >= 2
    # the build-time calibration is retained beside the gauge
    assert meta2["calibration"]["nprobe"] == 1

    # control: an UNSHIFTED append keeps the gauge green
    path2 = str(tmp_path / "ivf2")
    AX.build_ivf_index(corpus, path2, nlist=4, calibrate=0.9)
    extra = []
    for j in range(16):
        v = np.zeros(dim); v[j % 4] = 1.0
        v[(j % 4) + 4] = 0.002 * (j + 1)
        extra.append((2000 + j, [float(x) for x in v / np.linalg.norm(v)]))
    AX.ivf_index_append(
        spark.createDataFrame(extra, "vec_id long, embedding array<double>"),
        path2, batch_id=0)
    AX.compact_ivf_index(spark, path2)
    g2 = AX.read_ivf_meta(path2)["gauge"]
    assert g2["decayed"] is False and g2["recall_at_stored"] >= 0.9

    # gauge=False skips; gauge absent pre-compaction on a fresh build
    path3 = str(tmp_path / "ivf3")
    AX.build_ivf_index(corpus, path3, nlist=4, calibrate=0.9)
    AX.ivf_index_append(
        spark.createDataFrame(extra, "vec_id long, embedding array<double>"),
        path3, batch_id=0)
    AX.compact_ivf_index(spark, path3, gauge=False)
    assert "gauge" not in AX.read_ivf_meta(path3)


@pytest.mark.slow
def test_persisted_hier_index_at_20m(spark, tmp_path):
    """Scale pin (VERDICT r8 item 7), gated on ANDL_SCALE_20M: the
    persisted index at the two-level auto-dispatch regime (N=20M >
    16.7M) — build stores the hier quantizer, a served batch through
    the pruned index holds recall@5 ≥ 0.9 against the analytic ground
    truth (the r7-validated 100-copy construction), deletion masks at
    scale, and appends assign via the stored two-level quantizer.
    Timings recorded in SCALE_r09.md (the rehearsal script run)."""
    import os

    if not os.environ.get("ANDL_SCALE_20M"):
        pytest.skip("set ANDL_SCALE_20M=1 for the 20M persisted-index pin")

    N_BASE, COPIES, DIM = 200_000, 100, 8
    N = N_BASE * COPIES
    base = F.col("id") % N_BASE
    copy = (F.col("id") / N_BASE).cast("long")

    def coord(j):
        c = ((base * (2 * j + 3)) % 101 - 50).cast("double") / 10.0
        if j == 0:
            c = c + copy.cast("double") * 0.001
        if j == 1:
            c = c + (base % 2003).cast("double") * 0.01
        return c

    emb = spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.array(*[coord(j) for j in range(DIM)]).alias("embedding"))
    path = str(tmp_path / "ivf20m")
    meta = AX.build_ivf_index(emb, path, corpus_count=N)
    assert meta["kind"] == "hier" and meta["n1"] * meta["n2"] > 4096

    queries = emb.filter(F.col("vec_id") < 10).localCheckpoint()
    got = AX.topk_ivf_index(spark, queries, path, k=5)
    g = {(r["query_id"], r["cand_id"]) for r in got.collect()}
    want = {(q, q + c * N_BASE) for q in range(10) for c in range(1, 6)}
    assert len(g & want) / len(want) >= 0.9

    # deletion masks at scale
    AX.ivf_index_delete([q + N_BASE for q in range(10)], path,
                        batch_id=0, spark=spark)
    g2 = {(r["query_id"], r["cand_id"]) for r in
          AX.topk_ivf_index(spark, queries, path, k=5).collect()}
    assert not ({c for _, c in g2} & {q + N_BASE for q in range(10)})

    # appends quantize via the stored two-level quantizer
    AX.ivf_index_append(
        emb.filter(F.col("vec_id") < 20).withColumn(
            "vec_id", F.col("vec_id") + N), path, batch_id=1)
    data = AX.read_ivf_data(spark, path)
    assert data.filter(F.col("_batch_id") == 1).count() == 20


def test_snapshot_data_cache_invalidates_on_batch_changes(
        spark, emb, tmp_path):
    """r9: read_ivf_snapshot reuses the generation's DataFrame (its
    FileIndex holds the O(cells×batches) listing — the measured
    dominant serve cost at 4k+ cells) keyed on the top-level batch-dir
    set: repeat queries hit the cache, while an append, a delete or a
    compaction changes the key and serves fresh files."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, nlist=8)
    _, d1 = AX.read_ivf_snapshot(spark, path)
    _, d2 = AX.read_ivf_snapshot(spark, path)
    assert d1 is d2  # unchanged tree: the listing is paid once

    AX.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1).limit(20),
                        path, batch_id=0)
    _, d3 = AX.read_ivf_snapshot(spark, path)
    assert d3 is not d1
    assert d3.filter(F.col("_batch_id") == 0).count() == 20  # fresh files

    AX.ivf_index_delete([1], path, batch_id=1, spark=spark)
    _, d4 = AX.read_ivf_snapshot(spark, path)
    assert d4 is not d3  # the delete's batch dir changed the key
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 0),
                            path, k=30, nprobe=8)
    assert 1 not in {r["cand_id"] for r in got.collect()}

    AX.compact_ivf_index(spark, path)
    _, d5 = AX.read_ivf_snapshot(spark, path)
    assert d5 is not d4  # new generation


def test_ivf_live_soak_with_concurrent_deletes(spark, emb, tmp_path):
    """r9 soak: deletes race the ingest stream AND the compactor —
    the three writers the index supports, concurrently. Final state:
    every streamed vector present exactly once UNLESS deleted, deleted
    ids never served (pre- or post-fold), tombstones carry the masked
    set, and at least one compaction ran against live traffic."""
    import threading
    import time

    path = str(tmp_path / "ivf")
    src = str(tmp_path / "incoming")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    AX.build_ivf_index(old, path, nlist=16)
    for i in range(6):
        (new.filter(F.col("vec_id") % 12 == 2 * i + 1).repartition(1)
         .write.mode("append").parquet(src))
    # delete targets: some seeded (evens), some that arrive mid-stream
    victims = [0, 2, 4, 1, 3, 13]

    stop = threading.Event()
    compactions = {"n": 0}
    errs: list = []

    def compactor():
        while not stop.is_set():
            time.sleep(1.2)
            try:
                AX.compact_ivf_index(spark, path)
                compactions["n"] += 1
            except Exception as e:  # pragma: no cover
                errs.append(e)

    def deleter():
        for j, v in enumerate(victims):
            time.sleep(0.7)
            try:
                # deletes use their own high batch-id space so they
                # never collide with the stream's foreachBatch ids
                AX.ivf_index_delete([v], path, batch_id=1000 + j,
                                    spark=spark)
            except Exception as e:  # pragma: no cover
                errs.append(e)

    tc = threading.Thread(target=compactor, daemon=True)
    td = threading.Thread(target=deleter, daemon=True)
    tc.start(); td.start()
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = AX.ivf_ingest_stream(stream, path, str(tmp_path / "ckpt"))
    q.awaitTermination(240)
    td.join(timeout=60)
    stop.set()
    tc.join(timeout=60)
    assert not errs, errs
    assert compactions["n"] >= 1
    AX.compact_ivf_index(spark, path)  # final fold

    data = AX.read_ivf_data(spark, path)
    live = (data.filter(F.col("list_id") != AX.TOMBSTONE_LIST)
            .join(AX._tombstone_ids(data), "vec_id", "left_anti"))
    want_ids = ({r["vec_id"] for r in emb.select("vec_id").collect()}
                - set(victims))
    got_ids = [r["vec_id"] for r in live.select("vec_id").collect()]
    assert sorted(got_ids) == sorted(want_ids)      # once each, none lost
    assert set(got_ids) == want_ids
    # masked set survives the folds
    assert {r["vec_id"] for r in AX._tombstone_ids(data).collect()} \
        == set(victims)
    # deleted ids never served
    served = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") < 8),
                               path, k=50, nprobe=16)
    assert not ({r["cand_id"] for r in served.collect()} & set(victims))


# ---------------------------------------------------------------------
# r10: data-cache physical identity (ADVICE r9 high), incremental
# compaction, sampled gauge, churn bounds
# ---------------------------------------------------------------------
def test_data_cache_sees_same_batch_replay_files(
        spark, emb, tmp_path, monkeypatch):
    """ADVICE r9 (high): a foreachBatch replay rewrites an EXISTING
    _batch_id=N with NEW part files — the batch-dir NAME set is
    unchanged, so the r9 cache key kept serving a FileIndex of deleted
    files (FileNotFoundException on every read). The key now carries
    each batch dir's stat identity; this pin disables the in-process
    invalidation entirely to prove the key alone catches it (the
    cross-process-writer scenario)."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, nlist=8)
    batch = emb.filter(F.col("vec_id") % 2 == 1).limit(20).localCheckpoint()
    monkeypatch.setattr(ax, "_invalidate_data_cache", lambda p: None)
    AX.ivf_index_append(batch, path, batch_id=3)
    _, d1 = AX.read_ivf_snapshot(spark, path)
    assert d1.filter(F.col("_batch_id") == 3).count() == 20  # cache warm
    AX.ivf_index_append(batch, path, batch_id=3)  # replay: new files
    _, d2 = AX.read_ivf_snapshot(spark, path)
    assert d2 is not d1  # stat identity changed -> fresh FileIndex
    # and the fresh frame reads without FileNotFoundException
    assert d2.filter(F.col("_batch_id") == 3).count() == 20


def test_data_cache_sees_delete_under_existing_batch_id(
        spark, emb, tmp_path, monkeypatch):
    """ADVICE r9 (high), second scenario: a delete committed under an
    ALREADY-EXISTING batch_id adds only a leaf tombstone dir — no
    top-level change — so the r9 cache kept serving deleted vectors.
    In-process invalidation disabled to prove the stat key catches
    it."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path, nlist=8)
    AX.ivf_index_append(
        emb.filter(F.col("vec_id") % 2 == 1).limit(20), path, batch_id=0)
    queries = emb.filter(F.col("vec_id") == 2)
    before = AX.topk_ivf_index(spark, queries, path, k=30, nprobe=8)
    victim = sorted(r["cand_id"] for r in before.collect())[0]
    monkeypatch.setattr(ax, "_invalidate_data_cache", lambda p: None)
    # same batch_id as the existing append: only a list_id=-1 leaf lands
    AX.ivf_index_delete([victim], path, batch_id=0, spark=spark)
    got = AX.topk_ivf_index(spark, queries, path, k=30, nprobe=8)
    assert victim not in {r["cand_id"] for r in got.collect()}


def test_incremental_compaction_row_identical_to_full_fold(
        spark, emb, tmp_path):
    """VERDICT r9 item 1: the dirty-cell fold and the full fold commit
    byte-equivalent generations — same rows (vec_id, list_id,
    _batch_id), same tombstones, same query results."""
    import shutil

    def build(p):
        parts = [emb.filter(F.col("vec_id") % 4 == i) for i in range(4)]
        AX.build_ivf_index(parts[0], p, nlist=16)
        AX.ivf_index_append(parts[1], p, batch_id=0)
        AX.ivf_index_append(parts[2], p, batch_id=1)
        victims = [r["vec_id"] for r in parts[0].limit(3).collect()]
        AX.ivf_index_delete(victims, p, batch_id=2, spark=spark)
        AX.ivf_index_append(parts[3], p, batch_id=3)  # kept max batch

    p_inc, p_full = str(tmp_path / "inc"), str(tmp_path / "full")
    build(p_inc)
    shutil.copytree(p_inc, p_full)
    AX.compact_ivf_index(spark, p_inc, incremental=True)
    AX.compact_ivf_index(spark, p_full, incremental=False)

    def rows(p):
        return sorted(
            (r["vec_id"], r["list_id"], r["_batch_id"])
            for r in AX.read_ivf_data(spark, p).collect())

    assert rows(p_inc) == rows(p_full) and rows(p_inc)
    q = emb.filter(F.col("vec_id") < 6)
    assert _rows(AX.topk_ivf_index(spark, q, p_inc, k=5, nprobe=8)) == \
        _rows(AX.topk_ivf_index(spark, q, p_full, k=5, nprobe=8))


def test_incremental_compaction_rewrites_only_dirty_cells(
        spark, emb, tmp_path):
    """The cost-proportionality pin: after a one-batch append, ONLY
    that batch's cells (and the tombstone partition) are rewritten —
    every clean cell's parquet files carry into the new generation as
    HARDLINKS of the previous generation's (same inode: zero bytes
    moved, no Spark job touched them)."""
    import os

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") >= 10), path, nlist=16)
    small = emb.filter(F.col("vec_id") < 4)  # a handful of vectors
    AX.ivf_index_append(small, path, batch_id=0)
    AX.ivf_index_append(emb.filter((F.col("vec_id") >= 4)
                                   & (F.col("vec_id") < 6)),
                        path, batch_id=1)  # kept max batch
    data = AX.read_ivf_data(spark, path)
    dirty = {r["list_id"] for r in data.filter(F.col("_batch_id") == 0)
             .select("list_id").distinct().collect()}
    assert dirty and len(dirty) < 10  # a strict subset of 16 cells

    g1 = tmp_path / "ivf" / "data" / "gen=1" / "_batch_id=-1"
    inodes_before = {
        c.name: {f.name: os.stat(f).st_ino for f in c.glob("*.parquet")}
        for c in g1.iterdir() if c.name.startswith("list_id=")}

    AX.compact_ivf_index(spark, path)
    g2 = tmp_path / "ivf" / "data" / "gen=2" / "_batch_id=-1"
    rewritten, linked = set(), set()
    for c in g2.iterdir():
        if not c.name.startswith("list_id="):
            continue
        cid = int(c.name.split("=")[1])
        after = {f.name: os.stat(f).st_ino for f in c.glob("*.parquet")}
        if c.name in inodes_before and after == inodes_before[c.name]:
            linked.add(cid)
        else:
            rewritten.add(cid)
    # rewritten == the appended batch's cells exactly (no tombstones
    # here, so nothing else is dirty); everything else linked
    assert rewritten == dirty, (rewritten, dirty)
    assert linked and linked.isdisjoint(dirty)
    # the kept max batch carried verbatim too
    kept = tmp_path / "ivf" / "data" / "gen=2" / "_batch_id=1"
    assert kept.is_dir()
    # correctness unchanged
    assert AX.read_ivf_data(spark, path).count() == \
        emb.filter((F.col("vec_id") >= 10) | (F.col("vec_id") < 6)).count()


def test_gauge_sampling_bounds_cost_and_stays_deterministic(
        spark, emb, tmp_path):
    """VERDICT r9 item 2: above sample_rows the gauge scores a
    deterministic xxhash64 row sample — the record carries
    corpus_n/sampled_n, two runs agree exactly, and sample_rows=None
    still forces the exhaustive pass (no sampling keys)."""
    path = str(tmp_path / "ivf")
    meta = AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path,
                              nlist=8, calibrate=0.9)
    stored = meta["calibration"]["nprobe"]
    AX.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1).limit(30),
                        path, batch_id=0)
    g1 = AX.measure_ivf_recall(spark, path, sample_rows=100)
    g2 = AX.measure_ivf_recall(spark, path, sample_rows=100)
    assert g1["corpus_n"] > 100 and 0 < g1["sampled_n"] < g1["corpus_n"]
    assert g1 == g2  # deterministic: hash sample, no RNG
    full = AX.measure_ivf_recall(spark, path, sample_rows=None)
    assert "sampled_n" not in full and "corpus_n" not in full
    # both are valid gauge records with the same shape otherwise
    for g in (g1, full):
        assert g["stored"] == stored and isinstance(g["decayed"], bool)


def test_high_churn_soak_bounds_files_and_tombstones(spark, emb, tmp_path):
    """VERDICT r9 item 8: many small appends+deletes between two
    compactions — pointer files stay ≤ KEEP+1, the live generation
    collapses to ≤ 2 top-level batch dirs (seed + kept max), on-disk
    generations stay ≤ 2, tombstone ROWS equal the distinct deleted
    ids, and the surviving id set is exact."""
    from andl_spark.pointer import KEEP

    path = str(tmp_path / "ivf")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    AX.build_ivf_index(base, path, nlist=8)
    incoming = emb.filter(F.col("vec_id") % 2 == 1)
    inc_ids = sorted(r["vec_id"] for r in incoming.select("vec_id").collect())
    deleted = []
    for j in range(8):
        AX.ivf_index_append(
            incoming.filter(F.col("vec_id").isin(inc_ids[5 * j:5 * j + 5])),
            path, batch_id=j)
        victim = inc_ids[5 * j]  # delete one id it just appended
        AX.ivf_index_delete([victim], path, batch_id=100 + j, spark=spark)
        deleted.append(victim)
    AX.compact_ivf_index(spark, path)
    AX.ivf_index_append(
        incoming.filter(F.col("vec_id").isin(inc_ids[40:45])),
        path, batch_id=8)
    AX.compact_ivf_index(spark, path)

    data_root = tmp_path / "ivf" / "data"
    pointers = [p for p in data_root.iterdir()
                if p.name.startswith("_pointer.v")]
    assert len(pointers) <= KEEP + 1
    gens = sorted(p.name for p in data_root.iterdir()
                  if p.name.startswith("gen="))
    assert len(gens) <= 2
    cur = data_root / gens[-1]
    batch_dirs = [p.name for p in cur.iterdir()
                  if p.name.startswith("_batch_id=")]
    assert len(batch_dirs) <= 2  # seed + kept max
    data = AX.read_ivf_data(spark, path)
    tomb = AX._tombstone_ids(data)
    assert {r["vec_id"] for r in tomb.collect()} == set(deleted)
    # tombstone rows stay one per deleted id (no replay inflation)
    assert data.filter(
        F.col("list_id") == AX.TOMBSTONE_LIST).count() == len(deleted)
    live = (data.filter(F.col("list_id") != AX.TOMBSTONE_LIST)
            .join(tomb, "vec_id", "left_anti"))
    want = ({r["vec_id"] for r in base.select("vec_id").collect()}
            | set(inc_ids[:45])) - set(deleted)
    assert {r["vec_id"] for r in live.select("vec_id").collect()} == want


def test_shared_mode_row_identical_to_join_mode(spark, emb, tmp_path):
    """VERDICT r9 item 3: mode="shared" groups the query batch by
    probed cell and scores each cell once per batch — the numpy
    element-order accumulation makes cosines BITWISE equal to the JVM
    fold, so the result rows (ids, rank AND the cosine doubles) match
    mode="join" exactly. Pinned on flat + hier indexes, with and
    without tombstones, on float32 embeddings."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=16)
    queries = emb.filter(F.col("vec_id") < 8)

    def exact(df):
        return sorted((r["query_id"], r["cand_id"], r["cosine"], r["rank"])
                      for r in df.collect())

    join_rows = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                        nprobe=4, mode="join"))
    shared_rows = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                          nprobe=4, mode="shared"))
    assert shared_rows == join_rows and len(shared_rows) > 0

    # with tombstones: deleted ids masked in both modes, still bitwise
    victims = sorted({r[1] for r in join_rows})[:3]
    AX.ivf_index_delete(victims, path, batch_id=0, spark=spark)
    j2 = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                 nprobe=4, mode="join"))
    s2 = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                 nprobe=4, mode="shared"))
    assert s2 == j2 and not ({r[1] for r in s2} & set(victims))

    # hier index (two-level probe ids) through the same path
    path2 = str(tmp_path / "ivf_h")
    AX.build_ivf_index(emb, path2, n1=4, n2=4)
    jh = exact(AX.topk_ivf_index(spark, queries, path2, k=5,
                                 nprobe=2, mode="join"))
    sh = exact(AX.topk_ivf_index(spark, queries, path2, k=5,
                                 nprobe=2, mode="shared"))
    assert sh == jh and len(sh) > 0


def test_multimodal_features_through_persisted_ann_index(spark, tmp_path):
    """VERDICT r9 item 5 — the realistic media-dedup pipeline, end to
    end: REAL codec decode (extract_features) → persisted IVF index →
    near-dup decision for perturbed re-encodes. Oracle: driver-side
    decode of the SAME payloads (the q_multimodal_decode pattern) plus
    exact numpy cosine — the Spark pipeline must reproduce the
    oracle's (probe → original) top-1 mapping and cosines."""
    import numpy as np

    from andl_spark.pipeline import multimodal as MM

    base = MM.media_rows(48)
    media = spark.createDataFrame(base, MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media).select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"))
    path = str(tmp_path / "media_ivf")
    AX.build_ivf_index(feats, path, nlist=8)

    # near-dup probes: decode, nudge ONE pixel / ONE sample, re-encode
    probes = []
    for mid, kind, payload, meta in base[:6]:
        payload = bytes(payload)
        if kind == "audio":
            rate, samples = MM.decode_wav(payload)
            s = samples.copy()
            s[-1] = s[-1] + 1
            p2 = MM.encode_wav(s, rate)
        else:
            rgb = (MM.decode_bmp(payload) if payload[:2] == b"BM"
                   else MM.decode_ppm(payload))
            r2 = rgb.copy()
            r2[0, 0, 0] = (int(r2[0, 0, 0]) + 8) % 256
            p2 = (MM.encode_bmp(r2) if payload[:2] == b"BM"
                  else MM.encode_ppm(r2))
        probes.append((1000 + mid, kind, bytearray(p2), meta))
    probe_media = spark.createDataFrame(probes, MM.MEDIA_SCHEMA)
    probe_feats = MM.extract_features(probe_media).select(
        F.col("media_id").alias("vec_id"),
        F.col("features").alias("embedding"))

    got = AX.topk_ivf_index(spark, probe_feats, path, k=1, nprobe=8)
    got_rows = {r["query_id"]: (r["cand_id"], r["cosine"])
                for r in got.collect()}

    # oracle: decode everything driver-side, exact cosine, same
    # (cosine desc, cand_id asc) tie-break
    corpus = {mid: np.array(MM.decode_payload(kind, bytes(p)))
              for mid, kind, p, _ in base}
    want = {}
    for pid, kind, p, _ in probes:
        qv = np.array(MM.decode_payload(kind, bytes(p)))
        best = max(
            ((float(qv @ cv / (np.linalg.norm(qv) * np.linalg.norm(cv))),
              -cid) for cid, cv in corpus.items()),
            key=lambda t: (t[0], t[1]))
        want[pid] = (-best[1], best[0])

    assert set(got_rows) == set(want)
    for pid in want:
        assert got_rows[pid][0] == want[pid][0], (pid, got_rows[pid], want[pid])
        assert abs(got_rows[pid][1] - want[pid][1]) < 1e-9
        # the near-dup DECISION: a one-pixel/one-sample nudge stays a
        # duplicate at any sane threshold
        assert got_rows[pid][1] > 0.999
        assert got_rows[pid][0] == pid - 1000  # maps back to its original


@pytest.mark.slow
def test_persisted_index_at_20m_skewed(spark, tmp_path):
    """Scale pin (VERDICT r9 item 4), gated on ANDL_SCALE_20M: the r9
    20M fixture had uniform cells, so _cell_shape salting never engaged
    at scale. This re-runs build/serve/compact at 20M on a CLUSTERED
    corpus (30% of vectors in one cell): salting engages with
    files-per-cell ≤ the salt-width bound, join and shared serve modes
    agree row-identically, and the incremental compact commits a
    generation row-identical to what the protocol requires. Timings
    recorded in SCALE_r10.md (tools/rehearse_20m_skew.py)."""
    import os
    import sys

    if not os.environ.get("ANDL_SCALE_20M"):
        pytest.skip("set ANDL_SCALE_20M=1 for the 20M skewed-index pin")
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from rehearse_20m_skew import skewed_corpus

    N = 20_000_000
    corpus = skewed_corpus(spark, N)
    path = str(tmp_path / "ivf20m_skew")
    meta = AX.build_ivf_index(corpus, path, corpus_count=N)
    assert meta["kind"] == "hier"
    # salting engaged: the hot cell wrote >1 and ≤ width files
    gen_dir = tmp_path / "ivf20m_skew" / "data" / "gen=1" / "_batch_id=-1"
    files = {c.name: len(list(c.glob("*.parquet")))
             for c in gen_dir.iterdir() if c.name.startswith("list_id=")}
    hot_rows = corpus.filter((F.col("vec_id") % 10) < 3).count()
    width = -(-hot_rows // AX.SALT_ROWS_PER_TASK)
    assert max(files.values()) > 1
    assert max(files.values()) <= width + 1, (max(files.values()), width)

    queries = corpus.filter(
        (F.col("vec_id") % 625_000 == 7) & ((F.col("vec_id") % 10) >= 3)
    ).limit(32).localCheckpoint()

    def exact(df):
        return sorted((r["query_id"], r["cand_id"], r["cosine"], r["rank"])
                      for r in df.collect())

    j = exact(AX.topk_ivf_index(spark, queries, path, k=5, mode="join"))
    s = exact(AX.topk_ivf_index(spark, queries, path, k=5, mode="shared"))
    assert j == s and len(j) > 0

    # clustered append (200k vectors around ONE spread point — the
    # rehearsal-script shape) → incremental compact touches few cells;
    # serving is row-identical ACROSS the compaction (an append may
    # legitimately change top-k membership, so the stability claim is
    # compaction's, measured after the append)
    anchor = [((77_777 * (2 * j + 3)) % 101 - 50) / 10.0 for j in range(8)]
    batch = spark.range(100_000).select(
        (F.col("id") + N).alias("vec_id"),
        F.array(*[F.lit(anchor[j])
                  + (F.col("id") % 997).cast("double") * 1e-6
                  for j in range(8)]).alias("embedding"))
    AX.ivf_index_append(batch, path, batch_id=0)
    AX.ivf_index_append(corpus.limit(500).withColumn(
        "vec_id", F.col("vec_id") + 2 * N), path, batch_id=1)
    before = AX.read_ivf_data(spark, path).count()
    s_pre = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                    mode="shared"))
    AX.compact_ivf_index(spark, path)
    assert AX.read_ivf_data(spark, path).count() == before
    s_post = exact(AX.topk_ivf_index(spark, queries, path, k=5,
                                     mode="shared"))
    assert s_post == s_pre


def test_shared_mode_prunes_and_dirty_scan_is_column_pruned(
        spark, emb, tmp_path):
    """Plan pins for the r10 claims: (a) mode="shared" keeps the same
    PartitionFilters pruning as the join mode — the Arrow pass feeds
    off the pruned scan, not a full read; (b) the incremental
    compaction's dirty-cell detection reads ONLY vec_id bytes
    (ReadSchema excludes the embedding column; list_id/_batch_id come
    from partition directories, not file bytes)."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=16)
    q = emb.filter(F.col("vec_id") < 4)
    plan = formatted_plan(
        AX.topk_ivf_index(spark, q, path, k=5, nprobe=2, mode="shared"))
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters", 1)[1][:300]

    from andl_spark import fsio
    raw = spark.read.parquet(
        AX.resolve_neardup_index(fsio.join(path, "data")))
    slim = (raw.select("vec_id", "list_id", "_batch_id")
            .filter(F.col("_batch_id") >= 0))
    reads = [l for l in formatted_plan(slim).splitlines()
             if "ReadSchema" in l]
    assert reads and all("embedding" not in l for l in reads), reads
    assert any("vec_id" in l for l in reads)


def test_scattered_churn_falls_back_to_one_pass_fold(spark, emb, tmp_path):
    """When appends dirty most cells, the per-cell copies buy nothing:
    the plan folds every cell in one pass (no seed-cell hardlinks in
    the new generation) while still carrying the kept max batch
    verbatim — and the result stays row-identical to before."""
    import os

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), path, nlist=8)
    # a SCATTERED append: remaining vectors span essentially all cells
    AX.ivf_index_append(emb.filter(F.col("vec_id") % 3 == 1),
                        path, batch_id=0)
    AX.ivf_index_append(emb.filter(F.col("vec_id") % 3 == 2).limit(20),
                        path, batch_id=1)  # kept max
    g1 = tmp_path / "ivf" / "data" / "gen=1" / "_batch_id=-1"
    inodes_before = {
        c.name: {f.name: os.stat(f).st_ino for f in c.glob("*.parquet")}
        for c in g1.iterdir() if c.name.startswith("list_id=")}
    before = AX.read_ivf_data(spark, path).count()

    AX.compact_ivf_index(spark, path)
    g2 = tmp_path / "ivf" / "data" / "gen=2" / "_batch_id=-1"
    for c in g2.iterdir():
        if not c.name.startswith("list_id="):
            continue
        after = {f.name: os.stat(f).st_ino for f in c.glob("*.parquet")}
        # one-pass fold: every seed cell REWRITTEN (no hardlink carry)
        assert after != inodes_before.get(c.name), c.name
    assert (tmp_path / "ivf" / "data" / "gen=2" / "_batch_id=1").is_dir()
    assert AX.read_ivf_data(spark, path).count() == before


def test_zero_norm_vectors_are_unservable_in_both_modes(spark, tmp_path):
    """review r10: a zero-norm vector (padding/null-embedding
    artifact) has no defined cosine — under Spark's ANSI mode the
    serve DIVISION used to abort the entire query batch with
    DIVIDE_BY_ZERO. Both modes now exclude zero-norm candidates (and
    zero-norm queries) by contract: no crash, identical rows, the
    degenerate vector never served."""
    rows = [(i, [float(i % 7 + 1), float((i * 3) % 5 + 1),
                 float((i * 5) % 11 + 1), 1.0]) for i in range(40)]
    rows.append((100, [0.0, 0.0, 0.0, 0.0]))  # zero-norm candidate
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(corpus, path, nlist=2)
    queries = corpus.filter((F.col("vec_id") < 3)
                            | (F.col("vec_id") == 100))

    def exact(df):
        return sorted((r["query_id"], r["cand_id"], r["cosine"],
                       r["rank"]) for r in df.collect())

    j = exact(AX.topk_ivf_index(spark, queries, path, k=3, nprobe=2,
                                mode="join"))
    s = exact(AX.topk_ivf_index(spark, queries, path, k=3, nprobe=2,
                                mode="shared"))
    assert j == s and len(j) > 0
    assert 100 not in {t[1] for t in j}  # never served as a candidate
    assert 100 not in {t[0] for t in j}  # zero-norm query: no rows


def test_shared_mode_query_batch_bound(spark, emb, tmp_path, monkeypatch):
    """mode='shared' broadcasts per-cell query matrices to every task:
    the batch is bounded like topk_bruteforce — oversized batches fail
    loudly with redirection to the pair ops instead of OOMing the
    cluster."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.limit(200), path, nlist=4)
    monkeypatch.setattr(ax, "SHARED_MAX_QUERIES", 4)
    with pytest.raises(ValueError, match="query batch exceeds 4"):
        AX.topk_ivf_index(spark, emb.limit(10), path, k=3, nprobe=2,
                          mode="shared")


def test_topk_mode_auto_dispatch(spark, emb, tmp_path, monkeypatch):
    """mode=None auto-dispatches on pure cost (the results are bitwise
    identical either way): multi-query batches share cells, a single
    query keeps the join, an oversized batch falls back to the join
    instead of tripping the shared broadcast bound — and the default
    result equals both explicit modes."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    multi = emb.filter(F.col("vec_id") < 5)

    def exact(df):
        return sorted((r["query_id"], r["cand_id"], r["cosine"],
                       r["rank"]) for r in df.collect())

    auto = exact(AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4))
    assert auto == exact(AX.topk_ivf_index(spark, multi, path, k=3,
                                           nprobe=4, mode="join"))
    assert auto == exact(AX.topk_ivf_index(spark, multi, path, k=3,
                                           nprobe=4, mode="shared"))

    # observe the dispatch itself: shared path poisoned
    def boom(*a, **k):
        raise AssertionError("shared path taken")

    monkeypatch.setattr(ax, "_topk_shared", boom)
    # single query -> join (no raise)
    assert AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 0),
                             path, k=3, nprobe=4).count() > 0
    # oversized batch -> join fallback (no raise)
    monkeypatch.setattr(ax, "SHARED_MAX_QUERIES", 3)
    assert AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4).count() > 0
    # multi-query within bound -> shared
    monkeypatch.setattr(ax, "SHARED_MAX_QUERIES", 100)
    with pytest.raises(AssertionError, match="shared path taken"):
        AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4)


# ---------------------------------------------------------------------
# r11: URI-path cache TTL (ADVICE r10), shared-serve byte bounds
# (VERDICT r10 item 4), listdir-based tombstone detection (item 5)
# ---------------------------------------------------------------------
def test_data_cache_uri_entries_expire_by_ttl(spark, emb, tmp_path,
                                              monkeypatch):
    """ADVICE r10: on object stores the batch-dir mtimes are synthetic
    and cross-process invalidation is invisible — URI cache entries
    therefore expire after a TTL so another driver's replay/delete
    converges within a known window. Local paths keep the pure stat
    identity (no TTL churn)."""
    import andl_spark.pipeline.annindex as ax

    local = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.limit(200), local, nlist=4)
    _, l1 = AX.read_ivf_snapshot(spark, local)

    uri = "file://" + str(tmp_path / "ivf_uri")
    AX.build_ivf_index(emb.limit(200), uri, nlist=4)
    _, u1 = AX.read_ivf_snapshot(spark, uri)
    _, u2 = AX.read_ivf_snapshot(spark, uri)
    assert u2 is u1  # within TTL: cached

    monkeypatch.setattr(ax, "_DATA_CACHE_TTL_URI", 0.0)
    _, u3 = AX.read_ivf_snapshot(spark, uri)
    assert u3 is not u1  # TTL expired: fresh FileIndex
    # local path unaffected by the TTL
    _, l2 = AX.read_ivf_snapshot(spark, local)
    assert l2 is l1


def test_shared_mode_byte_bounds(spark, emb, tmp_path, monkeypatch):
    """VERDICT r10 item 4: the shared path is bounded by estimated
    BYTES (broadcast cellmap + per-chunk score matrix), not just query
    count — a wide-dim batch must dispatch to the join path (row
    identity held) and an explicit mode='shared' must refuse loudly."""
    import andl_spark.pipeline.annindex as ax

    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    multi = emb.filter(F.col("vec_id") < 5)

    def exact(df):
        return sorted((r["query_id"], r["cand_id"], r["cosine"],
                       r["rank"]) for r in df.collect())

    want = exact(AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4,
                                   mode="join"))

    for knob, msg in [("SHARED_MAX_BC_BYTES", "estimated broadcast"),
                      ("SHARED_MAX_CHUNK_BYTES", "score matrix")]:
        monkeypatch.setattr(ax, knob, 1)
        with pytest.raises(ValueError, match=msg):
            AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4,
                              mode="shared")
        # auto dispatch falls back to join, results identical
        def boom(*a, **k):
            raise AssertionError("shared path taken")
        monkeypatch.setattr(ax, "_topk_shared", boom)
        got = exact(AX.topk_ivf_index(spark, multi, path, k=3, nprobe=4))
        assert got == want and len(got) > 0
        monkeypatch.undo()
        monkeypatch.setattr(ax, "SHARED_MAX_QUERIES", 10_000)  # re-arm


def test_has_tombstones_is_listing_not_input_files(spark, emb, tmp_path):
    """VERDICT r10 item 5: tombstone detection is one listdir per batch
    dir — never a driver-side enumeration of every data file. Pin the
    helper's truth table across the lifecycle."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.limit(300), path, nlist=8)
    from andl_spark.streaming.events import resolve_neardup_index
    from andl_spark import fsio

    gen = resolve_neardup_index(fsio.join(path, "data"))
    assert AX._has_tombstones(gen) is False
    AX.ivf_index_append(emb.filter(F.col("vec_id") >= 300).limit(40),
                        path, batch_id=0)
    gen = resolve_neardup_index(fsio.join(path, "data"))
    assert AX._has_tombstones(gen) is False
    AX.ivf_index_delete([1, 2], path, batch_id=1, spark=spark)
    gen = resolve_neardup_index(fsio.join(path, "data"))
    assert AX._has_tombstones(gen) is True
    AX.compact_ivf_index(spark, path)  # tombstones fold into the seed
    gen = resolve_neardup_index(fsio.join(path, "data"))
    assert AX._has_tombstones(gen) is True
    # and the serve path still masks the deleted ids
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 0),
                            path, k=50, nprobe=8)
    assert not ({r["cand_id"] for r in got.collect()} & {1, 2})


# ---------------------------------------------------------------------
# r11: bulk kNN join (VERDICT r10 item 1)
# ---------------------------------------------------------------------
def _exact(df):
    return sorted((r["query_id"], r["cand_id"], r["cosine"], r["rank"])
                  for r in df.collect())


def test_knn_join_row_identical_to_topk_join_mode(spark, emb, tmp_path):
    """The correctness contract: knn_join == topk_ivf_index(mode='join')
    row for row (same probe rule, bitwise cosine fold, tie-break) — on
    a serving-sized batch AND with the whole corpus as queries (the
    SemDeDup / kNN-graph shape the broadcast-bounded serve refuses)."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    queries = emb.filter(F.col("vec_id") < 64)
    want = _exact(AX.topk_ivf_index(spark, queries, path, k=5, nprobe=4,
                                    mode="join"))
    got = _exact(AX.knn_join(spark, queries, path, k=5, nprobe=4))
    assert got == want and len(got) > 0

    wantc = _exact(AX.topk_ivf_index(spark, emb, path, k=3, nprobe=4,
                                     mode="join"))
    gotc = _exact(AX.knn_join(spark, emb, path, k=3, nprobe=4))
    assert gotc == wantc and len(gotc) > 0


def test_knn_join_salt_grid_invariance(spark, emb, tmp_path):
    """Tiny group_bytes forces a wide salt grid (many query × candidate
    blocks per cell): results must be identical — every pair meets in
    exactly one cogroup and block-local top-k preserves the global
    order."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    queries = emb.filter(F.col("vec_id") < 40)
    wide = _exact(AX.knn_join(spark, queries, path, k=5, nprobe=4,
                              group_bytes=4096))
    one = _exact(AX.knn_join(spark, queries, path, k=5, nprobe=4))
    assert wide == one and len(one) > 0


def test_knn_join_masks_tombstones_and_self(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=8)
    AX.ivf_index_delete([7, 11], path, batch_id=0, spark=spark)
    got = AX.knn_join(spark, emb.filter(F.col("vec_id") < 30), path,
                      k=50, nprobe=8)
    rows = [(r["query_id"], r["cand_id"]) for r in got.collect()]
    assert rows
    assert not ({c for _, c in rows} & {7, 11})  # deleted never served
    assert all(q != c for q, c in rows)          # self excluded
    # row-identity with the serve path holds through the tombstones
    want = _exact(AX.topk_ivf_index(spark,
                                    emb.filter(F.col("vec_id") < 30),
                                    path, k=50, nprobe=8, mode="join"))
    assert _exact(got) == want


def test_knn_join_hier_and_empty(spark, emb, tmp_path):
    """Two-level quantizer: the probe rule and combined cell ids flow
    through the same path; an empty query batch returns an empty frame
    with the contract schema."""
    path = str(tmp_path / "ivf_h")
    AX.build_ivf_index(emb, path, n1=3, n2=3)
    queries = emb.filter(F.col("vec_id") < 24)
    want = _exact(AX.topk_ivf_index(spark, queries, path, k=4, nprobe=2,
                                    mode="join"))
    got = _exact(AX.knn_join(spark, queries, path, k=4, nprobe=2))
    assert got == want and len(got) > 0

    empty = AX.knn_join(spark, emb.filter(F.col("vec_id") < 0), path, k=4)
    assert empty.columns == ["query_id", "cand_id", "cosine", "rank"]
    assert empty.count() == 0


def test_knn_join_plan_prunes_and_never_cartesian(spark, emb, tmp_path):
    """Plan pins: the candidate scan keeps the probed-cell
    PartitionFilters (unprobed cells never read) and the pair
    generation is the cogroup — no cartesian/broadcast-nested-loop
    node anywhere."""
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb, path, nlist=16)
    got = AX.knn_join(spark, emb.filter(F.col("vec_id") < 8), path,
                      k=5, nprobe=2)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters", 1)[1][:500]
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_maintain_ivf_index_auto_rebuild(spark, tmp_path):
    """VERDICT r10 item 3: the decayed fixture drives an AUTOMATIC
    rebuild (carry_appended, tombstones cleared, fresh calibration at
    the same target) and a healthy tree provably does not rebuild."""
    import numpy as np

    dim, per = 8, 12
    rows = []
    vid = 0
    for c in range(4):
        for j in range(per):
            v = np.zeros(dim); v[c] = 1.0
            v[(c + 4) % dim] = 0.001 * (j + 1)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)]))
            vid += 1
    rows.sort(key=lambda t: (t[0] % per, t[0]))
    rows = [(i, v) for i, (_, v) in enumerate(rows)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # decayed: shifted boundary twins the stored nprobe=1 can't see
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(corpus, path, nlist=4, calibrate=0.9)
    shifted = []
    for j in range(8):
        base = np.zeros(dim); base[0] = 1.0; base[1] = 1.0
        base[2 + (j % 6)] += 0.30
        base[2 + ((j + 1) % 6)] += 0.15
        for side in (0, 1):
            v = base.copy(); v[side] += 0.02
            shifted.append((1000 + 2 * j + side,
                            [float(x) for x in v / np.linalg.norm(v)]))
    AX.ivf_index_append(
        spark.createDataFrame(shifted, "vec_id long, embedding array<double>"),
        path, batch_id=0)
    AX.ivf_index_delete([1000], path, batch_id=1, spark=spark)

    report = AX.maintain_ivf_index(spark, path)
    assert report["rebuilt"] is True
    assert report["gauge"]["decayed"] is True
    new_meta = report["meta"]
    assert new_meta["calibration"]["recall"] >= 0.9  # re-calibrated
    data = AX.read_ivf_data(spark, path)
    got_ids = {r["vec_id"] for r in data.select("vec_id").collect()}
    want_ids = ({i for i, _ in rows} | {i for i, _ in shifted}) - {1000}
    assert got_ids == want_ids  # appends carried, deleted id gone
    # tombstones cleared by the rebuild (the documented contract)
    from andl_spark.streaming.events import resolve_neardup_index
    from andl_spark import fsio
    gen = resolve_neardup_index(fsio.join(path, "data"))
    assert AX._has_tombstones(gen) is False

    # healthy: unshifted growth — compacts, gauges green, NO rebuild
    path2 = str(tmp_path / "ivf2")
    m0 = AX.build_ivf_index(corpus, path2, nlist=4, calibrate=0.9)
    extra = []
    for j in range(16):
        v = np.zeros(dim); v[j % 4] = 1.0
        v[(j % 4) + 4] = 0.002 * (j + 1)
        extra.append((2000 + j, [float(x) for x in v / np.linalg.norm(v)]))
    AX.ivf_index_append(
        spark.createDataFrame(extra, "vec_id long, embedding array<double>"),
        path2, batch_id=0)
    r2 = AX.maintain_ivf_index(spark, path2)
    assert r2["rebuilt"] is False and r2["gauge"]["decayed"] is False
    assert r2["meta"]["centroids"] == m0["centroids"]  # quantizer kept

    # no calibration stored -> nothing to gauge, never rebuilds
    path3 = str(tmp_path / "ivf3")
    AX.build_ivf_index(corpus, path3, nlist=4)
    r3 = AX.maintain_ivf_index(spark, path3)
    assert r3["rebuilt"] is False and r3["gauge"] is None


# ---------------------------------------------------------------------
# r11: IVF-PQ residual codes (VERDICT r10 item 6)
# ---------------------------------------------------------------------
def test_pq_index_recall_and_exact_rerank_clustered(spark, emb, tmp_path):
    """PQ-built index serves via ADC + exact re-rank by default:
    recall ≥ 0.9 vs the exact path on the clustered fixture, and every
    served (query, cand) cosine is EXACTLY the exact mode's value (the
    re-rank runs the same JVM expression)."""
    path = str(tmp_path / "ivfpq")
    meta = AX.build_ivf_index(emb, path, nlist=8, pq_m=8)
    assert meta["pq"]["m"] == 8
    assert meta["pq"]["dsub"] == meta["dim"] // 8
    queries = emb.filter(F.col("vec_id") < 32)
    exact = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=8,
                              use_pq=False, mode="join")
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=8)
    e = {(r["query_id"], r["cand_id"]): r["cosine"]
         for r in exact.collect()}
    g = {(r["query_id"], r["cand_id"]): r["cosine"]
         for r in got.collect()}
    assert e and g
    recall = len(set(g) & set(e)) / len(e)
    assert recall >= 0.9, recall
    for pair in set(g) & set(e):  # exact re-rank: bitwise-equal scores
        assert g[pair] == e[pair], pair


def test_pq_index_recall_smooth_corpus(spark, tmp_path):
    """The harder geometry: smooth (non-clustered) unit vectors —
    residual codes must still clear 0.9 recall vs the exact path at
    the default rerank depth."""
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.normal(size=(400, 32))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivfpq_s")
    AX.build_ivf_index(corpus, path, nlist=16, quantizer="trained",
                       pq_m=8)
    queries = corpus.filter(F.col("vec_id") < 32)
    exact = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=16,
                              use_pq=False, mode="join")
    got = AX.topk_ivf_index(spark, queries, path, k=5, nprobe=16)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    g = {(r["query_id"], r["cand_id"]) for r in got.collect()}
    assert e and len(g & e) / len(e) >= 0.9


def test_pq_lifecycle_append_delete_compact(spark, emb, tmp_path):
    """Appends encode against the STORED codebooks, tombstones conform
    to the widened schema, compaction carries the code columns, and
    the ADC serve masks deletes — the full maintenance plane on a
    PQ-built index."""
    path = str(tmp_path / "ivfpq")
    AX.build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), path,
                       nlist=8, pq_m=8)
    AX.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1).limit(40),
                        path, batch_id=0)
    data = AX.read_ivf_data(spark, path)
    assert {"pq_code", "vnorm"} <= set(data.columns)
    appended = data.filter(F.col("_batch_id") == 0)
    assert appended.filter(F.col("pq_code").isNull()).count() == 0
    AX.ivf_index_delete([0, 2], path, batch_id=1, spark=spark)
    AX.compact_ivf_index(spark, path)
    data2 = AX.read_ivf_data(spark, path)
    assert {"pq_code", "vnorm"} <= set(data2.columns)
    live = data2.filter(F.col("list_id") != AX.TOMBSTONE_LIST)
    assert live.filter(F.col("pq_code").isNull()).count() == 0
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 4),
                            path, k=50, nprobe=8)
    served = {r["cand_id"] for r in got.collect()}
    assert served and not (served & {0, 2})


def test_pq_build_rejects_indivisible_dim(spark, emb, tmp_path):
    with pytest.raises(ValueError, match="divisible"):
        AX.build_ivf_index(emb, str(tmp_path / "x"), nlist=8, pq_m=7)


def test_pq_approx_scan_never_reads_embeddings(spark, emb, tmp_path):
    """The 100 TB claim: the ADC pass's scan reads ONLY the code
    columns — the embedding column appears in no ReadSchema of the
    approx stage (it is read exactly once, by the survivors' re-rank
    scan)."""
    path = str(tmp_path / "ivfpq")
    AX.build_ivf_index(emb, path, nlist=8, pq_m=8)
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") < 4),
                            path, k=3, nprobe=4)
    plan = formatted_plan(got)
    scans = [s for s in plan.split("Scan parquet")[1:]]
    code_scans = [s for s in scans if "pq_code" in s[:2000]]
    assert code_scans, "ADC scan missing"
    for s in code_scans:
        head = s[:2000]
        assert "embedding" not in head.split("PushedFilters")[0], head


def test_hier_index_append_gauge_and_pq_lifecycle(spark, tmp_path):
    """The two-level quantizer through the whole maintenance plane at
    tier-1 size: build with calibration and PQ codes, append, compact.
    The compaction gauge reads the stored p1, appended rows carry the
    stored two-level assignment, and the ADC serve keeps ≥ 0.9 of the
    exact path's top-k."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(12, 8))
    X = centers[np.arange(340) % 12] + rng.normal(scale=0.3, size=(340, 8))
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(300)], schema)
    batch = spark.createDataFrame(
        [(1000 + i, [float(x) for x in X[300 + i]]) for i in range(40)],
        schema)
    path = str(tmp_path / "ivf_hpq")
    meta = AX.build_ivf_index(corpus, path, n1=3, n2=3, calibrate=0.9,
                              pq_m=4)
    AX.ivf_index_append(batch, path, batch_id=0)
    AX.compact_ivf_index(spark, path)

    meta2 = AX.read_ivf_meta(path)
    g = meta2["gauge"]
    assert g["kind"] == "hier" and "measured_p1" in g
    assert g["stored"] == meta["calibration"]["p1"]

    appended = AX.read_ivf_data(spark, path).filter(
        F.col("_batch_id") == 0)
    got = {(r["vec_id"], r["list_id"]) for r in appended.select(
        "vec_id", "list_id").collect()}
    want = {(r["vec_id"], r["lid"]) for r in batch.select(
        "vec_id", SS.hier_assign_np(meta2["C1"], meta2["C2"])(
            F.col("embedding")).alias("lid")).collect()}
    assert got == want and len(got) == 40

    k = 5
    queries = corpus.filter(F.col("vec_id") < 16)
    approx = AX.topk_ivf_index(spark, queries, path, k=k)
    exact = AX.topk_ivf_index(spark, queries, path, k=k, use_pq=False)
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    per_q = {}
    for q, _ in a:
        per_q[q] = per_q.get(q, 0) + 1
    assert per_q == {q: k for q in range(16)}
    assert len(a & e) / len(e) >= 0.9

"""Rename-free versioned commit pointer (r9; VERDICT r8 item 1).

The generation/manifest flips no longer depend on atomic rename —
copy+delete on S3/object stores, the likely 100 TB substrate. Pins:
the protocol's resolve/commit/GC/torn-max semantics, the FULL index +
catalog lifecycle with rename deliberately
DISABLED (fsio.write_text_atomic raises — proving no hidden
dependence), and a concurrent reader/flip stress run."""

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from andl_spark import fsio, pointer


# ---------------------------------------------------------------------
# protocol unit semantics, both backends
# ---------------------------------------------------------------------
@pytest.mark.parametrize("scheme", ["bare", "file"])
def test_commit_read_gc_roundtrip(spark, tmp_path, scheme):
    root = str(tmp_path / "ptr")
    if scheme == "file":
        root = "file://" + root
    fsio.mkdirs(root)
    assert pointer.read(root, "_pointer") is None
    for i in range(1, 7):
        n = pointer.commit(root, "_pointer", {"current": i})
        assert n == i
        got = pointer.read(root, "_pointer")
        assert got == (i, {"current": i})
    # GC keeps KEEP behind the newest, older files reclaimed
    names = sorted(n for n in fsio.listdir(root)
                   if n.startswith("_pointer.v"))
    assert names == [f"_pointer.v{i}.json"
                     for i in range(6 - pointer.KEEP, 7)]


def test_torn_max_falls_back_to_previous_commit(tmp_path):
    """A crashed commit leaves a half-written (or empty) max file:
    resolve skips it and serves the previous committed pointer — the
    exact reader guarantee the rename-based flip provided, now without
    rename. A later commit sequences ABOVE the torn file (never
    overwrites) and supersedes it."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    # crashed writer: torn JSON at the max sequence
    (tmp_path / "ptr" / "_pointer.v3.json").write_text('{"curr')
    assert pointer.read(root, "_pointer") == (2, {"current": 2})
    # empty file (created, nothing flushed) behaves the same
    (tmp_path / "ptr" / "_pointer.v4.json").write_text("")
    assert pointer.read(root, "_pointer") == (2, {"current": 2})
    # recovery: the retry commits above every existing file
    n = pointer.commit(root, "_pointer", {"current": 3})
    assert n == 5
    assert pointer.read(root, "_pointer") == (5, {"current": 3})


def test_create_only_write_is_exclusive(tmp_path):
    p = str(tmp_path / "f.json")
    assert fsio.write_text_create(p, "a") is True
    assert fsio.write_text_create(p, "b") is False
    assert fsio.read_text(p) == "a"
    # and on the JVM backend
    q = "file://" + str(tmp_path / "g.json")
    assert fsio.write_text_create(q, "a") is True
    assert fsio.write_text_create(q, "b") is False


def test_fsio_stat_both_backends(spark, tmp_path):
    p = str(tmp_path / "s.txt")
    fsio.write_text(p, "hello")
    mt, ln = fsio.stat(p)
    assert ln == 5 and mt > 0
    mt2, ln2 = fsio.stat("file://" + p)
    assert ln2 == 5 and abs(mt2 - mt) < 2.0
    with pytest.raises(OSError):
        fsio.stat(str(tmp_path / "missing.txt"))
    with pytest.raises(OSError):
        fsio.stat("file://" + str(tmp_path / "missing.txt"))


# ---------------------------------------------------------------------
# rename deliberately disabled: the lifecycle has no hidden dependence
# ---------------------------------------------------------------------
@pytest.fixture()
def no_rename(monkeypatch):
    """fsio.write_text_atomic (the only rename-based commit primitive)
    raises: every pointer flip, manifest commit, marker and sidecar in
    the lifecycle below must go through the rename-free paths."""
    def boom(path, text):
        raise AssertionError(f"rename-based write reached: {path}")
    monkeypatch.setattr(fsio, "write_text_atomic", boom)
    return boom


@pytest.mark.parametrize("scheme", ["bare", "file"])
def test_index_lifecycle_with_rename_disabled(spark, tmp_path, no_rename,
                                              scheme):
    """seed → ingest ×2 → compact → re-compact (reclaim) → read, green
    with rename unavailable — the VERDICT r8 item 1 'Done' criterion."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        _read_gen, compact_neardup_index, neardup_ingest_batch,
        read_neardup_index, seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"no rename lifecycle body {i % 5} tail{i % 2}")
         for i in range(30)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 15)
    b0 = docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 22))
    b1 = docs.filter(F.col("doc_id") >= 22)
    local_idx = tmp_path / "idx"
    idx = ("file://" + str(local_idx)) if scheme == "file" else str(local_idx)
    pairs = str(tmp_path / "pairs")

    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    assert _read_gen(idx) == 1
    neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)
    neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)
    assert read_neardup_index(spark, idx).count() == 30
    compact_neardup_index(spark, idx, target_files=1)
    assert _read_gen(idx) == 2
    compact_neardup_index(spark, idx, target_files=1)
    assert _read_gen(idx) == 3
    gens = {n for n in os.listdir(local_idx) if n.startswith("gen=")}
    assert gens == {"gen=2", "gen=3"}  # reclaim ran, keep-previous held
    assert read_neardup_index(spark, idx).count() == 30


def test_ivf_index_lifecycle_with_rename_disabled(spark, tmp_path,
                                                  no_rename):
    """build → append → compact → query on the persisted IVF index,
    rename disabled (meta sidecars, markers and the generation pointer
    all rename-free)."""
    from andl_spark.pipeline import annindex as AX
    from andl_spark.session import load_tables

    from conftest import SF_SMOKE

    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.limit(300), path, nlist=8)
    AX.ivf_index_append(emb.filter(F.col("vec_id") >= 300).limit(40),
                        path, batch_id=0)
    AX.compact_ivf_index(spark, path)
    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") < 3),
                            path, k=3, nprobe=4)
    assert got.count() > 0


def test_catalog_lifecycle_with_rename_disabled(spark, tmp_path, no_rename):
    """put / time-travel / gc / rollback / reopen with rename disabled;
    the manifest commits through the versioned pointer protocol."""
    from andl_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(9).withColumnRenamed("id", "x")
    cat.put("t", df1)
    cat.put("t", df2)
    assert cat.get("t").count() == 9
    assert cat.get("t", version=1).count() == 5
    assert cat.gc("t", keep_last=1) == [1]
    cat2 = Catalog(spark, str(tmp_path / "cat"))  # reopen: manifest back
    assert cat2.names() == ["t"] and cat2.current_version("t") == 2


# ---------------------------------------------------------------------
# concurrent reader/flip stress
# ---------------------------------------------------------------------
def test_concurrent_readers_never_see_torn_pointer(tmp_path):
    """One committer flips the pointer as fast as it can; four reader
    threads resolve continuously. Every read returns a COMMITTED doc
    (a value the committer actually wrote, monotonically advancing per
    reader) — never an exception, never a torn file, never a gap."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 0})
    stop = threading.Event()
    errors: list = []
    N = 60

    def committer():
        try:
            for i in range(1, N + 1):
                pointer.commit(root, "_pointer", {"current": i})
        except Exception as e:  # pragma: no cover
            errors.append(e)
        finally:
            stop.set()

    def reader():
        last = -1
        try:
            while not stop.is_set() or last < 0:
                got = pointer.read(root, "_pointer")
                assert got is not None, "pointer vanished mid-flip"
                cur = got[1]["current"]
                assert 0 <= cur <= N
                assert cur >= last, f"went backwards: {last} -> {cur}"
                last = cur
        except Exception as e:  # pragma: no cover
            errors.append(e)

    readers = [threading.Thread(target=reader) for _ in range(4)]
    for t in readers:
        t.start()
    c = threading.Thread(target=committer)
    c.start()
    c.join(timeout=120)
    stop.set()
    for t in readers:
        t.join(timeout=30)
    assert not errors, errors
    assert pointer.read(root, "_pointer")[1]["current"] == N


# ---------------------------------------------------------------------
# r10: I/O-vs-torn classification (ADVICE r9) and the object-store
# semantics shim (VERDICT r9 item 6)
# ---------------------------------------------------------------------
def test_read_raises_on_persistent_io_error(tmp_path, monkeypatch):
    """ADVICE r9: an I/O failure (permissions, network) on the newest
    pointer must RAISE, not silently resolve one generation back — and
    must not let a Catalog initialize empty and commit over the real
    manifest."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    real = fsio.read_text

    def denied(path):
        if path.endswith(".v2.json"):
            raise PermissionError(f"denied: {path}")
        return real(path)

    monkeypatch.setattr(fsio, "read_text", denied)
    with pytest.raises(PermissionError):
        pointer.read(root, "_pointer")


def test_read_retries_transient_io_error(tmp_path, monkeypatch):
    """One flaky read then success: the newest pointer is served (no
    fallback, no raise)."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    real = fsio.read_text
    flaked = {"n": 0}

    def flaky(path):
        if path.endswith(".v2.json") and flaked["n"] == 0:
            flaked["n"] += 1
            raise OSError("transient")
        return real(path)

    monkeypatch.setattr(fsio, "read_text", flaky)
    assert pointer.read(root, "_pointer") == (2, {"current": 2})
    assert flaked["n"] == 1


def test_fallback_below_max_is_logged(tmp_path, caplog):
    """ADVICE r9: serving below the listed max (torn newest commit)
    leaves a log line — stale-but-committed resolution is visible."""
    import logging

    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    (tmp_path / "ptr" / "_pointer.v2.json").write_text('{"to')
    with caplog.at_level(logging.WARNING, logger="andl_spark.pointer"):
        assert pointer.read(root, "_pointer") == (1, {"current": 1})
    assert any("falling back below" in r.message for r in caplog.records)


def test_pointer_lifecycle_on_lagged_object_store(monkeypatch):
    """VERDICT r9 item 6: the full commit/read/GC protocol against an
    in-memory store with object-store semantics — flat keys, no
    rename, conditional PUT, and LIST results lagging PUT/DELETE by 3
    operations. The commit loop collision-bumps over the lagged
    listing (create is conditional on the OBJECT, not the listing) and
    readers always resolve a committed doc."""
    from fakestore import FakeStore, install

    store = FakeStore(lag_ops=3, conditional_put=True)
    root = "s3fake://bucket/ptr"
    install(monkeypatch, store, "s3fake://")
    assert pointer.read(root, "_pointer") is None
    for i in range(1, 13):
        pointer.commit(root, "_pointer", {"current": i})
        got = pointer.read(root, "_pointer")
        assert got is not None
        # lagged LIST may serve a slightly older version — but always
        # a committed one, never torn, never None
        assert got[1]["current"] in range(max(1, i - 3), i + 1)
    # once the listing catches up, the newest commit resolves
    for _ in range(6):
        store.exists(root)  # tick the op counter past the lag
    assert pointer.read(root, "_pointer")[1]["current"] == 12
    # GC bounded despite lag (deletes eventually leave the listing)
    live = [k for k in store.objects if "_pointer.v" in k]
    assert len(live) <= pointer.KEEP + 1


def test_concurrent_stress_on_lagged_object_store(monkeypatch):
    """The 60-commit / 4-reader stress on the fake object store with
    lagged listings: every read is a committed doc, monotone per
    reader, no exceptions — the protocol's claims hold under the
    store semantics it was built for, not just POSIX."""
    from fakestore import FakeStore, install

    store = FakeStore(lag_ops=2, conditional_put=True)
    root = "s3fake://bucket/ptr"
    install(monkeypatch, store, "s3fake://")
    pointer.commit(root, "_pointer", {"current": 0})
    stop = threading.Event()
    errors: list = []
    N = 60

    def committer():
        try:
            for i in range(1, N + 1):
                pointer.commit(root, "_pointer", {"current": i})
        except Exception as e:  # pragma: no cover
            errors.append(e)
        finally:
            stop.set()

    def reader():
        last = -1
        try:
            while not stop.is_set() or last < 0:
                got = pointer.read(root, "_pointer")
                assert got is not None
                cur = got[1]["current"]
                assert 0 <= cur <= N
                assert cur >= last, f"went backwards: {last} -> {cur}"
                last = cur
        except Exception as e:  # pragma: no cover
            errors.append(e)

    readers = [threading.Thread(target=reader) for _ in range(4)]
    for t in readers:
        t.start()
    c = threading.Thread(target=committer)
    c.start()
    c.join(timeout=120)
    stop.set()
    for t in readers:
        t.join(timeout=30)
    assert not errors, errors
    # after the listing settles, the final commit resolves
    for _ in range(6):
        store.exists(root)
    assert pointer.read(root, "_pointer")[1]["current"] == N


def test_head_then_put_store_exclusivity_is_advisory(monkeypatch):
    """The documented S3A-without-conditional-write regime: HEAD-then-
    PUT create lets two RACING committers both 'succeed' (last PUT
    wins) — the shim proves the primitive-level double-success the
    fsio docstring warns about, and that the protocol still serves a
    committed doc afterwards (the damage is a lost commit, not a torn
    reader) — which is exactly why the pointer module requires either
    create-exclusive stores or the single-committer discipline."""
    from fakestore import FakeStore, install

    store = FakeStore(lag_ops=0, conditional_put=False)
    root = "s3fake://bucket/ptr"
    install(monkeypatch, store, "s3fake://")
    pointer.commit(root, "_pointer", {"current": 1})

    # inject a racer between writer A's HEAD and PUT of v2
    def racer(path):
        store.between_head_and_put = None  # once
        assert store.write_text_create(path, '{"current": 99}') is True

    store.between_head_and_put = racer
    n = pointer.commit(root, "_pointer", {"current": 2})
    assert n == 2  # A also reported success: the advisory regime
    # last PUT won — one of the two v2 payloads was silently lost
    got = pointer.read(root, "_pointer")
    assert got[0] == 2 and got[1]["current"] in (2, 99)

    # sequential double-commit still fails loudly even here
    assert fsio.write_text_create(
        "s3fake://bucket/ptr/_pointer.v2.json", "x") is False


# ---------------------------------------------------------------------
# r11: ascending probe above the listed max (ADVICE r10)
# ---------------------------------------------------------------------
def test_ascending_probe_covers_deep_list_lag(tmp_path, monkeypatch):
    """ADVICE r10: versions are consecutive, so the read probes
    ASCENDING from top+1 while files exist — a LIST lagging by more
    commits than any fixed window is fully hidden as long as the next
    version file still exists (GC-quiet trees: unbounded coverage).
    Here the listing NEVER surfaces anything, yet 5 committed files
    resolve to the newest."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    for i in range(1, 6):
        assert fsio.write_text_create(
            f"{root}/_pointer.v{i}.json", json.dumps({"current": i}))
    monkeypatch.setattr(fsio, "listdir", lambda p: [])  # total LIST lag
    assert pointer.read(root, "_pointer") == (5, {"current": 5})


def test_happy_path_probes_one_get_above_max(tmp_path, monkeypatch):
    """The cost claim: with a fresh listing, exactly ONE wasted GET
    above the listed max (the old fixed window issued three)."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    real = fsio.read_text
    missing_reads = []

    def counting(path):
        if not fsio.exists(path):
            missing_reads.append(path)
        return real(path)

    monkeypatch.setattr(fsio, "read_text", counting)
    assert pointer.read(root, "_pointer") == (2, {"current": 2})
    assert len(missing_reads) == 1 and missing_reads[0].endswith(".v3.json")


def test_probe_read_failure_above_max_is_missing_not_io(tmp_path,
                                                        monkeypatch):
    """ADVICE r10: some stores raise AccessDenied (not FileNotFound)
    for a read of a never-created key — on probe candidates ABOVE the
    listed max that must classify as 'missing' (end of the consecutive
    run), never as a raising I/O error that turns a readable tree into
    a hard failure. Listed candidates keep the strict ADVICE-r9 raise
    (test_read_raises_on_persistent_io_error)."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    real = fsio.read_text

    def denied_above(path):
        if path.endswith(".v3.json"):
            raise PermissionError(f"AccessDenied: {path}")
        return real(path)

    monkeypatch.setattr(fsio, "read_text", denied_above)
    assert pointer.read(root, "_pointer") == (2, {"current": 2})


def test_ascent_continues_past_torn_probe(tmp_path, monkeypatch):
    """A crashed commit's torn file above the listed max does not end
    the ascent — a later commit sequenced above it and must win."""
    root = str(tmp_path / "ptr")
    fsio.mkdirs(root)
    pointer.commit(root, "_pointer", {"current": 1})
    (tmp_path / "ptr" / "_pointer.v2.json").write_text('{"to')  # torn
    assert fsio.write_text_create(
        f"{root}/_pointer.v3.json", json.dumps({"current": 3}))
    real_list = fsio.listdir
    monkeypatch.setattr(
        fsio, "listdir",
        lambda p: [n for n in real_list(p) if not n.endswith(
            (".v2.json", ".v3.json"))])  # listing lags both
    assert pointer.read(root, "_pointer") == (3, {"current": 3})


def test_vanished_listed_pointers_raise_not_fresh(monkeypatch):
    """review r10: when files the LISTING promised are gone across
    every retry (a LIST lagging further than PROBE_AHEAD hides), the
    tree provably has commits this reader cannot see — read() must
    RAISE, not return None (None would make resolve fall back to a
    legacy/fresh tree and a Catalog initialize empty over real state)."""
    from fakestore import FakeStore, install

    store = FakeStore(lag_ops=0, conditional_put=True)
    root = "s3fake://bucket/ptr"
    install(monkeypatch, store, "s3fake://")
    pointer.commit(root, "_pointer", {"current": 1})
    pointer.commit(root, "_pointer", {"current": 2})
    # simulate deep GC-lag: the objects vanish, the listing still
    # shows them (delete visibility never arrives)
    for k in list(store.objects):
        if "_pointer.v" in k:
            del store.objects[k]
    with pytest.raises(RuntimeError, match="vanished"):
        pointer.read(root, "_pointer")


# ---------------------------------------------------------------------
# r11 (VERDICT r10 item 8): the FULL index lifecycle under object-store
# semantics — protocol files in the fake store (lagged LIST,
# conditional PUT, no rename), parquet on the real directory
# ---------------------------------------------------------------------
@pytest.mark.parametrize("lag,cput", [(0, True), (2, True), (0, False)])
def test_ivf_lifecycle_on_object_store_semantics(spark, tmp_path,
                                                 monkeypatch, lag, cput):
    """build → append → delete → compact → query with every fsio
    primitive routed through HybridLaggedStore: markers, pointers,
    metas and clock probes live under S3-like semantics (write_text_
    atomic RAISES — proving the lifecycle is rename-free end-to-end),
    under LIST lag and under the advisory HEAD-then-PUT regime. The
    lifecycle must stay green: appended vectors served, deleted ids
    masked pre- and post-fold, row sets exact."""
    from fakestore import HybridLaggedStore, install
    from andl_spark.pipeline import annindex as AX
    from andl_spark.session import load_tables

    from conftest import SF_SMOKE

    store = HybridLaggedStore(lag_ops=lag, conditional_put=cput)
    install(monkeypatch, store, str(tmp_path))

    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    path = str(tmp_path / "ivf")
    AX.build_ivf_index(emb.limit(300), path, nlist=8)
    AX.ivf_index_append(
        emb.filter(F.col("vec_id") >= 300).limit(40).localCheckpoint(),
        path, batch_id=0)
    AX.ivf_index_delete([1, 2], path, batch_id=1, spark=spark)

    got = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 0),
                            path, k=50, nprobe=8)
    pre = {r["cand_id"] for r in got.collect()}
    assert pre and not (pre & {1, 2})  # masked before the fold

    AX.compact_ivf_index(spark, path, quiesce_timeout=3.0)
    data = AX.read_ivf_data(spark, path)
    live = (data.filter(F.col("list_id") != AX.TOMBSTONE_LIST)
            .join(AX._tombstone_ids(data), "vec_id", "left_anti"))
    assert live.count() == 338  # 300 + 40 − 2 deleted
    got2 = AX.topk_ivf_index(spark, emb.filter(F.col("vec_id") == 0),
                             path, k=50, nprobe=8)
    post = {r["cand_id"] for r in got2.collect()}
    assert post and not (post & {1, 2})
    # the protocol's files went through the store: pointer versions
    # committed there, and at least one marker lifecycle ran
    assert any("_pointer.v" in k for k in store.objects)
    # second compaction reclaims the old generation through the store's
    # delete (prefix delete on the flat keyspace + the real tree)
    AX.compact_ivf_index(spark, path, quiesce_timeout=3.0)
    import os
    gens = {n for n in os.listdir(tmp_path / "ivf" / "data")
            if n.startswith("gen=")}
    assert len(gens) == 2  # keep-previous discipline held

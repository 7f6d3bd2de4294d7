"""Sources/catalog: CSV heading round-trip (reference Sample/*.csv) and
parquet-backed catalog persistence (Catalog.cs parity)."""

import os

import pytest
from pyspark.sql import functions as F

from andl_spark.sources.catalog import Catalog
from andl_spark.sources.io import heading_to_schema, read_csv, write_parquet


def test_heading_parser():
    s = heading_to_schema("{S#,SNAME,STATUS:number,CITY}")
    assert [f.name for f in s.fields] == ["S#", "SNAME", "STATUS", "CITY"]
    assert s.fields[2].dataType.simpleString() == "double"
    assert s.fields[0].dataType.simpleString() == "string"


def test_read_csv_with_heading(spark, tmp_path):
    p = str(tmp_path / "s.csv")
    with open(p, "w") as f:
        f.write("S#,SNAME,STATUS,CITY\nS1,Smith,20,London\nS2,Jones,10,Paris\n")
    df = read_csv(spark, p, heading="{S#,SNAME,STATUS:number,CITY}")
    rows = df.orderBy("S#").collect()
    assert rows[0]["STATUS"] == 20.0 and rows[1]["CITY"] == "Paris"


def test_reference_sample_csv_loads(reference_tree, spark):
    """The reference's own S.csv must load through our csv source."""
    df = read_csv(spark, "/root/reference/Test/S.csv", heading="{S#,SNAME,STATUS:number,CITY}")
    assert df.count() == 5
    assert {r["CITY"] for r in df.collect()} == {"London", "Paris", "Athens"}


def test_catalog_roundtrip(spark, spdb, tmp_path):
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("S", spdb["S"])
    assert cat.names() == ["S"]
    back = cat.get("S")
    assert back.count() == 5

    rv = cat.relvar("S")
    rv.delete(F.col("S#") == "S3")
    cat.save(rv)
    assert cat.get("S").count() == 4

    # fresh Catalog instance sees persisted state (manifest reload)
    cat2 = Catalog(spark, str(tmp_path / "cat"))
    assert cat2.names() == ["S"] and cat2.get("S").count() == 4
    cat2.drop("S")
    assert cat2.names() == []


def test_write_parquet_partitioned(spark, spdb, tmp_path):
    out = str(tmp_path / "sp")
    write_parquet(spdb["SP"], out, partition_by=["S#"])
    assert os.path.isdir(out)
    back = spark.read.parquet(out)
    assert back.count() == 12


def test_catalog_versioning_and_rollback(spark, spdb, tmp_path):
    """Every put is an immutable snapshot: readers can pin a version,
    rollback is a pointer flip, and updates through Relvar.save create
    new versions instead of clobbering history."""
    from andl_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("S", spdb["S"])
    cat.put("S", spdb["S"].filter(F.col("CITY") == "Paris"))
    assert cat.history("S") == [1, 2]
    assert cat.current_version("S") == 2
    assert cat.get("S").count() == 2            # Paris suppliers
    assert cat.get("S", version=1).count() == 5  # full original pinned
    cat.rollback("S", 1)
    assert cat.get("S").count() == 5
    # reopened catalog sees the same state (manifest round-trip)
    cat2 = Catalog(spark, str(tmp_path / "cat"))
    assert cat2.current_version("S") == 1 and cat2.history("S") == [1, 2]


def test_catalog_gc_and_compaction_preserve_incremental_dedup(spark, tmp_path):
    """r6 (VERDICT r5 item 7): version retention GC reclaims old
    snapshot directories (time-travel to them raises; retained versions
    stay readable; the current pointer is never reclaimed), and
    compacting an append-heavy signature index relvar changes neither
    the rows nor the incremental minhash_against_index output."""
    import os

    from andl_spark.pipeline import dedup as D
    from andl_spark.sources.catalog import Catalog

    docs = spark.createDataFrame(
        [(i, f"some shared boilerplate prefix text document body {i % 7} "
             f"tail{i % 3}") for i in range(60)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 30)
    b1 = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 45))
    b2 = docs.filter(F.col("doc_id") >= 45)

    cat = Catalog(spark, str(tmp_path / "cat"))
    sigs = D.minhash_signatures(old, "doc_id", "text")
    cat.put("sig_index", sigs)                                  # v1
    p1, new1 = D.minhash_against_index(b1, cat.get("sig_index"),
                                       threshold=0.5)
    cat.put("sig_index", cat.get("sig_index").unionByName(new1))  # v2
    p2, new2 = D.minhash_against_index(b2, cat.get("sig_index"),
                                       threshold=0.5)
    cat.put("sig_index", cat.get("sig_index").unionByName(new2))  # v3
    want = {(r["id_a"], r["id_b"]) for r in p2.collect()}

    # GC: keep the last 2 versions; v1's directory is reclaimed
    assert cat.gc("sig_index", keep_last=2) == [1]
    assert cat.history("sig_index") == [2, 3]
    assert not os.path.exists(str(tmp_path / "cat" / "sig_index" / "v1"))
    assert cat.get("sig_index", version=2).count() == 45   # time-travel OK
    with pytest.raises(KeyError):
        cat.get("sig_index", version=1)
    # current never reclaimed even at keep_last=0-ish settings
    cat.rollback("sig_index", 2)
    assert cat.gc("sig_index", keep_last=1) == []          # 2=current, 3=newest
    cat.rollback("sig_index", 3)

    # compaction: row-identical, fewer files, incremental output unchanged
    files_before = len([f for root, _, fs in os.walk(
        str(tmp_path / "cat" / "sig_index" / "v3")) for f in fs
        if f.endswith(".parquet")])
    cat.compact("sig_index", target_files=1, gc_after=True)
    assert cat.history("sig_index") == [4]
    files_after = len([f for root, _, fs in os.walk(
        str(tmp_path / "cat" / "sig_index" / "v4")) for f in fs
        if f.endswith(".parquet")])
    assert files_after == 1 <= files_before
    assert cat.get("sig_index").count() == 60
    # replaying the last ingest against the compacted index (minus its
    # own rows) reproduces the same pair set
    base = cat.get("sig_index").join(
        new2.select("doc_id"), "doc_id", "leftanti")
    p2_again, _ = D.minhash_against_index(b2, base, threshold=0.5)
    assert {(r["id_a"], r["id_b"]) for r in p2_again.collect()} == want


def test_streaming_index_compaction_preserves_ingest(spark, tmp_path):
    """compact_neardup_index folds the per-batch partitions into the
    seed partition: row set identical, one file, and the next
    *_against_index ingest over the compacted index yields the same
    pairs as over the fragmented one."""
    import os

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        compact_neardup_index, neardup_ingest_batch, read_neardup_index,
        seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"compact me some text body {i % 5} tail{i % 2}")
         for i in range(40)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 20)
    b1 = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    b2 = docs.filter(F.col("doc_id") >= 30)
    idx = str(tmp_path / "sidx")
    pairs = str(tmp_path / "spairs")
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(b1, 0, idx, pairs, kind="minhash", threshold=0.5)

    uncompacted = read_neardup_index(spark, idx)
    rows_before = {r["doc_id"] for r in uncompacted.select("doc_id").collect()}
    want, _ = D.minhash_against_index(
        b2, uncompacted.drop("_batch_id"), threshold=0.5)
    want_set = {(r["id_a"], r["id_b"]) for r in want.collect()}

    compact_neardup_index(spark, idx, target_files=1)
    after = read_neardup_index(spark, idx)
    assert {r["doc_id"] for r in after.select("doc_id").collect()} == rows_before
    # the NEWEST batch partition is retained as-is (it is the only one
    # that can be half-written after a crash — folding it would defeat
    # the replay guard's own-partition exclusion, review r7); all
    # older partitions fold into the seed
    assert {r["_batch_id"] for r in
            after.select("_batch_id").distinct().collect()} == {-1, 0}
    # count files in the CURRENT generation's folded partition only —
    # the previous generation is deliberately retained for in-flight
    # readers (r7)
    from andl_spark.streaming.events import resolve_neardup_index

    cur = resolve_neardup_index(idx)
    nfiles = len([f for root, _, fs in os.walk(
        os.path.join(cur, "_batch_id=-1")) for f in fs
        if f.endswith(".parquet")])
    assert nfiles == 1

    neardup_ingest_batch(b2, 1, idx, pairs, kind="minhash", threshold=0.5)
    got = spark.read.parquet(pairs).filter(F.col("_batch_id") == 1)
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == want_set


def test_catalog_gc_keep_last_zero_and_reseed_clears_stale(spark, tmp_path):
    """Review r6 fixes: (1) gc(keep_last=0) reclaims everything except
    the current pointer (versions[-0:] used to protect ALL versions);
    (2) seed_neardup_index is a FULL overwrite — re-seeding an index
    path with prior _batch_id>=0 partitions must clear them, or a
    restarted stream would read stale rows as historical corpus."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.sources.catalog import Catalog
    from andl_spark.streaming.events import (
        neardup_ingest_batch, read_neardup_index, seed_neardup_index)

    cat = Catalog(spark, str(tmp_path / "cat"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    for _ in range(4):
        cat.put("t", df)
    assert sorted(cat.gc("t", keep_last=0)) == [1, 2, 3]
    assert cat.history("t") == [4] and cat.get("t").count() == 1

    docs = spark.createDataFrame(
        [(i, f"re seed text body {i % 3}") for i in range(20)],
        "doc_id long, text string")
    old, new = docs.filter(F.col("doc_id") < 10), docs.filter(F.col("doc_id") >= 10)
    idx, pairs = str(tmp_path / "idx"), str(tmp_path / "pairs")
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(new, 0, idx, pairs, kind="minhash", threshold=0.5)
    assert read_neardup_index(spark, idx).count() == 20
    # restart the experiment: re-seed must leave ONLY the seed partition
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    after = read_neardup_index(spark, idx)
    assert after.count() == 10
    assert {r["_batch_id"] for r in after.select("_batch_id").distinct().collect()} == {-1}


def test_compaction_pointer_flip_never_breaks_readers(spark, tmp_path):
    """Atomic compaction (r7; VERDICT r6 item 5): the compacted rows
    commit into a NEW generation and the index pointer flips after the
    write — the previous generation is retained until the next flip,
    so a reader (or replayed ingest) that resolved the index before or
    during compaction never sees a missing path. The old rmtree+move
    had a window where the path did not exist."""
    import os

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        compact_neardup_index, neardup_ingest_batch, read_neardup_index,
        resolve_neardup_index, seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"pointer flip body text {i % 4} tail{i % 3}")
         for i in range(30)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 15)
    b1 = docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 22))
    b2 = docs.filter(F.col("doc_id") >= 22)
    idx, pairs = str(tmp_path / "gidx"), str(tmp_path / "gpairs")
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(b1, 0, idx, pairs, kind="minhash", threshold=0.5)

    # a reader resolved BEFORE compaction (lazy plan holds gen=1 files)
    gen1 = resolve_neardup_index(idx)
    early_reader = spark.read.parquet(gen1)
    rows_before = early_reader.count()

    compact_neardup_index(spark, idx, target_files=1)
    # the pre-compaction reader's tree is fully intact (retained gen)
    assert os.path.isdir(gen1)
    assert early_reader.count() == rows_before  # re-scan: files still there
    # the flipped pointer resolves to the compacted generation
    gen2 = resolve_neardup_index(idx)
    assert gen2 != gen1
    after = read_neardup_index(spark, idx)
    assert after.count() == rows_before
    assert {r["_batch_id"] for r in
            after.select("_batch_id").distinct().collect()} == {-1, 0}

    # ingest over the compacted index: pairs identical to the
    # fragmented-index run (the existing equality pin, now via pointer)
    want, _ = D.minhash_against_index(
        b2, spark.read.parquet(gen1).drop("_batch_id"), threshold=0.5)
    neardup_ingest_batch(b2, 1, idx, pairs, kind="minhash", threshold=0.5)
    got = spark.read.parquet(pairs).filter(F.col("_batch_id") == 1)
    assert ({(r["id_a"], r["id_b"]) for r in got.collect()}
            == {(r["id_a"], r["id_b"]) for r in want.collect()})

    # a SECOND compaction retains gen2 (the new previous) and reclaims
    # gen1 — the keep-last-one discipline of Catalog.gc
    compact_neardup_index(spark, idx, target_files=1)
    assert not os.path.isdir(gen1)
    assert os.path.isdir(gen2)
    assert read_neardup_index(spark, idx).count() == docs.count()


def test_catalog_refuses_to_open_empty_on_manifest_io_error(
        spark, tmp_path, monkeypatch):
    """r10 (the ADVICE r9 disaster scenario, pinned at the Catalog
    level): a transient I/O failure reading the manifest pointer must
    RAISE out of Catalog.__init__ — an empty-initialized catalog's
    next _flush would commit over the real manifest."""
    from andl_spark import fsio, pointer
    from andl_spark.sources.catalog import Catalog

    root = str(tmp_path / "cat")
    cat = Catalog(spark, root)
    cat.put("t", spark.range(4).withColumnRenamed("id", "x"))
    real = fsio.read_text

    def denied(path):
        if "_catalog.v" in path:
            raise PermissionError(f"denied: {path}")
        return real(path)

    monkeypatch.setattr(fsio, "read_text", denied)
    with pytest.raises(PermissionError):
        Catalog(spark, root)
    monkeypatch.setattr(fsio, "read_text", real)
    # the real manifest survives untouched
    cat2 = Catalog(spark, root)
    assert cat2.names() == ["t"] and cat2.get("t").count() == 4


def test_tiered_neardup_compaction_bounds_rewrites(spark, tmp_path,
                                                   monkeypatch):
    """r10: compact_neardup_index's default fold plan — the flat-layout
    tiered fold. Each compaction folds ONLY the batch partitions into
    new seed files and carries the existing seed files by hardlink
    (proven by inode identity), so the per-compaction rewrite is the
    new data, not the corpus; when the seed reaches target_files ×
    TIER_MAX_FACTOR files, a full re-fold merges the tiers. Row sets
    stay identical to a full recompute throughout."""
    import os

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    monkeypatch.setattr(E, "TIER_MAX_FACTOR", 2)  # merge after ~2 tiers
    docs = spark.createDataFrame(
        [(i, f"tiered fold body {i % 6} tail{i % 4} x{i}")
         for i in range(60)],
        "doc_id long, text string")
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    E.seed_neardup_index(
        D.minhash_signatures(docs.filter(F.col("doc_id") < 10),
                             "doc_id", "text"), idx)

    def seed_inodes():
        gen = E.resolve_neardup_index(idx)
        d = os.path.join(gen, "_batch_id=-1")
        return {n: os.stat(os.path.join(d, n)).st_ino
                for n in os.listdir(d) if n.endswith(".parquet")}

    merged = carried = False
    for j in range(5):
        lo, hi = 10 + 10 * j, 20 + 10 * j
        E.neardup_ingest_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            j, idx, pairs, kind="minhash", threshold=0.5)
        before = seed_inodes()
        E.compact_neardup_index(spark, idx, target_files=1)
        after = seed_inodes()
        # growth bound: tiers never exceed the merge threshold + 1 fold
        assert len(after) <= 1 * 2 + 1, after
        if before and all(before[n] == after.get(n) for n in before):
            carried = True  # old seed files hardlink-carried
        if before and not (set(before) & set(after)):
            merged = True   # tier merge: full re-fold happened
        # row set == full recompute of everything ingested so far
        got = {(r["doc_id"], tuple(r["signature"]))
               for r in E.read_neardup_index(spark, idx)
               .select("doc_id", "signature").collect()}
        want = {(r["doc_id"], tuple(r["signature"]))
                for r in D.minhash_signatures(
                    docs.filter(F.col("doc_id") < hi),
                    "doc_id", "text").collect()}
        assert got == want
    assert carried and merged


def test_load_tables_handle_cache_and_stat_invalidation(spark, tmp_path):
    """r11: load_tables memoizes the lazy table HANDLES per (session,
    dir) so repeated queries stop paying a file listing and an analysis
    per table per call — but the memo must be a plan cache, never a
    data cache: rewriting a table's files must produce a rebuilt handle
    that reads the NEW data on the same session and path."""
    import shutil

    from andl_spark.session import load_tables
    from conftest import SF_SMOKE

    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/region.parquet", d / "region.parquet")

    t1 = load_tables(spark, str(d), register_views=False)
    n1 = t1["region"].count()
    assert n1 == 5
    # same files -> same handle object (the memo hit)
    t2 = load_tables(spark, str(d), register_views=False)
    assert t2 is t1

    # rewrite the table (different content) -> fingerprint miss ->
    # fresh handles that see the new data
    t1["region"].limit(2).write.mode("overwrite").parquet(str(d / "region2.parquet"))
    shutil.rmtree(d / "region.parquet", ignore_errors=True)
    (d / "region.parquet").unlink(missing_ok=True)
    shutil.move(str(d / "region2.parquet"), str(d / "region.parquet"))
    t3 = load_tables(spark, str(d), register_views=False)
    assert t3 is not t1
    assert t3["region"].count() == 2


def test_load_tables_fingerprint_covers_everything_servable(tmp_path):
    """r12 (VERDICT r11 item 10): _sf_fingerprint stats exactly the
    TABLES tuple, and LazyTables refuses to serve any other name — so
    no servable table can escape stat invalidation."""
    from andl_spark import session as S

    # every name LazyTables can serve is fingerprinted ...
    lt = S.LazyTables(None, str(tmp_path))
    with pytest.raises(KeyError):
        lt["not_a_table"]
    # ... and the fingerprint covers directory-style tables per ENTRY:
    # an in-place part-file rewrite (same names, same dir stats) must
    # change the fingerprint (ADVICE r11).
    d = tmp_path / "region.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"aa")
    fp1 = S._sf_fingerprint(str(tmp_path))
    os.utime(d, ns=(1, 1))  # pin dir stats so only the entry differs
    fp_before = S._sf_fingerprint(str(tmp_path))
    part.write_bytes(b"bb")  # same name, same size, new mtime
    os.utime(d, ns=(1, 1))
    fp_after = S._sf_fingerprint(str(tmp_path))
    assert fp1 and fp_before != fp_after


def test_load_tables_cache_hit_rebinds_views(spark, tmp_path):
    """r12 (ADVICE r11, medium): a memo HIT with register_views=True
    must re-register the cached frames as temp views — after another
    sf_dir was loaded on the same session, spark.sql would otherwise
    silently read the OTHER dir's data while the returned handles read
    the requested dir."""
    import shutil

    from andl_spark.session import load_tables
    from conftest import SF_SMOKE

    d1 = tmp_path / "a"
    d2 = tmp_path / "b"
    d1.mkdir()
    d2.mkdir()
    shutil.copy(f"{SF_SMOKE}/region.parquet", d1 / "region.parquet")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").limit(2).write.parquet(
        str(d2 / "region.parquet"))

    load_tables(spark, str(d1), register_views=True)
    assert spark.sql("SELECT count(*) c FROM region").head()["c"] == 5
    load_tables(spark, str(d2), register_views=True)
    assert spark.sql("SELECT count(*) c FROM region").head()["c"] == 2
    # memo hit for d1 — the view must point back at d1's data
    load_tables(spark, str(d1), register_views=True)
    assert spark.sql("SELECT count(*) c FROM region").head()["c"] == 5


def test_load_tables_retention_is_bounded(spark, tmp_path):
    """The handle memo keeps a bounded number of (session, dir)
    entries: each holds its session and lazy handles, so loading many
    distinct dirs must not retain them all."""
    from andl_spark import session as S

    bound = S._TABLES_CACHE.maxsize
    assert bound is not None
    for i in range(bound + 3):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        S.load_tables(spark, str(d), register_views=False)
        assert len(S._TABLES_CACHE) <= bound
    # the newest entry is still served from the memo
    last = str(tmp_path / f"sf{bound + 2}")
    assert (S.load_tables(spark, last, register_views=False)
            is S.load_tables(spark, last, register_views=False))


def test_table_handles_take_footer_schema_and_run_no_job(spark, tmp_path):
    """A table handle takes its schema from the parquet footer on the
    driver: it equals the schema Spark infers, for every smoke table and
    for part-file directories (Spark- and pyarrow-written), and opening
    it runs no Spark job."""
    import pyarrow.parquet as pq

    from andl_spark import trace
    from andl_spark.session import TABLES, LazyTables, load_tables
    from conftest import SF_SMOKE, jobs_run

    load_tables(spark, SF_SMOKE, register_views=False)  # sets nanosAsLong
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").repartition(3).write.parquet(
        str(tmp_path / "orders.parquet"))
    lineitem = pq.read_table(f"{SF_SMOKE}/lineitem.parquet")
    (tmp_path / "lineitem.parquet").mkdir()
    pq.write_table(lineitem.slice(0, 100), tmp_path / "lineitem.parquet" / "part-00001.parquet")
    pq.write_table(lineitem.slice(100), tmp_path / "lineitem.parquet" / "part-00000.parquet")

    for sf_dir, names in ((SF_SMOKE, TABLES), (str(tmp_path), ("orders", "lineitem"))):
        with trace.recording() as rec:
            handles, jobs = jobs_run(spark, f"footer-schema-{len(names)}",
                                     lambda: {n: LazyTables(spark, sf_dir)[n] for n in names})
        assert jobs == 0 and rec == []
        for name, df in handles.items():
            assert df.schema == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema, name
    assert handles["lineitem"].count() == lineitem.num_rows


def test_load_tables_rebuilds_nanos_timestamps(spark, tmp_path):
    """A naive TIMESTAMP(NANOS) column reads back as TIMESTAMP_NTZ
    truncated to microseconds, whatever the session timezone; a NANOS
    column adjusted to UTC stays the raw nanosecond long."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from andl_spark.session import load_tables

    ns = [1_700_000_000_123_456_789, None, 86_400_000_999_000]
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns")),
        "ts_utc": pa.array(ns, pa.timestamp("ns", tz="UTC")),
    }), tmp_path / "events.parquet")
    df = load_tables(spark, str(tmp_path), register_views=False)["events"]
    assert df.dtypes == [("event_id", "bigint"), ("ts", "timestamp_ntz"), ("ts_utc", "bigint")]
    assert [tuple(r) for r in df.orderBy("event_id").collect()] == [
        (1, datetime(2023, 11, 14, 22, 13, 20, 123456), ns[0]),
        (2, None, None),
        (3, datetime(1970, 1, 2, 0, 0, 0, 999), ns[2]),
    ]


def test_inexact_footer_schema_falls_back_to_inferred_read(spark, tmp_path):
    """A column the Arrow conversion cannot map exactly (an unsigned
    int; an INT96 timestamp, which pyarrow shows as timestamp[ns]) takes
    Spark's inferred read, and the fallback is noted in the trace; a
    NANOS column beside it is still rebuilt."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from andl_spark import trace
    from andl_spark.session import LazyTables, load_tables

    pq.write_table(pa.table({
        "event_id": pa.array([1, 4_000_000_000], pa.uint32()),
        "ts": pa.array([0, 1_500], pa.timestamp("ns")),
    }), tmp_path / "events.parquet")
    pq.write_table(pa.table({"o_orderdate": pa.array([0, 10**15], pa.timestamp("ns"))}),
                   tmp_path / "orders.parquet", use_deprecated_int96_timestamps=True)
    load_tables(spark, str(tmp_path), register_views=False)
    with trace.recording() as rec:
        lt = LazyTables(spark, str(tmp_path))
        events, orders = lt["events"], lt["orders"]
    assert [(n["op"], n["table"], n["schema"]) for n in rec] == [
        ("load_tables", "events", "inferred"), ("load_tables", "orders", "inferred")]
    assert "uint32" in rec[0]["reason"] and "INT96" in rec[1]["reason"]
    assert events.dtypes == [("event_id", "bigint"), ("ts", "timestamp_ntz")]
    assert sorted(tuple(r) for r in events.collect()) == [
        (1, datetime(1970, 1, 1)), (4_000_000_000, datetime(1970, 1, 1, 0, 0, 0, 1))]
    assert orders.schema == spark.read.parquet(str(tmp_path / "orders.parquet")).schema


@pytest.mark.parametrize("partition_by", [None, ["c_mktsegment"]])
def test_catalog_reads_recorded_schema_without_jobs(spark, tmp_path, partition_by):
    """Catalog.put records the data columns' schema, so get() and
    register_views() run no schema-inference job and read the schema
    Spark infers (partition columns still from the directory names).
    A version written under an earlier schema keeps the inferred read."""
    from conftest import SF_SMOKE, jobs_run

    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("c", cust.select("c_custkey", "c_mktsegment"), partition_by)
    cat.put("c", cust.select("c_custkey", "c_name", "c_mktsegment"), partition_by)
    cat = Catalog(spark, str(tmp_path / "cat"))  # reopened from the manifest
    _, jobs = jobs_run(spark, f"catalog-views-{bool(partition_by)}", cat.register_views)
    assert jobs == 0
    for v in (1, 2):
        got = cat.get("c", v)
        assert got.schema == spark.read.parquet(str(tmp_path / "cat" / "c" / f"v{v}")).schema
        assert got.count() == cust.count()
    assert spark.table("c").columns == ["c_custkey", "c_name", "c_mktsegment"]

"""Streaming parity: the same declarative plans over readStream must
produce the batch answer once the finite file source is drained."""

import pytest
from pyspark.sql import functions as F

from andl_spark.session import load_tables
from andl_spark.streaming.events import (
    read_events_stream,
    run_stream_to_memory,
    sessionize,
    stateful_running_count,
    windowed_agg,
)

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_batch(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["events"]


def _as_sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_windowed_agg_stream_matches_batch(spark, events_batch):
    batch = windowed_agg(events_batch)
    stream = windowed_agg(read_events_stream(spark, SF_SMOKE))
    assert stream.isStreaming
    run_stream_to_memory(stream, "win_agg")
    got = spark.table("win_agg")
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _as_sorted_rows(got, cols) == _as_sorted_rows(batch, cols)


def test_sessionize_stream_matches_batch(spark, events_batch):
    batch = sessionize(events_batch)
    stream = sessionize(read_events_stream(spark, SF_SMOKE))
    run_stream_to_memory(stream, "sessions")
    got = spark.table("sessions")
    cols = ["user_id", "t_start", "t_end", "n_events"]
    assert _as_sorted_rows(got, cols) == _as_sorted_rows(batch, cols)


def test_stateful_running_count(spark, events_batch):
    stream = stateful_running_count(read_events_stream(spark, SF_SMOKE, max_files_per_trigger=1))
    q = (
        stream.writeStream.format("memory").queryName("running_counts")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["user_id"]: r["n_events"] for r in spark.table("running_counts").collect()}
    want = {
        r["user_id"]: r["n"]
        for r in events_batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # final state per user must equal the batch count
    assert got == want


def test_dedup_stream_within_watermark(spark, events_batch):
    """Streaming dedup: the same source unioned with itself (every row
    duplicated) must come out exactly once — and equal the batch
    distinct-on-key result."""
    from andl_spark.streaming.events import dedup_stream

    src = read_events_stream(spark, SF_SMOKE)
    doubled = src.union(read_events_stream(spark, SF_SMOKE))
    stream = dedup_stream(doubled, keys=["event_id"])
    q = (
        stream.writeStream.format("memory").queryName("dedup_ev")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_ev")
    assert got.count() == events_batch.select("event_id").distinct().count()
    assert got.select("event_id").distinct().count() == got.count()
    # batch fallback gives the same relation
    assert dedup_stream(events_batch, keys=["event_id"]).count() == got.count()


def test_stream_static_enrichment(spark, events_batch):
    """Stream-static join: events enriched with the customer dimension
    must match the same join run in batch (no state, broadcast dim)."""
    from andl_spark.session import load_tables
    from andl_spark.streaming.events import enrich_with_dim

    dim = (
        load_tables(spark, SF_SMOKE, register_views=False)["customer"]
        .select(F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment")
    )
    stream = enrich_with_dim(read_events_stream(spark, SF_SMOKE), dim, on="user_id")
    q = (
        stream.writeStream.format("memory").queryName("enriched")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("enriched")
    want = enrich_with_dim(events_batch, dim, on="user_id")
    cols = ["event_id", "user_id", "c_name", "c_mktsegment"]
    assert got.count() == events_batch.count()  # left join preserves rows
    assert _as_sorted_rows(got.select(*cols), cols) == _as_sorted_rows(want.select(*cols), cols)


def test_sliding_window_stream_matches_batch(spark, events_batch):
    """1-hour window hopping every 30 min: stream result equals batch,
    and every event lands in exactly 2 overlapping windows."""
    cols = ["window_start", "event_type", "n", "total_value"]
    stream = windowed_agg(read_events_stream(spark, SF_SMOKE), slide="30 minutes")
    run_stream_to_memory(stream, "slide_agg")
    got = spark.table("slide_agg")
    want = windowed_agg(events_batch, slide="30 minutes")
    assert _as_sorted_rows(got, cols) == _as_sorted_rows(want, cols)
    n_events = events_batch.count()
    assert got.agg(F.sum("n")).first()[0] == 2 * n_events


def test_asof_enrichment_stream_matches_batch(spark, events_batch, tmp_path):
    """Streaming point-in-time enrichment: every event picks up the
    state row in force at its own timestamp; the per-micro-batch
    foreachBatch result equals the one-shot batch as-of join exactly
    (micro-batch boundaries are invisible against static state)."""
    from andl_spark.operators.asof import asof_join
    from andl_spark.streaming.events import asof_enrich_stream

    # synthetic slowly-changing state: each user upgrades bronze→silver
    # 12h after their first event (derived in batch, purely static)
    ev = events_batch.filter(F.col("user_id") < 30).select(
        "event_id", "user_id", "ts", "value")
    t0 = ev.groupBy("user_id").agg(F.min("ts").alias("ts"))
    state = (
        t0.withColumn("tier", F.lit("bronze"))
        .union(
            t0.select(
                "user_id",
                (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("ts"),
            ).withColumn("tier", F.lit("silver")))
        .select("user_id", "ts", "tier")
    )
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = read_events_stream(spark, SF_SMOKE).filter(F.col("user_id") < 30).select(
        "event_id", "user_id", "ts", "value")
    q = asof_enrich_stream(
        stream, state, on=["user_id"], ts="ts", value_cols=["tier"],
        out_path=out_dir, checkpoint=ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    want = asof_join(ev, state, on=["user_id"], ts="ts", value_cols=["tier"])
    cols = ["event_id", "user_id", "asof_tier"]
    assert got.count() == ev.count()
    assert _as_sorted_rows(got, cols) == _as_sorted_rows(want, cols)
    # every user's first event is already bronze (state starts at min ts)
    assert got.filter(F.col("asof_tier").isNull()).count() == 0
    assert {r[0] for r in got.select("asof_tier").distinct().collect()} == {
        "bronze", "silver"}

    # replay idempotence: foreachBatch is at-least-once, so re-running
    # the same input against the SAME sink (fresh checkpoint = every
    # batch replays) must overwrite per-batch partitions, not append
    q2 = asof_enrich_stream(
        stream, state, on=["user_id"], ts="ts", value_cols=["tier"],
        out_path=out_dir, checkpoint=str(tmp_path / "ckpt2"))
    q2.awaitTermination(120)
    again = spark.read.parquet(out_dir)
    assert again.count() == ev.count()  # no duplicate rows after replay
    assert _as_sorted_rows(again, cols) == _as_sorted_rows(want, cols)


@pytest.mark.slow
def test_sf1_streaming_soak(spark, tmp_path):
    """Scale-rehearsal soak (VERDICT r3 items 1/9): the sf1 events
    table (1M rows, 32 part files → 32 micro-batches at
    maxFilesPerTrigger=1) through windowed aggregation, sessionization
    AND the as-of enrichment sink; stream == batch at that volume.
    Gated on ANDL_SF1_DIR (generate with tools/gen_sf.py)."""
    import os

    sf1 = os.environ.get("ANDL_SF1_DIR")
    if not sf1 or not os.path.exists(f"{sf1}/events.parquet"):
        pytest.skip("set ANDL_SF1_DIR to a tools/gen_sf.py output dir")
    ev = load_tables(spark, sf1, register_views=False)["events"]

    # float sums accumulate in micro-batch order vs scan order: compare
    # at the oracle harness's epsilon-rounded grain (workload r2())
    def _r2(df):
        return df.withColumn(
            "total_value", F.round(F.col("total_value") + F.lit(1e-6), 2))

    batch = _r2(windowed_agg(ev))
    stream = _r2(windowed_agg(read_events_stream(spark, sf1)))
    run_stream_to_memory(stream, "sf1_win", timeout_sec=600)
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _as_sorted_rows(spark.table("sf1_win"), cols) == \
        _as_sorted_rows(batch, cols)

    # sessionize in APPEND mode — the production shape: a session is
    # emitted exactly once, when the watermark passes its end. At this
    # volume state eviction is real (complete mode would only retain
    # the last watermark horizon), so the contract is: every emitted
    # session is a batch session, and every session closed more than
    # one watermark+margin before the end of input was emitted.
    sbatch = sessionize(ev)
    q = (
        sessionize(read_events_stream(spark, sf1))
        .writeStream.format("memory").queryName("sf1_sess")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(600)
    cols = ["user_id", "t_start", "n_events"]
    emitted = set(_as_sorted_rows(spark.table("sf1_sess"), cols))
    full = set(_as_sorted_rows(sbatch, cols))
    assert emitted <= full and len(emitted) > 0.5 * len(full)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime as _dt

    # watermark 2h + one full micro-batch span (~1 day of the 31-day
    # stream): a session finalized by the LAST batch's watermark update
    # is emitted one trigger later — a trigger availableNow never runs
    cutoff = max_ts - _dt.timedelta(days=2)
    closed = set(_as_sorted_rows(
        sessionize(ev).filter(F.col("t_end") < F.lit(cutoff)), cols))
    assert closed <= emitted

    # as-of enrichment against slowly-changing state at sf1 volume
    from andl_spark.operators.asof import asof_join
    from andl_spark.streaming.events import asof_enrich_stream

    evs = ev.select("event_id", "user_id", "ts", "value")
    t0 = evs.groupBy("user_id").agg(F.min("ts").alias("ts"))
    state = (
        t0.withColumn("tier", F.lit("bronze"))
        .union(t0.select(
            "user_id", (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("ts"))
            .withColumn("tier", F.lit("silver")))
        .select("user_id", "ts", "tier")
    )
    out_dir, ckpt = str(tmp_path / "sf1out"), str(tmp_path / "sf1ckpt")
    sstream = read_events_stream(spark, sf1).select(
        "event_id", "user_id", "ts", "value")
    q = asof_enrich_stream(sstream, state, on=["user_id"], ts="ts",
                           value_cols=["tier"], out_path=out_dir,
                           checkpoint=ckpt)
    q.awaitTermination(600)
    got = spark.read.parquet(out_dir)
    want = asof_join(evs, state, on=["user_id"], ts="ts", value_cols=["tier"])
    assert got.count() == evs.count() == 1_000_000
    cols = ["event_id", "user_id", "asof_tier"]
    assert _as_sorted_rows(got, cols) == _as_sorted_rows(want, cols)


def test_stream_stream_join_matches_batch(spark, events_batch):
    """Stream-stream windowed inner join (VERDICT r4 item 6): purchases
    joined to same-user clicks within the preceding 30 minutes. Inner
    results emit eagerly, so draining the finite source must reproduce
    the batch join exactly."""
    from andl_spark.streaming.events import stream_stream_join

    clicks_b = events_batch.filter(F.col("event_type") == "click")
    buys_b = events_batch.filter(F.col("event_type") == "purchase")
    batch = stream_stream_join(clicks_b, buys_b)
    assert batch.count() > 0, "fixture must produce at least one match"

    clicks_s = read_events_stream(spark, SF_SMOKE).filter(
        F.col("event_type") == "click")
    buys_s = read_events_stream(spark, SF_SMOKE).filter(
        F.col("event_type") == "purchase")
    stream = stream_stream_join(clicks_s, buys_s)
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory").queryName("ssj")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    cols = ["l_event_id", "r_event_id", "l_user_id"]
    assert _as_sorted_rows(spark.table("ssj"), cols) == _as_sorted_rows(batch, cols)


def test_neardup_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming incremental near-dup ingest (VERDICT r5 item 3 — the
    100 TB crawl loop): micro-batches of new docs sign themselves, join
    the persisted signature index, append pairs + index rows. The
    drained stream's pair set must equal the one-shot
    minhash_against_index over all new docs (cross-micro-batch new×new
    pairs are found because each batch's signatures land in the index
    before the next batch runs), and a replayed micro-batch must
    rewrite its own partitions, never append duplicates."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_batch, neardup_ingest_stream, read_neardup_index,
        seed_neardup_index)

    # dup-dense corpus: 5 clusters × 12 near-identical members; the
    # first 6 of each cluster are "historical", the rest stream in
    marker = ["aardvark", "kumquat", "zeppelin", "quixotic", "fjord"]
    rows = [(c * 100 + k,
             f"the five boxing wizards jump quickly over "
             f"{(marker[c] + ' ') * 10}"
             + ("end" if k == 0 else f"end{k % 4}"))
            for c in range(5) for k in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 100 < 6)
    new = docs.filter(F.col("doc_id") % 100 >= 6)

    index_path = str(tmp_path / "sig_index")
    pairs_path = str(tmp_path / "pairs")
    docs_dir = str(tmp_path / "incoming")
    seed_neardup_index(
        D.minhash_signatures(old, "doc_id", "text"), index_path)
    # 3 arrival files → 3 micro-batches at maxFilesPerTrigger=1
    for i in range(3):
        (new.filter(F.col("doc_id") % 3 == i).repartition(1)
         .write.mode("append").parquet(docs_dir))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(docs_dir)
    )
    q = neardup_ingest_stream(
        stream, index_path, pairs_path, str(tmp_path / "ckpt"),
        kind="minhash", threshold=0.5)
    q.awaitTermination(180)

    got = spark.read.parquet(pairs_path)
    want, _ = D.minhash_against_index(
        new, D.minhash_signatures(old, "doc_id", "text"), threshold=0.5)
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in df.collect()}
    assert got.count() == got.dropDuplicates(["id_a", "id_b"]).count()
    assert key(got) == key(want) and want.count() > 0
    # the index grew by exactly the new batch's signature rows
    idx = read_neardup_index(spark, index_path)
    assert idx.count() == docs.count()
    assert idx.filter(F.col("_batch_id") == -1).count() == old.count()

    # replay idempotence: re-run the LAST micro-batch with its own
    # batch_id (foreachBatch's at-least-once contract) — outputs must
    # be byte-stable, not appended
    last_bid = idx.agg(F.max("_batch_id")).first()[0]
    replay_ids = [r["doc_id"] for r in idx.filter(
        F.col("_batch_id") == last_bid).select("doc_id").collect()]
    before_pairs, before_idx = key(got), idx.count()
    neardup_ingest_batch(
        new.filter(F.col("doc_id").isin(replay_ids)), last_bid,
        index_path, pairs_path, kind="minhash", threshold=0.5)
    after = spark.read.parquet(pairs_path)
    assert key(after) == before_pairs
    assert after.count() == len(before_pairs)
    assert read_neardup_index(spark, index_path).count() == before_idx


def test_neardup_ingest_stream_embedding(spark, tmp_path):
    """Embedding leg of the streaming ingest: drained stream pair set
    (with exact cosines) == one-shot embedding_dup_against_index."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_stream, read_neardup_index, seed_neardup_index)

    dim, n_copies = 16, 10
    rows = []
    for base in range(3):
        for k in range(n_copies):
            vec = [1.0 if j % 3 == base else 0.05 for j in range(dim)]
            vec[k % dim] += 0.01
            rows.append((base * 100 + k, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = emb.filter(F.col("vec_id") % 100 < 5)
    new = emb.filter(F.col("vec_id") % 100 >= 5)
    kw = dict(threshold=0.95, bucket_bits=6, n_tables=4, dim=dim)

    index_path = str(tmp_path / "emb_index")
    pairs_path = str(tmp_path / "emb_pairs")
    vec_dir = str(tmp_path / "emb_incoming")
    seed_neardup_index(D.embedding_index(old, bucket_bits=6, n_tables=4,
                                         dim=dim), index_path)
    for i in range(2):
        (new.filter(F.col("vec_id") % 2 == i).repartition(1)
         .write.mode("append").parquet(vec_dir))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1).parquet(vec_dir)
    )
    q = neardup_ingest_stream(
        stream, index_path, pairs_path, str(tmp_path / "ckpt"),
        kind="embedding", **kw)
    q.awaitTermination(180)

    got = spark.read.parquet(pairs_path)
    want, _ = D.embedding_dup_against_index(
        new, D.embedding_index(old, bucket_bits=6, n_tables=4, dim=dim), **kw)
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in df.collect()}
    assert key(got) == key(want) and want.count() > 0
    assert read_neardup_index(spark, index_path).count() == emb.count()


def test_neardup_ingest_batch_simhash_leg(spark, tmp_path):
    """The simhash leg of the ingest loop routes through the same
    batch machinery: one ingested batch's pair set (with hamming)
    equals the one-shot simhash_against_index."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_batch, read_neardup_index, seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"sphinx of black quartz judge my vow {i % 4} t{i % 2}")
         for i in range(30)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 15)
    new = docs.filter(F.col("doc_id") >= 15)
    idx, pairs = str(tmp_path / "shidx"), str(tmp_path / "shpairs")
    seed_neardup_index(D.simhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(new, 0, idx, pairs, kind="simhash", max_hamming=3)
    got = spark.read.parquet(pairs)
    want, _ = D.simhash_against_index(
        new, D.simhash_signatures(old, "doc_id", "text"), max_hamming=3)
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], r["hamming"]) for r in df.collect()}
    assert key(got) == key(want) and want.count() > 0
    assert read_neardup_index(spark, idx).count() == 30


def test_neardup_ingest_stream_spans(spark, tmp_path):
    """Spans leg of the streaming crawl loop (VERDICT r6 item 2):
    micro-batches span THEMSELVES only, antijoin the persisted
    first-occurrence key index, and append their own new firsts. With
    ascending-id arrival the drained clean output equals the one-shot
    dedup_spans over the concatenated corpus row-for-row, and a
    replayed micro-batch rewrites its partitions byte-stably."""
    import time

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_batch, neardup_ingest_stream, read_neardup_index,
        seed_neardup_index)

    import random

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa").split()
    boiler = " ".join(words[i % len(words)] for i in range(20))
    rows = []
    for i in range(60):
        rnd = random.Random(i)  # per-doc unique body; shared boilerplate
        body = " ".join(rnd.choice(words) for _ in range(25))
        rows.append((i, (boiler + " " + body) if i % 2 == 0 else body))
    rows[5] = (5, "")  # empty doc: never drops, zero tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    W = 8
    old = docs.filter(F.col("doc_id") < 20)
    new = docs.filter(F.col("doc_id") >= 20)

    empty_idx = D.empty_span_index(spark)
    _, seed_rows = D.dedup_spans_against_index(
        old, empty_idx, "doc_id", "text", window=W)
    index_path = str(tmp_path / "span_index")
    clean_path = str(tmp_path / "span_clean")
    docs_dir = str(tmp_path / "span_incoming")
    seed_neardup_index(seed_rows, index_path)

    # ascending-id arrival files → ascending micro-batches
    for lo, hi in [(20, 35), (35, 50), (50, 60)]:
        (new.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .repartition(1).write.mode("append").parquet(docs_dir))
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(docs_dir)
    )
    q = neardup_ingest_stream(
        stream, index_path, clean_path, str(tmp_path / "ckpt"),
        kind="spans", window=W)
    q.awaitTermination(180)

    got = spark.read.parquet(clean_path)
    want = D.dedup_spans(docs, "doc_id", "text", window=W).filter(
        F.col("id") >= 20)
    key = lambda df: {  # noqa: E731
        (r["id"], r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in df.collect()}
    assert key(got) == key(want) and got.count() == new.count()
    assert got.filter(F.col("n_removed") > 0).count() > 0  # dedup happened
    # index holds exactly the corpus' distinct span keys, key-unique
    idx = read_neardup_index(spark, index_path)
    base = D._span_base(docs, "doc_id", "text")
    n_keys = (D._span_table(base, W, "xxhash64")
              .select("key").distinct().count())
    assert idx.count() == idx.select("key").distinct().count() == n_keys

    # replay idempotence: re-run the LAST micro-batch with its own id
    last_bid = idx.agg(F.max("_batch_id")).first()[0]
    replay_ids = [r["id"] for r in idx.filter(
        F.col("_batch_id") == last_bid).select("id").collect()]
    before_clean, before_idx = key(got), idx.count()
    neardup_ingest_batch(
        new.filter(F.col("doc_id") >= 50), last_bid,
        index_path, clean_path, kind="spans", window=W)
    assert key(spark.read.parquet(clean_path)) == before_clean
    assert read_neardup_index(spark, index_path).count() == before_idx
    assert replay_ids  # the last batch did claim some first occurrences


def test_neardup_ingest_stream_exact(spark, tmp_path):
    """Exact-fingerprint leg of the streaming crawl loop (r7 — the
    fifth kind): micro-batches keep only rows whose content fingerprint
    is absent from the persisted index and unique within the batch; the
    drained survivor set equals the one-shot exact dedup over the
    concatenated corpus (ascending-id arrival = min-id winner), and a
    replayed micro-batch rewrites its partitions byte-stably."""
    import time

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_batch, neardup_ingest_stream, read_neardup_index,
        seed_neardup_index)

    def text_of(i):
        if i < 20 or i % 5 >= 2:
            return f"exact body {i % 7}"      # groups claimed by old
        if i % 5 == 0:
            return f"fresh solo {i}"          # unique: survives
        return f"fresh group {i // 20}"       # new group: min id wins
    docs = spark.createDataFrame(
        [(i, text_of(i)) for i in range(70)], "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 20)
    new = docs.filter(F.col("doc_id") >= 20)

    empty = D.empty_fp_index(spark)
    _, seed_fps = D.exact_dedup_against_index(old, empty)
    index_path = str(tmp_path / "fp_index")
    kept_path = str(tmp_path / "fp_kept")
    docs_dir = str(tmp_path / "fp_incoming")
    seed_neardup_index(seed_fps, index_path)

    for lo, hi in [(20, 40), (40, 55), (55, 70)]:
        (new.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .repartition(1).write.mode("append").parquet(docs_dir))
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(docs_dir)
    )
    q = neardup_ingest_stream(
        stream, index_path, kept_path, str(tmp_path / "ckpt"),
        kind="exact")
    q.awaitTermination(180)

    got = {(r["doc_id"], r["text"])
           for r in spark.read.parquet(kept_path).collect()}
    # one-shot truth: a NEW row survives iff it is the min-id holder of
    # its fingerprint across the WHOLE corpus
    full = D.exact_dedup(docs, "doc_id", "text")
    want_ids = {r["doc_id"] for r in full.filter(
        (~F.col("is_dup")) & (F.col("doc_id") >= 20)).collect()}
    assert want_ids and got == {
        (r["doc_id"], r["text"])
        for r in new.filter(F.col("doc_id").isin(list(want_ids))).collect()}
    # index is fp-unique and covers exactly the corpus' distinct texts
    idx = read_neardup_index(spark, index_path)
    n_groups = docs.select("text").distinct().count()
    assert idx.count() == idx.select("fp").distinct().count() == n_groups

    # replay idempotence: re-run the LAST micro-batch with its own id
    last_bid = idx.agg(F.max("_batch_id")).first()[0]
    assert last_bid >= 0  # the stream really claimed new groups
    before = got
    neardup_ingest_batch(
        new.filter(F.col("doc_id") >= 55), last_bid, index_path,
        kept_path, kind="exact")
    assert {(r["doc_id"], r["text"])
            for r in spark.read.parquet(kept_path).collect()} == before
    assert read_neardup_index(spark, index_path).count() == n_groups


def test_neardup_ingest_restart_from_checkpoint(spark, tmp_path):
    """r8: checkpoint RESUME across query restarts — distinct from the
    fresh-checkpoint replay pins. The crawl loop stops (deploy, crash,
    cluster resize) while new files keep landing; a NEW query object
    restarts on the SAME checkpointLocation and must resume from the
    committed offsets: phase-1 batches keep their partitions untouched,
    batch numbering continues, only files that arrived during the
    outage are processed, and the final pair set equals the one-shot
    incremental recompute over all new docs."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_stream, read_neardup_index, seed_neardup_index)

    marker = ["aardvark", "kumquat", "zeppelin", "quixotic", "fjord"]
    rows = [(c * 100 + k,
             f"the five boxing wizards jump quickly over "
             f"{(marker[c] + ' ') * 10}"
             + ("end" if k == 0 else f"end{k % 4}"))
            for c in range(5) for k in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 100 < 6)
    new = docs.filter(F.col("doc_id") % 100 >= 6)
    index_path = str(tmp_path / "sig_index")
    pairs_path = str(tmp_path / "pairs")
    docs_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    seed_neardup_index(
        D.minhash_signatures(old, "doc_id", "text"), index_path)

    def start():  # a genuinely NEW query object each phase
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(docs_dir))
        return neardup_ingest_stream(stream, index_path, pairs_path,
                                     ckpt, kind="minhash", threshold=0.5)

    # phase 1: one arrival file, drain, the query STOPS (availableNow)
    (new.filter(F.col("doc_id") % 3 == 0).repartition(1)
     .write.mode("append").parquet(docs_dir))
    start().awaitTermination(180)
    idx1 = read_neardup_index(spark, index_path)
    phase1 = {(r["doc_id"], r["_batch_id"])
              for r in idx1.select("doc_id", "_batch_id").collect()}
    assert idx1.count() == (old.count()
                            + new.filter(F.col("doc_id") % 3 == 0).count())

    # two more files land while the query is DOWN
    for i in (1, 2):
        (new.filter(F.col("doc_id") % 3 == i).repartition(1)
         .write.mode("append").parquet(docs_dir))
    start().awaitTermination(180)  # phase 2: restart on the SAME ckpt

    idx2 = read_neardup_index(spark, index_path)
    phase2 = {(r["doc_id"], r["_batch_id"])
              for r in idx2.select("doc_id", "_batch_id").collect()}
    # resume, not reprocess: phase-1 rows keep their batch ids and the
    # numbering continues past them instead of restarting at 0
    assert phase1 <= phase2
    assert idx2.count() == docs.count()
    assert (max(b for _, b in phase2 if b >= 0)
            > max(b for _, b in phase1 if b >= 0))
    got = spark.read.parquet(pairs_path)
    want, _ = D.minhash_against_index(
        new, D.minhash_signatures(old, "doc_id", "text"), threshold=0.5)
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in df.collect()}
    assert got.count() == got.dropDuplicates(["id_a", "id_b"]).count()
    assert key(got) == key(want) and want.count() > 0


def test_stateful_state_survives_restart(spark, tmp_path):
    """r8: applyInPandasWithState state-store RECOVERY — a new query on
    the same checkpoint resumes per-key state, so users whose events
    span the outage keep counting from where they left off (a lost
    state store would restart them at their phase-2 count)."""
    from pyspark.sql import Window

    src = str(tmp_path / "ev")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ev1 = spark.createDataFrame([(u,) for u in [1] * 3 + [2] * 2 + [3]],
                                "user_id long")
    ev2 = spark.createDataFrame([(u,) for u in [1] * 2 + [3] * 4 + [4] * 5],
                                "user_id long")

    def run():
        stream = (spark.readStream.schema("user_id long")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = (stateful_running_count(stream)
             .writeStream.foreachBatch(
                 lambda df, bid: df.withColumn("_b", F.lit(bid))
                 .write.mode("append").parquet(out))
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)

    ev1.repartition(1).write.mode("append").parquet(src)
    run()
    ev2.repartition(1).write.mode("append").parquet(src)
    run()  # restart on the same checkpoint

    upd = spark.read.parquet(out)
    w = Window.partitionBy("user_id").orderBy(F.col("_b").desc())
    final = {r["user_id"]: r["n_events"]
             for r in upd.withColumn("r", F.row_number().over(w))
             .filter("r = 1").collect()}
    # user 1 spans the outage (3 + 2), user 2 only phase 1, user 3
    # spans (1 + 4), user 4 only phase 2 — all from recovered state
    assert final == {1: 5, 2: 2, 3: 5, 4: 5}


def test_neardup_ingest_cold_start_empty_seed(spark, tmp_path):
    """Cold start (review r7): seeding with an EMPTY relation writes a
    0-row partitioned parquet (no data files) — the seed schema rides
    the generation pointer, so the first micro-batch's index read
    reconstructs the empty frame instead of failing schema inference.
    Drained output equals the one-shot op over the whole stream."""
    import time

    import random

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        neardup_ingest_stream, read_neardup_index, seed_neardup_index)

    words = "zeta eta theta iota kappa lam mu nu xi omicron".split()
    rows = []
    boiler = " ".join(words[i % len(words)] for i in range(12))
    for i in range(30):
        rnd = random.Random(50 + i)
        body = " ".join(rnd.choice(words) for _ in range(18))
        rows.append((i, (boiler + " " + body) if i % 2 == 0 else body))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    W = 6

    index_path = str(tmp_path / "cold_idx")
    clean_path = str(tmp_path / "cold_clean")
    docs_dir = str(tmp_path / "cold_incoming")
    seed_neardup_index(D.empty_span_index(spark), index_path)
    # tolerant read works on the data-file-less cold index
    assert read_neardup_index(spark, index_path).count() == 0

    for lo, hi in [(0, 15), (15, 30)]:
        (docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
         .repartition(1).write.mode("append").parquet(docs_dir))
        time.sleep(0.05)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(docs_dir)
    )
    q = neardup_ingest_stream(
        stream, index_path, clean_path, str(tmp_path / "ckpt"),
        kind="spans", window=W)
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(clean_path)
           .select("id", "clean_text", "n_tokens", "n_removed").collect()}
    want = {tuple(r) for r in
            D.dedup_spans(docs, "doc_id", "text", window=W).collect()}
    assert got == want

    # the exact leg cold-starts the same way
    fp_idx = str(tmp_path / "cold_fp_idx")
    seed_neardup_index(D.empty_fp_index(spark), fp_idx)
    assert read_neardup_index(spark, fp_idx).count() == 0


def test_replay_after_compaction_stays_idempotent(spark, tmp_path):
    """Review r7: compaction keeps the HIGHEST batch partition as-is —
    folding it into the seed would defeat a replayed batch's
    own-partition exclusion (its claims would look historical). A
    batch replayed AFTER compaction must reproduce its outputs
    byte-stably and leave the index row set unchanged."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        compact_neardup_index, neardup_ingest_batch, read_neardup_index,
        seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"replay compact body {i % 6} tail{i % 2}")
         for i in range(40)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 20)
    b0 = docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    b1 = docs.filter(F.col("doc_id") >= 30)
    idx, pairs = str(tmp_path / "rc_idx"), str(tmp_path / "rc_pairs")
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)
    neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)

    before_pairs = {tuple(r) for r in spark.read.parquet(pairs)
                    .select("id_a", "id_b", "_batch_id").collect()}
    before_rows = {r["doc_id"] for r in read_neardup_index(spark, idx)
                   .select("doc_id").collect()}

    compact_neardup_index(spark, idx, target_files=1)
    after = read_neardup_index(spark, idx)
    # batch 1 (the newest) kept its partition; batch 0 folded into -1
    assert {r["_batch_id"] for r in
            after.select("_batch_id").distinct().collect()} == {-1, 1}

    # replay the newest batch with its own id (at-least-once contract)
    neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)
    assert {tuple(r) for r in spark.read.parquet(pairs)
            .select("id_a", "id_b", "_batch_id").collect()} == before_pairs
    again = read_neardup_index(spark, idx)
    assert {r["doc_id"] for r in again.select("doc_id").collect()} == before_rows
    # index stays one-row-per-doc (no duplicate claims after replay)
    assert again.count() == again.select("doc_id").distinct().count()


def test_compaction_carries_concurrent_ingest(spark, tmp_path):
    """VERDICT r7 item 2 (the compaction/ingest write race): a batch
    that commits its ``_batch_id`` partition into the source generation
    AFTER compaction's snapshot read but BEFORE the pointer flip must
    not vanish from the compacted generation. compact_neardup_index
    re-lists the source partitions pre-flip and carries late arrivals
    over; this pin injects the concurrent ingest through the test seam
    exactly in that window."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        compact_neardup_index, neardup_ingest_batch, read_neardup_index,
        seed_neardup_index)

    docs = spark.createDataFrame(
        [(i, f"race body {i % 4} tail{i % 3}") for i in range(36)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 12)
    b0 = docs.filter((F.col("doc_id") >= 12) & (F.col("doc_id") < 24))
    b1 = docs.filter(F.col("doc_id") >= 24)
    idx, pairs = str(tmp_path / "race_idx"), str(tmp_path / "race_pairs")
    seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)

    def concurrent_ingest():
        # commits _batch_id=1 into generation 1 — after compaction has
        # snapshotted, before it flips the pointer to generation 2
        neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash",
                             threshold=0.5)

    compact_neardup_index(spark, idx, target_files=1,
                          _pre_flip_hook=concurrent_ingest)
    after = read_neardup_index(spark, idx)
    # no index row lost: seed (12) + batch 0 (12) + the late batch (12)
    assert after.count() == 36
    assert ({r["doc_id"] for r in after.select("doc_id").collect()}
            == {r["doc_id"] for r in docs.select("doc_id").collect()})
    # the late batch keeps its own partition (replay exclusion intact)
    assert {r["_batch_id"] for r in
            after.select("_batch_id").distinct().collect()} >= {-1, 1}
    # and a replay of the late batch after the flip stays idempotent
    neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)
    again = read_neardup_index(spark, idx)
    assert again.count() == 36
    assert again.count() == again.select("doc_id").distinct().count()


def test_compact_cold_start_noop(spark, tmp_path):
    """ADVICE r7: compacting a cold-start index (empty seed — no
    parquet data files yet) is a no-op, not an unable-to-infer-schema
    crash; the index stays usable for the first real ingest."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        _read_gen, compact_neardup_index, neardup_ingest_batch,
        read_neardup_index, seed_neardup_index)

    idx, pairs = str(tmp_path / "cold_idx"), str(tmp_path / "cold_pairs")
    seed_neardup_index(D.empty_fp_index(spark), idx)
    compact_neardup_index(spark, idx)       # must not raise
    assert _read_gen(idx) == 1              # no pointless generation flip
    assert read_neardup_index(spark, idx).count() == 0
    docs = spark.createDataFrame(
        [(i, f"cold body {i}") for i in range(6)], "doc_id long, text string")
    neardup_ingest_batch(docs, 0, idx, pairs, kind="exact")
    assert read_neardup_index(spark, idx).count() == 6


def test_unseeded_index_path_is_refused(spark, tmp_path):
    """Every index reader and writer refuses a path that holds no
    generation pointer — absent, or an existing empty directory — with
    a FileNotFoundError naming seed_neardup_index, and writes nothing
    under it. The default tiered fold refuses a nested layout."""
    import os

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    docs = spark.createDataFrame(
        [(i, f"unseeded body {i}") for i in range(4)],
        "doc_id long, text string")
    sigs = D.minhash_signatures(docs, "doc_id", "text")
    pairs = str(tmp_path / "pairs")
    absent, empty = str(tmp_path / "absent"), str(tmp_path / "empty")
    os.mkdir(empty)
    for idx in (absent, empty):
        for call in (
            lambda: E.neardup_ingest_batch(docs, 0, idx, pairs,
                                           kind="minhash", threshold=0.5),
            lambda: E.commit_batch_partitions(sigs, 0, idx),
            lambda: E.read_neardup_index(spark, idx),
            lambda: E.compact_neardup_index(spark, idx),
        ):
            with pytest.raises(FileNotFoundError,
                               match="seed_neardup_index"):
                call()
    assert not os.path.exists(absent) and os.listdir(empty) == []
    assert not os.path.exists(pairs)

    E.seed_neardup_index(sigs, empty)
    with pytest.raises(ValueError, match="flat single-column"):
        E.compact_neardup_index(spark, empty,
                                part_cols=("_batch_id", "doc_id"))


def test_read_neardup_index_damaged_tree_reraises(spark, tmp_path):
    """ADVICE r7: the cold-start schema fallback engages ONLY when the
    resolved generation directory exists and is empty of data — a
    pointer to a MISSING generation (damaged index on a non-empty
    corpus) re-raises instead of silently reading as empty, which
    would make ingest re-claim every key and pass duplicates."""
    import shutil

    from pyspark.sql.utils import AnalysisException

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming.events import (
        read_neardup_index, resolve_neardup_index, seed_neardup_index)

    idx = str(tmp_path / "dmg_idx")
    docs = spark.createDataFrame(
        [(i, f"damaged body {i}") for i in range(8)], "doc_id long, text string")
    seed_neardup_index(D.minhash_signatures(docs, "doc_id", "text"), idx)
    assert read_neardup_index(spark, idx).count() == 8
    # damage mode 1: the generation dir vanished (dangling pointer)
    shutil.rmtree(resolve_neardup_index(idx))
    with pytest.raises(AnalysisException):
        read_neardup_index(spark, idx)

    # damage mode 2 (review r8): the _batch_id= partition dirs exist
    # but their data files are gone — Spark cannot infer a schema, and
    # because partition dirs COUNT as data entries the fallback must
    # re-raise, not serve an empty index (the '_'-prefix filter
    # originally made this path read as a cold start)
    import os

    idx2 = str(tmp_path / "dmg_idx2")
    seed_neardup_index(D.minhash_signatures(docs, "doc_id", "text"), idx2)
    gen = resolve_neardup_index(idx2)
    for root, _dirs, files in os.walk(gen):
        for f in files:
            if not f.startswith(("_", ".")):
                os.remove(os.path.join(root, f))
    with pytest.raises(AnalysisException):
        read_neardup_index(spark, idx2)


def test_ingest_recommits_when_compaction_flips_mid_batch(spark, tmp_path,
                                                          monkeypatch):
    """The OTHER side of the compaction/ingest race: an ingest that
    resolved generation N at entry, computed while compaction wrote and
    FLIPPED to N+1, and only then wrote its partition — its write lands
    in the superseded generation after compaction's carry-over re-list
    already ran. neardup_ingest_batch re-resolves after writing and
    re-commits its (checkpointed) index rows into the current
    generation until stable; simulated here by flipping compaction in
    the middle of the batch's compute via a patched op."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    docs = spark.createDataFrame(
        [(i, f"midflip body {i % 5} tail{i % 2}") for i in range(30)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 15)
    b0 = docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 22))
    b1 = docs.filter(F.col("doc_id") >= 22)
    idx, pairs = str(tmp_path / "mf_idx"), str(tmp_path / "mf_pairs")
    E.seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    E.neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)
    gen_before = E._read_gen(idx)

    real = D.minhash_against_index

    def compact_mid_compute(*a, **kw):
        out = real(*a, **kw)          # results checkpointed here
        E.compact_neardup_index(spark, idx, target_files=1)  # flips gen
        return out

    monkeypatch.setattr(D, "minhash_against_index", compact_mid_compute)
    E.neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)
    monkeypatch.undo()

    assert E._read_gen(idx) == gen_before + 1  # compaction flipped mid-batch
    after = E.read_neardup_index(spark, idx)
    # the mid-flip batch's rows are IN the current generation
    assert after.count() == 30
    assert ({r["doc_id"] for r in after.select("doc_id").collect()}
            == {r["doc_id"] for r in docs.select("doc_id").collect()})
    # and a post-flip replay stays idempotent
    E.neardup_ingest_batch(b1, 1, idx, pairs, kind="minhash", threshold=0.5)
    again = E.read_neardup_index(spark, idx)
    assert again.count() == 30
    assert again.count() == again.select("doc_id").distinct().count()


def test_stalled_writer_survives_marker_ageout(spark, tmp_path):
    """VERDICT r8 item 5 (the quiesce age-out's prose case analysis,
    pinned): an ingest creates its in-flight marker, then stalls past
    ``quiesce_timeout`` — compaction ages the marker out (by the
    store's mtime clock) and flips; the resurrected writer completes
    its commit into the superseded generation, re-resolves, and
    re-commits into the new one. Nothing lost, nothing duplicated, and
    compaction never raced the late write (it stopped writing at the
    flip)."""
    import threading
    import time

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E
    from andl_spark import fsio

    docs = spark.createDataFrame(
        [(i, f"stalled writer body {i % 4} tail{i % 3}") for i in range(36)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 12)
    b0 = docs.filter((F.col("doc_id") >= 12) & (F.col("doc_id") < 24))
    b_stall = docs.filter(F.col("doc_id") >= 24)
    idx = str(tmp_path / "st_idx")
    E.seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    E.neardup_ingest_batch(b_stall.limit(0), 0, idx,
                           str(tmp_path / "st_pairs"), kind="minhash")
    E.neardup_ingest_batch(b0, 1, idx, str(tmp_path / "st_pairs"),
                           kind="minhash", threshold=0.5)
    gen1 = E.resolve_neardup_index(idx)
    sigs = D.minhash_signatures(
        b_stall, "doc_id", "text").localCheckpoint(eager=True)

    stalled_done = threading.Event()
    errs: list = []

    def stalled_writer():
        try:
            # marker created, writer resolved gen1... then a long GC
            # pause: the stall spans compaction's whole quiesce window
            fsio.write_text(
                fsio.join(idx, f"{E._INFLIGHT_PREFIX}7"), "stalled")
            time.sleep(3.0)
            # resurrected: completes the commit it started against gen1
            # (commit_batch_partitions re-creates its marker, writes,
            # re-resolves into the flipped generation, re-commits)
            E.commit_batch_partitions(sigs, 7, idx, initial_path=gen1)
        except Exception as e:  # pragma: no cover
            errs.append(e)
        finally:
            stalled_done.set()

    t = threading.Thread(target=stalled_writer, daemon=True)
    t.start()
    time.sleep(0.3)  # marker exists, writer is stalled
    t0 = time.time()
    E.compact_neardup_index(spark, idx, target_files=1,
                            quiesce_timeout=1.0)
    # compaction did NOT wait for the stalled writer's 3s nap: it aged
    # the marker out at ~1s and flipped
    assert time.time() - t0 < 3.0
    gen2 = E.resolve_neardup_index(idx)
    assert gen2 != gen1
    assert not E._inflight_markers(idx)  # the orphan marker was reaped

    assert stalled_done.wait(timeout=120) and not errs, errs
    after = E.read_neardup_index(spark, idx)
    # the stalled batch's rows landed in the CURRENT generation via the
    # re-resolve loop: nothing lost, nothing duplicated
    assert ({r["doc_id"] for r in after.select("doc_id").collect()}
            == {r["doc_id"] for r in docs.select("doc_id").collect()})
    assert after.count() == 36
    assert after.count() == after.select("doc_id").distinct().count()
    assert after.filter(F.col("_batch_id") == 7).count() == 12
    # and a replay of the once-stalled batch stays idempotent
    E.commit_batch_partitions(sigs, 7, idx)
    again = E.read_neardup_index(spark, idx)
    assert again.count() == 36


# ---------------------------------------------------------------------
# r10: ADVICE r9 closures — marker refresh, store-clock aging, and the
# post-flip audit of the listing→flip gap
# ---------------------------------------------------------------------
def test_held_marker_refreshes_mtime_during_long_commits(
        tmp_path, monkeypatch):
    """ADVICE r9: a single write job longer than quiesce_timeout was
    aged out while its writer was alive. _held_marker now refreshes
    the marker's mtime from a daemon thread, so a live writer's marker
    stays younger than the refresh interval no matter how long the
    write runs — orphan aging then truly implies a dead writer."""
    import time

    from andl_spark import fsio
    from andl_spark.streaming import events as E

    monkeypatch.setattr(E, "_MARKER_REFRESH", 0.2)
    idx = str(tmp_path / "idx")
    fsio.mkdirs(idx)
    with E._held_marker(idx, 9) as marker:
        t0 = fsio.stat(marker)[0]
        time.sleep(1.2)  # a "write job" 6x the refresh interval
        age = E._store_now(idx) - fsio.stat(marker)[0]
        assert age < 1.0, age  # refreshed: never as old as the job
        assert fsio.stat(marker)[0] > t0
    assert not fsio.exists(marker)  # released on exit


def test_store_now_uses_the_stores_clock(tmp_path, monkeypatch):
    """_store_now derives 'now' from a probe file's mtime — the same
    clock that stamped the markers — so a skewed driver wall clock
    cannot widen or collapse the aging window (ADVICE r9)."""
    import time

    from andl_spark import fsio
    from andl_spark.streaming import events as E

    idx = str(tmp_path / "idx")
    fsio.mkdirs(idx)
    # a driver clock 1000s in the future must not leak into 'now'
    monkeypatch.setattr(time, "time", lambda: time.monotonic() + 1e9)
    now = E._store_now(idx)
    fsio.write_text(fsio.join(idx, "_m"), "x")
    marker_mtime = fsio.stat(fsio.join(idx, "_m"))[0]
    assert abs(now - marker_mtime) < 5.0  # same clock, not the driver's
    assert not fsio.exists(fsio.join(idx, "_clockprobe"))  # cleaned up


def test_post_flip_audit_rescues_batch_published_in_listing_gap(
        spark, tmp_path, monkeypatch):
    """ADVICE r9: an ingest that published its batch AND ran its
    re-resolve inside the gap between compaction's final listing and
    the pointer flip saw 'generation unchanged' and exited — its batch
    existed only in the superseded tree. The post-flip audit detects
    exactly that (never-carried batch dir, writer's marker gone,
    absent from the new generation) and carries it; nothing is lost."""
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    docs = spark.createDataFrame(
        [(i, f"listing gap body {i % 4} tail{i % 3}") for i in range(30)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 10)
    b0 = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    sneak = docs.filter(F.col("doc_id") >= 20)
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    E.seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    E.neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)
    gen1 = E.resolve_neardup_index(idx)
    sneak_sigs = D.minhash_signatures(
        sneak, "doc_id", "text").localCheckpoint(eager=True)

    real_flip = E._flip_gen
    fired = {"done": False}

    def gap_publish(index_path, gen, schema_json=None):
        if gen == 2 and not fired["done"]:
            fired["done"] = True
            # the whole ingest lifecycle squeezed into the gap: write
            # into the OLD generation (what commit_batch_partitions
            # does), re-resolve (still gen1), marker already deleted
            (sneak_sigs.withColumn("_batch_id", F.lit(7))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch_id").parquet(gen1))
            assert E.resolve_neardup_index(idx) == gen1  # saw old gen
        return real_flip(index_path, gen, schema_json)

    monkeypatch.setattr(E, "_flip_gen", gap_publish)
    E.compact_neardup_index(spark, idx, target_files=1)

    got = E.read_neardup_index(spark, idx)
    # the sneaked batch's rows are IN the new generation
    assert got.filter(F.col("_batch_id") == 7).count() == sneak.count()
    assert got.count() == docs.count()


def test_post_flip_audit_leaves_live_writers_alone(
        spark, tmp_path, monkeypatch):
    """The audit's other half: a leftover whose in-flight marker is
    still present belongs to a live (or replayable) writer — carrying
    it would BE the double writer, so the audit skips it and the
    writer's own re-resolve loop lands the batch in the new
    generation."""
    from andl_spark import fsio
    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    docs = spark.createDataFrame(
        [(i, f"live writer body {i % 4}") for i in range(24)],
        "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 8)
    b0 = docs.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 16))
    lateb = docs.filter(F.col("doc_id") >= 16)
    idx = str(tmp_path / "idx")
    pairs = str(tmp_path / "pairs")
    E.seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    E.neardup_ingest_batch(b0, 0, idx, pairs, kind="minhash", threshold=0.5)
    gen1 = E.resolve_neardup_index(idx)
    late_sigs = D.minhash_signatures(
        lateb, "doc_id", "text").localCheckpoint(eager=True)

    real_flip = E._flip_gen
    fired = {"done": False}

    def gap_publish_with_marker(index_path, gen, schema_json=None):
        if gen == 2 and not fired["done"]:
            fired["done"] = True
            # writer published into the old gen but is STILL INSIDE its
            # commit loop: marker present
            fsio.write_text(fsio.join(idx, f"{E._INFLIGHT_PREFIX}7"), "live")
            (late_sigs.withColumn("_batch_id", F.lit(7))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("_batch_id").parquet(gen1))
        return real_flip(index_path, gen, schema_json)

    monkeypatch.setattr(E, "_flip_gen", gap_publish_with_marker)
    E.compact_neardup_index(spark, idx, target_files=1, quiesce_timeout=0.5)
    monkeypatch.setattr(E, "_flip_gen", real_flip)

    gen2 = E.resolve_neardup_index(idx)
    # the audit did NOT carry it (live marker): not in gen2 yet
    assert not fsio.exists(fsio.join(gen2, "_batch_id=7"))
    # the live writer's own re-resolve loop completes the commit
    E.commit_batch_partitions(late_sigs, 7, idx, initial_path=gen1)
    fsio.delete(fsio.join(idx, f"{E._INFLIGHT_PREFIX}7"))
    got = E.read_neardup_index(spark, idx)
    assert got.filter(F.col("_batch_id") == 7).count() == lateb.count()
    assert got.count() == docs.count()


def test_failed_commit_retains_marker_for_the_audit(tmp_path):
    """review r10: marker-gone must mean 'commit protocol COMPLETED'.
    A writer that raises keeps its marker (stops refreshing, so the
    next compaction ages it out; the replay's own marker supersedes
    it) — otherwise the post-flip audit would carry a crashed writer's
    partition while its foreachBatch replay concurrently rewrites it."""
    import pytest

    from andl_spark import fsio
    from andl_spark.streaming import events as E

    idx = str(tmp_path / "idx")
    fsio.mkdirs(idx)
    marker = fsio.join(idx, f"{E._INFLIGHT_PREFIX}5")
    with pytest.raises(RuntimeError, match="boom"):
        with E._held_marker(idx, 5):
            assert fsio.exists(marker)
            raise RuntimeError("boom")
    assert fsio.exists(marker)  # retained: commit did not complete
    # the replay's own marker lifecycle supersedes and clears it
    with E._held_marker(idx, 5):
        pass
    assert not fsio.exists(marker)


def test_tiered_compaction_soaks_beside_draining_ingest(spark, tmp_path):
    """r11 (VERDICT r10 item 2): the tiered flat-leg fold is now the
    DEFAULT — soak it LIVE: tiered compactions race a draining
    neardup_ingest_stream (the test_annindex live-soak pattern), and
    the drained pair set + index row set still equal the one-shot
    *_against_index over the concatenated corpus. At least one
    compaction must have run against live traffic; the seed tier count
    stays within the TIER_MAX_FACTOR bound throughout."""
    import os
    import threading
    import time

    from andl_spark.pipeline import dedup as D
    from andl_spark.streaming import events as E

    marker = ["aardvark", "kumquat", "zeppelin", "quixotic", "fjord"]
    rows = [(c * 100 + k,
             f"the five boxing wizards jump quickly over "
             f"{(marker[c] + ' ') * 10}"
             + ("end" if k == 0 else f"end{k % 4}"))
            for c in range(5) for k in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 100 < 6)
    new = docs.filter(F.col("doc_id") % 100 >= 6)

    idx = str(tmp_path / "sig_index")
    pairs = str(tmp_path / "pairs")
    docs_dir = str(tmp_path / "incoming")
    E.seed_neardup_index(D.minhash_signatures(old, "doc_id", "text"), idx)
    for i in range(6):
        (new.filter(F.col("doc_id") % 6 == i).repartition(1)
         .write.mode("append").parquet(docs_dir))

    stop = threading.Event()
    compactions = {"n": 0}
    errs: list = []

    def compactor():
        while not stop.is_set():
            time.sleep(1.0)
            try:
                # DEFAULT call — must be the tiered plan since r11
                E.compact_neardup_index(spark, idx, target_files=2)
                compactions["n"] += 1
                gen = E.resolve_neardup_index(idx)
                seed = os.path.join(gen, "_batch_id=-1")
                n_seed = len([n for n in os.listdir(seed)
                              if n.endswith(".parquet")]) \
                    if os.path.isdir(seed) else 0
                # tier bound: ≤ target_files × factor + one fresh fold
                assert n_seed <= 2 * E.TIER_MAX_FACTOR + 2, n_seed
            except Exception as e:  # pragma: no cover
                errs.append(e)

    t = threading.Thread(target=compactor, daemon=True)
    t.start()
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(docs_dir))
    q = E.neardup_ingest_stream(stream, idx, pairs,
                                str(tmp_path / "ckpt"),
                                kind="minhash", threshold=0.5)
    q.awaitTermination(240)
    stop.set()
    t.join(timeout=60)
    assert not errs, errs
    assert compactions["n"] >= 1
    E.compact_neardup_index(spark, idx, target_files=2)  # final fold

    got = spark.read.parquet(pairs)
    want, _ = D.minhash_against_index(
        new, D.minhash_signatures(old, "doc_id", "text"), threshold=0.5)
    key = lambda df: {  # noqa: E731
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
        for r in df.collect()}
    assert key(got) == key(want) and want.count() > 0
    idx_df = E.read_neardup_index(spark, idx)
    assert idx_df.count() == docs.count()
    assert idx_df.count() == idx_df.select("doc_id").distinct().count()


def test_stream_start_runs_no_job(spark):
    """The stream takes its schema from the events footer, as a batch
    handle does: building it runs no Spark job, and its schema is the
    batch table's."""
    from conftest import jobs_run

    stream, jobs = jobs_run(spark, "events-stream-start", lambda: read_events_stream(spark, SF_SMOKE))
    assert jobs == 0
    assert stream.schema == load_tables(spark, SF_SMOKE, register_views=False)["events"].schema

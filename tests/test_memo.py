"""util.Memo — the one cache policy behind every driver-side memo:
fingerprint-validated hits, replace-on-miss, build-but-don't-store on a
None fingerprint, TTL expiry, FIFO bound, predicate drop, and a lock
that keeps concurrent lookups consistent. No Spark needed."""

import threading

from andl_spark.util import Memo


def _counting():
    calls = []

    def build(v):
        def f():
            calls.append(v)
            return v
        return f
    return calls, build


def test_fifo_eviction_at_maxsize():
    m = Memo(2)
    for k in "abc":
        m.get(k, lambda k=k: k.upper())
    assert len(m) == 2
    calls, build = _counting()
    assert m.get("a", build("A2")) == "A2"  # oldest went first
    assert m.get("c", build("C2")) == "C"   # newest stayed
    assert calls == ["A2"]


def test_fingerprint_miss_replaces_its_entry():
    m = Memo()
    calls, build = _counting()
    assert m.get("k", build(1), fingerprint=("v1",)) == 1
    assert m.get("k", build(2), fingerprint=("v1",)) == 1  # hit
    assert m.get("k", build(3), fingerprint=("v2",)) == 3  # miss
    assert len(m) == 1  # replaced, not added beside the stale one
    assert m.get("k", build(4), fingerprint=("v2",)) == 3
    assert calls == [1, 3]


def test_none_fingerprint_builds_and_stores_nothing():
    m = Memo()
    calls, build = _counting()
    m.get("k", build("old"), fingerprint=("id",))
    assert m.get("k", build("fresh"), fingerprint=None) == "fresh"
    assert m.get("j", build("other"), fingerprint=None) == "other"
    assert len(m) == 1
    assert m.get("k", build("again"), fingerprint=None) == "again"
    assert calls == ["old", "fresh", "other", "again"]


def test_ttl_expiry():
    m = Memo()
    obj = object()
    assert m.get("k", lambda: obj, ttl=60.0) is obj
    assert m.get("k", object, ttl=60.0) is obj  # within the TTL
    fresh = m.get("k", object, ttl=0)
    assert fresh is not obj  # expired: rebuilt and replaced
    assert len(m) == 1
    assert m.get("k", object) is fresh  # no ttl at lookup: no expiry


def test_drop_by_predicate_and_clear():
    m = Memo()
    for k in [("p", 1), ("p", 2), ("q", 1)]:
        m.get(k, lambda: 0)
    m.drop(lambda k: k[0] == "p")
    assert len(m) == 1
    calls, build = _counting()
    m.get(("q", 1), build(1))
    m.get(("p", 1), build(2))
    assert calls == [2]
    m.clear()
    assert len(m) == 0


def test_concurrent_gets_stay_bounded():
    m = Memo(2)
    errors = []
    start = threading.Barrier(8)

    def worker(i):
        try:
            start.wait()
            for j in range(200):
                assert m.get((i, j), lambda: (i, j)) == (i, j)
                assert len(m) <= 2
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(m) <= 2

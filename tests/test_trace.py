"""The decision record (andl_spark.trace): scoped to a context, kept
only inside ``recording()``, and never shared across threads."""

import threading

from andl_spark import trace


def test_note_outside_a_recording_keeps_nothing():
    trace.note("orphan", rounds=1)
    with trace.recording() as rec:
        pass
    assert rec == []
    assert trace._RECORD.get() is None


def test_nested_recording_restores_the_outer_one():
    with trace.recording() as outer:
        trace.note("a", rounds=1)
        with trace.recording() as inner:
            trace.note("b", rounds=2)
        trace.note("c", rounds=3)
    trace.note("d", rounds=4)
    assert inner == [{"op": "b", "rounds": 2}]
    assert outer == [{"op": "a", "rounds": 1}, {"op": "c", "rounds": 3}]


def test_a_thread_started_inside_a_recording_does_not_write_to_it():
    seen = []

    def work():
        trace.note("thread", rounds=1)
        seen.append(trace._RECORD.get())

    with trace.recording() as rec:
        t = threading.Thread(target=work)
        t.start()
        t.join()
        trace.note("main", rounds=2)
    assert seen == [None]
    assert rec == [{"op": "main", "rounds": 2}]

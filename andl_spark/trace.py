"""One record of what the engine decided while building a query.

Operators call :func:`note` at each decision (the dedup fan-out guard,
the fixpoint evaluator and its rounds, the dup-cluster rounds). A
caller that wants the decisions opens :func:`recording`; outside one,
``note`` keeps nothing. The active record lives in a ``ContextVar``,
so each thread (a ``ThreadingHTTPServer`` request, a parallel caller)
sees only its own record — a new thread starts with none.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar

_RECORD: ContextVar[list[dict] | None] = ContextVar("andl_spark_trace", default=None)


@contextmanager
def recording() -> Iterator[list[dict]]:
    """Yield a fresh list that collects every :func:`note` made in this
    context until exit; the enclosing record, if any, is restored."""
    token = _RECORD.set([])
    try:
        yield _RECORD.get()
    finally:
        _RECORD.reset(token)


def note(op: str, **fields) -> None:
    """Append ``{"op": op, **fields}`` to the active record, if any."""
    record = _RECORD.get()
    if record is not None:
        record.append({"op": op, **fields})

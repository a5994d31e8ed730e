"""Per-thread record of the plan choices adaptive gates make.

A gate that picks between two plans (route probes, size floors,
strategy probes) calls :func:`record` once with its choice and the
inputs it decided on. :func:`capture` collects those records for a
block of code on the calling thread:

    with decisions.capture() as recs:
        df = duplicate_pairs(docs, 0.9)
    [r for r in recs if r["gate"] == "duplicate_pairs"]

With no capture open :func:`record` keeps nothing, so a long session
accumulates no state. Captures nest; a record reaches every capture
open on its thread and no other thread's. Work handed to another
thread -- a streaming ``foreachBatch`` callback runs on Spark's
callback thread -- reports to the captures of the thread that built
it when wrapped with :func:`carried`.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

_OPEN = threading.local()


def record(gate: str, choice, **inputs) -> None:
    """Append ``{"gate", "choice", **inputs}`` to every capture open on
    this thread; a no-op when none is."""
    sinks = getattr(_OPEN, "sinks", None)
    if sinks:
        rec = {"gate": gate, "choice": choice, **inputs}
        for sink in sinks:
            sink.append(rec)


@contextmanager
def capture():
    """Yield the list of records made on this thread inside the block."""
    sinks = _OPEN.__dict__.setdefault("sinks", [])
    recs: list[dict] = []
    sinks.append(recs)
    try:
        yield recs
    finally:
        sinks.pop()  # captures on one thread close innermost first


def carried(fn):
    """``fn`` wrapped so that, on whatever thread it runs, its records
    also reach the captures open on this thread now."""
    outer = list(getattr(_OPEN, "sinks", ()))

    def run(*args, **kwargs):
        sinks = _OPEN.__dict__.setdefault("sinks", [])
        base = len(sinks)
        # on the building thread itself the open captures already listen
        sinks.extend(s for s in outer if not any(s is t for t in sinks[:base]))
        try:
            return fn(*args, **kwargs)
        finally:
            del sinks[base:]

    return run

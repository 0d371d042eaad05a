"""Closed- and open-loop query load from one process.

Each client is a thread; every request records when it was due, sent
and done, what it returned, and the exception class it raised (if any).
A closed-loop client sends its next query when the previous one
returns; the open loop sends request i at ``start + i / rate`` and times
it from that moment, so a stall also charges the requests queued behind
it.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class Sample:
    query: str
    due: float
    sent: float
    done: float
    result: list | None
    error: str | None

    @property
    def latency(self) -> float:
        return self.done - self.due


class StreamExhausted(RuntimeError):
    """A phase used up its query stream before its time was up."""


class _Feed:
    """Hands out queries in order to concurrent clients."""

    def __init__(self, queries: list[str]) -> None:
        self.queries = queries
        self.i = 0
        self.dry = False
        self.lock = threading.Lock()

    def take(self) -> tuple[int, str] | None:
        with self.lock:
            if self.i >= len(self.queries):
                self.dry = True
                return None
            self.i += 1
            return self.i - 1, self.queries[self.i - 1]


def call(op: Callable[[str], list], q: str, due: float) -> Sample:
    """Send ``q`` once; an exception is recorded by its class name."""
    sent = time.perf_counter()
    try:
        res, err = op(q), None
    except Exception as e:  # the benchmark counts and classifies failures
        res, err = None, type(e).__name__
    return Sample(q, due, sent, time.perf_counter(), res, err)


def _run(clients: int, body) -> list[Sample]:
    out: list[Sample] = []
    threads = [
        threading.Thread(target=body, args=(out,), daemon=True) for _ in range(clients)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def closed_loop(
    op: Callable[[str], list], queries: list[str], clients: int, seconds: float
) -> tuple[list[Sample], float]:
    """``clients`` closed-loop clients for ``seconds``; returns the
    samples and the phase's wall time. Raises ``StreamExhausted`` rather
    than end the phase early when ``queries`` runs out."""
    feed = _Feed(queries)
    t0 = time.perf_counter()
    stop = t0 + seconds

    def body(out: list[Sample]) -> None:
        while time.perf_counter() < stop:
            item = feed.take()
            if item is None:
                break
            out.append(call(op, item[1], time.perf_counter()))

    samples = _run(clients, body)
    if feed.dry and seconds != float("inf"):
        raise StreamExhausted(f"{len(queries)} queries lasted less than {seconds:.1f} s")
    return samples, time.perf_counter() - t0


def open_loop(
    op: Callable[[str], list],
    queries: list[str],
    clients: int,
    rate: float,
    seconds: float,
) -> list[Sample]:
    """``rate`` requests per second for ``seconds``, sent by at most
    ``clients`` threads."""
    n = int(rate * seconds)
    if len(queries) < n:
        raise StreamExhausted(f"{len(queries)} queries left, the open loop needs {n}")
    feed = _Feed(queries[:n])
    t0 = time.perf_counter() + 0.01

    def body(out: list[Sample]) -> None:
        while (item := feed.take()) is not None:
            due = t0 + item[0] / rate
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            out.append(call(op, item[1], due))

    return _run(clients, body)


class Reader:
    """Open-loop foreground reader in a background thread: request i is
    due at ``start + i / rate`` until the ``with`` block ends."""

    def __init__(self, op: Callable[[str], list], queries: list[str], rate: float) -> None:
        self.samples: list[Sample] = []
        self._op = op
        self._feed = _Feed(queries)
        self._rate = rate
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._body, daemon=True)

    def _body(self) -> None:
        t0 = time.perf_counter()
        while (item := self._feed.take()) is not None:
            due = t0 + item[0] / self._rate
            if self._stop.wait(max(0.0, due - time.perf_counter())):
                break
            self.samples.append(call(self._op, item[1], due))

    def __enter__(self) -> "Reader":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

"""The measurement loop shared by every workload.

A workload gives the harness `setup(dir)` (run `setup_reps` times; the
last store or index is the one measured), `start()`, `warm_ops()`,
`round()` (a list of operations), `max_rounds`, `finish()` (answer
checks that need the whole run; returns the number of failures),
`storage_ratio()` and `close()`.  The harness runs whole rounds, closed
loop with one client, until `--seconds` have passed, and checks every
answer outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable

from perfbench.trace import group_name


@dataclass
class Op:
    kind: str
    call: Callable[[], Any]
    # result -> (correct, output rows, output bytes)
    check: Callable[[Any], tuple[bool, int, int]]
    # a dialect data query: it looks up the scan cache
    data_query: bool = False


@dataclass(frozen=True)
class Size:
    days: int
    rows_per_day: int
    tail_points: int
    docs: int
    vecs: int
    setup_reps: int


SIZES = {
    "full": Size(days=3, rows_per_day=20_000, tail_points=2_000, docs=400,
                 vecs=400, setup_reps=3),
    # the self-test's size: a few operations per workload
    "tiny": Size(days=3, rows_per_day=2_000, tail_points=200, docs=60,
                 vecs=60, setup_reps=2),
}


@dataclass
class OpRecord:
    op_id: int
    kind: str
    latency_s: float
    ok: bool
    rows: int = 0
    nbytes: int = 0
    data_query: bool = False
    counters: dict = field(default_factory=dict)


class Loop:
    """Runs operations, times them and checks them."""

    def __init__(self, run):
        self.run = run
        self.attempted = 0
        self.failed = 0
        self._next_op = 0

    def execute(self, op: Op, traced: bool) -> OpRecord:
        run = self.run
        self._next_op += 1
        op_id = self._next_op
        if traced:
            run.tracer.op = op_id
            run.counters.set_group(group_name(op_id))
        result, error = None, None
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"op.{op.kind}"):
                result = op.call()
        except Exception:  # a failed operation is counted, not fatal
            error = traceback.format_exc()
        latency = time.perf_counter() - t0
        rec = OpRecord(op_id, op.kind, latency, ok=False, data_query=op.data_query)
        if traced:
            run.counters.clear_group()
            rec.counters = run.counters.for_op(op_id)
        if error is None:
            try:
                rec.ok, rec.rows, rec.nbytes = op.check(result)
            except Exception:
                error = traceback.format_exc()
        self.attempted += 1
        if not rec.ok:
            self.failed += 1
            if self.failed <= 3:
                print(f"[perfbench] {op.kind} failed: {error or 'wrong answer'}",
                      file=sys.stderr)
        return rec

    def measure(self, workload, seconds: float, traced: bool) -> tuple[list, list]:
        """Whole rounds until `seconds` pass or the workload's
        `max_rounds` (None: no cap) are done: (op records, round times)."""
        self.run.tracer.enabled = traced
        records, rounds = [], []
        end = time.perf_counter() + seconds
        try:
            while time.perf_counter() < end and len(rounds) != workload.max_rounds:
                recs = [self.execute(op, traced) for op in workload.round()]
                records += recs
                rounds.append(sum(r.latency_s for r in recs))
        finally:
            self.run.tracer.enabled = False
        return records, rounds


def end_to_end(records: list[OpRecord], rounds: list[float], setup_times: list[float],
               storage_ratio: float, attempted: int, failed: int) -> dict:
    lat_ms = sorted(r.latency_s * 1000.0 for r in records)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "query_p50_ms": (statistics.median(lat_ms), "ms"),
        "queries_per_s": (len(lat_ms) / (sum(lat_ms) / 1000.0), "1/s"),
        "batch_s": (statistics.median(rounds), "s"),
        "storage_bytes_per_user_byte": (storage_ratio, "ratio"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
    }


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )

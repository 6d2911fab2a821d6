"""Time-series workloads: the paper's own path.

Ingest (`WritableStore`) -> sorted blocks with a block-list manifest ->
time-range scans with distinct-ts head/tail limits -> table / JSON /
Parquet / Flight output.

Every input comes from the seed.  Every answer is checked against
expectations computed from the generator's own arrays: row count, first
and last ts, distinct-ts count and the sum of `price`.
"""

from __future__ import annotations

import json
import os
from datetime import date

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from zikeiretsu_rs_spark.catalog.compact import compact_metrics
from zikeiretsu_rs_spark.datamodel import DataPoint, FieldType, metrics_schema
from zikeiretsu_rs_spark.engine import DBContext, Engine

from perfbench.harness import Op

NS = 10**9
MS = 10**6
MINUTE = 60 * NS
HOUR = 3600 * NS
DAY = 86400 * NS
BASE = 1632700800 * NS  # 2021-09-27T00:00:00Z
JST = 9 * HOUR
METRICS = "trades"
FIELDS = [FieldType.BOOL, FieldType.FLOAT64, FieldType.FLOAT64]
COLS = "with cols = [is_buy, price, size]"
USER_ROW_BYTES = 25  # ts i64 + is_buy + price f64 + size f64
LIMIT_N = 100
EPOCH_ORDINAL = date(1970, 1, 1).toordinal()


# -- data ----------------------------------------------------------------
class Trades:
    """The seeded dataset: bulk day blocks plus a live tail that arrives
    through `push_multi` with late (out-of-order) points."""

    def __init__(self, seed: int, days: int, rows_per_day: int, tail_points: int):
        rng = np.random.default_rng(seed)
        self.days = days
        self.day_frames = [self._day(rng, d, rows_per_day) for d in range(days)]
        # the live tail lands in day 1, after day 1's bulk block: two
        # pushes, the second carrying ~10% points older than the first
        t0 = BASE + DAY + 20 * HOUR
        half = tail_points // 2
        a = np.sort(t0 + rng.integers(0, 2 * HOUR // MS, half) * MS)
        b = t0 + 2 * HOUR + rng.integers(0, 2 * HOUR // MS, tail_points - half) * MS
        late = rng.random(b.size) < 0.1
        b[late] = t0 + rng.integers(0, 2 * HOUR // MS, int(late.sum())) * MS
        self.tail = [self._points(rng, a), self._points(rng, b)]
        ts = np.concatenate(
            [f["ts"].to_numpy() for f in self.day_frames]
            + [np.array([p.timestamp_nano for p in batch]) for batch in self.tail]
        )
        price = np.concatenate(
            [f["f1"].to_numpy() for f in self.day_frames]
            + [np.array([p.field_values[1] for p in batch]) for batch in self.tail]
        )
        order = np.argsort(ts, kind="stable")
        self.ts = ts[order]
        self.price = price[order]
        # block list after setup: the compacted first two days + one
        # entry per later day
        self.manifest_entries = 1 + (days - 2)

    @staticmethod
    def _day(rng, d: int, n: int) -> pd.DataFrame:
        ms = np.sort(rng.integers(0, DAY // MS, n))
        dup = rng.random(n) < 0.1  # ms-truncated ts: ~10% share a ts
        dup[0] = False
        ms[dup] = ms[np.flatnonzero(dup) - 1]
        price = np.round(100.0 + np.cumsum(rng.normal(0.0, 0.05, n)), 2)
        size = np.round(rng.exponential(0.5, n), 3)
        size[rng.random(n) < 0.05] = 0.0
        return pd.DataFrame(
            {"ts": BASE + d * DAY + ms * MS, "f0": rng.random(n) < 0.5,
             "f1": price, "f2": size}
        )

    @staticmethod
    def _points(rng, ts: np.ndarray) -> list[DataPoint]:
        price = np.round(100.0 + rng.normal(0.0, 1.0, ts.size), 2)
        size = np.round(rng.exponential(0.5, ts.size), 3)
        buy = rng.random(ts.size) < 0.5
        return [
            DataPoint.new(int(t), bool(b), float(p), float(s))
            for t, b, p, s in zip(ts, buy, price, size)
        ]

    @property
    def span(self) -> tuple[int, int]:
        return BASE, BASE + self.days * DAY

    # -- expectations ---------------------------------------------------
    def expect_range(self, lo: int, hi: int) -> dict:
        """Rows with lo <= ts < hi."""
        i0 = int(np.searchsorted(self.ts, lo, "left"))
        i1 = int(np.searchsorted(self.ts, hi, "left"))
        return self._summary(i0, i1)

    def expect_head(self, since: int, n: int) -> dict:
        """`ts >=|n since`: the first n distinct ts at or after since."""
        i0 = int(np.searchsorted(self.ts, since, "left"))
        u = np.unique(self.ts[i0:])
        if u.size == 0:
            return self._summary(i0, i0)
        thr = u[min(n, u.size) - 1]
        return self._summary(i0, int(np.searchsorted(self.ts, thr, "right")))

    def expect_tail(self, until_incl: int, n: int) -> dict:
        """`ts <=|n until`: the last n distinct ts at or before until."""
        i1 = int(np.searchsorted(self.ts, until_incl, "right"))
        u = np.unique(self.ts[:i1])
        if u.size == 0:
            return self._summary(i1, i1)
        thr = u[max(u.size - n, 0)]
        return self._summary(int(np.searchsorted(self.ts, thr, "left")), i1)

    def _summary(self, i0: int, i1: int) -> dict:
        ts = self.ts[i0:i1]
        return {
            "rows": i1 - i0,
            "first": int(ts[0]) if ts.size else None,
            "last": int(ts[-1]) if ts.size else None,
            "distinct": int(np.unique(ts).size),
            "price": float(self.price[i0:i1].sum()),
        }


def build_store(spark, data_dir: str, data: Trades) -> tuple[Engine, str, dict]:
    """The set-up: bulk day blocks, a live tail through the row path
    with late points, a compaction of the day that got two files, then
    the remaining days.  Flush and compaction policy: one persist per
    bulk day and one for the tail; compact once, after the tail.
    Returns (engine, database dir, compaction figures)."""
    eng = Engine(spark, DBContext(data_dir=data_dir))
    store = eng.writable_store(METRICS, FIELDS)
    db_dir = store.db_dir
    schema = metrics_schema(FIELDS)
    for d in (0, 1):
        store.persist_dataframe(spark.createDataFrame(data.day_frames[d], schema=schema))
    store.push_multi(data.tail[0])
    store.apply_dirties()
    store.push_multi(data.tail[1])
    store.persist()
    rewritten = sum(
        sum(os.path.getsize(f) for f in files)
        for files in _files_by_partition(db_dir).values() if len(files) > 1
    )
    stats = compact_metrics(spark, db_dir, METRICS)
    for d in range(2, data.days):
        store.persist_dataframe(spark.createDataFrame(data.day_frames[d], schema=schema))
    return eng, db_dir, {"files_before": stats.files_before, "files_after": stats.files_after,
                 "bytes_rewritten": rewritten}


def _files_by_partition(db_dir: str) -> dict[str, list[str]]:
    """Parquet files under block/<metrics>/dt=*, by partition."""
    root = os.path.join(db_dir, "block", METRICS)
    out = {}
    for part in sorted(os.listdir(root)):
        if part.startswith("dt="):
            pdir = os.path.join(root, part)
            out[part] = [
                os.path.join(pdir, f) for f in os.listdir(pdir) if f.endswith(".parquet")
            ]
    return out


def block_files(db_dir: str) -> list[str]:
    return [f for files in _files_by_partition(db_dir).values() for f in files]


# -- rendering and parsing ----------------------------------------------
def literal(ns: int) -> str:
    """A naive wall-clock datetime literal, to the second."""
    s = ns // NS
    d = date.fromordinal(EPOCH_ORDINAL + s // 86400)
    r = s % 86400
    return f"{d.isoformat()} {r // 3600:02d}:{r % 3600 // 60:02d}:{r % 60:02d}"


def parse_rfc3339(text: str) -> int:
    """'YYYY-MM-DDTHH:MM:SS.fffffffff+HH:MM' -> epoch nanos."""
    days = date.fromisoformat(text[:10]).toordinal() - EPOCH_ORDINAL
    secs = days * 86400 + int(text[11:13]) * 3600 + int(text[14:16]) * 60 + int(text[17:19])
    off = text[29:]
    sign = 1 if off[0] == "+" else -1
    secs -= sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
    return secs * NS + int(text[20:29])


def _ts_values(values) -> list[int]:
    """ts as epoch nanos, rendered (RFC3339) or raw (integer)."""
    return [
        parse_rfc3339(v) if isinstance(v, str) and "T" in v else int(v)
        for v in values
    ]


def summarize(ts_values, prices) -> dict:
    ts = sorted(_ts_values(ts_values))
    return {
        "rows": len(ts),
        "first": int(ts[0]) if ts else None,
        "last": int(ts[-1]) if ts else None,
        "distinct": len(set(ts)),
        "price": float(np.sum(np.asarray(prices, dtype=float))) if len(ts) else 0.0,
    }


def matches(got: dict, want: dict, price_tol: float) -> bool:
    return (
        got["rows"] == want["rows"]
        and got["first"] == want["first"]
        and got["last"] == want["last"]
        and got["distinct"] == want["distinct"]
        and abs(got["price"] - want["price"]) <= price_tol * max(1, want["rows"])
    )


def parse_table(text: str) -> tuple[list[str], list[list[str]]]:
    lines = text.splitlines()
    return lines[0].split(), [ln.split() for ln in lines[1:]]


# -- query mix -------------------------------------------------------------
class QueryMaker:
    """Seeded dialect queries over the dataset's span, each paired with
    its expected answer."""

    KINDS = ("range_table", "range_json", "range_parquet", "head_limit",
             "tail_limit", "tz_minute", "describe", "block_list",
             "flight_range", "flight_limit")

    def __init__(self, data: Trades, rng, out_dir: str, corrupt: bool = False):
        self.data = data
        self.rng = rng
        self.out_dir = out_dir
        self.corrupt = corrupt
        self._n = 0

    def _instant(self, margin: int = 0, step: int = NS) -> int:
        lo, hi = self.data.span
        return lo + int(self.rng.integers(0, (hi - lo - margin) // step)) * step

    def make(self, kind: str) -> tuple[str, str, dict]:
        """(query text, output shape, expected summary)."""
        d = self.data
        if kind in ("range_table", "range_json"):
            lo = self._instant(HOUR)
            fmt = "" if kind == "range_table" else ", format = json"
            q = f"{COLS}{fmt} select * from {METRICS} where ts in ('{literal(lo)}', + 1 hour)"
            want = d.expect_range(lo, lo + HOUR)
        elif kind == "range_parquet":
            # a fixed one-day span keeps the rows written per query (and
            # so the op's cost) the same from seed to seed
            lo = self._instant(DAY)
            self._n += 1
            path = f"{self.out_dir}/q{self._n}.parquet"
            q = (f"{COLS}, format = parquet, output_file = '{path}', format_datetime = false "
                 f"select * from {METRICS} where ts in ('{literal(lo)}', + 1 day)")
            want = d.expect_range(lo, lo + DAY)
            want["path"] = path
        elif kind == "head_limit":
            t = self._instant(HOUR)
            q = f"{COLS}, format = json select * from {METRICS} where ts >=|{LIMIT_N} '{literal(t)}'"
            want = d.expect_head(t, LIMIT_N)
        elif kind == "tail_limit":
            t = self._instant() + HOUR
            q = (f"{COLS}, format_datetime = false select * from {METRICS} "
                 f"where ts <=|{LIMIT_N} '{literal(t)}'")
            want = d.expect_tail(t, LIMIT_N)
        elif kind == "tz_minute":
            # a JST wall-clock minute that is not on the hour, so the
            # equality widens to exactly one minute
            lo = self._instant(HOUR, MINUTE)
            if (lo // MINUTE) % 60 == 0:
                lo += MINUTE
            local = literal(lo + JST)[:16]
            q = f"{COLS}, tz = Asia/Tokyo select * from {METRICS} where ts = '{local}'"
            want = d.expect_range(lo, lo + MINUTE)
        elif kind == "flight_range":
            # Flight serves the DataFrame: ts stays raw, two fields
            lo = self._instant(HOUR)
            q = (f"{COLS}, format_datetime = false select price, size from {METRICS} "
                 f"where ts in ('{literal(lo)}', + 1 hour)")
            want = d.expect_range(lo, lo + HOUR)
        elif kind == "flight_limit":
            # an hour past the start, so the answer is never empty (an
            # empty result is Flight's NOT_FOUND)
            t = self._instant() + HOUR
            q = f"{COLS} select * from {METRICS} where ts <=|{LIMIT_N} '{literal(t)}'"
            want = d.expect_tail(t, LIMIT_N)
        elif kind == "describe":
            q = "select * from .describe"
            want = {"entries": d.manifest_entries}
        elif kind == "block_list":
            q = f"with format = json select * from .block_list where metrics = {METRICS}"
            want = {"entries": d.manifest_entries}
        else:
            raise ValueError(kind)
        if self.corrupt and "rows" in want:
            want["rows"] += 1  # an injected wrong expectation
        if self.corrupt and "entries" in want:
            want["entries"] += 1
        return q, kind, want

    # -- answer checks ---------------------------------------------------
    def check(self, kind: str, want: dict, result) -> tuple[bool, int, int]:
        """(correct, output rows, output bytes) of an Engine.execute result."""
        d = self.data
        lo_s, hi_s = int(d.ts[0]) // NS, int(d.ts[-1]) // NS
        if kind == "describe":
            header, rows = parse_table(result)
            r = dict(zip(header, rows[0]))
            ok = (len(rows) == 1 and int(r["block_num"]) == want["entries"]
                  and int(r["from"]) == lo_s and int(r["end"]) == hi_s)
            return ok, len(rows), len(result)
        if kind == "block_list":
            doc = json.loads(result)
            n = len(doc["seq"])
            ok = (n == want["entries"] and min(doc["block_list_start"]) == lo_s
                  and max(doc["block_list_end"]) == hi_s)
            return ok, n, len(result)
        if kind == "range_parquet":
            t = pq.read_table(want["path"])
            got = summarize(t.column("ts").to_pylist(), t.column("price").to_numpy())
            size = sum(
                os.path.getsize(os.path.join(want["path"], f))
                for f in os.listdir(want["path"]) if f.endswith(".parquet")
            )
            return matches(got, want, 1e-9), got["rows"], size
        if kind in ("range_json", "head_limit"):
            doc = json.loads(result)
            got = summarize(doc["ts"], doc["price"])
            return matches(got, want, 1e-9), got["rows"], len(result)
        # table output: prices are rendered to at most 6 decimals
        header, rows = parse_table(result)
        if header and header[0] == "Empty":
            got = summarize([], [])
        else:
            ti, pi = header.index("ts"), header.index("price")
            got = summarize([r[ti] for r in rows], [float(r[pi]) for r in rows])
        return matches(got, want, 1e-6), got["rows"], len(result)

    def check_table(self, want: dict, table) -> tuple[bool, int, int]:
        """A Flight result (pyarrow.Table)."""
        got = summarize(table.column("ts").to_pylist(), table.column("price").to_numpy())
        return matches(got, want, 1e-9), got["rows"], table.nbytes


class ScanUnique:
    """One closed-loop client sending never-repeating queries: eight
    kinds through the in-process `Engine.execute`, two over Flight to a
    `ZikeiretsuFlightServer` on loopback.  Set-up builds `setup_reps`
    fresh stores; the last one is queried."""

    max_rounds = None

    def __init__(self, run):
        self.run = run
        z = run.size
        self.data = Trades(run.seed, z.days, z.rows_per_day, z.tail_points)
        self.rng = np.random.default_rng(run.seed + 1)
        out_dir = os.path.relpath(os.path.join(run.work, "out"))
        os.makedirs(out_dir)
        self.maker = QueryMaker(self.data, self.rng, out_dir, run.corrupt)
        self.server = None

    def setup(self, rep_dir: str) -> None:
        # regenerate from the seed each time: generation is part of set-up
        z = self.run.size
        data = Trades(self.run.seed, z.days, z.rows_per_day, z.tail_points)
        self.engine, self.db_dir, self.compaction = build_store(self.run.spark, rep_dir, data)

    def storage_ratio(self) -> float:
        total = sum(os.path.getsize(f) for f in block_files(self.db_dir))
        return total / (USER_ROW_BYTES * self.data.ts.size)

    def files_total(self) -> int:
        return len(block_files(self.db_dir))

    def start(self) -> None:
        from zikeiretsu_rs_spark.flight_server import ZikeiretsuFlightServer

        self.server = ZikeiretsuFlightServer(self.engine)

    def warm_ops(self) -> list[Op]:
        return self.round()

    def finish(self) -> int:
        return 0  # every answer was checked as it came

    def round(self) -> list[Op]:
        kinds = list(QueryMaker.KINDS)
        self.rng.shuffle(kinds)
        return [self._op(k) for k in kinds]

    def _op(self, kind: str) -> Op:
        from zikeiretsu_rs_spark.flight_server import execute_flight

        q, kind, want = self.maker.make(kind)
        if kind.startswith("flight"):
            loc = self.server.location
            return Op(
                kind=kind,
                call=lambda: execute_flight(loc, q)[0],
                check=lambda table: self.maker.check_table(want, table),
                data_query=True,
            )
        eng = self.engine
        return Op(
            kind=kind,
            call=lambda: eng.execute(q),
            check=lambda res: self.maker.check(kind, want, res),
            data_query=kind not in ("describe", "block_list"),
        )

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.wait()

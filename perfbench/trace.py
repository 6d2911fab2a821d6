"""Outside-in tracing for the benchmark.

Nothing here edits the package: spans come from timing wrappers that
`install_package_wrappers` puts on the package's public functions for
the life of one traced benchmark process, and the Spark counters come
from the job group the benchmark sets per operation plus Spark's own
status stores.

A span is (id, name, start, end, parent, op).  Spans stay in memory and
are written out once, at the end of the run (`Tracer.dump`).  A layer's
self time is the time its spans cover minus the part covered by their
child spans.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict

# span-name prefix -> layer (module names of the package)
LAYER_OF_PREFIX = {
    "op": "client",
    "ingest": "ingest",
    "lock": "catalog",
    "manifest": "catalog",
    "compact": "catalog",
    "query": "query",
    "flight": "flight_server",
    "pipeline": "operators",
}
LAYERS = ("client", "ingest", "catalog", "query", "flight_server", "operators")


def layer_of(name: str) -> str:
    return LAYER_OF_PREFIX[name.split(".", 1)[0]]


class Tracer:
    """Span recorder.  Disabled, every wrapper is a pass-through."""

    def __init__(self):
        self.enabled = False
        self.spans: list[tuple] = []
        self.op: int | None = None
        self._next_id = 0
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()

    # -- recording -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            stack = self._stacks.setdefault(tid, [])
            # a span opened on another thread (the Flight server's
            # handler) is a child of whatever the client has open
            src = stack or self._stacks.get(self._main, [])
            parent = src[-1] if src else None
            stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            with self._lock:
                stack.pop()
                self.spans.append((sid, name, t0, t1, parent, self.op))

    # -- wrappers ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, around=None) -> None:
        """Replace `owner.attr` with a timed pass-through.  `around()`,
        if given, is a context manager entered inside the span (used to
        give the call its own Spark job group)."""
        orig = getattr(owner, attr)
        tracer = self

        def timed(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name), (around() if around else contextlib.nullcontext()):
                return orig(*args, **kwargs)

        setattr(owner, attr, timed)

    def wrap_context(self, owner, attr: str, name: str) -> None:
        """Time the body of a context manager (e.g. a lock's hold)."""
        orig = getattr(owner, attr)
        tracer = self

        @contextlib.contextmanager
        def timed(*args, **kwargs):
            with orig(*args, **kwargs) as value:
                with tracer.span(name):
                    yield value

        setattr(owner, attr, timed)

    # -- reduction -----------------------------------------------------
    def self_ms(self) -> dict[int, float]:
        """Self time of every span, by span id."""
        children: dict[int, list[tuple]] = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append(s)
        return {
            sid: (t1 - t0 - _union_length(
                (max(c[2], t0), min(c[3], t1)) for c in children.get(sid, ())
            )) * 1000.0
            for sid, _name, t0, t1, _parent, _op in self.spans
        }

    def self_ms_by_layer(self) -> dict[str, float]:
        own = self.self_ms()
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[layer_of(s[1])] += own[s[0]]
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(s[3] - s[2]) * 1000.0 for s in self.spans if s[1] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op in self.spans:
                f.write(
                    json.dumps(
                        {"id": sid, "name": name, "start": t0, "end": t1,
                         "parent": parent, "op": op}
                    )
                    + "\n"
                )


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def install_package_wrappers(tracer: Tracer, counters: "SparkCounters") -> None:
    """Time the package's public functions at each layer boundary.

    A function imported by name into another module is wrapped where it
    is looked up (e.g. `executor.parse_query`)."""
    from zikeiretsu_rs_spark import flight_server
    from zikeiretsu_rs_spark.catalog import compact, manifest
    from zikeiretsu_rs_spark.ingest import writable_store
    from zikeiretsu_rs_spark.query import executor

    import perfbench.tsdb as tsdb

    def group(suffix):
        return lambda: counters.subgroup(tracer.op, suffix)

    ws = writable_store.WritableStore
    tracer.wrap(ws, "push_multi", "ingest.push_multi")
    tracer.wrap(ws, "apply_dirties", "ingest.apply_dirties")
    tracer.wrap(ws, "persist", "ingest.persist")
    tracer.wrap(ws, "persist_dataframe", "ingest.persist_dataframe", group("persist"))
    tracer.wrap_context(writable_store, "metrics_lock", "lock.hold")
    tracer.wrap_context(compact, "metrics_lock", "lock.hold")
    tracer.wrap(manifest.Manifest, "load", "manifest.load")
    tracer.wrap(tsdb, "compact_metrics", "compact.run")
    qe = executor.QueryExecutor
    tracer.wrap(qe, "execute_to_df", "query.execute_to_df")
    tracer.wrap(executor, "parse_query", "query.parse")
    tracer.wrap(executor, "interpret", "query.interpret")
    tracer.wrap(qe, "run", "query.translate", group("translate"))
    tracer.wrap(executor, "write_output", "query.output")
    # the handler runs on a server thread: it gets the op's job group
    tracer.wrap(flight_server.ZikeiretsuFlightServer, "do_get", "flight.do_get", group(""))


def group_name(op, suffix: str = "") -> str:
    return f"pb-{op}-{suffix}" if suffix else f"pb-{op}"


class SparkCounters:
    """Per-operation Spark counters read from outside: the job group
    set for the operation, `statusTracker` for jobs, stages and tasks,
    and the SQL status store for scan metrics and cached-plan scans."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = 0

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def subgroup(self, op, suffix: str):
        """Run the body under `pb-<op>-<suffix>`, then go back to the
        op's own group (`pb-<op>`)."""
        self.set_group(group_name(op, suffix))
        try:
            yield
        finally:
            self.set_group(group_name(op))

    def drain(self) -> None:
        """Wait for the listener bus so the status stores are final."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> dict[str, int]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:  # skipped stage: it ran no tasks
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks
                out["failed_tasks"] += st.numFailedTasks
        return out

    def for_op(self, op_id) -> dict:
        """Counters of one finished operation: jobs, stages, tasks and
        failed tasks (its own group plus its translate group), Parquet
        files and partitions its scans read, and whether it was served
        from the scan cache."""
        self.drain()
        main, translate = group_name(op_id), group_name(op_id, "translate")
        out = self.jobs(main)
        t = self.jobs(translate)
        for k in out:
            out[k] += t[k]
        out["translate_jobs"] = t["jobs"]
        execs = [e for e in self.new_executions() if e["group"] in (main, translate)]
        out["files_read"] = sum(e["files_read"] or 0 for e in execs)
        out["partitions_read"] = sum(e["partitions_read"] for e in execs)
        served = [e for e in execs if e["group"] == main]
        # a scan-cache hit: the op's plan reads a cached relation and no
        # Parquet scan listed files for it (the cache was already filled)
        out["cache_hit"] = any(e["in_memory_scan"] for e in served) and all(
            e["files_read"] is None for e in served
        )
        return out

    def new_executions(self) -> list[dict]:
        """SQL executions finished since the last call: description
        (the job group it ran under) and, per plan node of interest,
        its metrics."""
        total = self._sql.executionsCount()
        execs = self._sql.executionsList(self._seen_exec, total - self._seen_exec)
        self._seen_exec = total
        out = []
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            rec = {"group": e.description(), "files_read": None,
                   "partitions_read": 0, "in_memory_scan": False}
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name.startswith("InMemoryTableScan"):
                    rec["in_memory_scan"] = True
                elif name.startswith("Scan parquet"):
                    ms = node.metrics().iterator()
                    while ms.hasNext():
                        m = ms.next()
                        key = SCAN_METRICS.get(m.name())
                        v = values.get(m.accumulatorId())
                        if key is None or v.isEmpty():
                            continue
                        rec[key] = (rec[key] or 0) + _metric_number(v.get())
            out.append(rec)
        return out


SCAN_METRICS = {"number of files read": "files_read",
                "number of partitions read": "partitions_read"}


def _metric_number(text: str) -> int:
    return int(str(text).split()[0].replace(",", ""))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")

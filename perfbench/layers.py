"""Per-layer metrics of a traced run.

Every metric is printed on every workload; a layer the workload does not
reach reads 0 (the pipeline never reaches `ingest`, `query` or
`flight_server`; the time-series workloads never reach `operators`).
Ingest and catalog numbers come from the traced set-up, the rest from
the traced loop.
"""

from __future__ import annotations

import os

from zikeiretsu_rs_spark.catalog.manifest import Manifest

from perfbench.harness import dir_bytes, mean
from perfbench.pipeline import QUERIES
from perfbench.trace import group_name, jvm_peak_rss_mb
from perfbench.tsdb import METRICS, USER_ROW_BYTES, ScanUnique

PER_OP_SPARK = ("jobs", "stages", "tasks", "failed_tasks")


def per_layer(run, wl, traced, untraced) -> dict:
    tr = run.tracer
    ms = lambda name: mean(tr.durations_ms(name))  # noqa: E731
    own = tr.self_ms()
    tsdb = isinstance(wl, ScanUnique)
    m = {
        "session.start_s": (run.session_start_s, "s"),
        "jvm.peak_rss_mb": (jvm_peak_rss_mb(run.spark), "MB"),
    }

    # ingest and catalog: the traced set-up
    persist_calls = len(tr.durations_ms("ingest.persist_dataframe"))
    persist_jobs = sum(
        run.counters.jobs(group_name(f"s{r}", "persist"))["jobs"]
        for r in range(run.size.setup_reps)
    )
    comp = getattr(wl, "compaction", {"files_before": 0, "files_after": 0,
                                      "bytes_rewritten": 0})
    if tsdb:
        user_bytes = USER_ROW_BYTES * wl.data.ts.size
        block_bytes = dir_bytes(os.path.join(wl.db_dir, "block"))
        manifest = Manifest(wl.db_dir, METRICS)
    m.update({
        "ingest.push_ms": (ms("ingest.push_multi"), "ms"),
        "ingest.apply_dirties_ms": (ms("ingest.apply_dirties"), "ms"),
        "ingest.persist_ms": (ms("ingest.persist"), "ms"),
        "ingest.persist_dataframe_ms": (ms("ingest.persist_dataframe"), "ms"),
        # persist's own work: building rows and a DataFrame from the buffer
        "ingest.convert_ms":
            (mean(own[s[0]] for s in tr.spans if s[1] == "ingest.persist"), "ms"),
        "ingest.jobs_per_persist": (persist_jobs / persist_calls if persist_calls else 0, "count"),
        "ingest.files_written": (wl.files_total() if tsdb else 0, "count"),
        "ingest.bytes_written_per_user_byte":
            ((block_bytes + comp["bytes_rewritten"]) / user_bytes if tsdb else 0, "ratio"),
        "lock.hold_ms": (ms("lock.hold"), "ms"),
        "manifest.load_ms": (ms("manifest.load"), "ms"),
        "manifest.entries": (len(manifest.load()) if tsdb else 0, "count"),
        "manifest.bytes": (os.path.getsize(manifest.path) if tsdb else 0, "bytes"),
        "compact.ms": (ms("compact.run"), "ms"),
        "compact.files_before": (comp["files_before"], "count"),
        "compact.files_after": (comp["files_after"], "count"),
        "compact.bytes_rewritten": (comp["bytes_rewritten"], "bytes"),
    })

    # query and flight_server: the traced loop
    data_ops = [r for r in traced if r.data_query]
    m.update({
        "query.parse_ms": (ms("query.parse"), "ms"),
        "query.interpret_ms": (ms("query.interpret"), "ms"),
        "query.translate_ms": (ms("query.translate"), "ms"),
        "query.translate_jobs":
            (mean(r.counters["translate_jobs"] for r in traced) if tsdb else 0, "count"),
        "query.output_ms": (ms("query.output"), "ms"),
        "query.output_rows": (mean(r.rows for r in traced) if tsdb else 0, "count"),
        "query.output_bytes": (mean(r.nbytes for r in traced) if tsdb else 0, "bytes"),
        "scan.files_read": (mean(r.counters["files_read"] for r in data_ops), "count"),
        "scan.files_total": (wl.files_total() if tsdb else 0, "count"),
        "scan.dt_partitions_read":
            (mean(r.counters["partitions_read"] for r in data_ops), "count"),
        "scan_cache.hit_ratio": (mean(r.counters["cache_hit"] for r in data_ops), "ratio"),
    })
    # Flight: the handler (do_get) = the engine's execute_to_df + the
    # collect and Arrow conversion; transport = gRPC and the client
    by_op: dict = {}
    for s in tr.spans:
        d = by_op.setdefault(s[5], {})
        d[s[1]] = d.get(s[1], 0.0) + (s[3] - s[2]) * 1000.0
    flight_ops = [(r, by_op[r.op_id]) for r in traced
                  if "flight.do_get" in by_op.get(r.op_id, {})]
    m.update({
        "flight.do_get_ms": (ms("flight.do_get"), "ms"),
        "flight.to_arrow_ms": (mean(
            d["flight.do_get"] - d["query.execute_to_df"] for _, d in flight_ops), "ms"),
        "flight.transport_ms": (mean(
            r.latency_s * 1000.0 - d["flight.do_get"] for r, d in flight_ops), "ms"),
        "flight.arrow_bytes": (mean(r.nbytes for r, _ in flight_ops), "bytes"),
    })

    # operators: the pipeline's build (incl. eager driver jobs) vs execute
    for q in QUERIES:
        m[f"pipeline.{q}.build_ms"] = (ms(f"pipeline.{q}.build"), "ms")
        m[f"pipeline.{q}.execute_ms"] = (ms(f"pipeline.{q}.execute"), "ms")

    # spark: per operation of the traced loop
    for k in PER_OP_SPARK:
        m[f"spark.{k}"] = (mean(r.counters[k] for r in traced), "count")

    # total self time per layer over the traced set-up and loop
    for layer, v in tr.self_ms_by_layer().items():
        m[f"self_ms.{layer}"] = (v, "ms")

    qps = lambda recs: len(recs) / sum(r.latency_s for r in recs)  # noqa: E731
    m["trace.overhead_pct"] = ((qps(untraced) - qps(traced)) / qps(untraced) * 100.0, "%")
    return m

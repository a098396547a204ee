"""The traced run: timing wrappers around the layers' public functions,
and the per-layer metrics derived from their spans and from the
post-run collectors.

Wrappers are installed from here, before ``Engine()`` and ``serve()``,
on the names where the package looks them up at call time:

- ``functions.clickhouse.register_clickhouse_functions`` (imported inside
  ``Engine.__init__``) and ``functions.dialect.translate`` (imported
  inside ``Engine.sql``), on their modules;
- ``Engine.register_data_dir / sql / run_query / execute / insert`` and
  ``MaterializedView.process_block``, on their classes;
- ``__main__.execute_render`` (imported by ``http_server.make_handler``
  when ``serve()`` runs) and ``__main__.render`` (looked up by
  ``execute_render``), on the ``__main__`` module of the package.

Every per-layer time of the request path is a mean over the workload's
timed operations (dashboard_http: its queries; ingest_mv: its inserts)
of the operation's summed self time in the layer, so that the layers of
the chain add up exactly to ``traced.op_mean_ms``, the mean
client-observed latency of the same operations.
"""

from __future__ import annotations

import os
import time

import common


def install_engine_wrappers(tr: common.Tracer) -> None:
    from otus_clickhouse_spark import __main__ as cli
    from otus_clickhouse_spark.engine import Engine
    from otus_clickhouse_spark.functions import clickhouse, dialect
    from otus_clickhouse_spark.streaming.mv import MaterializedView

    tr.wrap(clickhouse, "register_clickhouse_functions", "functions.register")
    tr.wrap(Engine, "register_data_dir", "catalog.register")
    tr.wrap(dialect, "translate", "dialect.translate")
    tr.wrap(Engine, "sql", "engine.sql")
    tr.wrap(Engine, "run_query", "engine.run_query")
    tr.wrap(Engine, "execute", "engine.execute",
            attrs_of=lambda self, text, **kw: {"insert": text.lstrip()[:6].upper() == "INSERT"})
    tr.wrap(Engine, "insert", "engine.insert")
    tr.wrap(MaterializedView, "process_block", "mv.process_block")
    tr.wrap(cli, "execute_render", "cli.execute_render",
            attrs_of=lambda engine, text, *a, **kw: {"text": text})
    tr.wrap(cli, "render", "formats.render")


# per-request self-time sums: span name → per-layer metric
SELF_METRICS = {
    "cli.execute_render": "cli.execute_render_ms",
    "engine.run_query": "engine.collect_ms",
    "engine.sql": "engine.sql_ms",
    "dialect.translate": "dialect.translate_ms",
    "formats.render": "formats.render_ms",
    "engine.insert": "insert.write_ms",
    "mv.process_block": "mv.transform_ms",
}


def _requests(tr: common.Tracer) -> list[dict]:
    """Pair each client ``http.request`` span with the server-side
    ``cli.execute_render`` tree it caused (same statement text, inside
    the client span), and sum that tree's self times per layer."""
    spans, selfs = tr.spans, tr.self_times()
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    roots = [i for i, s in enumerate(spans)
             if s["name"] == "cli.execute_render" and s["parent"] is None and s["end"]]
    used: set[int] = set()
    out = []
    for c in spans:
        if c["name"] != "http.request" or c["end"] is None:
            continue
        rec = {"kind": c["attrs"].get("kind"), "client_ms": (c["end"] - c["start"]) * 1000}
        match = next((r for r in roots if r not in used
                      and spans[r]["attrs"]["text"] == c["attrs"]["text"]
                      and c["start"] <= spans[r]["start"] and spans[r]["end"] <= c["end"]), None)
        if match is not None:
            used.add(match)
            rec["http.overhead_ms"] = rec["client_ms"] - (
                spans[match]["end"] - spans[match]["start"]) * 1000
            stack = [match]
            while stack:
                i = stack.pop()
                stack.extend(children.get(i, []))
                name = spans[i]["name"]
                if name in SELF_METRICS:
                    key = SELF_METRICS[name]
                    rec[key] = rec.get(key, 0.0) + selfs[i] * 1000
                if name == "dialect.translate":
                    rec["translate_calls"] = rec.get("translate_calls", 0) + 1
                if name == "engine.execute" and spans[i]["attrs"].get("insert"):
                    # execute minus the insert it dispatches: parsing the
                    # statement and its inline data block
                    rec["insert.parse_ms"] = rec.get("insert.parse_ms", 0.0) + selfs[i] * 1000
        out.append(rec)
    return out


def _mean_of(recs: list[dict], key: str) -> float:
    return sum(r.get(key, 0.0) for r in recs) / len(recs) if recs else 0.0


def _group_jobs(jobs: list[dict]) -> dict[str, list[dict]]:
    groups: dict[str, list[dict]] = {}
    for j in jobs:
        if j["group"] is not None:
            groups.setdefault(j["group"], []).append(j)
    return groups


def layer_metrics(ctx, res: dict) -> dict:
    tr = ctx.tracer
    spark = ctx.spark
    inputs = res.get("trace_inputs", {})
    out: dict[str, float] = dict(ctx.layer)
    out["traced.setup_s"] = ctx.setup_s or 0.0
    out["traced.op_ms"] = res["metrics"]["op_ms"]
    out["traced.work_s"] = res["metrics"]["work_s"]
    for name, key in (("functions.register", "functions.register_s"),
                      ("catalog.register", "catalog.register_s")):
        out[key] = sum(s["end"] - s["start"] for s in tr.spans
                       if s["name"] == name and s["end"] is not None)

    recs = _requests(tr)
    if ctx.workload == "ingest_mv":
        timed = [r for r in recs if r["kind"] == "insert"]
    else:
        timed = [r for r in recs if r["kind"] not in ("metrics_scrape", "read")]
    for key in list(SELF_METRICS.values()) + ["http.overhead_ms", "insert.parse_ms"]:
        out[key] = _mean_of(timed, key)
    out["dialect.calls"] = _mean_of(timed, "translate_calls")
    out["traced.op_mean_ms"] = _mean_of(timed, "client_ms")
    out["mv.blocks"] = float(sum(1 for s in tr.spans if s["name"] == "mv.process_block"))

    jobs = common.status_store_jobs(spark, inputs.get("job0", 0)) if spark else []
    wall_minus_perf = time.time() - time.perf_counter()

    if ctx.workload == "dashboard_http":
        results = inputs["results"]
        groups = list(_group_jobs(jobs).values())
        out["spark.jobs_per_query"] = common.median([len(g) for g in groups])
        out["spark.stages_per_query"] = common.median([sum(j["stages"] for j in g) for g in groups])
        out["spark.tasks_per_query"] = common.median([sum(j["tasks"] for j in g) for g in groups])
        out["spark.executor_run_ms_per_query"] = common.median(
            [sum(j["run_ms"] for j in g) for g in groups])
        qres = [r for r in results if r["kind"] != "metrics_scrape" and r["code"] == 200]
        out["formats.bytes_out"] = sum(r["bytes"] for r in qres) / max(1, len(qres))
        scrapes = [r for r in results if r["kind"] == "metrics_scrape"]
        out["http.metrics_scrape_ms"] = common.median([r["dur"] * 1000 for r in scrapes])
        windows = [((r["t0"] + wall_minus_perf) * 1000, (r["t0"] + r["dur"] + wall_minus_perf) * 1000)
                   for r in scrapes]
        ungrouped = [j for j in jobs if j["group"] is None and j["submitted_ms"] is not None]
        out["http.metrics_scrape_jobs"] = sum(
            1 for j in ungrouped if any(a <= j["submitted_ms"] <= b for a, b in windows)
        ) / max(1, len(scrapes))

    if ctx.workload == "ingest_mv":
        prog = [p for p in inputs["progress"] if p.get("numInputRows", 0) > 0]
        durs = [p.get("durationMs", {}) for p in prog]
        out["stream.batches"] = float(len(prog))
        out["stream.rows_per_batch"] = (
            sum(p["numInputRows"] for p in prog) / len(prog) if prog else 0.0)
        for key, field in (("stream.trigger_ms", "triggerExecution"),
                           ("stream.add_batch_ms", "addBatch"),
                           ("stream.wal_commit_ms", "walCommit"),
                           ("stream.commit_offsets_ms", "commitOffsets"),
                           ("stream.latest_offset_ms", "latestOffset")):
            out[key] = common.median([d.get(field, 0) for d in durs])
        stream_jobs = [j for j in jobs if j["job_id"] >= inputs["job1"]]
        out["stream.tasks_per_batch"] = (
            sum(j["tasks"] for j in stream_jobs) / len(prog) if prog else 0.0)
        files = size = 0
        landing = inputs["landing"]
        for path in landing.values():
            f, b = common.tree_listing(path)
            files, size = files + f, size + b
        out["storage.parts_per_table"] = files / len(landing)
        out["storage.bytes_per_user_byte"] = size / inputs["user_bytes"]

    if ctx.workload == "pipeline_batch":
        groups = _group_jobs(jobs)
        per_op: dict[str, dict[str, list[float]]] = {}
        for t in inputs["timings"]:
            g = groups.get(f"pass{t['pass']}:{t['op']}", [])
            m = per_op.setdefault(t["op"], {})
            for key, val in (("build_ms", t["build_ms"]), ("exec_ms", t["exec_ms"]),
                             ("stages", sum(j["stages"] for j in g)),
                             ("shuffle_write_bytes", sum(j["shuffle_write"] for j in g)),
                             ("spill_bytes", sum(j["spill"] for j in g))):
                m.setdefault(key, []).append(float(val))
        for op, m in per_op.items():
            for key, vals in m.items():
                out[f"pipeline.{op}.{key}"] = common.median(vals)

    if spark is not None:
        out["jvm.gc_ms"] = common.jvm_gc_ms(spark)
        out["jvm.peak_rss_mb"] = common.vm_hwm_mb(common.jvm_pid(spark))
    out["py.peak_rss_mb"] = common.vm_hwm_mb(os.getpid())
    return out

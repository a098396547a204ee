"""``ingest_mv``: the course's two ingest paths into one MV cascade.

A ``Null`` source (``ev_in``) and a ``Kafka``-engine table (``ev_kafka``)
both feed MV → ``MergeTree ev_raw``, which cascades MV →
``SummingMergeTree ev_hourly``.

Phase 1: one closed-loop writer posts a fixed number of seeded
``INSERT INTO ev_in FORMAT JSONEachRow`` blocks over HTTP, after two
untimed warmup blocks; the cascade is
synchronous, so a 200 means the rows landed in every target. With each
insert, one reader queries ``ev_hourly FINAL`` and ``ev_raw`` beside it.
The unit operations are the insert and the two reads: ``op_ms`` is the
geometric mean of their three median latencies, so a gain for writes
that costs reads still shows.

Phase 2: a fixed seeded backlog is produced with ``Engine.kafka_produce``
*before* ``kafka_attach_stream`` attaches (so the micro-batch split is
always the same), then drained with ``processAllAvailable``.

Run length is set by block and segment counts, not by time, so table
growth is the same in every run.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time

import common

DDL = [
    "CREATE TABLE ev_in (seq UInt64, user_id UInt64, event_type String, "
    "ts DateTime, value Float64) ENGINE = Null",
    "CREATE TABLE ev_kafka (seq UInt64, user_id UInt64, event_type String, "
    "ts DateTime, value Float64) ENGINE = Kafka SETTINGS "
    "kafka_broker_list = 'localhost:9092', kafka_topic_list = 'ev_topic', "
    "kafka_group_name = 'ev_group', kafka_format = 'JSONEachRow'",
    "CREATE TABLE ev_raw (src String, seq UInt64, user_id UInt64, event_type String, "
    "ts DateTime, value Float64) ENGINE = MergeTree ORDER BY (event_type, ts)",
    "CREATE TABLE ev_hourly (hour DateTime, event_type String, n UInt64, total Float64) "
    "ENGINE = SummingMergeTree ORDER BY (hour, event_type)",
    "CREATE MATERIALIZED VIEW mv_in TO ev_raw AS SELECT 'http' AS src, seq, user_id, "
    "event_type, ts, value FROM ev_in",
    "CREATE MATERIALIZED VIEW mv_kafka TO ev_raw AS SELECT 'kafka' AS src, _offset AS seq, "
    "user_id, event_type, ts, value FROM ev_kafka",
    "CREATE MATERIALIZED VIEW mv_hourly TO ev_hourly AS SELECT toStartOfHour(ts) AS hour, "
    "event_type, count() AS n, sum(value) AS total FROM ev_raw GROUP BY hour, event_type",
]
READS = {
    "read_ev_hourly": "SELECT event_type, sum(n) AS n, round(sum(total), 2) AS total "
    "FROM ev_hourly FINAL GROUP BY event_type ORDER BY event_type",
    "read_ev_raw": "SELECT count() AS n, uniqExact(user_id) AS users FROM ev_raw "
    "WHERE src = 'http'",
}
ROWS_PER_BLOCK = 2500
WARMUP_BLOCKS = 2
SEGMENTS = 32  # a multiple of the 16-segments-per-trigger bound: 2 micro-batches
ROWS_PER_SEGMENT = 500
TYPES = ["view", "click", "purchase", "signup", "error"]


def _row(rng: random.Random, seq: int) -> str:
    sec = rng.randrange(3 * 86_400)
    return json.dumps({
        "seq": seq,
        "user_id": rng.randrange(10_000),
        "event_type": rng.choice(TYPES),
        "ts": f"2024-01-{1 + sec // 86_400:02d} {sec // 3600 % 24:02d}:"
              f"{sec // 60 % 60:02d}:{sec % 60:02d}",
        "value": round(rng.random() * 500, 2),
    })


def run(ctx) -> dict:
    engine, http = ctx.start_engine()
    tr = ctx.tracer
    problems: list[str] = []
    for stmt in DDL:
        code, body, _ = http.post(stmt)
        if code != 200:
            raise RuntimeError(f"DDL failed: HTTP {code}: {body[:300]}")

    rng = random.Random(ctx.seed)
    blocks = max(1, round(ctx.seconds * 0.8))
    payloads = [
        "\n".join(_row(rng, b * ROWS_PER_BLOCK + i) for i in range(ROWS_PER_BLOCK))
        for b in range(WARMUP_BLOCKS + blocks)
    ]
    backlog = [
        [_row(rng, s * ROWS_PER_SEGMENT + i) for i in range(ROWS_PER_SEGMENT)]
        for s in range(SEGMENTS)
    ]
    user_bytes = sum(len(p) for p in payloads) + sum(len("\n".join(s)) for s in backlog)

    # ---- phase 1: synchronous HTTP inserts; the reader runs in lockstep
    # (both reads start with each insert), so every insert meets the
    # same read load whatever the timing of the run;
    # (status, seconds, body, kind) per request
    writes: list[tuple[int, float, str, str]] = []
    reads: list[tuple[int, float, str, str]] = []

    def read_cycle(b: int):
        for i, (kind, text) in enumerate(READS.items()):
            tr.op(f"r{b}.{i}")
            span = tr.begin("http.request", {"text": text, "kind": "read"})
            code, body, dt = http.get(text)
            tr.end(span)
            reads.append((code, dt, body, kind))

    def insert_block(b: int, payload: str, kind: str):
        rt = threading.Thread(target=read_cycle, args=(b,))
        rt.start()
        tr.op(f"w{b}")
        query = "INSERT INTO ev_in FORMAT JSONEachRow"
        span = tr.begin("http.request", {"text": f"{query}\n{payload}", "kind": kind})
        code, body, dt = http.post(query, payload)
        tr.end(span)
        rt.join()
        return code, dt, body, "insert"

    # untimed warmup blocks (first-use costs of the insert and MV path);
    # they land like the others and are counted by the checks
    warm = [insert_block(b, payloads[b], "warmup") for b in range(WARMUP_BLOCKS)]
    warm += reads
    reads.clear()
    job0 = ctx.job_watermark()
    t0 = time.perf_counter()
    for b in range(WARMUP_BLOCKS, len(payloads)):
        writes.append(insert_block(b, payloads[b], "insert"))
    phase1_s = time.perf_counter() - t0

    # ---- phase 2: produce the backlog, then attach and drain it
    for seg in backlog:
        engine.kafka_produce("ev_topic", seg)
    job1 = ctx.job_watermark()
    tr.op("stream")
    t1 = time.perf_counter()
    q = engine.kafka_attach_stream("ev_kafka", checkpoint=os.path.abspath("kafka_ck"))
    try:
        q.processAllAvailable()
        drain_s = time.perf_counter() - t1
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    # ---- output checks (outside the timed sections)
    n_http = len(payloads) * ROWS_PER_BLOCK
    n_kafka = SEGMENTS * ROWS_PER_SEGMENT
    checks = {
        "SELECT count() FROM ev_raw": f"{n_http + n_kafka}",
        "SELECT sum(n) FROM ev_hourly": f"{n_http + n_kafka}",
        "SELECT count() FROM ev_raw WHERE src = 'http'": f"{n_http}",
        "SELECT count(), min(seq), max(seq), uniqExact(seq) FROM ev_raw WHERE src = 'kafka'":
            f"{n_kafka}\t0\t{n_kafka - 1}\t{n_kafka}",
    }
    for query, want in checks.items():
        code, body, _ = http.get(query)
        if code != 200 or body.strip() != want:
            problems.append(f"{query!r}: got {body.strip()[:200]!r}, want {want!r}")

    failed_ops = [w for w in warm + writes if w[0] != 200] + [r for r in reads if r[0] != 200]
    ins_ms = [w[1] * 1000 for w in writes if w[0] == 200]
    read_ms = [r[1] * 1000 for r in reads if r[0] == 200]
    kind_ms = common.by_kind((r[3], r[1] * 1000) for r in writes + reads if r[0] == 200)
    return {
        "attempted": len(warm) + len(writes) + len(reads) + 1 + len(checks),
        "failed": len(failed_ops) + len(problems),
        "problems": problems + [f"{k}: HTTP {c}: {b[:200]}" for c, _, b, k in failed_ops],
        "metrics": {
            "op_ms": common.op_ms(kind_ms),
            "work_s": phase1_s + drain_s,
        },
        "detail": {
            "insert_p50_ms": common.median(ins_ms),
            "insert_samples": len(ins_ms),
            "ingest_rows_per_s": blocks * ROWS_PER_BLOCK / phase1_s,
            "stream_rows_per_s": n_kafka / drain_s,
            "query_p50_ms": common.median(read_ms),
            "query_samples": len(read_ms),
            "kind_p50_ms": {k: round(common.median(v), 1) for k, v in kind_ms.items()},
            "phase1_s": phase1_s,
            "drain_s": drain_s,
        },
        "trace_inputs": {
            "job0": job0,
            "job1": job1,
            "progress": progress,
            "user_bytes": user_bytes,
            "landing": {
                t: engine.tables[t].path for t in ("ev_raw", "ev_hourly")
            },
        },
    }

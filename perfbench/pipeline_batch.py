"""``pipeline_batch``: registry pipeline operators run sequentially to the
noop sink. No ``Engine`` is built, so this is the control workload for
query-path, registration and HTTP changes.

The first (untimed) pass collects each operator and compares it with its
``all_oracles()`` DuckDB result at sf0.1 (computed once per checkout by
``build.py``); the timed passes write to the noop sink. The seed picks
the operator order of the timed passes. ``op_ms`` is the geometric mean
of the operators' build + execution times, so every operator moves it.
"""

from __future__ import annotations

import json
import random
import time

import common

# dedup.py (winnowing), similarity.py (PQ ADC top-k, the quantizer
# transport) and text.py (PII redaction); three operators keep a run
# inside the time every run of the benchmark must share
OPERATORS = [
    "x68_winnowing_dups",
    "x60_pq_adc_topk",
    "x17_pii_redaction",
]


def compare(pdf, want: dict) -> str | None:
    from tools.check_oracles import frame_hash

    if len(pdf) != want["rows"]:
        return f"{len(pdf)} rows, DuckDB {want['rows']}"
    if sorted(pdf.columns) != want["columns"]:
        return f"columns {sorted(pdf.columns)} != {want['columns']}"
    if frame_hash(pdf) != want["hash"]:
        return "value hash differs from DuckDB"
    return None


def run(ctx) -> dict:
    spark = ctx.start_spark()
    import __spark_entry__

    registry = __spark_entry__.queries()
    with open(ctx.expected_path) as fh:
        expected = json.load(fh)
    order = list(OPERATORS)
    random.Random(ctx.seed).shuffle(order)
    sc = spark.sparkContext
    problems = []

    # check pass (untimed), in the fixed order so that set-up always ends
    # with the same operator; it is also the warmup
    for op in OPERATORS:
        sc.setJobGroup(f"check:{op}", op)
        pdf = registry[op](spark, ctx.data_dir).toPandas()
        ctx.first_success()
        bad = compare(pdf, expected[op])
        if bad:
            problems.append(f"{op}: {bad}")
        spark.catalog.clearCache()

    passes = max(1, round(ctx.seconds / 10))
    job0 = ctx.job_watermark()
    pass_s, op_ms, timings = [], {}, []
    for p in range(passes):
        t0 = time.perf_counter()
        for op in order:
            sc.setJobGroup(f"pass{p}:{op}", op)
            span = ctx.tracer.begin("pipeline.op", {"op": op, "pass": p})
            a = time.perf_counter()
            df = registry[op](spark, ctx.data_dir)
            b = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            c = time.perf_counter()
            ctx.tracer.end(span)
            op_ms.setdefault(op, []).append((c - a) * 1000)
            timings.append({"op": op, "pass": p, "build_ms": (b - a) * 1000,
                            "exec_ms": (c - b) * 1000})
            spark.catalog.clearCache()
        pass_s.append(time.perf_counter() - t0)
    sc.setJobGroup(None, None)
    return {
        "attempted": len(order) * (passes + 1),
        "failed": len(problems),
        "problems": problems,
        "metrics": {
            "op_ms": common.op_ms(op_ms),
            "work_s": common.median(pass_s),
        },
        "detail": {"batch_s": common.median(pass_s), "passes": passes,
                   "op_build_exec_ms": {op: common.median(v) for op, v in op_ms.items()},
                   "order": order, "pass_s": pass_s},
        "trace_inputs": {"job0": job0, "timings": timings},
    }

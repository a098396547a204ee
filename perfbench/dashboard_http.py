"""``dashboard_http``: a closed loop of 2 clients over ``http_server.serve()``.

The request list is a fixed mix, repeated in rounds: every round holds
each canned query once (the point lookup twice) and one ``/metrics``
scrape, so the proportions are exact. The seed picks only the query
parameters and the order inside each round. Each query kind's first
timed response is checked against DuckDB over the same parquet, after
the timed loop.
"""

from __future__ import annotations

import random
import threading
import time

import common

# kind → (CH-SQL sent over HTTP, DuckDB equivalent); both formatted with
# the same seeded parameters
QUERIES = {
    "q1_pricing": (
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, "
        "round(avg(l_discount), 4) AS avg_disc, count() AS cnt "
        "FROM lineitem WHERE l_shipdate <= toDateTime('{day} 00:00:00') "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc, "
        "round(avg(l_discount), 4) AS avg_disc, count(*) AS cnt "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus",
    ),
    "events_hourly": (
        "SELECT toStartOfHour(ts) AS h, event_type, count() AS n, "
        "uniqExact(user_id) AS users FROM events "
        "WHERE ts >= toDateTime('{ev_day} 00:00:00') AND ts < toDateTime('{ev_day} 00:00:00') + INTERVAL 1 DAY "
        "GROUP BY h, event_type ORDER BY h, event_type",
        "SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, "
        "count(DISTINCT user_id) AS users FROM events "
        "WHERE ts >= TIMESTAMP '{ev_day} 00:00:00' AND ts < TIMESTAMP '{ev_day} 00:00:00' + INTERVAL 1 DAY "
        "GROUP BY h, event_type",
    ),
    "priority_stats": (
        "SELECT o_orderpriority, count() AS n, countIf(o_orderstatus = 'F') AS n_f, "
        "round(quantileExact(0.9)(o_totalprice), 2) AS p90 FROM orders "
        "WHERE o_orderdate >= toDateTime('{year}-01-01 00:00:00') "
        "AND o_orderdate < toDateTime('{year_next}-01-01 00:00:00') "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, count(*) AS n, count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
        "round(quantile_cont(o_totalprice, 0.9), 2) AS p90 FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '{year_next}-01-01 00:00:00' "
        "GROUP BY o_orderpriority",
    ),
    "point_lookup": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        "FROM orders WHERE o_orderkey = {orderkey}",
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        "FROM orders WHERE o_orderkey = {orderkey}",
    ),
    "user_top20": (
        "SELECT user_id, count() AS n, round(sum(value), 2) AS total FROM events "
        "WHERE user_id >= {user} AND user_id < {user} + 200 "
        "GROUP BY user_id ORDER BY total DESC, user_id LIMIT 20",
        "SELECT user_id, count(*) AS n, round(sum(value), 2) AS total FROM events "
        "WHERE user_id >= {user} AND user_id < {user} + 200 "
        "GROUP BY user_id ORDER BY total DESC, user_id LIMIT 20",
    ),
    "q3_join_topk": (
        "SELECT l_orderkey, o_orderdate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = '{segment}' AND o_orderdate < toDateTime('{q3_day} 00:00:00') "
        "AND l_shipdate > toDateTime('{q3_day} 00:00:00') "
        "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10",
        "SELECT l_orderkey, o_orderdate, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = '{segment}' AND o_orderdate < TIMESTAMP '{q3_day} 00:00:00' "
        "AND l_shipdate > TIMESTAMP '{q3_day} 00:00:00' "
        "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10",
    ),
    "range_export": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_orderkey >= {export_key} AND l_orderkey < {export_key} + 5000 "
        "FORMAT TabSeparated",
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        "WHERE l_orderkey >= {export_key} AND l_orderkey < {export_key} + 5000",
    ),
}
METRICS = "metrics_scrape"
# one round of the mix; proportions are fixed, only the order is seeded
ROUND = list(QUERIES) + ["point_lookup", METRICS]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def params(rng: random.Random) -> dict:
    """One seeded parameter set; every value keeps each query's result
    size in the same range (row counts depend on the data, not on it)."""
    year = rng.randint(1995, 2000)
    return {
        "day": f"{rng.randint(1998, 2000)}-{rng.randint(1, 12):02d}-01",
        "ev_day": f"2024-01-{rng.randint(1, 29):02d}",
        "year": year,
        "year_next": year + 1,
        "orderkey": rng.randrange(150_000),
        "user": rng.randrange(0, 15_000 - 200),
        "segment": rng.choice(SEGMENTS),
        "q3_day": f"199{rng.randint(5, 9)}-{rng.randint(1, 12):02d}-15",
        "export_key": rng.randrange(0, 150_000 - 5000),
    }


def request_list(seed: int, rounds: int) -> list[tuple[str, dict]]:
    rng = random.Random(seed)
    out = []
    for _ in range(rounds):
        kinds = list(ROUND)
        rng.shuffle(kinds)
        out.extend((k, params(rng)) for k in kinds)
    return out


def _norm(v) -> str:
    """One cell as text; numbers compare at the 6 significant digits
    ``check_oracles.norm_cell`` uses for floats."""
    s = str(v)
    try:
        return f"{float(s):.6g}"
    except ValueError:
        return s


def _frame(rows: list[list]) -> "object":
    import pandas as pd

    return pd.DataFrame([[_norm(v) for v in r] for r in rows])


def check_against_duckdb(data_dir: str, first: dict) -> list[str]:
    """Compare each kind's first timed TabSeparated body with DuckDB by
    row count and order-insensitive value hash. Returns the mismatches."""
    import duckdb
    from tools.check_oracles import TABLES, frame_hash

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    problems = []
    for kind, (body, p) in sorted(first.items()):
        got = [line.split("\t") for line in body.splitlines() if line]
        want = [list(r) for r in con.sql(QUERIES[kind][1].format(**p)).fetchall()]
        if len(got) != len(want):
            problems.append(f"{kind}: {len(got)} rows, DuckDB {len(want)}")
        elif frame_hash(_frame(got)) != frame_hash(_frame(want)):
            problems.append(f"{kind}: value hash differs from DuckDB")
    con.close()
    return problems


def run(ctx) -> dict:
    _, http = ctx.start_engine()
    tr = ctx.tracer
    # untimed warmup by the same 2 clients: two rounds, so first-use
    # costs (codegen, JIT, file footers) stay out of the timed loop
    warm = request_list(ctx.seed + 1_000_003, 2)

    warm_failed = []

    def warm_client(items):
        for kind, p in items:
            if kind == METRICS:
                code, body, _ = http.path("/metrics")
            else:
                code, body, _ = http.get(QUERIES[kind][0].format(**p))
            if code != 200:
                warm_failed.append((kind, code, body, 0.0, 0.0))

    warmers = [threading.Thread(target=warm_client, args=(warm[i::2],)) for i in range(2)]
    for t in warmers:
        t.start()
    for t in warmers:
        t.join()

    rounds = max(1, round(ctx.seconds * 0.5))
    todo = request_list(ctx.seed, rounds)
    results: list[tuple | None] = [None] * len(todo)
    cursor = iter(range(len(todo)))
    lock = threading.Lock()

    def client():
        while True:
            with lock:
                i = next(cursor, None)
            if i is None:
                return
            kind, p = todo[i]
            tr.op(i)
            text = "/metrics" if kind == METRICS else QUERIES[kind][0].format(**p)
            span = tr.begin("http.request", {"text": text, "kind": kind})
            t0 = time.perf_counter()
            if kind == METRICS:
                code, body, _ = http.path("/metrics")
            else:
                code, body, _ = http.get(text)
            results[i] = (kind, code, body, time.perf_counter() - t0, t0)
            tr.end(span)

    job0 = ctx.job_watermark()
    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    work_s = time.perf_counter() - t0

    failed = warm_failed + [r for r in results if r[1] != 200]
    first = {}
    for (kind, p), r in zip(todo, results):
        if kind != METRICS and kind not in first and r[1] == 200:
            first[kind] = (r[2], p)
    problems = check_against_duckdb(ctx.data_dir, first)
    scrapes = [r for r in results if r[0] == METRICS]
    if any(r[1] == 200 and "otus_event_Query_total" not in r[2] for r in scrapes):
        problems.append("metrics_scrape: no otus_event_Query_total line")
    queries = [r for r in results if r[0] != METRICS and r[1] == 200]
    return {
        "attempted": len(warm) + len(results) + len(QUERIES) + 1,
        "failed": len(failed) + len(problems),
        "problems": problems + [f"{r[0]}: HTTP {r[1]}: {r[2][:200]}" for r in failed],
        "metrics": {
            "op_ms": common.op_ms(common.by_kind(
                (r[0], r[3] * 1000) for r in results if r[1] == 200)),
            "work_s": work_s,
        },
        "detail": {
            "requests": len(results),
            "query_p50_ms": common.median([r[3] * 1000 for r in queries]),
            **common.tail_percentile("query", [r[3] * 1000 for r in queries]),
            "qps": len(results) / work_s,
            "query_samples": len(queries),
            "kind_p50_ms": {
                k: round(common.median([r[3] * 1000 for r in results if r[0] == k and r[1] == 200]), 1)
                for k in ROUND
            },
        },
        "trace_inputs": {
            "results": [
                {"kind": r[0], "code": r[1], "bytes": len(r[2]), "t0": r[4], "dur": r[3],
                 "text": ("/metrics" if r[0] == METRICS else QUERIES[r[0]][0].format(**p))}
                for (_, p), r in zip(todo, results)
            ],
            "job0": job0,
        },
    }

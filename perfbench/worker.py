"""One workload run in its own process (started by ``run.py``).

Usage: python3 perfbench/worker.py --workload NAME --seed N --seconds S
       --trace 0|1 --data DIR --expected FILE --spawned T --out FILE
       --spans FILE

The working directory is the run's fresh temporary directory; the
engine's relative ``spark-warehouse/`` and Kafka topics land there.
``--spawned`` is the wall-clock time at which the parent started this
process, so ``setup_s`` counts interpreter start and the pyspark import.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, REPO)

import common  # noqa: E402


class Context:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.data_dir = args.data
        self.expected_path = args.expected
        self.spawned = args.spawned
        self.tracer = common.Tracer() if self.trace else common.NoTracer()
        self.setup_s = None
        self.layer: dict[str, float] = {}  # per-layer values measured directly
        self.spark = None
        self.engine = None
        self.server = None

    # ------------------------------------------------------------ set-up
    def start_spark(self):
        t0 = time.perf_counter()
        from otus_clickhouse_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.layer["session.start_s"] = time.perf_counter() - t0
        return self.spark

    def first_success(self) -> None:
        """Mark the workload's first successful operation: ends set-up."""
        if self.setup_s is None:
            self.setup_s = time.time() - self.spawned

    def start_engine(self):
        """``get_spark`` → ``Engine(sf0.1)`` → ``serve()`` → first query
        answered over HTTP. Wrappers go in before ``Engine()`` and
        ``serve()`` so registration and the request path are traced."""
        self.start_spark()
        if self.trace:
            import tracing

            tracing.install_engine_wrappers(self.tracer)
        from otus_clickhouse_spark.engine import Engine
        from otus_clickhouse_spark.http_server import serve

        self.engine = Engine(self.spark, data_dir=self.data_dir)
        self.server = serve(self.engine, port=0)
        http = common.Http(self.server.server_address[1])
        code, body, _ = http.get("SELECT count() FROM lineitem")
        if code != 200:
            raise RuntimeError(f"first query failed: HTTP {code}: {body[:300]}")
        self.first_success()
        self.layer["catalog.tables"] = float(len(self.engine.tables))
        return self.engine, http

    def job_watermark(self) -> int:
        """Highest Spark job id so far (traced runs read the status store
        for jobs above it after the timed section)."""
        return common.max_job_id(self.spark) + 1 if self.trace else 0

    def close(self) -> None:
        """Stop serving. The JVM is not stopped here: ``run.py`` kills the
        run's whole process group once the result is written."""
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()


WORKLOADS = ("dashboard_http", "ingest_mv", "pipeline_batch")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()

    ctx = Context(args)
    try:
        mod = __import__(args.workload)
        res = mod.run(ctx)
        res["metrics"]["setup_s"] = ctx.setup_s
        if ctx.trace:
            import tracing

            res["layers"] = tracing.layer_metrics(ctx, res)
            ctx.tracer.dump(args.spans)
        res.pop("trace_inputs", None)
    except Exception:  # noqa: BLE001 — the run's failure is its result
        res = {"error": traceback.format_exc()}
    finally:
        ctx.close()
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0 if "error" not in res else 1


if __name__ == "__main__":
    raise SystemExit(main())

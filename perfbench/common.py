"""Shared pieces of the workload processes: statistics, the span tracer,
the post-run collectors and the HTTP client.

Nothing here edits the package. The tracer wraps public functions from
outside (attribute patching on their modules and classes); the
collectors read Spark's status store, ``StreamingQuery.recentProgress``,
the landing directories and ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.parse
import urllib.request


# ------------------------------------------------------------------ stats
def median(values) -> float:
    return statistics.median(values) if values else 0.0


def op_ms(samples: dict[str, list[float]]) -> float:
    """A workload's ``op_ms``: the geometric mean, over its kinds of
    operation, of each kind's median latency, so that a change to any one
    kind moves it (by its share of the kinds)."""
    if not samples:
        return 0.0
    return statistics.geometric_mean([median(v) for v in samples.values()])


def by_kind(pairs) -> dict[str, list[float]]:
    """``[(kind, value), ...]`` → ``{kind: [value, ...]}``."""
    out: dict[str, list[float]] = {}
    for kind, value in pairs:
        out.setdefault(kind, []).append(value)
    return out


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def tail_percentile(prefix: str, values) -> dict:
    """The highest of p99/p90/p75 with at least ten samples beyond it,
    as ``{"<prefix>_p<q>_ms": value}`` (empty when none qualifies)."""
    for q in (99, 90, 75):
        if len(values) * (100 - q) / 100 >= 10:
            return {f"{prefix}_p{q}_ms": percentile(values, q)}
    return {}


# ------------------------------------------------------------------- http
class Http:
    """Minimal ClickHouse-HTTP client; every call returns
    ``(status, body, seconds)`` and never raises on a server error."""

    def __init__(self, port: int, timeout: float = 120.0):
        self.base = f"http://127.0.0.1:{port}/"
        self.timeout = timeout

    def _call(self, req) -> tuple[int, str, float]:
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                body = resp.read().decode()
                code = resp.status
        except urllib.error.HTTPError as e:
            body, code = e.read().decode(errors="replace"), e.code
        except OSError as e:
            body, code = f"{type(e).__name__}: {e}", 0
        return code, body, time.perf_counter() - t0

    def get(self, query: str) -> tuple[int, str, float]:
        return self._call(self.base + "?query=" + urllib.parse.quote(query))

    def path(self, path: str) -> tuple[int, str, float]:
        return self._call(self.base.rstrip("/") + path)

    def post(self, query: str, body: str = "") -> tuple[int, str, float]:
        url = self.base + ("?query=" + urllib.parse.quote(query) if body else "")
        data = (body or query).encode()
        return self._call(urllib.request.Request(url, data=data, method="POST"))


# ----------------------------------------------------------------- tracer
class Tracer:
    """In-memory spans ``{name, start, end, parent, op_id, attrs}``.

    ``wrap(owner, attr, name)`` replaces ``owner.attr`` with a timing
    wrapper. Parents come from a per-thread stack, so nested calls in
    one thread (a request's execute_render → run_query → sql →
    translate chain, an insert's MV cascade) form a tree. ``op_id`` is
    the per-thread current operation set with :meth:`op`.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def op(self, op_id) -> None:
        self._local.op_id = op_id

    def begin(self, name: str, attrs: dict | None = None) -> int:
        stack = self._stack()
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op_id": getattr(self._local, "op_id", None),
            "thread": threading.get_ident(),
            "attrs": attrs or {},
        }
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack().pop()

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            idx = tracer.begin(name, attrs_of(*args, **kwargs) if attrs_of else None)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(owner, attr, timed)

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            (s["end"] - s["start"] - child[i]) if s["end"] is not None else 0.0
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({**s, "id": i, "self": selfs[i]}, default=str) + "\n")


class NoTracer:
    """Stand-in with the same surface when tracing is off."""

    def op(self, op_id) -> None:
        pass

    def begin(self, name, attrs=None) -> int:
        return -1

    def end(self, idx) -> None:
        pass


# ------------------------------------------------------------- collectors
def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(spark, s) -> list:
    """A Scala ``Seq`` as a Python list (via a java.util.List view)."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return list(conv.asJava(s))


def _stage_list(spark, store) -> list:
    # stageList(statuses, details, withSummaries, quantiles, taskStatus):
    # Scala defaults are not visible through py4j, so pass them all
    gw = spark.sparkContext._gateway
    return _seq(spark, store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None))


def status_store_jobs(spark, min_job_id: int = 0) -> list[dict]:
    """Jobs (with their stages' metrics) from Spark's status store, read
    after the timed section. Works with the UI disabled."""
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {}
    for st in _stage_list(spark, store):
        stages.setdefault(st.stageId(), []).append(
            {
                "tasks": st.numTasks(),
                "run_ms": st.executorRunTime(),
                "shuffle_write": st.shuffleWriteBytes(),
                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        )
    jobs = []
    for jd in _seq(spark, store.jobsList(None)):
        if jd.jobId() < min_job_id:
            continue
        sub = _opt(jd.submissionTime())
        done = _opt(jd.completionTime())
        ids = _seq(spark, jd.stageIds())
        attempts = [a for sid in ids for a in stages.get(sid, [])]
        jobs.append(
            {
                "job_id": jd.jobId(),
                "group": _opt(jd.jobGroup()),
                "submitted_ms": sub.getTime() if sub is not None else None,
                "completed_ms": done.getTime() if done is not None else None,
                "stages": len(attempts),
                "tasks": sum(a["tasks"] for a in attempts),
                "run_ms": sum(a["run_ms"] for a in attempts),
                "shuffle_write": sum(a["shuffle_write"] for a in attempts),
                "spill": sum(a["spill"] for a in attempts),
            }
        )
    return jobs


def max_job_id(spark) -> int:
    store = spark.sparkContext._jsc.sc().statusStore()
    return max((jd.jobId() for jd in _seq(spark, store.jobsList(None))), default=-1)


def jvm_gc_ms(spark) -> float:
    store = spark.sparkContext._jsc.sc().statusStore()
    return float(sum(e.totalGCTime() for e in _seq(spark, store.executorList(False))))


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def tree_listing(path: str) -> tuple[int, int]:
    """``(data files, bytes)`` under a landing directory."""
    files = size = 0
    for root, _, fns in os.walk(path):
        for f in fns:
            if f.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, f))
    return files, size

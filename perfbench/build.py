"""Build the benchmark's inputs once per checkout, under the build
directory (``$CARGO_TARGET_DIR``, default ``.bench_build``):

- ``data/sf0.1``: the sf0.1 tables from ``tools/gen_testdata.py`` (fixed
  generator seed 42, so every run reads the same parquet);
- ``expected.json``: for each ``pipeline_batch`` operator, the row count,
  column names and value hash of its ``all_oracles()`` DuckDB result over
  that data.

Both are rebuilt when the stamp changes: the scale factor, the operator
list, or the sources they are made from (the generator, the oracle SQL
and the hash function).

Usage: python3 perfbench/build.py   (``run.py`` calls it when needed)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SF = 0.1
# the inputs are made from these sources; a change to one rebuilds them
SOURCES = ("tools/gen_testdata.py", "__spark_entry__.py", "tools/check_oracles.py")


def build_dir() -> str:
    return os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def paths() -> dict:
    b = build_dir()
    return {
        "data": os.path.join(b, "data", f"sf{SF}"),
        "expected": os.path.join(b, "expected.json"),
        "stamp": os.path.join(b, "BUILT"),
        "runs": os.path.join(b, "runs"),
        "traces": os.path.join(b, "traces"),
    }


def _stamp() -> str:
    from pipeline_batch import OPERATORS

    digest = hashlib.sha256()
    for rel in SOURCES:
        with open(os.path.join(REPO, rel), "rb") as fh:
            digest.update(fh.read())
    return json.dumps({"sf": SF, "operators": OPERATORS, "sources": digest.hexdigest()})


def ensure_built() -> dict:
    p = paths()
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)
    stamp = _stamp()
    if os.path.exists(p["stamp"]):
        with open(p["stamp"]) as fh:
            if fh.read() == stamp:
                return p
    from tools.gen_testdata import generate

    tmp = p["data"] + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(SF, tmp)
    shutil.rmtree(p["data"], ignore_errors=True)
    os.replace(tmp, p["data"])

    import duckdb

    import __spark_entry__
    from pipeline_batch import OPERATORS
    from tools.check_oracles import TABLES, frame_hash

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p['data']}/{t}.parquet'")
    expected = {}
    for op in OPERATORS:
        odf = con.sql(oracles[op]).df()
        expected[op] = {
            "rows": len(odf),
            "columns": sorted(odf.columns),
            "hash": frame_hash(odf),
        }
    con.close()
    with open(p["expected"], "w") as fh:
        json.dump(expected, fh, indent=1)
    with open(p["stamp"], "w") as fh:
        fh.write(stamp)
    return p


if __name__ == "__main__":
    print(json.dumps(ensure_built()))

"""Derive ``perfbench/expected.json``, the pinned outputs the benchmark checks.

    python3 perfbench/pin.py

Every op whose query has a DuckDB oracle (``QUERIES[name].sql``) is
collected from Spark and compared by value, order-insensitively, with
the oracle run over the same sf0.1 tables; only a match is pinned. Ops
without an oracle (MinHash bands on the xxhash production config, the
IVF index build, and the water pipeline's conformed site table) are
pinned from the current code. Every pin is computed under two shuffle
partition counts and written only if both agree. The IVF search is
checked by recall, not pinned; this script runs that check once too.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PARTITIONS = (4, 7)


def canon(df):
    """Sorted columns, None for every null, rows sorted by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same_values(a, b) -> str | None:
    """None when the frames hold the same values, else the difference."""
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if a[c].dtype.kind == "f" or b[c].dtype.kind == "f":
            x, y = a[c].astype(float), b[c].astype(float)
            bad = ~((x == y) | (x.isna() & y.isna()))
        else:
            x = a[c].map(lambda v: "\0" if v is None or v != v else str(v))
            y = b[c].map(lambda v: "\0" if v is None or v != v else str(v))
            bad = x != y
        if bad.any():
            i = bad.idxmax()
            return f"column {c} row {i}: {a[c][i]!r} vs {b[c][i]!r}"
    return None


def main() -> int:
    sys.path[0] = ROOT
    import duckdb

    from perfbench.common import DATA_DIR, EXPECTED_PATH, digest
    from perfbench.curation import Curation
    from perfbench.relational import QUERY_TABLES
    from perfbench.water import Water

    work = os.path.join(ROOT, ".perfbench_work", "pin")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    from waterdata_spark.queries import QUERIES
    from waterdata_spark.session import get_spark

    spark = get_spark(
        "perfbench-pin",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    con = duckdb.connect()
    for t in os.listdir(DATA_DIR):
        con.execute(f"CREATE VIEW {t.removesuffix('.parquet')} AS SELECT * FROM '{DATA_DIR}/{t}'")

    def stable_pin(make_df) -> dict:
        seen = set()
        for n in PARTITIONS:
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            seen.add(digest(make_df()))
        if len(seen) != 1:
            raise RuntimeError(f"digest depends on the partition count: {seen}")
        rows, h = seen.pop()
        return {"rows": rows, "digest": h}

    def oracle_pin(name: str) -> dict:
        spec = QUERIES[name]
        diff = same_values(
            canon(spec.fn(spark, DATA_DIR).toPandas()), canon(con.execute(spec.sql).fetchdf())
        )
        if diff:
            raise RuntimeError(f"{name} differs from its oracle: {diff}")
        pin = stable_pin(lambda: spec.fn(spark, DATA_DIR))
        print(f"{name}: oracle match, {pin}", file=sys.stderr)
        return pin

    unpinned = defaultdict(lambda: defaultdict(dict))
    expected = {
        "relational_sf01": {q: oracle_pin(q) for q in QUERY_TABLES},
        "curation_sf01": {
            q: oracle_pin(q)
            for q in ("x01_exact_dedup_docs", "x06_ngram_jaccard_pairs", "w03_curation_cascade")
        },
    }
    cur = Curation(spark, unpinned, seed=0)
    cur.setup()
    expected["curation_sf01"]["minhash_bands"] = stable_pin(lambda: cur._minhash_op().call({}))
    build, search = cur._ivf_ops()
    state: dict = {}
    expected["curation_sf01"]["build_ivf_index"] = stable_pin(lambda: build.call(state))
    search.check(search.drain(search.call(state)), state)

    water = Water(spark, unpinned, 0, ROOT, work)
    water.setup()
    csv_stage = water.round_ops(None)[0]
    expected["water_etl"] = {"site_sub": stable_pin(lambda: csv_stage.call({})[0])}

    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_PATH}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

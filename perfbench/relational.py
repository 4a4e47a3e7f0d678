"""``relational_sf01``: the latency-bound relational queries at sf0.1.

One round runs each query once, in an order drawn from the seed. Each
query is built through ``QUERIES[name].fn`` and drained by a full-column
hash aggregate; its row count and digest must equal the pin in
``expected.json``, which ``pin.py`` checked against the query's DuckDB
oracle.
"""

from __future__ import annotations

from perfbench.common import DATA_DIR, Op, Workload, check_pinned, digest, table_rows

NAME = "relational_sf01"

#: query -> the tables it scans (declared input size of one round)
QUERY_TABLES = {
    "q01_pricing_summary": ["lineitem"],
    "q03_revenue_by_nation": ["customer", "nation", "orders"],
    "q06_priority_dedup": ["lineitem"],
    "q07_topk_orders_per_customer": ["orders"],
    "q14_fallback_join": ["customer", "events"],
    "q17_hourly_rollup": ["events"],
    "q18_asof_join": ["events"],
    "q19_sessionize": ["events"],
}


class Relational(Workload):
    name = NAME
    #: sub-second queries: the JIT keeps improving over the first rounds
    warmup_rounds = 3
    spans = [f"queries.{q}" for q in QUERY_TABLES]

    def __init__(self, spark, expected: dict) -> None:
        self.spark = spark
        self.pins = expected[NAME]

    def setup(self) -> None:
        self.rows_per_round = sum(
            table_rows(t) for tables in QUERY_TABLES.values() for t in tables
        )

    def _op(self, name: str) -> Op:
        from waterdata_spark.queries import QUERIES

        return Op(
            span=f"queries.{name}",
            call=lambda state: QUERIES[name].fn(self.spark, DATA_DIR),
            drain=digest,
            check=check_pinned(self.pins[name]),
        )

    def round_ops(self, rng) -> list[Op]:
        names = list(QUERY_TABLES)
        return [self._op(names[i]) for i in rng.permutation(len(names))]

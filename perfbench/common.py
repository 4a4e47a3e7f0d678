"""Pieces every workload shares: the op record, the output drain and
digest, and the op runner that times, traces and checks one call."""

from __future__ import annotations

import json
import os
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.1")
EXPECTED_PATH = os.path.join(HERE, "expected.json")


class CheckFailed(Exception):
    """An op ran but its output differs from the expected output."""


@dataclass
class Op:
    """One call into a layer's public function.

    ``call`` makes the call and returns its (usually lazy) output;
    ``drain`` forces the output and returns what ``check`` compares;
    ``check`` raises :class:`CheckFailed` on a wrong output. ``state``
    is shared by the ops of one round, so a later op can consume an
    earlier op's output."""

    span: str
    call: Callable[[dict], Any]
    drain: Callable[[Any], Any]
    check: Callable[[Any, dict], None]


class Workload:
    """What every workload provides; the defaults suit a workload whose
    rounds need no traced-only ops and no extra per-layer metrics.

    ``spans`` names the layer functions its ops call, ``rows_per_round``
    is its declared input size (set in ``setup``), ``warmup_rounds``
    run before measuring and ``min_rounds`` is the fewest rounds a run
    measures."""

    name: str
    spans: list[str]
    warmup_rounds = 1
    min_rounds = 1
    rows_per_round = 0

    def setup(self) -> None:
        """Stage inputs and expected outputs; may be repeated."""

    def round_ops(self, rng) -> list[Op]:
        raise NotImplementedError

    def traced_only_ops(self) -> list[Op]:
        """Ops run ahead of each traced round, outside its timing."""
        return []

    def layer_extras(self, tracer, traced_rounds) -> dict[str, float]:
        """Extra per-layer ratios read from the traced rounds' spans."""
        return {}


def digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive digest of every output column,
    in one aggregate: every column is computed, and only one row comes
    back to the driver. Map columns go through ``to_json`` (xxhash64
    takes no maps); the per-row hashes are summed as decimals, so the
    sum cannot overflow."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = [
        F.to_json(F.struct(f.name)) if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def table_rows(table: str) -> int:
    """Row count of one sf0.1 table, from its parquet footer."""
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(DATA_DIR, f"{table}.parquet")).num_rows


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def check_pinned(pin: dict) -> Callable[[Any, dict], None]:
    """A check against a pinned (rows, digest) pair."""

    def check(observed: tuple[int, str], state: dict) -> None:
        rows, h = observed
        if rows != pin["rows"] or h != pin["digest"]:
            raise CheckFailed(
                f"rows {rows} digest {h}, expected rows {pin['rows']} digest {pin['digest']}"
            )

    return check


@dataclass
class OpResult:
    span: str
    op_id: str
    wall_s: float
    error: str | None


def run_op(op: Op, tracer, state: dict, op_id: str) -> OpResult:
    """Time one op (call plus drain), trace it, check its output. An
    exception or a failed check is reported as the op's error; it never
    stops the run."""
    t0 = time.perf_counter()
    error = None
    try:
        with tracer.span(op.span, op_id):
            out = op.call(state)
            with tracer.span("drain"):
                observed = op.drain(out)
        wall = time.perf_counter() - t0
        op.check(observed, state)
    except CheckFailed as exc:
        wall = time.perf_counter() - t0
        error = f"check failed: {exc}"
    except Exception:  # noqa: BLE001 - a failing op is counted, the run goes on
        wall = time.perf_counter() - t0
        error = traceback.format_exc(limit=6)
    return OpResult(op.span, op_id, wall, error)

"""The benchmark's operation lists, one per workload, with the check
each operation's output must pass.

An operation is four steps, each a call into one layer: ``registry.load``
for every input table, the public operator (or ``sources``) call that
builds the result, Catalyst planning of that result, and the final
action.  ``build`` performs the first two, reading every table through
``registry.load`` so the traced run can time it.  Outputs are checked
against the expectations the generator planted, or against the DuckDB
oracle the library ships for the operator.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Any, Callable, Optional, Sequence

from spark_extension_spark import registry
from spark_extension_spark.operators import dedup, graph
from spark_extension_spark.operators.comparators import EpsilonDiffComparator
from spark_extension_spark.operators.diff import DiffMode, DiffOptions, Differ
from spark_extension_spark.sources.parquet_metadata import parquet_metadata
from spark_extension_spark.utils import UnpersistHandle

from .check import Checker, Collected
from .gen import CORE_K


@dataclass
class OpContext:
    spark: Any
    data: str  # directory of the generated tables
    out: str  # where this execution writes its output
    handle: Optional[UnpersistHandle] = None


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[OpContext], Any]  # returns the result DataFrame
    action: str  # "collect" or "write" (parquet)
    # a check returns None when the output is right, else what is wrong;
    # it gets the output directory, or the Collected rows
    check: Callable[[Checker, Any], Optional[str]]
    layer: str = "operators.build"  # the span around build; or "sources.metadata"
    # write through sources.partitioned_write, partitioned by these columns
    partition_by: Sequence[str] = ()
    handle: bool = False  # pass an UnpersistHandle and release it after the action


def load(ctx: OpContext, table: str):
    # looked up on the module at call time, so the traced run's wrapper
    # around registry.load sees every read
    return registry.load(ctx.spark, ctx.data, table)


# ---------------------------------------------------------------------------
# diff_app
# ---------------------------------------------------------------------------

_KEYS = ["l_orderkey", "l_linenumber"]


def _diff(options: DiffOptions, statistics: bool = False):
    def build(ctx: OpContext):
        result = Differ(options).diff(load(ctx, "left"), load(ctx, "right"), _KEYS)
        if statistics:
            # Diff-App --statistics (diff_app.run)
            result = result.groupBy(options.diff_column).count().orderBy(options.diff_column)
        return result

    return build


def _counts(key: str, extra=None):
    def check(chk: Checker, out: str) -> Optional[str]:
        got = dict(chk.sql(f"SELECT diff, count(*) FROM {chk.parquet(out)} GROUP BY diff"))
        want = chk.expect[key]
        if got != want:
            return f"diff counts {got} != planted {want}"
        return extra(chk, out) if extra else None

    return check


def _changed_values(chk: Checker, out: str) -> Optional[str]:
    (qty, price), = chk.sql(
        "SELECT count(*) FILTER (WHERE left_l_quantity IS DISTINCT FROM right_l_quantity),"
        " count(*) FILTER (WHERE left_l_extendedprice IS DISTINCT FROM right_l_extendedprice)"
        f" FROM {chk.parquet(out)} WHERE diff = 'C'"
    )
    want = (chk.expect["quantity_changes"], chk.expect["price_changes"])
    return None if (qty, price) == want else f"changed values {(qty, price)} != planted {want}"


def _left_only(chk: Checker, out: str) -> Optional[str]:
    cols = chk.columns(out)
    return None if not any(c.startswith("right_") for c in cols) else f"right columns in {cols}"


def _sparse(chk: Checker, out: str) -> Optional[str]:
    (qty, tax), = chk.sql(
        "SELECT count(left_l_quantity), count(left_l_tax)"
        f" FROM {chk.parquet(out)} WHERE diff = 'C'"
    )
    want = (chk.expect["quantity_changes"], 0)
    return None if (qty, tax) == want else f"sparse non-null values {(qty, tax)} != {want}"


def _statistics(chk: Checker, out: str) -> Optional[str]:
    got = dict(chk.sql(f"SELECT diff, \"count\" FROM {chk.parquet(out)}"))
    return None if got == chk.expect["counts"] else f"statistics {got} != planted"


def _partitions(out: str) -> list:
    # the column-by-column diff of the same pass, one directory per action
    return sorted(glob.glob(os.path.join(os.path.dirname(out), "column_by_column", "diff=*")))


def _metadata(ctx: OpContext):
    return parquet_metadata(ctx.spark, *_partitions(ctx.out)).select("filename", "rows")


def _check_metadata(chk: Checker, got: Collected) -> Optional[str]:
    rows = sum(r["rows"] for r in got.rows)
    files = sorted(r["filename"] for r in got.rows)
    want_files = sorted(f for d in _partitions(got.out) for f in glob.glob(f"{d}/*.parquet"))
    want_rows = sum(chk.expect["counts"].values())
    if rows != want_rows or files != want_files:
        return f"metadata {len(files)} files / {rows} rows != {len(want_files)} / {want_rows}"
    return None


DIFF_APP = [
    # the Diff-App default, written partitioned by action so a consumer
    # reads only the changes
    Op("column_by_column", _diff(DiffOptions()), "write", _counts("counts", _changed_values),
       partition_by=("diff",)),
    Op("side_by_side", _diff(DiffOptions(diff_mode=DiffMode.SideBySide)), "write",
       _counts("counts", _changed_values)),
    Op("left_side", _diff(DiffOptions(diff_mode=DiffMode.LeftSide)), "write",
       _counts("counts", _left_only)),
    Op("sparse", _diff(DiffOptions(sparse_mode=True)), "write", _counts("counts", _sparse)),
    Op(
        "epsilon",
        _diff(
            DiffOptions().with_column_name_comparator(
                EpsilonDiffComparator(0.01).as_absolute(), "l_extendedprice"
            )
        ),
        "write",
        _counts("counts_epsilon"),
    ),
    Op("statistics", _diff(DiffOptions(), statistics=True), "write", _statistics),
    Op("parquet_metadata", _metadata, "collect", _check_metadata, layer="sources.metadata"),
]


# ---------------------------------------------------------------------------
# iterative_graph
# ---------------------------------------------------------------------------

_PR_ITERATIONS = 2
_KCORE_ROUNDS = 4
_EDGES_SQL = "SELECT src, dst FROM edges"


def _near_dup_clusters(ctx: OpContext):
    return dedup.near_dup_clusters(load(ctx, "pairs"), unpersist_handle=ctx.handle)


def _check_clusters(chk: Checker, got: Collected) -> Optional[str]:
    labels = {r["doc_id"]: r["cluster_id"] for r in got.rows}
    want = chk.expect["cluster"]
    if labels != want:
        wrong = sum(1 for k, v in want.items() if labels.get(k) != v)
        return (
            f"{len(set(labels.values()))} components (planted {chk.expect['components']}),"
            f" {wrong} of {len(want)} nodes outside their planted component"
        )
    return None


def _graph_op(name: str, fn, oracle_sql: str, **kw) -> Op:
    def build(ctx: OpContext):
        return fn(load(ctx, "edges"), unpersist_handle=ctx.handle, **kw)

    def check(chk: Checker, got: Collected) -> Optional[str]:
        return chk.oracle(name, oracle_sql, got)

    return Op(name, build, "collect", check, handle=True)


ITERATIVE_GRAPH = [
    Op("near_dup_clusters", _near_dup_clusters, "collect", _check_clusters, handle=True),
    _graph_op("pagerank", graph.pagerank, graph.pagerank_sql(_EDGES_SQL, _PR_ITERATIONS),
              iterations=_PR_ITERATIONS),
    _graph_op("k_core", graph.k_core, graph.k_core_sql(_EDGES_SQL, CORE_K, _KCORE_ROUNDS),
              k=CORE_K, rounds=_KCORE_ROUNDS),
]

WORKLOADS = {
    "diff_app": DIFF_APP,
    "iterative_graph": ITERATIVE_GRAPH,
}

# tables each workload's generator writes, as DuckDB views for the checks
TABLES = {
    "diff_app": ["left", "right"],
    "iterative_graph": ["pairs", "edges"],
}

"""Seeded input generators for the benchmark workloads.

Each generator writes parquet tables into a directory and returns the
expectations it planted.  Row counts, planted counts and graph shapes
are constants of this module; the seed changes only identities and
values, so a metric read at one seed compares with the same metric at
another.  Every table is written with several row groups so Spark can
split its scan across the four cores.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- input sizes (recorded in perfbench/SPEC.md) ---------------------------
DIFF_ROWS = 50_000  # rows in the left version
DIFF_DELETES = 500  # left rows missing from the right version
DIFF_INSERTS = 600  # right rows missing from the left version
DIFF_CHANGES = 1_000  # rows whose l_quantity changes
DIFF_EPSILON = 250  # rows whose l_extendedprice moves by DIFF_NUDGE only
DIFF_NUDGE = 0.001  # below the epsilon comparator's 0.01 absolute threshold

# connected components: COMPONENTS stars of STAR_NODES nodes, so every
# component has diameter 2 (the near-duplicate shape: small clusters
# around one document)
COMPONENTS = 1_000
STAR_NODES = 5
# pagerank / k-core graph
GRAPH_NODES = 2_000
GRAPH_EDGES = 10_000
CORE_NODES = 60  # a planted dense core
CORE_K = 8  # the k of k_core; every core member has a higher degree

ROW_GROUPS = 8


def _write(table: pa.Table, path: str) -> None:
    rows = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def _sorted_ids(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    """n distinct increasing int64 ids drawn from [1, span]: the seed
    moves the values, never their relative order."""
    return np.sort(rng.choice(span, size=n, replace=False) + 1).astype(np.int64)


# ---------------------------------------------------------------------------
# diff_app: two lineitem-shaped versions
# ---------------------------------------------------------------------------


def _lineitem(rng: np.random.Generator, orderkeys: np.ndarray, linenos: np.ndarray) -> dict:
    n = len(orderkeys)
    days = rng.integers(0, 2_500, n).astype("timedelta64[D]")
    return {
        "l_orderkey": orderkeys,
        "l_partkey": rng.integers(1, 20_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_000, n, dtype=np.int64),
        "l_linenumber": linenos.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": (np.datetime64("1992-01-01") + days).astype("datetime64[us]"),
    }


def gen_diff_app(out: str, seed: int) -> dict:
    """left.parquet / right.parquet keyed by (l_orderkey, l_linenumber)."""
    rng = np.random.default_rng(seed)
    n = DIFF_ROWS + DIFF_INSERTS
    orders = _sorted_ids(rng, -(-n // 4), 50 * n)
    keys = np.repeat(orders, 4)[:n]
    linenos = np.tile(np.arange(1, 5), len(orders))[:n]
    cols = _lineitem(rng, keys, linenos)

    roles = rng.permutation(n)
    inserted = roles[:DIFF_INSERTS]
    deleted = roles[DIFF_INSERTS:DIFF_INSERTS + DIFF_DELETES]
    at = DIFF_INSERTS + DIFF_DELETES
    changed = roles[at:at + DIFF_CHANGES]
    nudged = roles[at + DIFF_CHANGES:at + DIFF_CHANGES + DIFF_EPSILON]

    in_left = np.ones(n, bool)
    in_left[inserted] = False
    in_right = np.ones(n, bool)
    in_right[deleted] = False
    right = {k: v.copy() for k, v in cols.items()}
    right["l_quantity"][changed] += 1.0
    right["l_extendedprice"][nudged] += DIFF_NUDGE

    _write(pa.table({k: v[in_left] for k, v in cols.items()}), os.path.join(out, "left.parquet"))
    # shuffled row order: the right version is not a sorted copy of the left
    order = rng.permutation(np.flatnonzero(in_right))
    _write(pa.table({k: v[order] for k, v in right.items()}), os.path.join(out, "right.parquet"))

    unchanged = DIFF_ROWS - DIFF_DELETES - DIFF_CHANGES - DIFF_EPSILON
    return {
        "counts": {
            "I": DIFF_INSERTS,
            "D": DIFF_DELETES,
            "C": DIFF_CHANGES + DIFF_EPSILON,
            "N": unchanged,
        },
        "counts_epsilon": {
            "I": DIFF_INSERTS,
            "D": DIFF_DELETES,
            "C": DIFF_CHANGES,
            "N": unchanged + DIFF_EPSILON,
        },
        "quantity_changes": DIFF_CHANGES,
        "price_changes": DIFF_EPSILON,
    }


# ---------------------------------------------------------------------------
# iterative_graph: planted components and a graph with a dense core
# ---------------------------------------------------------------------------

# The graph SHAPE is drawn from this fixed stream, so loop iteration
# counts (and hence job counts) match at every seed; the run seed draws
# order-preserving node ids and the row order of the files.
_SHAPE_SEED = 20261017


def gen_iterative_graph(out: str, seed: int) -> dict:
    shape = np.random.default_rng(_SHAPE_SEED)
    rng = np.random.default_rng(seed)

    # components: each block of STAR_NODES nodes is a star around a
    # randomly placed centre
    n_cc = COMPONENTS * STAR_NODES
    block = np.arange(n_cc).reshape(COMPONENTS, STAR_NODES)
    centre = block[np.arange(COMPONENTS), shape.integers(0, STAR_NODES, COMPONENTS)]
    leaves = block[block != centre[:, None]].reshape(COMPONENTS, STAR_NODES - 1)
    a = np.repeat(centre, STAR_NODES - 1)
    b = leaves.ravel()
    ids = _sorted_ids(rng, n_cc, 1 << 40)
    pairs = np.stack([ids[a], ids[b]], axis=1)
    pairs = pairs[rng.permutation(len(pairs))]
    _write(
        pa.table({"id_a": pairs[:, 0], "id_b": pairs[:, 1]}),
        os.path.join(out, "pairs.parquet"),
    )
    # a component's label is its smallest id: ids are increasing in the
    # node index, so that is the id of the block's first node
    cluster = {int(ids[i]): int(ids[(i // STAR_NODES) * STAR_NODES]) for i in range(n_cc)}

    # graph: a dense core on nodes 0..CORE_NODES-1 (every member keeps
    # degree >= 13 at this shape seed) plus random edges whose targets
    # have a heavy-tailed in-degree
    cu, cv = np.triu_indices(CORE_NODES, 1)
    keep = shape.random(len(cu)) < 0.35
    core_edges = np.stack([cu[keep], cv[keep]], axis=1)
    rest = GRAPH_EDGES - len(core_edges)
    src = shape.integers(CORE_NODES, GRAPH_NODES, rest)
    dst = (shape.pareto(1.2, rest) * 50).astype(np.int64) % GRAPH_NODES
    edges = np.concatenate([core_edges, np.stack([src, dst], axis=1)])
    gids = _sorted_ids(rng, GRAPH_NODES, 1 << 40)
    edges = gids[edges][rng.permutation(len(edges))]
    _write(
        pa.table({"src": edges[:, 0], "dst": edges[:, 1]}),
        os.path.join(out, "edges.parquet"),
    )
    return {"components": COMPONENTS, "cluster": cluster}


GENERATORS = {
    "diff_app": gen_diff_app,
    "iterative_graph": gen_iterative_graph,
}

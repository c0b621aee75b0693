"""Core utilities shared by every operator.

Parity targets (see SURVEY.md §2.10/§2.13):
- backticks            -> reference src/main/scala-spark-3.5/uk/co/gresearch/spark/Backticks.scala:22-66
- distinct_prefix_for  -> reference src/main/scala/uk/co/gresearch/spark/package.scala:42-46
- case-sensitivity     -> reference python/gresearch/spark/diff/__init__.py:158-204
- UnpersistHandle      -> reference src/main/scala/uk/co/gresearch/spark/UnpersistHandle.scala:27-72
"""

from __future__ import annotations

import re
from typing import Callable, Dict, Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "backticks",
    "distinct_prefix_for",
    "count_null",
    "UnpersistHandle",
    "SilentUnpersistHandle",
    "NoopUnpersistHandle",
    "LocalCheckpointCycler",
    "LoopSession",
    "safe_union",
    "session_shuffle_partitions",
]

_PLAIN_NAME = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_]*$")


def backticks(name: str, *more: str) -> str:
    """Join column-name parts with ``.``, wrapping any part that needs
    quoting (non-identifier characters or embedded backticks) in backticks.

    >>> backticks("a.column", "a.field")
    '`a.column`.`a.field`'
    """

    def quote(part: str) -> str:
        if _PLAIN_NAME.match(part) and "`" not in part:
            return part
        return "`" + part.replace("`", "``") + "`"

    return ".".join(quote(p) for p in (name, *more))


def distinct_prefix_for(existing: Iterable[str]) -> str:
    """A ``_``-prefix strictly longer than any leading ``_`` run in
    ``existing``, so that prefixed temp columns can never collide."""
    longest = 0
    for name in existing:
        run = len(name) - len(name.lstrip("_"))
        longest = max(longest, run)
    return "_" * (longest + 1)


def count_null(column) -> Column:
    """Aggregate counting ``NULL`` values of ``column``
    (complement of ``count``)."""
    col = F.col(column) if isinstance(column, str) else column
    return F.count(F.when(col.isNull(), F.lit(1)))


# ---------------------------------------------------------------------------
# case sensitivity helpers: Spark resolves column names per
# ``spark.sql.caseSensitive`` (default false); all name bookkeeping in this
# package must follow the same rule.
# ---------------------------------------------------------------------------


def is_case_sensitive(spark: SparkSession) -> bool:
    return (spark.conf.get("spark.sql.caseSensitive") or "false").lower() == "true"


def session_shuffle_partitions(spark: SparkSession) -> int:
    """The session's shuffle-partition count as an int, for operators
    that pin an explicit-count ``repartition`` (exempt from AQE
    coalescing — used where AQE's byte-driven sizing is blind to join
    fan-out or per-row CPU).  Platforms can hold a non-integer value
    here (e.g. ``"auto"`` under Databricks auto-optimized shuffle);
    fall back to the cluster's default parallelism rather than crash
    at plan-build time."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(raw)
    except (TypeError, ValueError):
        pass
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        # Spark Connect sessions raise on any sparkContext access —
        # the same managed platforms where the non-integer conf values
        # occur; fall through to the conf-only default
        pass
    try:
        return int(spark.conf.get("spark.default.parallelism", "200"))
    except (TypeError, ValueError):
        return 200


def fold_name(name: str, case_sensitive: bool) -> str:
    return name if case_sensitive else name.lower()


def names_diff(left: Iterable[str], right: Iterable[str], case_sensitive: bool) -> List[str]:
    """Elements of ``left`` not present in ``right`` (case-configured),
    preserving order and original spelling."""
    exclude = {fold_name(n, case_sensitive) for n in right}
    return [n for n in left if fold_name(n, case_sensitive) not in exclude]


def names_intersect(left: Iterable[str], right: Iterable[str], case_sensitive: bool) -> List[str]:
    keep = {fold_name(n, case_sensitive) for n in right}
    return [n for n in left if fold_name(n, case_sensitive) in keep]


def names_contain(haystack: Iterable[str], needle: str, case_sensitive: bool) -> bool:
    target = fold_name(needle, case_sensitive)
    return any(fold_name(n, case_sensitive) == target for n in haystack)


# ---------------------------------------------------------------------------
# UnpersistHandle
# ---------------------------------------------------------------------------


class UnpersistHandle:
    """Handle to eventually unpersist a DataFrame cached inside an operator
    (e.g. :func:`with_row_numbers`).  Call the handle to unpersist.

    ``set_dataframe`` is single-shot (reference parity: the handle cannot be
    reused across operator invocations); operators that persist *several*
    frames internally register the extras with :meth:`add_dataframe`, and a
    single call releases them all.
    """

    def __init__(self) -> None:
        self._df: Optional[DataFrame] = None
        self._extra: list[DataFrame] = []
        self._callbacks: list = []

    def set_dataframe(self, df: DataFrame) -> None:
        if self._df is not None:
            raise RuntimeError("DataFrame has been set already, it cannot be reused.")
        self._df = df

    def add_dataframe(self, df: DataFrame) -> None:
        """Register an additional persisted frame released by the same call
        (for operators that cache more than one intermediate)."""
        if self._df is None:
            self.set_dataframe(df)
        else:
            self._extra.append(df)

    def add_callback(self, fn) -> None:
        """Register a zero-arg cleanup run by the same call, AFTER the
        frames are unpersisted — for storage a plain ``unpersist`` cannot
        reach (e.g. a loop's final ``localCheckpoint`` generation, whose
        cache belongs to the internal RDD).  Once the callback has run the
        owning result may be unrecomputable — firing the handle declares
        the caller completely done with it."""
        self._callbacks.append(fn)

    def __call__(self, blocking: bool = False) -> None:
        # callback-only handles are legal (operators that checkpoint but
        # persist nothing, e.g. k_core); the error fires only when the
        # handle holds nothing at all — reference message parity
        if self._df is None and not self._callbacks:
            raise RuntimeError("DataFrame has to be set first")
        if self._df is not None:
            self._df.unpersist(blocking)
        for df in self._extra:
            df.unpersist(blocking)
        for fn in self._callbacks:
            fn()


class SilentUnpersistHandle(UnpersistHandle):
    """Like :class:`UnpersistHandle` but silently ignores a missing DataFrame."""

    def set_dataframe(self, df: DataFrame) -> None:
        if self._df is None:
            self._df = df
        else:
            self._extra.append(df)

    def __call__(self, blocking: bool = False) -> None:
        if self._df is not None:
            self._df.unpersist(blocking)
        for df in self._extra:
            df.unpersist(blocking)
        for fn in self._callbacks:
            fn()


class NoopUnpersistHandle(UnpersistHandle):
    """Handle that never holds and never unpersists anything."""

    def set_dataframe(self, df: DataFrame) -> None:  # pragma: no cover - trivial
        pass

    def add_callback(self, fn) -> None:  # pragma: no cover - trivial
        pass

    def __call__(self, blocking: bool = False) -> None:  # pragma: no cover - trivial
        pass


class LocalCheckpointCycler:
    """Frees superseded ``localCheckpoint`` generations inside iterative
    driver loops (connected components, PageRank, k-core, LPA, …).

    ``localCheckpoint(eager=True)`` truncates lineage by caching the
    step's internal RDD, but that cache is owned by the RDD, not the
    DataFrame: ``df.unpersist()`` does not release it, and an
    ``UnpersistHandle`` cannot either.  Left alone, an R-round loop
    accumulates R generations of checkpointed state until the
    ContextCleaner garbage-collects the driver-side references — at
    cluster scale that is R × |state| of executor storage held for no
    reason.  This cycler tracks the persistent-RDD ids each checkpoint
    creates and unpersists generation N-1 as soon as generation N is
    materialized, so live checkpoint storage stays O(1) generations.

    Freeing a locally-checkpointed RDD makes it unrecomputable (its
    lineage is gone), so only *superseded* generations are ever freed:
    ``checkpoint()`` frees the previous generation after the new one is
    eagerly materialized, and ``release()`` frees the final generation —
    call it only once every consumer of the last checkpoint has
    materialized (e.g. after persisting and forcing the loop's result).

    A generation is the checkpoint's own RDD, read off the returned
    frame's plan.  Nothing else is ever freed: neither a cache that the
    checkpoint job happened to materialize first, nor anything another
    driver thread persists meanwhile, so loops can run on several
    threads at once.  Each cycler still belongs to one loop on one
    thread.

    ``observed_checkpoint`` is the one place a loop reads metrics off
    its state: the eager checkpoint job fulfils an ``Observation`` with
    no extra action, and the caller's check decides whether to trust it.
    """

    def __init__(self, spark: SparkSession, lag: int = 1) -> None:
        """``lag`` = how many checkpoint generations stay live: 1 frees
        N-1 at N (state feeds only the next step); larger windows suit
        loops that still read older generations after writing a new one
        (star-contraction's convergence delta needs lag 3 — see
        ``_cc_star``)."""
        if lag < 1:
            raise ValueError(f"lag must be >= 1, got {lag}")
        self._jsc = spark.sparkContext._jsc
        self._live: list = []  # oldest first, at most `lag` generations
        self._lag = int(lag)
        self._trusted = True
        self._last_trusted: Optional[Dict] = None

    def _free(self, ids: set) -> None:
        jmap = self._jsc.getPersistentRDDs()
        for rid in ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """Eagerly localCheckpoint ``df``, then free the generation that
        fell out of the ``lag`` window."""
        ck = df.localCheckpoint(eager=True)
        self._live.append({ck._jdf.logicalPlan().rdd().id()})
        if len(self._live) > self._lag:
            self._free(self._live.pop(0))
        return ck

    def observed_checkpoint(
        self,
        df: DataFrame,
        metrics: Sequence[Column],
        valid: Optional[Callable[[Dict, Optional[Dict]], bool]] = None,
    ) -> Tuple[DataFrame, Optional[Dict]]:
        """Checkpoint ``df`` like :meth:`checkpoint`, reading the
        aggregate ``metrics`` (aliased columns) off the same job through
        an ``Observation``.  Returns ``(checkpointed frame, {alias:
        value})``, or ``(frame, None)`` when the reading is not trusted.

        ``valid(current, previous_trusted)`` is the caller's invariant
        (``previous_trusted`` is ``None`` on the first reading): a retry
        can count a partition twice, so a loop whose metric feeds a
        decision or a value states what a correct reading must satisfy.
        Distrust is sticky: after one reading fails ``valid``, every
        later call returns ``None`` (and observes nothing), so a loop
        falls back to its in-plan path for the rest of its run rather
        than alternate between trusted and untrusted readings."""
        if not self._trusted:
            return self.checkpoint(df), None
        obs = Observation()
        ck = self.checkpoint(df.observe(obs, *metrics))
        got = obs.get
        if valid is not None and not valid(got, self._last_trusted):
            self._trusted = False
            return ck, None
        self._last_trusted = got
        return ck, got

    def release(self) -> None:
        """Free every still-live generation (see class docstring for when)."""
        for gen in self._live:
            self._free(gen)
        self._live = []

    def release_superseded(self) -> None:
        """Free every live generation EXCEPT the newest.  Use on a loop's
        success path when the returned DataFrame's lineage still references
        the final checkpoint: freeing that generation would make the result
        unrecomputable (lost cache blocks, or a fired unpersist handle,
        would then fail any re-run with a missing-checkpoint-block error),
        so it stays live and falls to the ContextCleaner with the loop's
        references — O(1) state, not a leak class."""
        for gen in self._live[:-1]:
            self._free(gen)
        del self._live[:-1]


def _estimated_partitions(df: DataFrame) -> Optional[int]:
    """``ceil(estimated bytes / advisory partition size)`` for ``df``,
    from its optimized plan's size statistic, read on the driver with
    no job; ``None`` when the plan is out of reach (e.g. a Spark
    Connect frame).  A plan whose size is unknown reports
    ``Long.MaxValue`` bytes, which the caller's cap absorbs."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        spark = df.sparkSession
        jvm = spark.sparkContext._jvm
        target = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
    except Exception:
        # the estimate only narrows the width: whatever keeps it from
        # being read, the loop runs at the session width as before
        return None
    return -(-size // max(1, int(target)))


class LoopSession:
    """Where an iterative loop runs its jobs: the caller's session, or a
    clone of it that differs only in ``spark.sql.shuffle.partitions``,
    sized from the loop's input.

    The width is ``ceil(estimated input bytes /
    spark.sql.adaptive.advisoryPartitionSizeInBytes)``, clamped to
    ``[1, session_shuffle_partitions(spark)]`` and computed once from
    the input's optimized-plan statistics (no job).  Below the cap the
    loop runs in a clone whose conf holds that width: everything the
    loop builds from :meth:`adopt`-ed frames is planned there — its
    caches (e.g. the edge list's ``repartition(key)``), its per-round
    aggregates and its ``localCheckpoint`` generations share the one
    width, so a join between the edge cache and an aggregate's output
    needs no exchange on either side.  The adopted input's own lazy
    upstream is planned there too, when the loop first reads it.
    Sizing matters because AQE coalesces neither a cached plan's nor a
    checkpoint's partitions: KB-sized loop state at the session width
    pays one task per near-empty partition in every stage that reads
    it, every round.

    The caller's session is never modified, so loops running at once on
    several driver threads, and other queries on the caller's session,
    each keep their own width.  The clone shares the SparkContext and
    the cache manager, and starts from a copy of the caller's conf,
    temp views and functions.  :meth:`export` hands a result back in
    the caller's session, where its remaining lazy plan runs at the
    caller's width.  An input at or above the cap, a plan whose size
    cannot be read and a session that cannot be cloned (e.g. Spark
    Connect) leave the loop in the caller's session, unchanged.
    """

    def __init__(self, df: DataFrame) -> None:
        self._home = self._loop = df.sparkSession
        cap = session_shuffle_partitions(self._home)
        est = _estimated_partitions(df)
        self.width = cap if est is None else max(1, min(cap, est))
        if self.width < cap:
            try:
                self._loop, self._dataset = _clone_session(self._home, self.width)
            except Exception:
                # sizing only narrows the width: without a clone the loop
                # runs in the caller's session at its width, as before
                self.width = cap

    def _rebase(self, df: DataFrame, spark: SparkSession) -> DataFrame:
        if self._loop is self._home:
            return df
        jdf = self._dataset.ofRows(spark._jsparkSession, df._jdf.logicalPlan())
        return DataFrame(jdf, spark)

    def adopt(self, df: DataFrame) -> DataFrame:
        """``df`` as a frame of the loop's session."""
        return self._rebase(df, self._loop)

    def export(self, df: DataFrame) -> DataFrame:
        """``df`` (built in the loop's session) as a frame of the caller's."""
        return self._rebase(df, self._home)


def _clone_session(spark: SparkSession, width: int):
    """``(clone of spark at shuffle width, JVM Dataset class)``; raises
    where the session cannot be cloned."""
    from py4j.java_gateway import JavaClass

    jvm = spark.sparkContext._jvm
    # Spark 4 moved the JVM Dataset to the classic package
    for name in ("org.apache.spark.sql.classic.Dataset", "org.apache.spark.sql.Dataset"):
        dataset = getattr(jvm, name)
        if isinstance(dataset, JavaClass):
            break
    else:
        raise RuntimeError("no JVM Dataset class")
    jclone = spark._jsparkSession.cloneSession()
    jclone.conf().set("spark.sql.shuffle.partitions", str(width))
    return SparkSession(spark.sparkContext, jclone), dataset


_NUMERIC_RANK = {
    "tinyint": 0,
    "smallint": 1,
    "int": 2,
    "bigint": 3,
    "float": 4,
    "double": 5,
}


def _widen(a: str, b: str) -> Optional[str]:
    """Least common type for schema-evolution unions, or None if the
    pair is not safely unifiable.  Numeric chain tinyint → … → double
    (integral + fractional → double: a bigint cannot round-trip through
    float); date widens to timestamp; equal types are themselves."""
    if a == b:
        return a
    if a in _NUMERIC_RANK and b in _NUMERIC_RANK:
        hi = max(a, b, key=_NUMERIC_RANK.get)
        lo = min(a, b, key=_NUMERIC_RANK.get)
        # integral + float/double: float can't hold long exactly -> double
        if hi == "float" and lo in ("int", "bigint"):
            return "double"
        return hi
    if {a, b} == {"date", "timestamp"}:
        return "timestamp"
    for dec, other in ((a, b), (b, a)):
        if dec.startswith("decimal") and other in _NUMERIC_RANK and _NUMERIC_RANK[other] <= 3:
            # widen to full precision at the decimal's scale: a narrow
            # decimal(5,2) cannot hold an arbitrary bigint
            m = re.match(r"decimal\((\d+),(\d+)\)", dec)
            scale = int(m.group(2)) if m else 0
            return f"decimal(38,{scale})"
    return None


def safe_union(
    frames: Sequence[DataFrame],
    coerce_to_string: bool = False,
) -> DataFrame:
    """Schema-evolution-tolerant UNION ALL BY NAME over any number of
    frames: the output schema is the union of all column names (in
    first-appearance order); a frame missing a column contributes
    NULLs; columns whose types differ across frames are widened to the
    least common type (numeric chain ``tinyint→…→double`` — integral +
    ``float`` widens to ``double`` because a long can't round-trip
    through float; ``date``+``timestamp`` → ``timestamp``; integral +
    decimal → the decimal).  The everyday need behind it: month N's
    parquet added a column, month N−1's called it ``int`` before it
    grew into ``bigint`` — plain ``unionByName`` refuses or, worse,
    resolves by position.

    A pair with no safe widening (e.g. ``string`` vs ``int``) raises —
    unless ``coerce_to_string=True``, which casts both sides to
    ``string`` (explicit lossy opt-in, never the default).

    Pure projection + ``unionByName`` — no shuffle, no data movement
    beyond the union itself; Catalyst pushes the casts into each scan.
    """
    frames = list(frames)
    if not frames:
        raise ValueError("safe_union needs at least one DataFrame")
    # fold names per the session's resolution mode: under the default
    # case-insensitive resolution, 'ID' and 'id' are ONE logical column
    # — treating them as two would split the data into half-NULL twins
    cs = is_case_sensitive(frames[0].sparkSession)
    order: List[str] = []
    types: dict = {}
    for df in frames:
        for name, dtype in df.dtypes:
            key = fold_name(name, cs)
            if key not in types:
                order.append(name)  # first spelling wins the output name
                types[key] = dtype
            else:
                w = _widen(types[key], dtype)
                if w is None:
                    if coerce_to_string:
                        w = "string"
                    else:
                        raise TypeError(
                            f"safe_union: column {name!r} has incompatible "
                            f"types {types[key]!r} and {dtype!r} "
                            "(pass coerce_to_string=True to force strings)"
                        )
                types[key] = w
    aligned = []
    for df in frames:
        have = {fold_name(n, cs): n for n, _ in df.dtypes}
        cols = [
            (
                # backticks: a column literally named 'a.b' must not be
                # parsed as struct-field access
                F.col(backticks(have[fold_name(c, cs)])).cast(
                    types[fold_name(c, cs)]
                )
                if fold_name(c, cs) in have
                else F.lit(None).cast(types[fold_name(c, cs)])
            ).alias(c)
            for c in order
        ]
        aligned.append(df.select(*cols))
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out

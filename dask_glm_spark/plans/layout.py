"""Physical-layout helpers: parallelism floor for compute-dense inputs.

A parquet file is split at ROW-GROUP granularity: a table written as one
row group arrives as ONE Spark task no matter how many cores the cluster
has, and everything narrow downstream (interpreted higher-order text
expressions, per-row hashing, Arrow solver kernels) serializes onto that
single core. At 100 TB inputs have thousands of row groups and this is
never an issue — the hazard is the small-to-medium table (a benchmark
slice, one day of a feed, a dimension dump) whose per-row compute is
expensive.

``ensure_min_parallelism`` is the gated fix: IF the plan's current
partition count is below the session's core count, round-robin
repartition to it; otherwise return the input untouched (so at scale it
is exactly a no-op and scan locality / pushdown shapes are preserved).
The one-time shuffle of the raw rows is paid only when the alternative is
running the whole operator on one core.

Applied at the compute-dense entry points only (sparse solver caches,
dedup shingle projections, TF hashing; a dense fit's block build spreads
its input the same way) — never inside ``load_*`` paths, where it would
sit between the scan and later filters and break predicate pushdown
(tests/test_plans.py pins those shapes).

``ROWS_PER_KERNEL_TASK`` sizes the tasks of iterative kernel jobs:
``right_size_kernel_cache`` views a sparse fit's cache at that size, and
a dense fit's block cache (``operators.solvers._Blocks``) groups its
blocks into tasks of about that many rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Target rows per task for iterative kernel jobs over a solver's cache
# (r14 pass 3, guide §2.2 "fewer, larger partitions"): a sparse fit's
# persisted frame (``right_size_kernel_cache``) or a dense fit's block
# cache (the blocks are grouped into tasks of about this many rows). An
# iterative solver pays its cache's task count on EVERY evaluation: at
# bench scale a 600k-row cache spread over 32 partitions costs ~60
# ms/evaluation of pure task scheduling vs the same job over 8-10
# partitions (measured loss_gradient 0.22 -> 0.16 s/eval), and a 5k-row
# python-boundary scan over 32 partitions costs 2x its 1-4 partition form
# (0.40 -> 0.21 s/eval: each task is a separate python-worker round
# trip). The target is derived from the ROW COUNT the solver's own
# preamble job (the class count, or the block build) already computed —
# at real scale n/65536 exceeds any core count and the grouping never
# fires, so this is a small-input latency fix, not a local[32] tuning
# constant.
ROWS_PER_KERNEL_TASK = 65536


def right_size_kernel_cache(df: DataFrame, n_rows: int | float) -> DataFrame:
    """A ``coalesce`` VIEW over an already-cached kernel input, sized so
    each iterative kernel task sees ~ROWS_PER_KERNEL_TASK rows.

    Returns ``df`` untouched when the current partitioning is already at
    or below the target (in particular always at large ``n_rows``). The
    underlying cache is NOT re-materialized: the view's tasks read the
    existing cached blocks and merge adjacent partitions (deterministic
    contiguous grouping, so per-run reduction order stays stable) —
    callers keep unpersisting their original handle."""
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = max(1, min(current, -(-int(n_rows) // ROWS_PER_KERNEL_TASK)))
    if target < current:
        return df.coalesce(target)
    return df


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the session's
    defaultParallelism) iff it currently has fewer partitions; no-op
    otherwise. Deterministic round-robin — safe for any downstream
    aggregate/join; do not rely on row order afterwards."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        # Planning-only failure (e.g. streaming frame) — leave untouched.
        return df
    if current < target:
        return df.repartition(target)
    return df

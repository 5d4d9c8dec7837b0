"""Small physical-plan helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Partitions-per-core for Python compute stages. Default 2: one extra
#: wave of tail-balancing headroom over perfectly-even 1×, without the
#: task-launch tax of finer splits — measured on this host, a 5k-row
#: Python identity stage costs 0.97 s at 4×32 partitions vs 0.37 s at
#: 1×32 (each tiny task pays ~5 ms of scheduling + Arrow round-trip
#: setup, serialized through the driver). At production scale per-task
#: work dwarfs that overhead and a larger factor only smooths the tail;
#: callers there pass ``min_partitions`` rather than every second-scale
#: stage paying 4× task launches.
_SPREAD_FACTOR = 2


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ahead of a CPU-heavy Python stage.

    Single-row-group parquet files — common from single-writer tools —
    scan as ONE task no matter the split size; a compute stage inheriting
    that partitioning serializes on one core. The shuffle this inserts
    moves only the selected columns and is amortized by the Python work
    it parallelizes. We repartition unconditionally: probing the input's
    partition count would force a logical→RDD plan conversion per call,
    and a redundant round-robin exchange on an already-wide input is
    cheaper than that at scale (and often removed by AQE anyway).
    """
    spark = df.sparkSession
    slots = spark.sparkContext.defaultParallelism
    target = min_partitions or slots * _SPREAD_FACTOR
    return df.repartition(target)


# ---------------------------------------------------------------------------
# persisted-frame registry
#
# Several pipelines (neardup text ops, LSH similarity join, cluster
# propagation) persist small intermediate frames because their returned
# plan references them repeatedly — but the returned DataFrame is lazy,
# so the producing function can't unpersist before the caller's action.
# Frames register here; long-lived callers that run many catalog queries
# in one session (bench, test harnesses) call release_candidate_cache()
# between queries so cached frames don't accumulate in executor storage.

_CANDIDATE_CACHE: list = []

#: Partition count of every persisted frame. These frames are tiny but
#: often produced by a spread-wide Python stage (``_SPREAD_FACTOR`` ×
#: cores partitions), and every downstream plan reference scans ALL
#: cached partitions — five references × 128 cached partitions is ~640
#: task launches of near-empty work. A repartition (never coalesce —
#: that would narrow the producing stage itself) makes each reference
#: ~8 tasks.
_CANDIDATE_PARTITIONS = 8


def persist_candidates(df: DataFrame) -> DataFrame:
    """Persist a (small) frame, narrowed to ``_CANDIDATE_PARTITIONS``,
    and register it for bulk release."""
    df = df.repartition(_CANDIDATE_PARTITIONS).persist()
    _CANDIDATE_CACHE.append(df)
    return df


def release_candidate_cache() -> None:
    """Unpersist every frame registered since the last call."""
    while _CANDIDATE_CACHE:
        try:
            _CANDIDATE_CACHE.pop().unpersist()
        except Exception:
            pass  # session already stopped

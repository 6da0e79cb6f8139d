"""Dataset splitting, slicing, sampling, shuffling.

Reference surface (SURVEY §2.6): ``train_test_split`` (wrapper
arrow_dataset.py:53-55), ``shuffle(seed)`` (:123-125), split slicing
``train[10:20]`` / ``train[:10%]`` / k-fold percent ranges
(docs/DATA_LOADING.md:251-309), ``select(indices)`` (:115-117).

Scale notes: ``randomSplit``/``sampleBy`` are narrow per-row ops (no
shuffle). Contiguous slicing uses limit/offset. Arbitrary index lists
join against a ``zip_with_index`` frame (SMJ on the synthetic id).
k-fold uses ``ntile`` over an explicit ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .joins import zip_with_index, zip_with_index_counted


def train_test_split(
    df: DataFrame,
    test_size: float = 0.25,
    seed: int | None = None,
    stratify_by_column: str | None = None,
) -> dict[str, DataFrame]:
    """O3: split into train/test; optional stratification.

    Stratified path: ``sampleBy`` draws ~test_size of each class for
    the test split; train = anti-join on a deterministic row id.
    """
    if not 0.0 < test_size < 1.0:
        raise ValueError("test_size must be in (0, 1)")
    if stratify_by_column is None:
        train, test = df.randomSplit([1.0 - test_size, test_size], seed=seed)
        return {"train": train, "test": test}
    classes = [r[0] for r in df.select(stratify_by_column).distinct().collect()]
    fractions = {c: test_size for c in classes}
    # zip_with_index pins its own partition layout; no second cache
    # needed here (the train anti-join and the test sample both read
    # the same pinned ids). Long sessions: clearCache() after
    # materializing both splits (see zip_with_index docstring).
    with_id = zip_with_index(df, col_name="_split_id")
    test = with_id.sampleBy(stratify_by_column, fractions, seed=seed or 0)
    train = with_id.join(test.select("_split_id"), on="_split_id", how="left_anti")
    return {"train": train.drop("_split_id"), "test": test.drop("_split_id")}


def shuffle(df: DataFrame, seed: int | None = None, scale_safe: bool = False,
            num_partitions: int | None = None) -> DataFrame:
    """O2: deterministic permutation.

    Default (reference semantics): global ``orderBy(rand(seed))`` —
    one range-partitioned total sort, reproducible for a fixed input
    partitioning.

    ``scale_safe=True``: derive a per-row key from a hash of the whole
    row + seed, hash-repartition on it, and sort only WITHIN
    partitions — two narrow passes instead of a global range sort
    (no sampling pass, no skewed range bounds), at the cost of the
    permutation being "only" hash-pseudorandom rather than
    rand()-sequence-identical. Deterministic for identical row
    contents regardless of input partitioning — stronger
    reproducibility than the default at 100 TB.
    """
    if not scale_safe:
        return df.orderBy(F.rand(seed if seed is not None else 42))
    key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed if seed is not None else 42))
    tmp = df.withColumn("_shuffle_key", key)
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        tmp.repartition(parts, F.col("_shuffle_key"))
        .sortWithinPartitions("_shuffle_key")
        .drop("_shuffle_key")
    )


def slice_rows(df: DataFrame, start: int = 0, stop: int | None = None,
               order_by: list[str] | None = None) -> DataFrame:
    """P8/O4 contiguous slicing ``ds[start:stop]`` over a defined order.

    Negative boundaries count from the end (``ds[-10:]``), costing one
    count() action to resolve; non-negative slices stay a pure
    limit/offset plan (no count).
    """
    if (start is not None and start < 0) or (stop is not None and stop < 0):
        n = df.count()
        if start is not None and start < 0:
            start = max(n + start, 0)
        if stop is not None and stop < 0:
            stop = max(n + stop, 0)
    src = df.orderBy(*order_by) if order_by else df
    if start:
        src = src.offset(start)
    if stop is not None:
        src = src.limit(max(stop - start, 0))
    return src


def _round_half_even(num: int, den: int) -> int:
    """Nearest integer to num/den, ties to even — exact integer
    arithmetic (reference 'closest' rounding uses Python round())."""
    q, r = divmod(num, den)
    if 2 * r > den or (2 * r == den and q % 2 == 1):
        return q + 1
    return q


def slice_percent(df: DataFrame, from_pct: int = 0, to_pct: int = 100,
                  order_by: list[str] | None = None,
                  rounding: str = "closest") -> DataFrame:
    """``train[:10%]`` percent slicing (docs/DATA_LOADING.md:251-309).

    ``rounding``:
      * ``"closest"`` (default) — boundaries round to the nearest row
        (ties to even, matching the reference's round()): 999 rows,
        ``[50%:52%]`` -> rows 500..519 (19 rows).
      * ``"pct1_dropremainder"`` — boundaries are multiples of the
        1%% unit ``n // 100`` (equal-sized slices; the last < 1%% of
        rows is dropped): 999 rows, ``[50%:52%]`` -> rows 450..468
        under unit 9.
    Negative percentages count from the end (``[-80%:]`` == ``[20%:]``).
    """
    n = df.count()
    if from_pct < 0:
        from_pct += 100
    if to_pct < 0:
        to_pct += 100
    if rounding == "pct1_dropremainder":
        unit = n // 100
        start, stop = from_pct * unit, to_pct * unit
    elif rounding == "closest":
        start = _round_half_even(n * from_pct, 100)
        stop = _round_half_even(n * to_pct, 100)
    else:
        raise ValueError(f"unknown rounding {rounding!r}: "
                         "expected 'closest' or 'pct1_dropremainder'")
    return slice_rows(df, start, stop, order_by)


def select_indices(df: DataFrame, indices: list[int], order_by: list[str] | None = None) -> DataFrame:
    """P8 arbitrary index selection: join against an index frame over a
    deterministic row id (no driver-side collect of data rows)."""
    spark = df.sparkSession
    idx = spark.createDataFrame([(int(i),) for i in indices], "_row_id long")
    with_id = zip_with_index(df, order_by=order_by)
    return with_id.join(F.broadcast(idx), on="_row_id", how="inner").orderBy("_row_id").drop("_row_id")


def kfold_assign(df: DataFrame, k: int, order_by: list[str],
                 fold_col: str = "_fold") -> DataFrame:
    """Assign 1-based NTILE(k)-equivalent folds WITHOUT a global window.

    ``NTILE(k) OVER (ORDER BY ...)`` with no partition spec funnels the
    whole table through ONE task — the textbook window scale-killer.
    Instead: a range-partitioned parallel sort feeds ``zip_with_index``
    (two narrow passes, JVM-only), then the fold is pure arithmetic on
    the row id using NTILE's exact allocation (first n%k folds get
    ``n//k + 1`` rows, the rest ``n//k``). Identical output to NTILE
    over the same total order, reproducible by the SQL oracle.

    ``zip_with_index_counted`` supplies ``n`` from the per-partition
    count pass it already runs, so fold assignment costs ONE action and
    ONE cache (the pinned partition layout inside zip_with_index) —
    not the former cache+count over the indexed frame.
    """
    with_id, n = zip_with_index_counted(df, order_by=order_by, col_name="_kf_id")
    r, small = n % k, n // k
    big = small + 1
    j = F.col("_kf_id")
    fold = F.when(j < r * big, (j / big).cast("long") + 1).otherwise(
        r + ((j - r * big) / max(small, 1)).cast("long") + 1
    )
    return with_id.withColumn(fold_col, fold.cast("int")).drop("_kf_id")


def kfold(df: DataFrame, k: int, order_by: list[str]) -> list[tuple[DataFrame, DataFrame]]:
    """k-fold with NTILE semantics over an explicit ordering (O4);
    fold assignment via ``kfold_assign`` (no single-partition sort).

    The fold frame references a cached partition layout; long-running
    sessions should call ``biosets_spark.release_pinned_indexes()`` after
    materializing all folds (see zip_with_index docstring).
    """
    with_fold = kfold_assign(df, k, order_by)
    out = []
    for i in range(1, k + 1):
        out.append((with_fold.filter(F.col("_fold") != i).drop("_fold"),
                    with_fold.filter(F.col("_fold") == i).drop("_fold")))
    return out

"""Deterministic hash-based dataset splitting and sampling.

At 100 TB you cannot afford a shuffle — or a random() that changes
between runs / executors — to carve train/val/test splits or draw a
reproducible sample. The standard public recipe: hash a stable id,
map the hash to [0, 1), and compare against cumulative weight
thresholds. Everything here is a pure map-side JVM expression, so it
runs at scan speed, is stable across runs, engines, cluster sizes,
and partitionings, and composes with predicate pushdown.

Cross-engine detail: instead of converting the md5 hex digest to an
integer (Spark ``conv`` has no DuckDB counterpart), the digest STRING
is compared against precomputed 32-hex-char thresholds — lowercase
hex compares identically under Spark's UTF8_BINARY and DuckDB's
binary varchar collation, so the same row lands in the same split in
both engines (oracle-checkable bit-exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPACE = 1 << 128  # md5 digest space


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, str]]:
    """Normalize ``weights`` and return [(split_name, upper_bound_hex)]
    in insertion order; the last split's bound is 'f' * 32 (inclusive
    end of the digest space). Bounds are 32-char lowercase hex strings
    directly comparable against an md5 hex digest."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        # a negative weight would format as a '-'-prefixed hex bound,
        # which sorts below every digest and silently empties a split
        raise ValueError("weights must be non-negative")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    out: list[tuple[str, str]] = []
    cum = 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        bound = min(int(cum * _HEX_SPACE), _HEX_SPACE - 1)
        out.append((name, format(bound, "032x")))
    out.append((names[-1], "f" * 32))
    return out


def _digest(id_col: Column, salt: str) -> Column:
    return F.md5(F.concat(id_col.cast("string"), F.lit(salt)))


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    split_col: str = "split",
    hash_col: str | None = None,
) -> DataFrame:
    """Assign every row a deterministic split label from ``weights``
    (e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}``) keyed on
    ``md5(id || salt)``. Change ``salt`` to draw an independent
    split. Pass ``hash_col`` to also keep the digest column."""
    thresholds = split_thresholds(weights)
    h = _digest(F.col(id_col), salt)
    expr = None
    for name, bound in thresholds[:-1]:
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(thresholds[-1][0])
    split = last if expr is None else expr.otherwise(last)
    out = df.withColumn(split_col, split)
    if hash_col:
        out = out.withColumn(hash_col, h)
    return out


def fraction_bound(fraction: float) -> str:
    """32-hex-char upper bound such that ``digest < bound`` keeps a
    ~``fraction`` share of uniformly-hashed rows. Shared by the Spark
    operators and the DuckDB oracle generators so both engines keep
    the exact same rows."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if fraction >= 1.0:
        return "g" * 32  # sorts above every hex digest -> keep all
    return format(min(int(fraction * _HEX_SPACE), _HEX_SPACE - 1), "032x")


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 1.0,
    keep_col: str | None = None,
) -> DataFrame:
    """Deterministic per-group sampling — the source-mixing stage of
    a training-data pipeline (down-weight CommonCrawl, keep all of
    wiki/books, ...). ``rates`` maps group value -> keep fraction;
    groups absent from ``rates`` (including NULL) use
    ``default_rate``.

    Pure map-side JVM expression (a when-chain over the literal rate
    table + one md5 compare): zero shuffle, scan-speed at 100 TB, and
    the kept set is independent of cluster size, partitioning, and
    run order. Keyed on ``md5(id || salt)`` like :func:`hash_sample`,
    so samples NEST: raising a group's rate only ADDS rows — rerunning
    a mix with tweaked weights never churns the previously kept rows.
    For a high-cardinality rate table (e.g. per-domain weights), pass
    the rates as a DataFrame to :func:`stratified_sample_df` instead
    of inflating a literal when-chain.

    With ``keep_col`` the decision is attached as a boolean column
    (flag-not-drop, house style — lets a report count per-group
    drops); otherwise dropped rows are filtered out.
    """
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for group {g!r} must be in [0, 1]")
    h = _digest(F.col(id_col), salt)
    keep = h < F.lit(fraction_bound(default_rate))
    grp = F.col(group_col)
    for g, r in rates.items():
        keep = F.when(grp == F.lit(g), h < F.lit(fraction_bound(r))).otherwise(keep)
    if keep_col:
        return df.withColumn(keep_col, keep)
    return df.filter(keep)


def stratified_sample_df(
    df: DataFrame,
    rates_df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    default_rate: float = 1.0,
    keep_col: str | None = None,
) -> DataFrame:
    """:func:`stratified_sample` with the rate table as a DataFrame
    ``(group_col, rate)`` — for per-domain / per-source weight tables
    too large for a literal when-chain (100k+ domains would inflate
    the plan; a join keeps it flat, same reason bulk DML joins a
    broadcast ids DataFrame instead of isin). The rate table is
    broadcast (it is a weights config — orders of magnitude smaller
    than the corpus) and left-joined on ``group_col``: the corpus
    side never shuffles and unmatched groups fall back to
    ``default_rate``.

    Cross-engine/precision note: the digest compare needs a
    32-hex-char bound computed from the rate with the exact integer
    truncation of :func:`fraction_bound` — float math in a row-side
    JVM expression could disagree at ulp with the dict variant — so
    the bound is materialized INTO the broadcast table by an
    Arrow-vectorized pandas UDF running over the (small) rate table
    only; the corpus-side expression is a pure string compare, and a
    given (group, rate) keeps the identical row set under either
    variant."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    def _bound_fn(rate):
        def check(r: float) -> str:
            if not 0.0 <= r <= 1.0:
                raise ValueError(
                    f"stratified_sample_df: rate {r!r} in rates_df is "
                    "outside [0, 1] — rates are keep-fractions, like "
                    "the dict variant validates"
                )
            return fraction_bound(r)

        return rate.astype(float).map(check)

    # real annotation objects: the module's `from __future__ import
    # annotations` would stringify inline hints, and pandas is a
    # local import here, so pandas_udf's hint resolution would fail
    _bound_fn.__annotations__ = {"rate": pd.Series, "return": pd.Series}
    _bound = pandas_udf(T.StringType())(_bound_fn)

    # one row per group: duplicate group rows in a user-supplied rate
    # table would otherwise fan the left join out and silently
    # DUPLICATE corpus rows (ADVICE r8). Duplicates that agree
    # collapse; duplicates whose rates CONFLICT fail the query (a
    # plain dedup would keep an arbitrary one of them).
    per_group = rates_df.select(
        F.col(group_col).alias("__ss_grp"),
        F.col("rate").cast("double").alias("__ss_rate"),
    ).groupBy("__ss_grp").agg(
        F.min("__ss_rate").alias("__ss_lo"),
        F.max("__ss_rate").alias("__ss_hi"),
    )
    conflict = F.raise_error(
        F.concat(
            F.lit("stratified_sample_df: conflicting rates for group "),
            F.col("__ss_grp").cast("string"),
        )
    )
    bounds = F.broadcast(
        per_group.select(
            "__ss_grp",
            F.when(F.col("__ss_lo") != F.col("__ss_hi"), conflict)
            .otherwise(_bound(F.col("__ss_lo")))
            .alias("__ss_bound"),
        )
    )
    h = _digest(F.col(id_col), salt)
    joined = df.join(bounds, df[group_col] == bounds["__ss_grp"], "left")
    keep = h < F.coalesce(
        F.col("__ss_bound"), F.lit(fraction_bound(default_rate))
    )
    if keep_col:
        out = joined.withColumn(keep_col, keep)
    else:
        out = joined.filter(keep)
    return out.drop("__ss_grp", "__ss_bound")


def hash_sample(
    df: DataFrame,
    fraction: float,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose digest
    falls below the fraction threshold. Nested samples with the same
    salt: ``hash_sample(df, 0.1)`` is a subset of
    ``hash_sample(df, 0.5)`` — useful for scaling-law subset chains."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    if fraction >= 1.0:
        return df
    bound = format(min(int(fraction * _HEX_SPACE), _HEX_SPACE - 1), "032x")
    return df.filter(_digest(F.col(id_col), salt) < F.lit(bound))

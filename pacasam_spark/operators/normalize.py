"""Feature normalization (SURVEY.md §2.11 M1/M2).

Reference semantics (samplers/algos.py:64-91):
1. zeros -> NaN (ignored by the statistics),
2. standardization (x-mean)/(std+1e-5) with SAMPLE std, or quantile
   transform to uniform [0,1],
3. NaN -> per-column min of the normalized values (0 if all were zero).

Spark design: one exact aggregation pass gives the statistics, which go
back into the plan as literals — no shuffle of the data itself, all column
arithmetic stays in whole-stage codegen. A sampling run takes them from its
:class:`CatalogueProfile`, the one grouped aggregation by file_id that also
counts each file's rows and targets; a bare :func:`standardize` aggregates
globally. The quantile variant builds a per-column grid with
``approxQuantile`` (exact at relativeError=0), fills with the min of the
normalized values (a second pass) and interpolates with pure
fold/element_at expressions (:func:`interp_expr`) — also codegen, no Python
hop, and text-identical to the DuckDB oracle twin.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pacasam_spark import schemas as S
from pacasam_spark.operators.filters import UnexpectedNaNValuesError, assert_no_nan

EPSILON = 1e-5  # reference: samplers/algos.py:14 (EPSILON = 10e-6)


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _stat_partial_aggs(types: dict, masked: dict, columns: list[str]) -> list:
    """The per-column aggregation expressions of :func:`standardize` —
    every one is decomposable (sum/count/min), so the same list serves
    the single global agg AND the per-file grouped agg of
    :class:`CatalogueProfile` (whose partials then merge exactly on the
    tiny per-file table). Integral squares are taken after the decimal
    cast: a long square overflows beyond |x| ~ 3.04e9."""
    aggs = []
    for c in columns:
        x = masked[c]
        aggs += [
            F.count(x).alias(f"cnt_{c}"),
            F.min(x).alias(f"min_{c}"),
            F.sum(
                (F.col(c).isNull() | F.isnan(F.col(c).cast("double"))).cast("int")
            ).alias(f"nan_{c}"),
        ]
        if types[c] in _INTEGRAL:
            xi = F.nullif(F.col(c).cast("long"), F.lit(0))
            xd = xi.cast("decimal(38,0)")
            aggs += [
                F.sum(xi).alias(f"s_{c}"),
                F.sum(xd * xd).alias(f"ssq_{c}"),
            ]
        else:
            dec = "decimal(38,6)"
            aggs += [
                F.sum(x.cast(dec)).alias(f"s_{c}"),
                F.sum((x * x).cast(dec)).alias(f"ssq_{c}"),
            ]
    return aggs


_SPLIT = 1 << 31  # hi/lo split base for the fast long-sum path


def _hi_lo(v):
    """Exact (hi, lo) split of a long column: lo = pmod(v, 2^31) in
    [0, 2^31), hi = (v - lo) / 2^31 — the division is exact (v - lo is a
    multiple of 2^31 and the quotient fits double's 53-bit mantissa), so
    hi * 2^31 + lo == v for either sign."""
    lo = F.pmod(v, F.lit(_SPLIT))
    hi = ((v - lo) / F.lit(_SPLIT)).cast("long")
    return hi, lo


def _stat_partials_fast(
    types: dict, masked: dict, columns: list[str]
) -> tuple[list, list]:
    """Split-long twin of :func:`_stat_partial_aggs` (guide §4.2 spirit —
    keep the hot loop out of per-row BigDecimal): decimal SUMS with
    precision > 18 aggregate through a JavaBigDecimal allocation per row
    (measured 1.84 s vs 0.19 s for plain long sums on a 6M-row column),
    so each decimal sum becomes long sums over the hi/lo split of the
    exactly scaled long value, and every per-row conversion is hoisted
    into a PROJECTION (returned first) so it runs once per row instead of
    once per aggregate expression referencing it. The decimal cast uses
    compact decimal(18,6) — long-backed, same rounding as the classic
    (38,6) cast for every |x| < 1e12, ANSI-raising beyond. Exactness: the
    scaled long derives from the same decimal cast as the classic path,
    the :func:`_hi_lo` split is exact for either sign, and long sums are
    exact — :func:`_stats_from_fast` reassembles identical statistics
    with unbounded Python ints. Overflow of any piece raises under ANSI
    mode and :func:`standardize` falls back to the classic decimal
    aggregation — loud recomputation, never silent corruption."""
    proj, aggs = [], []
    for c in columns:
        x = masked[c]
        proj += [
            x.alias(f"__m_{c}"),
            (F.col(c).isNull() | F.isnan(F.col(c).cast("double")))
            .cast("int")
            .alias(f"__isnan_{c}"),
        ]
        aggs += [
            F.count(f"__m_{c}").alias(f"cnt_{c}"),
            F.min(f"__m_{c}").alias(f"min_{c}"),
            F.sum(f"__isnan_{c}").alias(f"nan_{c}"),
        ]
        if types[c] in _INTEGRAL:
            xi = F.nullif(F.col(c).cast("long"), F.lit(0))
            proj += [xi.alias(f"__xi_{c}"), (xi * xi).alias(f"__q_{c}")]
            qhi, qlo = _hi_lo(F.col(f"__q_{c}"))
            aggs += [
                F.sum(f"__xi_{c}").alias(f"s_{c}"),
                F.sum(qhi).alias(f"ssqhi_{c}"),
                F.sum(qlo).alias(f"ssqlo_{c}"),
            ]
        else:
            # same element-level values as the classic path: the decimal
            # cast (and for ssq the double square) happens first, then
            # the exact scale-6 integer is taken apart into longs
            proj += [
                (x.cast("decimal(18,6)") * F.lit(1000000))
                .cast("long")
                .alias(f"__s6_{c}"),
                ((x * x).cast("decimal(18,6)") * F.lit(1000000))
                .cast("long")
                .alias(f"__q6_{c}"),
            ]
            shi, slo = _hi_lo(F.col(f"__s6_{c}"))
            qhi, qlo = _hi_lo(F.col(f"__q6_{c}"))
            aggs += [
                F.sum(shi).alias(f"shi_{c}"),
                F.sum(slo).alias(f"slo_{c}"),
                F.sum(qhi).alias(f"ssqhi_{c}"),
                F.sum(qlo).alias(f"ssqlo_{c}"),
            ]
    return proj, aggs


def _stat_merge_aggs_fast(types: dict, columns: list[str]) -> list:
    """Merge of :func:`_stat_partials_fast` partials: every part is a
    long sum (re-sum), mins re-min — exact, like the classic merge."""
    aggs = []
    for c in columns:
        aggs += [
            F.sum(f"cnt_{c}").alias(f"cnt_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.sum(f"nan_{c}").alias(f"nan_{c}"),
        ]
        if types[c] in _INTEGRAL:
            aggs.append(F.sum(f"s_{c}").alias(f"s_{c}"))
        else:
            aggs += [
                F.sum(f"shi_{c}").alias(f"shi_{c}"),
                F.sum(f"slo_{c}").alias(f"slo_{c}"),
            ]
        aggs += [
            F.sum(f"ssqhi_{c}").alias(f"ssqhi_{c}"),
            F.sum(f"ssqlo_{c}").alias(f"ssqlo_{c}"),
        ]
    return aggs


def _stats_from_fast(row, types: dict, columns: list[str]) -> dict:
    """Reassemble the canonical ``cnt_/min_/nan_/s_/ssq_`` statistics from
    fast split-long partials with unbounded Python ints — numerically
    IDENTICAL to the classic decimal aggregation's values."""
    from decimal import Decimal

    out = {}
    for c in columns:
        out[f"cnt_{c}"] = row[f"cnt_{c}"]
        out[f"min_{c}"] = row[f"min_{c}"]
        out[f"nan_{c}"] = row[f"nan_{c}"]
        ssq_int = (row[f"ssqhi_{c}"] or 0) * _SPLIT + (row[f"ssqlo_{c}"] or 0)
        if types[c] in _INTEGRAL:
            out[f"s_{c}"] = row[f"s_{c}"]
            out[f"ssq_{c}"] = Decimal(ssq_int)
        else:
            s_int = (row[f"shi_{c}"] or 0) * _SPLIT + (row[f"slo_{c}"] or 0)
            out[f"s_{c}"] = Decimal(s_int).scaleb(-6)
            out[f"ssq_{c}"] = Decimal(ssq_int).scaleb(-6)
        if row[f"cnt_{c}"] == 0:
            # classic sums of an empty/all-NULL column are NULL, and
            # standardize's n==0 branch never reads them — mirror that
            out[f"s_{c}"] = None
            out[f"ssq_{c}"] = None
    return out


def _is_overflow_error(exc: Exception) -> bool:
    msg = str(exc)
    return (
        "ARITHMETIC_OVERFLOW" in msg
        or "CAST_OVERFLOW" in msg
        or "NUMERIC_VALUE_OUT_OF_RANGE" in msg
        or "overflow" in msg.lower()
    )


def _stat_merge_aggs(columns: list[str]) -> list:
    """Exact merge of per-file partials: counts/sums re-sum, mins re-min.
    Long and decimal sums are exact, so the merged statistics are
    bit-identical to the single-pass global aggregation — downstream FPS
    selections (and their golden checksums) cannot move."""
    aggs = []
    for c in columns:
        aggs += [
            F.sum(f"cnt_{c}").alias(f"cnt_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.sum(f"nan_{c}").alias(f"nan_{c}"),
            F.sum(f"s_{c}").alias(f"s_{c}"),
            F.sum(f"ssq_{c}").alias(f"ssq_{c}"),
        ]
    return aggs


def _require_ansi(df: DataFrame) -> None:
    if df.sparkSession.conf.get("spark.sql.ansi.enabled") != "true":
        # the split-long sums are exact only because ANSI raises on
        # overflow; with it off an overflowing cast is NULL and the row
        # silently drops out of the sums
        raise ValueError(
            "standardize needs spark.sql.ansi.enabled=true: its exact "
            "statistics rely on overflow raising instead of turning NULL"
        )


def _global_stats(df: DataFrame, columns: list[str]):
    """The merged statistics of ``columns`` from one global aggregation
    (fast split-long partials, classic decimals on overflow)."""
    _require_ansi(df)
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    masked = {c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in columns}
    proj, fast_aggs = _stat_partials_fast(types, masked, columns)
    try:
        return _stats_from_fast(df.select(*proj).agg(*fast_aggs).first(), types, columns)
    except Exception as e:  # ANSI overflow -> exact decimal fallback
        if not _is_overflow_error(e):
            raise
        return df.agg(*_stat_partial_aggs(types, masked, columns)).first()


@dataclass
class CatalogueProfile:
    """What a sampling run needs to know about its catalogue, from ONE
    grouped aggregation by ``key`` (file_id). Per file, the persisted
    ``per_file`` table holds its rows (``count``) and the exact
    statistics partials of the feature columns; one merge job turns it
    into ``total_rows``, ``max_rows_per_file`` and ``stats``, the global
    statistics :func:`standardize` reads. Partials merge exactly, so
    every value equals its single-pass global aggregation.

    :meth:`of` describes the aggregation without running it; the first
    :meth:`build` runs it — inside :func:`standardize` when that is the
    first reader. ``sources.snapshots.snapshot_fps_inputs`` returns a
    profile built from snapshot manifests, with no scan. Whoever makes a
    profile calls ``release()`` once its last reader has run."""

    per_file: DataFrame | None = None
    total_rows: int = 0
    max_rows_per_file: int = 0
    stats: dict | None = None
    # unpersists the per-file table; a no-op while nothing is cached
    release: Callable[[], object] = field(default=lambda: None, repr=False)
    source: tuple | None = field(default=None, repr=False)

    @classmethod
    def of(
        cls,
        df: DataFrame,
        columns=(),
        key: str = S.FILE_ID,
        persist: bool = True,
    ) -> "CatalogueProfile":
        """The unbuilt profile of ``df``: per-file rows and the
        statistics of ``columns``. ``persist=False`` for a reader of the
        merged figures alone, which never re-reads the per-file table."""
        return cls(source=(df, list(columns), key, persist))

    def build(self) -> "CatalogueProfile":
        """Run the aggregation and its merge (once; later calls return
        the built profile)."""
        if self.source is None:
            return self
        df, columns, key, persist = self.source
        if columns:
            _require_ansi(df)
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        masked = {c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in columns}
        merged = [F.sum("count").alias("__rows"), F.max("count").alias("__mx")]

        def grouped(frame, aggs):
            per_file = frame.groupBy(key).agg(F.count("*").alias("count"), *aggs)
            if persist:
                self.release = per_file.persist().unpersist
            return per_file

        proj, fast_aggs = _stat_partials_fast(types, masked, columns)
        per_file = grouped(df.select(key, *proj), fast_aggs)
        try:
            row = per_file.agg(*_stat_merge_aggs_fast(types, columns), *merged).first()
            stats = _stats_from_fast(row, types, columns)
        except Exception as e:  # ANSI overflow -> exact decimal fallback
            if not _is_overflow_error(e):
                raise
            self.release()
            per_file = grouped(df, _stat_partial_aggs(types, masked, columns))
            row = stats = per_file.agg(*_stat_merge_aggs(columns), *merged).first()
        self.per_file = per_file
        self.total_rows = int(row["__rows"] or 0)
        self.max_rows_per_file = int(row["__mx"] or 0)
        self.stats = stats if columns else None
        self.source = None
        return self


def standardize(
    df: DataFrame,
    columns: list[str],
    check_nan: bool = True,
    stats: dict | CatalogueProfile | None = None,
) -> DataFrame:
    """M1: zero-ignoring standardization with min-fill — ONE aggregation
    pass over the data.

    Order-independent statistics: float avg()/stddev() depend on partition
    merge order (non-associative fp addition), which would make downstream
    FPS selections vary with cluster size. Exact sums instead:

    - integral columns: plain long sum (exact to ~10^12 rows of 32-bit
      values) + DECIMAL(38,0) sum of exact squares;
    - float columns: DECIMAL(38,6) sums (slower but exact).

    The NaN guard and the min-fill value ride the same pass: the transform
    is monotonic, so min(normalized) == normalize(min(masked)).

    ``stats``: the merged statistics (keys ``cnt_<c>/min_<c>/nan_<c>/
    s_<c>/ssq_<c>``, the shape :func:`_stat_merge_aggs` produces), or a
    :class:`CatalogueProfile` holding them — built here when unbuilt, so
    its grouped aggregation is this function's one pass. With either,
    no global aggregation runs; without, one does over ``df``."""
    if isinstance(stats, CatalogueProfile):
        stats = stats.build().stats
    elif stats is None:
        stats = _global_stats(df, columns)

    if check_nan:
        bad = [c for c in columns if stats[f"nan_{c}"]]
        if bad:
            raise UnexpectedNaNValuesError(
                f"NaN/NULL values in feature columns: {bad}"
            )

    masked = {c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in columns}
    normed = df
    for c in columns:
        n = stats[f"cnt_{c}"]
        if not n:  # all zeros -> all NULL -> fill 0 (reference algos.py:89)
            normed = normed.withColumn(c, F.lit(0.0))
            continue
        s = float(stats[f"s_{c}"])
        ssq = float(stats[f"ssq_{c}"])
        mean = s / n
        var = (ssq - n * mean * mean) / (n - 1) if n > 1 else 0.0
        std = var**0.5 if var > 0 else 0.0
        fill = (stats[f"min_{c}"] - mean) / (std + EPSILON)
        normed = normed.withColumn(
            c,
            F.coalesce((masked[c] - F.lit(mean)) / F.lit(std + EPSILON), F.lit(fill)),
        )
    return normed


def interp_expr(v, grid: list[float], refs: list[float]):
    """Piecewise-linear interpolation of ``v`` onto (grid -> refs) as a
    pure column expression (whole-stage codegen — no Python hop). Clamps
    outside the grid; NULL passes through. :func:`interp_sql` is the
    text-identical DuckDB twin, so results are bitwise equal."""
    garr = F.array(*[F.lit(float(g)) for g in grid])
    rarr = F.array(*[F.lit(float(r)) for r in refs])
    idx = F.size(F.filter(garr, lambda g: g <= v))  # grid values <= v
    lo, hi = F.element_at(garr, idx), F.element_at(garr, idx + F.lit(1))
    rlo, rhi = F.element_at(rarr, idx), F.element_at(rarr, idx + F.lit(1))
    res = rlo + (v - lo) * (rhi - rlo) / (hi - lo)
    return (
        F.when(v.isNull(), F.lit(None).cast("double"))
        .when(v <= F.lit(float(grid[0])), F.lit(float(refs[0])))
        .when(v >= F.lit(float(grid[-1])), F.lit(float(refs[-1])))
        .otherwise(res)
    )


def interp_sql(v: str, grid: list[float], refs: list[float]) -> str:
    """DuckDB twin of :func:`interp_expr` (same expression tree)."""
    glist = "[" + ", ".join(repr(float(g)) for g in grid) + "]"
    rlist = "[" + ", ".join(repr(float(r)) for r in refs) + "]"
    idx = f"len(list_filter({glist}, g -> g <= {v}))"
    lo, hi = f"list_extract({glist}, {idx})", f"list_extract({glist}, {idx} + 1)"
    rlo, rhi = f"list_extract({rlist}, {idx})", f"list_extract({rlist}, {idx} + 1)"
    res = f"{rlo} + ({v} - {lo}) * ({rhi} - {rlo}) / ({hi} - {lo})"
    return (
        f"(case when {v} is null then null"
        f" when {v} <= {float(grid[0])!r} then {float(refs[0])!r}"
        f" when {v} >= {float(grid[-1])!r} then {float(refs[-1])!r}"
        f" else {res} end)"
    )


def quantile_transform(
    df: DataFrame,
    columns: list[str],
    n_quantiles: int = 50,
    check_nan: bool = True,
    grids: dict[str, list[float]] | None = None,
) -> DataFrame:
    """M2: empirical-CDF transform to uniform [0,1], zero-ignoring, min-fill.

    Mirrors sklearn's QuantileTransformer grid+interp shape
    (reference: samplers/algos.py:84-85) without the library: the grid is
    ``n_quantiles`` exact quantiles of the non-zero values (or caller-
    supplied ``grids``); values map by linear interpolation computed as
    PURE column expressions — whole-stage codegen, no Python hop, and
    ANSI-SQL expressible for the oracle (driver q42). Deterministic — no
    subsample cap needed at our scale (the reference caps at 100k rows).
    """
    if check_nan:
        assert_no_nan(df, columns)

    masked = {c: F.nullif(F.col(c).cast("double"), F.lit(0.0)) for c in columns}
    if grids is None:
        mdf = df.select(*[masked[c].alias(c) for c in columns])
        probs = list(np.linspace(0.0, 1.0, n_quantiles))
        grids = dict(zip(columns, mdf.approxQuantile(columns, probs, 0.0)))

    normed = df
    for c in columns:
        grid = [float(x) for x in grids[c]]
        if not grid:  # all zeros -> all NULL -> fill 0 (algos.py:89)
            normed = normed.withColumn(c, F.lit(0.0))
            continue
        refs = list(np.linspace(0.0, 1.0, len(grid)))
        normed = normed.withColumn(c, interp_expr(masked[c], grid, refs))

    mins_row = normed.agg(*[F.min(c).alias(f"min_{c}") for c in columns]).first()
    for c in columns:
        fill = mins_row[f"min_{c}"]
        normed = normed.withColumn(
            c, F.coalesce(F.col(c), F.lit(0.0 if fill is None else float(fill)))
        )
    return normed

"""Gap-fill / sanitize / interpolate / frequency-inference — pure DataFrame ops.

Semantics from the reference (all cites into /root/reference):

- ``fill_gaps``: each series on its grid start..=end at freq; existing ts
  keep their row, missing ts get NULL (ref NaN), or a carried / interpolated
  value — src/core/time_series.rs:871-932, grid generation :966-1011,
  calendar month arithmetic with day clamping :1014-1039 (Spark's
  ``start + k·interval`` with month intervals has identical clamping).
- ``locf`` (ForwardFill policy): src/core/time_series.rs:673-702.
- ``interpolate_linear``: linear interpolation across NULL runs,
  ``l + (j+1)/(gap+1) * (r-l)`` for the j-th missing point of a run — on an
  equally-spaced spine this equals timestamp-ratio interpolation, which is
  what we compute (src/core/time_series.rs:1063-1117); edges optionally
  filled flat (fill_edges).
- ``sanitize``: MissingValuePolicy Drop | Fill(c) | ForwardFill | Error —
  src/core/time_series.rs:96-106, 608-704.
- ``infer_frequency``: modal spacing of consecutive timestamps with a
  tolerance on the modal ratio — src/core/time_series.rs:727-767.

NULL discipline: Spark aggregates skip NULL but *propagate* NaN, so the
engine's canonical missing marker is NULL; ``gapfill_dense`` reads NaN as
NULL (the reference uses NaN in-memory, src/core/time_series.rs:601-605).

Scale notes: ``fill_gaps`` is one sort → window → explode pass in the
JVM: one hash exchange on the series keys, one sort by (keys, ts), one
Window node for the start, lag and previous-value frames, one Generate — no
spine aggregate, no join, no Python. ``interp`` adds one sort and Window in
descending ts on the same partitioning for the next known value.
``locf`` and ``interpolate_linear`` share these frames and the one
interpolation expression.

Plan building: the pass is three DataFrame steps built from SQL expression
text, with every identifier backtick-quoted: (1) only the windows the
method reads, (2) the slot index and ``explode(sequence(…))`` with the
three timestamp checks, (3) the final projection. Each DataFrame step makes
the JVM re-analyse a plan that holds windows, and each
``functions``/``Column`` call is one py4j round trip. ``gapfill_dense``
reads NaN as NULL in one more step before the windows, on the window-free
input. On ``series_batch``'s 1h input (``local[4]``, 4-core x86 host) a
``gapfill_dense(…, "1h", method="locf")`` build took 115 ms and 421 py4j
commands as five steps of Column calls (median of 12 repetitions), and
about 45 ms and 31 commands this way (BENCH/SERIES_BATCH_COST.md).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anofox_forecast_spark.core.frequency import parse_frequency


def _q(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _text(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _series_window(keys: Sequence[str], ts_col: str) -> Window:
    return Window.partitionBy(*keys).orderBy(ts_col)


def _over(keys: Sequence[str], ts_col: str, frame: str, desc: bool = False) -> str:
    """A window over one series in ``ts_col`` order (descending with
    ``desc``) with the given ROWS frame."""
    part = f"PARTITION BY {', '.join(map(_q, keys))} " if keys else ""
    return f"OVER ({part}ORDER BY {_q(ts_col)}{' DESC' if desc else ''} {frame})"


def _seconds(c: str) -> str:
    return f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"  # NTZ-safe under UTC


_BEFORE = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
_SINCE = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def _neighbours(v: str, keys: Sequence[str], ts_col: str, names: Sequence[str]) -> list[str]:
    """SQL for the ``names`` among (v0, t0, v1, t1): the last non-NULL value
    of ``v`` strictly before the current row and the first at or after it,
    each with its time in seconds. Only the named windows are built.

    The forward look runs over the series in descending ts from its start:
    Spark re-aggregates a frame ending at unboundedFollowing for every
    row, which is quadratic in the series length (``local[4]`` on a 4-core
    host, 40 series of ~4.8k rows: interp fill_gaps 38 s that way, 1.3 s
    this way)."""
    t = f"CASE WHEN {v} IS NOT NULL THEN {_seconds(_q(ts_col))} END"
    before, since = _over(keys, ts_col, _BEFORE), _over(keys, ts_col, _SINCE, desc=True)
    sql = {"v0": f"last({v}, true) {before}", "t0": f"last({t}, true) {before}",
           "v1": f"last({v}, true) {since}", "t1": f"last({t}, true) {since}"}
    return [sql[n] for n in names]


def _interpolated(v: str, t: str, v0: str, t0: str, v1: str, t1: str, fill_edges: bool) -> str:
    """``v`` where known; else v0 + (t-t0)/(t1-t0) * (v1-v0) between two
    known neighbours; at an edge the nearer known value with
    ``fill_edges``, else NULL. DOUBLE."""
    edge = f"coalesce({v0}, {v1})" if fill_edges else "NULL"
    inner = f"{v0} IS NOT NULL AND {v1} IS NOT NULL AND {t1} != {t0}"
    return (f"CAST(CASE WHEN {v} IS NOT NULL THEN {v} "
            f"WHEN {inner} THEN {v0} + ({t} - {t0}) / ({t1} - {t0}) * ({v1} - {v0}) "
            f"ELSE {edge} END AS DOUBLE)")


_NEIGHBOURS = {"none": (), "locf": ("v0",), "interp": ("v0", "t0", "v1", "t1")}


def fill_gaps(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    freq: str,
    method: str = "none",
    fill_edges: bool = False,
) -> DataFrame:
    """Each series on its ``freq`` grid from its first to its last
    timestamp (ref fill_gaps, src/core/time_series.rs:871-932); ``filled``
    marks rows absent from the input.

    method: "none" leaves ``value_cols`` NULL on gap rows; "locf" gives gap
    rows and observed NULLs the last non-NULL value before them (leading
    NULLs stay); "interp" interpolates as ``interpolate_linear`` and
    returns the value columns as DOUBLE. Other columns pass through on
    observed rows and are NULL on gap rows. Columns: keys, ts, the other
    input columns in input order, ``filled``.

    One pass, no join, three DataFrame steps: (1) a window over (keys, ts)
    reads the series start, the previous timestamp and the neighbours the
    method needs; (2) every observed row explodes the grid slots since the
    previous row plus its own; (3) the final projection. Slot k is
    ``start + k·freq``, so month grids keep ``sequence``'s day clamping
    (Jan 31 → Feb 29 → Mar 31). A NULL, off-grid or duplicate timestamp
    raises.
    """
    if method not in _NEIGHBOURS:
        raise ValueError(f"unknown method {method!r}")
    f = parse_frequency(freq)
    ts, start, lag, k, slot = _q(ts_col), "`__start`", "`__lag`", "`__k`", "`__slot`"

    def index(c: str) -> str:  # whole steps from the series start
        if f.kind == "duration":
            us = f"unix_micros(CAST({c} AS TIMESTAMP)) - unix_micros(CAST({start} AS TIMESTAMP))"
            return f"CAST(({us}) / {f.seconds * 1_000_000} AS BIGINT)"
        return (f"CAST(((year({c}) - year({start})) * 12 + month({c}) - month({start}))"
                f" / {f.months} AS BIGINT)")

    def at(i: str) -> str:
        return f"({start} + ({f.sql_interval()}) * {i})"

    def fail(*problem: str) -> str:
        series = f"to_json(struct({', '.join(map(_q, keys))}))"
        return f"raise_error(concat('fill_gaps: ', {', '.join(problem)}, ' in series ', {series}))"

    names = _NEIGHBOURS[method]
    nbrs = [f"{x} AS {_q(f'__{n}_{c}')}" for c in value_cols
            for n, x in zip(names, _neighbours(_q(c), keys, ts_col, names))]
    rows = df.selectExpr(
        "*", f"first({ts}) {_over(keys, ts_col, _SINCE)} AS {start}",
        f"lag({ts}) {_over(keys, ts_col, '')} AS {lag}", *nbrs)

    first_slot = (  # the checks run here, before sequence() sees bad bounds
        f"CASE WHEN {start} IS NULL THEN {fail(_text('NULL timestamp'))} "
        f"WHEN {at(index(ts))} != {ts} THEN "
        f"{fail(_text(f'timestamp off the {freq} grid: '), f'CAST({ts} AS STRING)')} "
        f"WHEN {ts} = {lag} THEN {fail(_text('duplicate timestamp '), f'CAST({ts} AS STRING)')} "
        f"ELSE coalesce({index(lag)} + 1, 0) END"
    )
    slots = rows.selectExpr(
        "*", f"{index(ts)} AS {k}", f"explode(sequence({first_slot}, {index(ts)})) AS {slot}")

    observed = f"({slot} = {k})"

    def value(c: str) -> str:
        v = f"CASE WHEN {observed} THEN {_q(c)} END"
        if c not in value_cols or method == "none":
            return v
        nb = [_q(f"__{n}_{c}") for n in names]
        if method == "locf":
            return f"coalesce({v}, {nb[0]})"
        return _interpolated(v, _seconds(at(slot)), *nb, fill_edges=fill_edges)

    rest = [c for c in df.columns if c not in (*keys, ts_col, "filled")]
    return slots.selectExpr(
        *map(_q, keys), f"{at(slot)} AS {ts}", *[f"{value(c)} AS {_q(c)}" for c in rest],
        f"NOT {observed} AS `filled`")


def locf(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Last-observation-carried-forward in place (ref ForwardFill,
    :673-702): each NULL takes the last non-NULL value before it in its
    series; leading NULLs stay NULL, as in the reference."""
    return df.withColumns({
        c: F.expr(f"coalesce({_q(c)}, {_neighbours(_q(c), keys, ts_col, ['v0'])[0]})")
        for c in value_cols
    })


def interpolate_linear(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    fill_edges: bool = False,
) -> DataFrame:
    """Linear interpolation across NULL runs in place (ref :1063-1117).

    A NULL at time t between last-known (t0,v0) and next-known (t1,v1)
    becomes v0 + (t-t0)/(t1-t0) * (v1-v0); on an equally spaced grid this
    is the reference's ``l + (j+1)/(gap+1) * (r-l)``. With fill_edges,
    leading NULLs take the first known value and trailing NULLs the last
    (ref ``interpolated(fill_edges=true)``, src/core/time_series.rs:707-724).
    """
    nbrs = ("v0", "t0", "v1", "t1")
    return df.withColumns({
        c: F.expr(_interpolated(_q(c), _seconds(_q(ts_col)),
                                *_neighbours(_q(c), keys, ts_col, nbrs), fill_edges=fill_edges))
        for c in value_cols
    })


def sanitize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    policy: str = "drop",
    fill_value: float | None = None,
) -> DataFrame:
    """MissingValuePolicy (ref src/core/time_series.rs:96-106, 608-704).

    policy ∈ {"drop", "fill", "forward_fill", "error"}. "drop" removes rows
    where *any* value column is NULL (ref drops the whole observation).
    """
    if policy == "drop":
        cond = None
        for c in value_cols:
            x = F.col(c).isNotNull()
            cond = x if cond is None else (cond & x)
        return df.filter(cond)
    if policy == "fill":
        if fill_value is None:
            raise ValueError("fill policy requires fill_value")
        return df.fillna(fill_value, subset=list(value_cols))
    if policy == "forward_fill":
        return locf(df, keys, ts_col, value_cols)
    if policy == "error":
        # 'error' is enforced by the caller via an assertion query; return a
        # frame the caller can count NULLs on (ref returns MissingValues error)
        return df
    raise ValueError(f"unknown policy {policy!r}")


def infer_frequency_calendar(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    holidays=None,
    tolerance: float = 0.5,
) -> DataFrame:
    """Business-day-aware modal spacing (ref time_series.rs:770-824):
    non-business timestamps (weekends + holidays) are dropped BEFORE the
    spacing histogram, so a Mon-Fri daily series infers 1d instead of
    failing on the 3-day weekend jumps. ``holidays`` as in
    core.calendar.with_calendar_annotations (dim frame / list / None)."""
    from anofox_forecast_spark.core.calendar import with_calendar_annotations

    biz = (
        with_calendar_annotations(df, ts_col, holidays)
        .filter(F.col("is_business_day"))
        .drop("is_holiday", "is_business_day")
    )
    return infer_frequency(biz, keys, ts_col, tolerance)


def infer_frequency_monthly(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tolerance: float = 0.5,
) -> DataFrame:
    """Calendar-month spacing: months_between consecutive points snapped to
    whole months. A monthly/quarterly series whose second-spacing wobbles
    over 28/30/31 days has a single modal MONTH spacing here (the plain
    modal-seconds inference fails its tolerance on exactly those series).

    Returns (keys…, freq_months: int, modal_ratio: double); freq_months
    NULL when no modal month spacing reaches tolerance or spacings are not
    month-aligned (months_between not integral).
    """
    w = _series_window(keys, ts_col)
    diffs = (
        df.select(
            *keys,
            F.months_between(
                F.col(ts_col).cast("timestamp"),
                F.lag(F.col(ts_col).cast("timestamp")).over(w),
            ).alias("__mb"),
        )
        .filter(F.col("__mb").isNotNull())
        # months_between is integral exactly when both points share the
        # day-of-month (or are both end-of-month) — i.e. true month grid
        .withColumn(
            "__m",
            F.when(F.col("__mb") == F.round("__mb", 0), F.col("__mb").cast("int")),
        )
    )
    counted = diffs.groupBy(*keys, "__m").agg(F.count("*").alias("__n"))
    totals = counted.groupBy(*keys).agg(F.sum("__n").alias("__total"))
    best = counted.filter(F.col("__m").isNotNull()).withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(*keys).orderBy(F.desc("__n"), F.asc("__m"))
        ),
    ).filter(F.col("__rk") == 1)
    return (
        best.join(totals, on=list(keys))
        .select(
            *keys,
            F.when(
                F.col("__n") / F.col("__total") >= tolerance, F.col("__m")
            ).alias("freq_months"),
            (F.col("__n") / F.col("__total")).alias("modal_ratio"),
        )
    )


def infer_frequency(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tolerance: float = 0.5,
) -> DataFrame:
    """Modal spacing of consecutive timestamps per series (ref :727-767).

    Returns ``(keys…, freq_seconds: long, modal_ratio: double)``; series whose
    modal spacing covers < tolerance of the diffs get NULL freq_seconds (the
    reference returns a FrequencyInference error there).
    """
    w = _series_window(keys, ts_col)
    diffs = (
        df.select(
            *keys,
            (
                F.col(ts_col).cast("timestamp").cast("double")
                - F.lag(F.col(ts_col).cast("timestamp").cast("double")).over(w)
            ).alias("__diff"),
        )
        .filter(F.col("__diff").isNotNull())
    )
    counted = diffs.groupBy(*keys, "__diff").agg(F.count("*").alias("__n"))
    totals = counted.groupBy(*keys).agg(F.sum("__n").alias("__total"))
    best = counted.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(*keys).orderBy(F.desc("__n"), F.asc("__diff"))
        ),
    ).filter(F.col("__rk") == 1)
    return (
        best.join(totals, on=list(keys))
        .select(
            *keys,
            F.when(
                F.col("__n") / F.col("__total") >= tolerance,
                F.col("__diff").cast("long"),
            ).alias("freq_seconds"),
            (F.col("__n") / F.col("__total")).alias("modal_ratio"),
        )
    )


def gapfill_dense(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_cols: Sequence[str],
    freq: str,
    method: str = "locf",
    fill_edges: bool = False,
) -> DataFrame:
    """``fill_gaps`` over (keys, ts, value_cols) with DOUBLE values, NaN
    read as missing, and LOCF by default. Output: keys, ts, value_cols,
    ``filled``."""
    # a step of its own: folded into the window step, each value would be
    # computed and shuffled twice, once as the column and once as the
    # window input
    def dense(c: str) -> str:
        v = f"CAST({_q(c)} AS DOUBLE)"
        return f"CASE WHEN isnan({v}) THEN NULL ELSE {v} END AS {_q(c)}"

    narrowed = df.selectExpr(*map(_q, (*keys, ts_col)), *map(dense, value_cols))
    return fill_gaps(narrowed, keys, ts_col, value_cols, freq, method, fill_edges)

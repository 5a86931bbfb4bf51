"""Gap-fill / LOCF / interpolation / frequency-inference Spark tests."""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from anofox_forecast_spark.core import (  # noqa: E402
    fill_gaps,
    infer_frequency,
    interpolate_linear,
    locf,
)
from anofox_forecast_spark.core.gapfill import gapfill_dense  # noqa: E402

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _hours(*hs):
    return [T0 + dt.timedelta(hours=h) for h in hs]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "sid string, ts timestamp, y double")


def test_fill_gaps_hourly(spark):
    ts = _hours(0, 1, 4)
    df = _mk(spark, [("a", ts[0], 1.0), ("a", ts[1], 2.0), ("a", ts[2], 5.0)])
    out = fill_gaps(df, ["sid"], "ts", ["y"], "1h").orderBy("ts").collect()
    assert [r.ts.hour for r in out] == [0, 1, 2, 3, 4]
    assert [r.y for r in out] == [1.0, 2.0, None, None, 5.0]
    assert [r.filled for r in out] == [False, False, True, True, False]


def test_fill_gaps_null_measure_is_not_a_gap(spark):
    """A genuinely-NULL value at an EXISTING timestamp must not be marked
    filled — `filled` means the row was absent from the input."""
    ts = _hours(0, 1, 3)
    df = _mk(spark, [("a", ts[0], 1.0), ("a", ts[1], None), ("a", ts[2], 4.0)])
    out = fill_gaps(df, ["sid"], "ts", ["y"], "1h").orderBy("ts").collect()
    assert [r.ts.hour for r in out] == [0, 1, 2, 3]
    assert [r.filled for r in out] == [False, False, True, False]


def test_fill_gaps_monthly(spark):
    # Engine contract: month spines start at date_trunc'd bucket starts
    # (day 1), where Spark sequence and ref iterative add_months agree.
    # For clamped starts Spark computes start + k·months (Jan 31 + 2mo =
    # Mar 31) while the reference chains add_months (Mar 29); documented
    # divergence — tiers only use duration frequencies.
    df = spark.sql(
        "select 'a' sid, to_timestamp(x) ts, 1.0 y from "
        "values ('2024-01-01'), ('2024-04-01') as t(x)"
    )
    out = fill_gaps(df, ["sid"], "ts", ["y"], "1mo").orderBy("ts").collect()
    assert [(r.ts.month, r.ts.day) for r in out] == [(1, 1), (2, 1), (3, 1), (4, 1)]
    # clamping at month-end start still matches ref for the FIRST step
    clamp = spark.sql(
        "select sequence(to_timestamp('2024-01-31'), to_timestamp('2024-02-29'),"
        " interval 1 month) x"
    ).collect()[0].x
    assert clamp[1].day == 29
    # a month-end series gets exactly Spark's sequence grid: every slot is
    # start + k months, clamped (Jan 31 → Feb 29 → Mar 31 → Apr 30)
    month_end = spark.sql(
        "select 'a' sid, to_timestamp(x) ts, 1.0 y from "
        "values ('2024-01-31'), ('2024-04-30') as t(x)"
    )
    out = fill_gaps(month_end, ["sid"], "ts", ["y"], "1mo").orderBy("ts").collect()
    want = spark.sql(
        "select sequence(to_timestamp('2024-01-31'), to_timestamp('2024-04-30'),"
        " interval 1 month) x"
    ).collect()[0].x
    assert [r.ts for r in out] == want
    assert [(r.ts.month, r.ts.day) for r in out] == [(1, 31), (2, 29), (3, 31), (4, 30)]
    assert [r.filled for r in out] == [False, True, True, False]


def test_locf(spark):
    ts = _hours(0, 1, 2, 3)
    df = _mk(
        spark,
        [("a", ts[0], 1.0), ("a", ts[1], None), ("a", ts[2], None), ("a", ts[3], 4.0)],
    )
    out = locf(df, ["sid"], "ts", ["y"]).orderBy("ts").collect()
    assert [r.y for r in out] == [1.0, 1.0, 1.0, 4.0]


def test_locf_leading_nulls_stay(spark):
    ts = _hours(0, 1)
    df = _mk(spark, [("a", ts[0], None), ("a", ts[1], 2.0)])
    out = locf(df, ["sid"], "ts", ["y"]).orderBy("ts").collect()
    assert [r.y for r in out] == [None, 2.0]


def test_interpolate_linear(spark):
    ts = _hours(0, 1, 2, 3, 4)
    df = _mk(
        spark,
        [
            ("a", ts[0], 0.0),
            ("a", ts[1], None),
            ("a", ts[2], None),
            ("a", ts[3], 3.0),
            ("a", ts[4], None),
        ],
    )
    out = interpolate_linear(df, ["sid"], "ts", ["y"]).orderBy("ts").collect()
    # ref kernel: l + (j+1)/(gap+1)*(r-l) → 1.0, 2.0; trailing edge stays NULL
    assert [r.y for r in out] == [0.0, 1.0, 2.0, 3.0, None]


def test_interpolate_fill_edges(spark):
    ts = _hours(0, 1, 2)
    df = _mk(spark, [("a", ts[0], None), ("a", ts[1], 5.0), ("a", ts[2], None)])
    out = (
        interpolate_linear(df, ["sid"], "ts", ["y"], fill_edges=True)
        .orderBy("ts")
        .collect()
    )
    assert [r.y for r in out] == [5.0, 5.0, 5.0]


def test_infer_frequency(spark):
    ts = _hours(0, 1, 2, 3, 7)  # modal diff 1h (3 of 4)
    df = _mk(spark, [("a", t, 1.0) for t in ts])
    row = infer_frequency(df, ["sid"], "ts").collect()[0]
    assert row.freq_seconds == 3600
    assert abs(row.modal_ratio - 0.75) < 1e-9


def test_infer_frequency_calendar_business_days(spark):
    """Mon-Fri daily series: plain modal inference sees 86400 at ratio
    ~0.8 already, but with weekend gaps + holidays it can fail tolerance;
    the calendar variant drops non-business days first (ref
    time_series.rs:770-824)."""
    from anofox_forecast_spark.core import infer_frequency_calendar

    rows = []
    d = dt.datetime(2024, 1, 1)
    while len(rows) < 20:
        if d.weekday() < 5 and d.date() != dt.date(2024, 1, 10):
            rows.append(("a", d, 1.0))
        d += dt.timedelta(days=1)
    df = _mk(spark, rows)
    out = infer_frequency_calendar(
        df, ["sid"], "ts", holidays=["2024-01-10"], tolerance=0.6
    ).collect()
    assert out[0].freq_seconds == 86400


def test_infer_frequency_monthly_snaps_calendar_months(spark):
    """Monthly series with 28/30/31-day spacing: modal-seconds inference
    fails its tolerance, the month-grid variant returns 1 month."""
    from anofox_forecast_spark.core import infer_frequency, infer_frequency_monthly

    rows = [("a", dt.datetime(2024, 1 + (i % 12), 15) + dt.timedelta(days=365 * (i // 12)), 1.0)
            for i in range(14)]
    df = _mk(spark, rows)
    plain = infer_frequency(df, ["sid"], "ts", tolerance=0.7).collect()[0]
    assert plain.freq_seconds is None  # 31-day mode covers only ~54% of diffs
    monthly = infer_frequency_monthly(df, ["sid"], "ts", tolerance=0.7).collect()[0]
    assert monthly.freq_months == 1 and monthly.modal_ratio > 0.9


def test_fill_gaps_null_key_series_keeps_values(spark):
    """A series whose key is NULL is one series like any other."""
    t0, t2 = _hours(0, 2)
    df = _mk(spark, [(None, t0, 1.0), (None, t2, 3.0)])
    out = fill_gaps(df, ["sid"], "ts", ["y"], "1h").orderBy("ts").collect()
    assert [(r.sid, r.ts.hour, r.y, r.filled) for r in out] == [
        (None, 0, 1.0, False), (None, 1, None, True), (None, 2, 3.0, False)]


_BAD_TIMESTAMPS = {
    "off_grid": ([0, 1.5, 3], "off the 1h grid: 2024-01-01 01:30:00"),
    "duplicate": ([0, 2, 2], "duplicate timestamp 2024-01-01 02:00:00"),
    "null": ([0, None, 2], "NULL timestamp"),
}


@pytest.mark.parametrize("fill", [fill_gaps, gapfill_dense], ids=lambda f: f.__name__)
@pytest.mark.parametrize("case", list(_BAD_TIMESTAMPS))
def test_fill_gaps_bad_timestamp_raises(spark, case, fill):
    """An off-grid, duplicate or NULL timestamp fails the query, naming the
    problem and the series, instead of dropping or repeating rows."""
    hours, message = _BAD_TIMESTAMPS[case]
    rows = [("a", None if h is None else T0 + dt.timedelta(hours=h), 1.0) for h in hours]
    with pytest.raises(Exception, match=message + r'.* in series \{"sid":"a"\}'):
        fill(_mk(spark, rows), ["sid"], "ts", ["y"], "1h").collect()


def _gap_fill_reference(rows, step, method, fill_edges):
    """Pure-Python gap-fill: per series, the grid from first to last ts at
    ``step``; values by method as documented on ``fill_gaps``."""
    series: dict = {}
    for sid, t, y in rows:
        series.setdefault(sid, {})[t] = y
    out = []
    for sid, obs in series.items():
        grid = [min(obs)]
        while grid[-1] < max(obs):
            grid.append(grid[-1] + step)
        vals = [obs.get(t) for t in grid]
        known = [(t, v) for t, v in zip(grid, vals) if v is not None]
        for t, v in zip(grid, vals):
            before = [kv for kv in known if kv[0] < t]
            after = [kv for kv in known if kv[0] > t]
            if v is None and method == "locf" and before:
                v = before[-1][1]
            elif v is None and method == "interp":
                if before and after:
                    (t0, v0), (t1, v1) = before[-1], after[0]
                    v = v0 + (t - t0).total_seconds() / (t1 - t0).total_seconds() * (v1 - v0)
                elif fill_edges and (before or after):
                    v = (before[-1] if before else after[0])[1]
            out.append((sid, t, v, t not in obs))
    return out


def test_fill_gaps_matches_python_reference(spark):
    """fill_gaps and gapfill_dense == a pure-Python gap-fill for every
    method × fill_edges: series with gaps, a NULL-key series, NULL values
    on observed rows, leading and trailing NULLs."""
    h = _hours(*range(10))
    rows = (
        [("a", t, float(i * i)) for i, t in enumerate(_hours(0, 1, 4, 5, 9))]
        + [("b", h[0], 7.0), ("b", h[4], None), ("b", h[9], 3.0)]
        + [("c", h[0], None), ("c", h[1], None), ("c", h[3], 7.0), ("c", h[6], 4.0),
           ("c", h[8], None)]
        + [(None, h[2], 1.0), (None, h[4], None), (None, h[5], 3.0)]
    )
    df = _mk(spark, rows)
    key = lambda r: (r[0] or "", r[1])  # noqa: E731
    for method in ("none", "locf", "interp"):
        for fill_edges in (False, True):
            want = sorted(_gap_fill_reference(rows, dt.timedelta(hours=1), method,
                                              fill_edges), key=key)
            for fill in (fill_gaps, gapfill_dense):
                got = sorted(
                    (tuple(r) for r in fill(df, ["sid"], "ts", ["y"], "1h", method=method,
                                            fill_edges=fill_edges).collect()),
                    key=key)
                case = (fill.__name__, method, fill_edges)
                assert [(g[0], g[1], g[3]) for g in got] == [(w[0], w[1], w[3]) for w in want], case
                for g, w in zip(got, want):
                    assert (g[2] is None) == (w[2] is None), (case, g, w)
                    if w[2] is not None:
                        assert g[2] == pytest.approx(w[2], rel=1e-12), (case, g, w)


def test_gapfill_plan_building_sends_no_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns DataFrame call-site capture off: building a
    ``gapfill_dense`` plan sends py4j commands, but none that sets or
    clears ``PySparkCurrentOrigin`` around each Column call."""
    from py4j.clientserver import ClientServerConnection

    sent = []
    send = ClientServerConnection.send_command

    def recording(self, command):
        sent.append(command)
        return send(self, command)

    df = _mk(spark, [("a", t, 1.0) for t in _hours(0, 3)])
    monkeypatch.setattr(ClientServerConnection, "send_command", recording)
    gapfill_dense(df, ["sid"], "ts", ["y"], "1h")
    monkeypatch.undo()
    assert sent
    assert not [c for c in sent if "PySparkCurrentOrigin" in c]

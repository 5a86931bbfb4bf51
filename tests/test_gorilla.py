"""Gorilla codec: lossless round-trip properties + Spark chunk pipeline."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from anofox_forecast_spark.compression.gorilla import (
    compress_chunks,
    decode_timestamps,
    decode_values,
    decompress_chunks,
    encode_timestamps,
    encode_values,
)


def _roundtrip_values(v):
    v = np.asarray(v, dtype=np.float64)
    blob = encode_values(v)
    out = decode_values(blob, v.size)
    # bit-exact including NaN payloads
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))
    return blob


def _roundtrip_ts(t):
    t = np.asarray(t, dtype=np.int64)
    blob = encode_timestamps(t)
    out = decode_timestamps(blob, t.size)
    assert np.array_equal(t, out)
    return blob


def test_values_basic():
    _roundtrip_values([1.0, 1.0, 2.5, -3.75, 0.0, 1e308, -1e-308, np.nan, np.inf])


def test_values_constant_compresses_hard():
    v = np.full(1000, 42.125)
    blob = _roundtrip_values(v)
    assert len(blob) < 8 + 1000 // 8 + 16  # ~1 bit/point after the first


def test_values_empty_and_single():
    assert encode_values(np.array([])) == b""
    _roundtrip_values([3.14])


def test_timestamps_regular_grid_compresses_hard():
    t = np.arange(0, 3600 * 1000, 3600, dtype=np.int64)
    blob = _roundtrip_ts(t)
    assert len(blob) < 16 + len(t) // 8 + 16  # dod==0 → 1 bit/point


def test_timestamps_irregular():
    _roundtrip_ts([0, 10, 20, 25, 1000, 1001, 999999999, 10**15])


def test_timestamps_negative_deltas():
    _roundtrip_ts([100, 50, 200, 199, 0])


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, width=64),
        min_size=0,
        max_size=200,
    )
)
def test_values_roundtrip_property(v):
    _roundtrip_values(v)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**40), max_value=2**40),
        min_size=0,
        max_size=200,
    )
)
def test_timestamps_roundtrip_property(t):
    _roundtrip_ts(sorted(t))


@pytest.mark.usefixtures("spark")
def test_spark_chunk_roundtrip(spark):
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    rng = np.random.default_rng(42)
    for sid in ("a", "b"):
        vals = np.round(50 + rng.normal(0, 5, 400), 3)
        for i in range(400):
            rows.append((sid, t0 + dt.timedelta(hours=i), float(vals[i])))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    chunks = compress_chunks(df, ["sid"], "ts", "y", chunk_freq="7d")
    cp = chunks.toPandas()
    assert cp["n_points"].sum() == 800
    assert (cp.groupby("sid").size() > 1).all()  # multiple chunks per series
    # blobs materially smaller than raw 16 B/point
    raw_bytes = 16 * 800
    packed = int(cp["ts_blob"].map(len).sum() + cp["val_blob"].map(len).sum())
    assert packed < raw_bytes * 0.8

    back = decompress_chunks(chunks, ["sid"]).toPandas()
    orig = df.toPandas()
    a = back.sort_values(["sid", "ts"]).reset_index(drop=True)
    b = orig.sort_values(["sid", "ts"]).reset_index(drop=True)
    assert (a["sid"] == b["sid"]).all()
    assert (a["ts"] == b["ts"]).all()
    assert np.array_equal(a["value"].to_numpy(), b["y"].to_numpy())


def test_vectorized_encoder_matches_decoder():
    from anofox_forecast_spark.compression.gorilla import (
        decode_values,
        encode_values_packed,
    )

    rng = np.random.default_rng(42)
    for v in (
        np.array([]),
        np.array([3.14]),
        np.array([1.0, 1.0, 2.5, -3.75, 0.0, 1e308, -1e-308, np.nan, np.inf]),
        np.full(500, 42.125),
        np.round(50 + rng.normal(0, 5, 3000), 3),
    ):
        [blob] = encode_values_packed(v)
        out = decode_values(blob, v.size)
        assert np.array_equal(
            np.asarray(v, float).view(np.uint64), out.view(np.uint64)
        )


def test_timestamps_packed_bit_identical():
    import numpy as np
    from anofox_forecast_spark.compression.gorilla import (
        encode_timestamps, encode_timestamps_packed,
    )
    rng = np.random.default_rng(9)
    for ts in (
        np.arange(0, 500) * 3_600_000_000,
        np.cumsum(rng.integers(1, 10_000, 800)).astype(np.int64),
        rng.integers(-2**50, 2**50, 200).astype(np.int64),
    ):
        assert [encode_timestamps(ts)] == encode_timestamps_packed(ts)


def test_compress_chunks_subsecond_roundtrip(spark):
    """Sub-second timestamps must round-trip exactly (r1 truncated to s)."""
    import datetime as dt
    from anofox_forecast_spark.compression.gorilla import (
        compress_chunks, decompress_chunks,
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("a", t0 + dt.timedelta(milliseconds=125 * i), float(i) + 0.5)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    blobs = compress_chunks(df, ["sid"], "ts", "y", chunk_freq="1d")
    back = decompress_chunks(blobs, ["sid"]).orderBy("ts").collect()
    assert [r.ts for r in back] == [r[1] for r in rows]
    assert [r.value for r in back] == [r[2] for r in rows]


# ---------------------------------------------------------------- chimp r4

def test_chimp_roundtrip_property():
    """Chimp (VLDB'22) value codec: bit-exact roundtrip on every shape —
    constants, counts, walks, specials (NaN/Inf/-0.0), noise."""
    import numpy as np

    from anofox_forecast_spark.compression.chimp import (
        decode_values_chimp,
        encode_values_chimp,
    )

    rng = np.random.default_rng(0)
    cases = [
        np.array([], dtype=np.float64),
        np.array([3.14]),
        np.full(1000, 42.5),
        rng.integers(0, 500, 5000).astype(np.float64),
        np.cumsum(rng.normal(0, 1, 5000)),
        np.array([0.0, -0.0, np.nan, np.inf, -np.inf, 1e-308, 1.7e308, 1.0]),
        rng.random(2000),
    ]
    for v in cases:
        back = decode_values_chimp(encode_values_chimp(v)[0], v.size)
        assert back.size == v.size
        if v.size:
            np.testing.assert_array_equal(v.view(np.uint64), back.view(np.uint64))


def test_chimp_smaller_than_gorilla_on_counts():
    """The headline claim, measured: chimp value blobs beat gorilla on
    count-like and random-walk series (not on pure constants, where
    gorilla's 1-bit repeat flag wins — documented tradeoff)."""
    import numpy as np

    from anofox_forecast_spark.compression.chimp import encode_values_chimp
    from anofox_forecast_spark.compression.gorilla import encode_values_packed

    rng = np.random.default_rng(1)
    counts = rng.integers(0, 500, 5000).astype(np.float64)
    walk = np.cumsum(rng.normal(0, 1, 5000))
    assert len(encode_values_chimp(counts)[0]) < len(encode_values_packed(counts)[0])
    assert len(encode_values_chimp(walk)[0]) < len(encode_values_packed(walk)[0])


def test_chimp_chunks_roundtrip(spark):
    """compress_chunks(codec='chimp') → decompress_chunks is the identity
    (decoder dispatches on the CHMv blob magic; mixed tables decode)."""
    import pandas as pd

    from anofox_forecast_spark.compression.gorilla import (
        compress_chunks,
        decompress_chunks,
    )

    rows = []
    ts = pd.date_range("2024-01-01", periods=500, freq="h")
    for s in ("a", "b"):
        for i, t in enumerate(ts):
            rows.append((s, t.to_pydatetime(), float((i * 7 + len(s)) % 97)))
    df = spark.createDataFrame(rows, "sid string, ts timestamp, value double")
    chunks = compress_chunks(df, ["sid"], "ts", "value", chunk_freq="7d",
                             codec="chimp")
    assert chunks.count() == 2 * 4  # 500h spans 4 7d-buckets per series
    back = decompress_chunks(chunks, ["sid"]).toPandas()
    orig = df.toPandas()
    merged = orig.merge(back, left_on=["sid", "ts"], right_on=["sid", "ts"],
                        suffixes=("", "_rt"))
    assert len(merged) == len(orig)
    assert (merged["value"] == merged["value_rt"]).all()


# ------------------------------------------------ batched chunk decoder


def _ts_rows(df):
    return df.orderBy("sid", "ts").toPandas()


def test_mixed_codec_chunk_table_roundtrip(spark):
    """A union of Gorilla and Chimp chunk rows, decoded in one Arrow batch,
    round-trips bit-exact: the decoder dispatches per blob, not per table."""
    import pandas as pd

    rng = np.random.default_rng(5)
    ts = pd.date_range("2024-01-01", periods=400, freq="h")
    rows = [(s, t.to_pydatetime(), float(v))
            for s in ("a", "b", "c")
            for t, v in zip(ts, np.round(rng.normal(50, 9, ts.size), 2))]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    gor = compress_chunks(df.filter("sid != 'b'"), ["sid"], "ts", "y", chunk_freq="7d")
    chm = compress_chunks(df.filter("sid = 'b'"), ["sid"], "ts", "y", chunk_freq="7d",
                          codec="chimp")
    chunks = gor.unionByName(chm).coalesce(1)
    magics = {bytes(r.val_blob[:4]) for r in chunks.select("val_blob").collect()}
    assert magics == {b"GORv", b"CHMv"}
    back = _ts_rows(decompress_chunks(chunks, ["sid"]))
    orig = _ts_rows(df)
    assert len(back) == len(orig)
    assert (back["sid"] == orig["sid"]).all()
    assert (back["ts"] == orig["ts"]).all()
    assert np.array_equal(back["value"].to_numpy().view(np.uint64),
                          orig["y"].to_numpy().view(np.uint64))


def test_seconds_unit_blob_matches_microsecond_twin(spark):
    """A hand-built 's'-unit timestamp blob decodes to the same timestamps
    as the 'u'-unit blob of the same instants in microseconds."""
    from anofox_forecast_spark.compression.gorilla import (
        _wrap_blob,
        encode_values_packed,
    )

    secs = np.array([1_704_067_200 + 3600 * i for i in range(20)] + [1_704_200_000],
                    dtype=np.int64)
    vals = np.linspace(0.0, 5.0, secs.size)
    val_blob = _wrap_blob(encode_values_packed(vals)[0])
    rows = [
        ("s", int(secs.size), _wrap_blob(encode_timestamps(secs), "s"), val_blob),
        ("us", int(secs.size), _wrap_blob(encode_timestamps(secs * 1_000_000), "us"),
         val_blob),
    ]
    chunks = spark.createDataFrame(
        rows, "sid string, n_points int, ts_blob binary, val_blob binary")
    back = decompress_chunks(chunks, ["sid"]).toPandas()
    by_unit = {sid: g.sort_values("ts") for sid, g in back.groupby("sid")}
    assert len(by_unit["s"]) == secs.size
    assert (by_unit["s"]["ts"].to_numpy() == by_unit["us"]["ts"].to_numpy()).all()
    assert by_unit["s"]["ts"].iloc[0].timestamp() == secs[0]


@pytest.mark.parametrize("blob_col", ["ts_blob", "val_blob"])
def test_truncated_blob_raises(spark, blob_col):
    """Dropping the last byte of either blob must fail the decode, never
    return fewer or garbage points."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(minutes=7 * i + i % 3), i * 1.5 + 0.1)
            for i in range(60)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    chunks = compress_chunks(df, ["sid"], "ts", "y", chunk_freq="7d")
    cut = chunks.withColumn(blob_col, F.expr(f"substr({blob_col}, 1, length({blob_col}) - 1)"))
    with pytest.raises(Exception, match="IndexError"):
        decompress_chunks(cut, ["sid"]).collect()

    raw = bytes(chunks.collect()[0][blob_col])[5:-1]
    decode = decode_timestamps if blob_col == "ts_blob" else decode_values
    with pytest.raises(IndexError):
        decode(raw, len(rows))


def test_null_key_series_roundtrip(spark):
    """A NULL-key series is a real series: it compresses to its own chunks
    and decodes back with a NULL key."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(sid, t0 + dt.timedelta(hours=i), float(i % 13) + (0.5 if sid else 0.25))
            for sid in (None, "a") for i in range(200)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    chunks = compress_chunks(df, ["sid"], "ts", "y", chunk_freq="7d")
    back = decompress_chunks(chunks, ["sid"])
    assert back.filter("sid IS NULL").count() == 200
    got = sorted((r.sid or "", r.ts, r.value) for r in back.collect())
    want = sorted((s or "", t, v) for s, t, v in rows)
    assert got == want


def _long_chunks(spark, minutes=3000):
    """Two series of minute data in 1d chunks of up to 1,440 points each."""
    import pandas as pd

    rng = np.random.default_rng(9)
    ts = pd.date_range("2024-01-01", periods=minutes, freq="min")
    rows = [(s, t.to_pydatetime(), float(v))
            for s in ("a", "b")
            for t, v in zip(ts, np.round(rng.normal(10, 2, ts.size), 3))]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    return df, compress_chunks(df, ["sid"], "ts", "y", chunk_freq="1d")


def test_decoder_frames_are_capped_by_points(spark):
    """Output frames hold fewer than cap points plus one chunk, and the
    capped frames concatenate to the uncapped decode."""
    import pandas as pd

    from anofox_forecast_spark.compression.gorilla import _decode_batches

    _, chunks = _long_chunks(spark)
    pdf = chunks.select("sid", "n_points", "ts_blob", "val_blob").toPandas()
    longest = int(pdf["n_points"].max())
    assert len(pdf) >= 4 and longest > 1000
    whole = list(_decode_batches([pdf], ["sid"], 0))
    assert len(whole) == 1
    capped = list(_decode_batches([pdf], ["sid"], 1000))
    assert len(capped) >= len(pdf) // 2
    assert all(len(f) < 1000 + longest for f in capped)
    pd.testing.assert_frame_equal(pd.concat(capped, ignore_index=True), whole[0])


def test_small_arrow_batches_roundtrip_long_chunks(spark):
    """With a small maxRecordsPerBatch, chunks far longer than the batch
    size still round-trip bit-exact."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        df, chunks = _long_chunks(spark)
        back = _ts_rows(decompress_chunks(chunks, ["sid"]))
    finally:
        spark.conf.set(key, old)
    orig = _ts_rows(df)
    assert len(back) == len(orig)
    assert (back["sid"] == orig["sid"]).all()
    assert (back["ts"] == orig["ts"]).all()
    assert np.array_equal(back["value"].to_numpy().view(np.uint64),
                          orig["y"].to_numpy().view(np.uint64))


# ------------------------------------------------ segmented (per-body) encode

_SPECIALS = [np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, 1.7e308]


def _check_segmented(vals, ts, starts):
    """Every chunk's blob from one segmented call equals the one-chunk
    encoders' bytes (the scalar loop for timestamps) and decodes back."""
    from anofox_forecast_spark.compression.chimp import (
        decode_values_chimp,
        encode_values_chimp,
    )
    from anofox_forecast_spark.compression.gorilla import (
        encode_timestamps_packed,
        encode_values_packed,
    )

    bounds = [*starts, vals.size]
    gor = encode_values_packed(vals, starts)
    chimp = encode_values_chimp(vals, starts)
    tsb = encode_timestamps_packed(ts, starts)
    assert len(gor) == len(chimp) == len(tsb) == len(starts)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        v, t = vals[a:b], ts[a:b]
        assert gor[i] == encode_values_packed(v)[0]
        assert chimp[i] == encode_values_chimp(v)[0]
        assert tsb[i] == encode_timestamps(t)
        assert np.array_equal(decode_values(gor[i], v.size).view(np.uint64), v.view(np.uint64))
        assert np.array_equal(decode_values_chimp(chimp[i], v.size).view(np.uint64),
                              v.view(np.uint64))
        assert np.array_equal(decode_timestamps(tsb[i], t.size), t)


def test_segmented_encoders_cover_edge_chunks():
    """1- and 2-point chunks, NaN/±inf/-0.0 and a delta-of-delta outside
    ±2047 (the '1111' + 64-bit branch), in one body."""
    vals = np.array([1.5, -0.0, 0.0, np.nan, np.inf, -np.inf, 2.0, 2.0, 5e-324, 3.25, 1.7e308])
    ts = 1_704_067_200_000_000 + np.cumsum(
        [0, 3600, 3600, 7, 3600, 1_000_000, 3600, -5, 3600, 3600, 90_000]).astype(np.int64)
    assert (np.abs(np.diff(np.diff(ts))) > 2047).any()
    # chunks of 1, 2, 1, 3 and 4 points
    _check_segmented(vals, ts, np.array([0, 1, 3, 4, 7]))


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_segmented_encoders_match_per_chunk_property(data):
    n = data.draw(st.integers(1, 80))
    vals = np.array(data.draw(st.lists(
        st.one_of(st.sampled_from(_SPECIALS), st.floats(width=64),
                  st.integers(-4, 4).map(float)),
        min_size=n, max_size=n)), dtype=np.float64)
    steps = data.draw(st.lists(
        st.one_of(st.just(3_600_000_000), st.integers(-3000, 3000),
                  st.integers(-(2**40), 2**40)),
        min_size=n, max_size=n))
    ts = 1_704_067_200_000_000 + np.cumsum(steps).astype(np.int64)
    cuts = data.draw(st.sets(st.integers(1, n - 1))) if n > 1 else set()
    _check_segmented(vals, ts, np.array([0, *sorted(cuts)], dtype=np.int64))


@pytest.mark.parametrize("codec", ["gorilla", "chimp"])
def test_compress_chunks_blobs_match_per_chunk_encoders(spark, codec):
    """Through Spark: a NULL-key series and series that span Arrow batches
    (maxRecordsPerBatch 7) get, per chunk, the bytes of encoding that chunk
    on its own."""
    import datetime as dt

    from pyspark.sql import functions as F

    from anofox_forecast_spark.compression.chimp import encode_values_chimp
    from anofox_forecast_spark.compression.gorilla import encode_values_packed

    t0 = dt.datetime(2024, 1, 1)
    minutes = [0, 20, 40, 61, 62, 63, 130, 131, 200, 260, 261, 262, 600, 601]
    rows = [(sid, t0 + dt.timedelta(minutes=m, microseconds=i % 3),
             _SPECIALS[i % len(_SPECIALS)] if i % 4 == 0 else i * 0.5 - 3.0)
            for sid in (None, "a", "b") for i, m in enumerate(minutes)]
    df = spark.createDataFrame(rows, "sid string, ts timestamp, y double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        chunks = compress_chunks(df, ["sid"], "ts", "y", chunk_freq="1h", codec=codec)
        got = chunks.withColumn("start_us", F.unix_micros("chunk_start")).collect()
    finally:
        spark.conf.set(key, old)
    points = df.select("sid", F.unix_micros("ts").alias("us"), "y").collect()
    encode = encode_values_chimp if codec == "chimp" else encode_values_packed
    hour = 3_600_000_000
    assert sum(r.n_points for r in got) == len(rows)
    assert any(r.sid is None for r in got) and any(r.n_points == 1 for r in got)
    for r in got:
        mine = sorted((p.us, p.y) for p in points
                      if p.sid == r.sid and p.us // hour * hour == r.start_us)
        ts = np.array([u for u, _ in mine], dtype=np.int64)
        vals = np.array([y for _, y in mine], dtype=np.float64)
        assert r.n_points == ts.size
        assert bytes(r.ts_blob)[5:] == encode_timestamps(ts)
        assert bytes(r.val_blob)[5:] == encode(vals)[0]

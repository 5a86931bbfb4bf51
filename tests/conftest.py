from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from anofox_forecast_spark.session import get_spark

    s = get_spark("anofox-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def non_ascii_pages(spark):
    """Hand-built pages whose text is multi-byte UTF-8, and a check that a
    1h tier table holds their reference measures: per (lang, host, hour),
    the page count and the Python UTF-8 byte count of the texts. Hosts are
    ``nonascii*.example.org``, disjoint from ``synthesize_pages`` hosts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from anofox_forecast_spark.streaming.rollup_stream import PAGES_DDL

    t0 = dt.datetime(2024, 1, 1, 2)
    texts = ["é", "日本語のテキスト", "emoji 🚀🎉", "naïve café", "plain ascii", "Ελληνικά", "😀"]
    rows = []
    for i, text in enumerate(texts * 3):
        host = f"nonascii{i % 2}.example.org"
        ts = t0 + dt.timedelta(minutes=23 * i)
        html = f"<html>{text}</html>".encode()
        rows.append((f"https://{host}/p/{i}", ts, html, text, ("ja", "en", "el")[i % 3]))
    want: dict = {}
    for url, ts, _, text, lang in rows:
        k = (lang, url.split("/")[2], ts.replace(minute=0, second=0, microsecond=0))
        n, b = want.get(k, (0, 0))
        want[k] = (n + 1, b + len(text.encode("utf-8")))

    def check(tier) -> None:
        got = {
            (r.lang, r.host, r.bucket_start): (r.crawl_count, r.text_bytes)
            for r in tier.filter(F.col("host").startswith("nonascii")).collect()
        }
        assert got == want

    return spark.createDataFrame(rows, PAGES_DDL), check

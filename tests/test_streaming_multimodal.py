"""Streaming smoke (in-memory sink) + multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphminer_spark.multimodal import (
    _params_for_key,
    dedup_assets,
    extract_media_meta,
    frame_sample,
    make_fake_media,
    synthesize_assets,
)
from graphminer_spark.streaming.events import (
    sessionize,
    stream_windowed_counts,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"
EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def test_streaming_matches_batch(spark, tmp_path):
    # stage the events parquet into a dir the stream can watch
    batch = spark.read.parquet(f"{SF}/events.parquet")
    src = str(tmp_path / "stream_src")
    batch.write.mode("overwrite").parquet(src)

    q = stream_windowed_counts(
        spark, src, EVENTS_SCHEMA, minutes=60, query_name="wc_test"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["window_start"], r["event_type"]): (r["n"], r["total_value_c"])
            for r in spark.sql("SELECT * FROM wc_test").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value_c"])
        for r in windowed_counts(batch, minutes=60).collect()
    }
    assert got == want and len(want) > 10


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: two sessions (gap 45 min between event 2 and 3)
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 1, "a", 1.0, "{}"),
        (3, base + dt.timedelta(minutes=55), 1, "a", 1.0, "{}"),
        # user 2: one session
        (4, base, 2, "a", 1.0, "{}"),
    ]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    got = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


@pytest.fixture()
def assets(spark):
    rows = [
        (1, make_fake_media(1, 0, 64, 64, 1)),
        (2, make_fake_media(2, 2, 320, 240, 10)),
        (3, make_fake_media(1, 0, 64, 64, 1)),  # duplicate of asset 1
        (4, make_fake_media(4, 1, 0, 0, 0)),
    ]
    return spark.createDataFrame(rows, "asset_id long, media binary")


def test_media_meta(spark, assets):
    meta = {r["asset_id"]: r for r in extract_media_meta(assets).collect()}
    assert meta[1]["kind"] == "image" and meta[1]["width"] == 64
    assert meta[2]["kind"] == "video" and meta[2]["n_frames"] == 10
    assert meta[4]["kind"] == "audio"
    assert meta[1]["content_sha256"] == meta[3]["content_sha256"]


def test_frame_sampling(spark, assets):
    frames = [
        (r["asset_id"], r["frame_idx"]) for r in frame_sample(assets, 2).collect()
    ]
    assert sorted(frames) == [(2, i) for i in range(0, 10, 2)]


def test_asset_dedup(spark, assets):
    out = {r["keep_id"]: r["n_copies"] for r in dedup_assets(assets).collect()}
    assert out[1] == 2 and out[2] == 1 and out[4] == 1


def test_synthesize_assets_roundtrip(spark):
    """Blob synthesis → header decode recovers the closed-form params
    the SQL oracle predicts, including the exact byte length."""
    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    meta = {
        r["asset_id"]: r
        for r in extract_media_meta(synthesize_assets(docs)).collect()
    }
    assert len(meta) == 40
    for aid in (0, 1, 2, 29, 33):
        kind, w, h, fr = _params_for_key(aid)
        r = meta[aid]
        assert (r["width"], r["height"], r["n_frames"]) == (w, h, fr)
        assert r["kind"] == {0: "image", 1: "audio", 2: "video"}[kind]
        assert r["n_bytes"] == 11 + 32 * ((w * h * fr) // 32 % 64 + 1)


def test_synthesize_assets_dup_groups(spark):
    docs = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    out = {
        r["keep_id"]: r["n_copies"]
        for r in dedup_assets(synthesize_assets(docs, dup_groups=10)).collect()
    }
    assert out == {i: 3 for i in range(10)}


def test_unknown_and_corrupt_media_raise(spark):
    """Since round 5, real PNG/JPEG/BMP/GIF/WAV decode for real — so a
    PNG signature followed by garbage is a CORRUPT file (must raise,
    not return junk meta), and a format no decoder claims still raises
    NotImplementedError."""
    for blob in (
        b"\x89PNG\r\n\x1a\nrealpngbytes",  # valid signature, corrupt body
        b"\x00\x01\x02 no codec owns this",  # unknown format
    ):
        df = spark.createDataFrame(
            [(9, bytearray(blob))], "asset_id long, media binary"
        )
        with pytest.raises(Exception) as ei:
            extract_media_meta(df).collect()
        assert (
            "NotImplementedError" in str(ei.value)
            or "codec" in str(ei.value)
            or "Error" in str(ei.value)
        )


def test_stream_dedup_with_watermark(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "a", 1.0, "{}"),
        (1, base, 1, "a", 1.0, "{}"),  # exact duplicate event
        # same event_id re-emitted with a DIFFERENT ts inside the
        # watermark — dropDuplicatesWithinWatermark drops it too
        (1, base + dt.timedelta(minutes=1), 1, "a", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=5), 1, "b", 2.0, "{}"),
        (2, base + dt.timedelta(minutes=5), 2, "b", 2.0, "{}"),  # same id+ts
    ]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    src = str(tmp_path / "dedup_src")
    df.write.mode("overwrite").parquet(src)

    from graphminer_spark.streaming.events import stream_dedup_events

    q = stream_dedup_events(spark, src, EVENTS_SCHEMA, query_name="dd_test")
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT event_id FROM dd_test").collect()
    finally:
        q.stop()
    assert sorted(r["event_id"] for r in got) == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    events = [
        (10, base + dt.timedelta(minutes=30), 1, "click", 1.0, "{}"),
        (11, base + dt.timedelta(minutes=90), 1, "click", 1.0, "{}"),
        (12, base + dt.timedelta(minutes=30), 2, "click", 1.0, "{}"),
    ]
    marks = [
        (100, base, 1, "open", 0.0, "{}"),   # within 1h of event 10 only
        (101, base + dt.timedelta(minutes=60), 1, "open", 0.0, "{}"),
    ]
    e_src, m_src = str(tmp_path / "ev"), str(tmp_path / "mk")
    spark.createDataFrame(events, EVENTS_SCHEMA).write.parquet(e_src)
    spark.createDataFrame(marks, EVENTS_SCHEMA).write.parquet(m_src)

    from graphminer_spark.streaming.events import stream_enriched_events

    q = stream_enriched_events(
        spark, e_src, m_src, EVENTS_SCHEMA, query_name="ss_test"
    )
    try:
        q.processAllAvailable()
        got = {
            (r["event_id"], r["mark_id"])
            for r in spark.sql("SELECT * FROM ss_test").collect()
        }
    finally:
        q.stop()
    # event 10 joins mark 100 (30 min earlier, in window); event 11
    # joins only mark 101 (mark 100 is 90 min earlier — outside the
    # 1-hour window); user-2 event matches nothing
    assert got == {(10, 100), (11, 101)}


def test_funnel_ordering_semantics(spark):
    import datetime as dt

    from graphminer_spark.streaming.events import funnel_counts

    base = dt.datetime(2024, 1, 1)

    def ev(i, minutes, user, etype):
        return (i, base + dt.timedelta(minutes=minutes), user, etype, 1.0, "{}")

    rows = [
        # user 1: view -> click -> purchase (completes)
        ev(1, 0, 1, "view"), ev(2, 10, 1, "click"), ev(3, 20, 1, "purchase"),
        # user 2: click BEFORE first view -> click stage not completed
        ev(4, 0, 2, "click"), ev(5, 10, 2, "view"),
        # user 3: view -> click, purchase before click -> no purchase stage
        ev(6, 0, 3, "purchase"), ev(7, 5, 3, "view"), ev(8, 10, 3, "click"),
        # user 4: never views
        ev(9, 0, 4, "purchase"),
    ]
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    row = funnel_counts(df).collect()[0]
    assert (row["n_view"], row["n_view_click"], row["n_view_click_purchase"]) == (3, 2, 1)

"""Drained stream_trail_edges == batch trail_network_edges, plus the
out-of-order contract and cross-batch linking."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from geo_spark.operators.network import trail_network_edges
from geo_spark.streaming.network import stream_trail_edges


def _fixes():
    rows = []
    # user 1 walks a 4-site path with one repeated edge and one
    # sub-resolution move; user 2 shares an edge
    for i, (la, ln) in enumerate(
        [(0.1, 0.1), (0.1, 1.1), (1.1, 1.1), (1.2, 1.2), (0.2, 1.2), (0.1, 1.3)]
    ):
        rows.append((1, 10 + i, la, ln))
    for i, (la, ln) in enumerate([(1.1, 1.3), (0.3, 1.1), (0.2, 2.1)]):
        rows.append((2, 20 + i, la, ln))
    return pd.DataFrame(
        rows, columns=["user_id", "ts_us", "lat", "lng"]
    )


def _drain(spark, tmp_path, frames, schema=None, **op_kwargs):
    src = str(tmp_path / "fixes")
    schema = schema or "user_id long, ts_us long, lat double, lng double"
    for i, f in enumerate(frames):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(f, schema).coalesce(1).write.mode(mode).parquet(src)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_trail_edges(stream, **op_kwargs)
        .writeStream.format("memory")
        .queryName("net_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql("SELECT * FROM net_stream").toPandas()
    q.stop()
    return static, rows


def test_drained_equals_batch(spark, tmp_path):
    fx = _fixes()
    # split mid-trail so linking must cross batch state
    static, rows = _drain(
        spark, tmp_path, [fx.iloc[:4], fx.iloc[4:7], fx.iloc[7:]]
    )
    got = (
        rows.groupby(["u", "v"]).size().rename("n_segments").reset_index()
    )
    want = (
        trail_network_edges(static, order_cols=("ts_us",))
        .orderBy("u", "v")
        .toPandas()
    )
    got = got.sort_values(["u", "v"]).reset_index(drop=True)
    want = want.sort_values(["u", "v"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64")
    )


def test_duplicate_ts_tiebreak_matches_batch(spark, tmp_path):
    """ADVICE r4: rows sharing a timestamp must link in the batch
    operator's (ts, event_id) order when the stream is given the same
    tie-break column.  The zig-zag fixture below produces DIFFERENT
    edge multisets under (ts, site) vs (ts, event_id) ordering, so a
    wrong sort cannot pass."""
    rows = [
        # user 1: three fixes at ts=10 whose site order differs from
        # their event_id order (site keys grow with lat/lng, so
        # (ts, site) would visit A,B,C while event_id says B,C,A)
        (1, 10, 101, 1.1, 1.1),  # B
        (1, 10, 102, 2.1, 2.1),  # C
        (1, 10, 103, 0.1, 0.1),  # A
        (1, 11, 104, 3.1, 3.1),  # D
        (1, 11, 105, 1.1, 1.1),  # B again (duplicate ts at 11 too)
    ]
    fx = pd.DataFrame(
        rows, columns=["user_id", "ts_us", "event_id", "lat", "lng"]
    )
    schema = "user_id long, ts_us long, event_id long, lat double, lng double"
    static, drained = _drain(
        spark, tmp_path, [fx], schema=schema, tiebreak_col="event_id"
    )
    got = (
        drained.groupby(["u", "v"]).size().rename("n_segments").reset_index()
    )
    want = (
        trail_network_edges(static, order_cols=("ts_us", "event_id"))
        .orderBy("u", "v")
        .toPandas()
    )
    got = got.sort_values(["u", "v"]).reset_index(drop=True)
    want = want.sort_values(["u", "v"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64")
    )
    # fixture sanity: ordering the same fixes by (ts, site) yields a
    # DIFFERENT edge multiset, so this test cannot pass by accident
    def site(la, ln):
        return (round(la) + 90) * 361 + (round(ln) + 180)

    by_site = fx.assign(site=[site(a, b) for a, b in zip(fx.lat, fx.lng)])
    by_site = by_site.sort_values(["ts_us", "site"], kind="mergesort")
    path = list(by_site["site"])
    site_edges = sorted(
        (min(a, b), max(a, b))
        for a, b in zip(path, path[1:])
        if a != b
    )
    want_edges = sorted(
        (int(u), int(v))
        for u, v, n in want.to_numpy().tolist()
        for _ in range(int(n))
    )
    assert site_edges != want_edges


def test_out_of_order_raises(spark, tmp_path):
    fx = _fixes()
    late = pd.DataFrame(
        [[1, 5, 3.3, 3.3]], columns=["user_id", "ts_us", "lat", "lng"]
    )
    with pytest.raises(Exception, match="high-water|Stream"):
        _drain(spark, tmp_path, [fx.iloc[:4], late])


def test_duplicate_ts_without_tiebreak_raises(spark, tmp_path):
    """With no tiebreak_col, per-user ts uniqueness is the operator's
    contract: a duplicate ts inside a batch raises instead of linking
    in an order the batch operator would not use."""
    fx = _fixes()
    fx.loc[1, "ts_us"] = fx.loc[0, "ts_us"]
    with pytest.raises(Exception, match="duplicate ts|Stream"):
        _drain(spark, tmp_path, [fx])

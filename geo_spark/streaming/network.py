"""Streaming trail-network edge extraction: the continuous twin of
operators/network.trail_network_edges (the 18th batch==stream pair).

Each user's GPS fixes arrive over micro-batches; state per user is the
LAST snapped site plus the ts high-water mark — two longs, bounded by
the user universe, never by trace length.  Every arriving fix links to
the previous one and emits an undirected junction-graph edge when the
two sites differ (sub-resolution moves emit nothing, exactly like the
batch operator).  Downstream, the same aggregation that concludes the
batch path (groupBy(u, v).count) turns the drained edge stream into
the weighted edge table — the drained-equivalence the test pins.

Snapping happens BEFORE the stateful pass, in the same native
snap_site_cols/site_key_col columns the batch operator uses — one
code path, no numpy re-implementation to drift.

In-order contract per user (the streaming/asof.py rule): fixes arrive
with non-decreasing ts across micro-batches; INSIDE a batch rows sort
by (ts_us, tiebreak_col) before linking — pass the same tie-break
column the batch operator's order_cols uses (e.g. event_id) so rows
sharing a timestamp link in the same order on both paths (ADVICE r4:
without it, duplicate-ts fixes made drained==batch hold only for
ts-unique traces).  With no tiebreak_col the fallback sort is
(ts_us, site), deterministic but batch-equivalent only when ts is
unique per user — that uniqueness is then a hard contract of this
operator, ENFORCED within each batch: a duplicate per-user ts raises.  Ties SPLIT ACROSS micro-batches are unrecoverable by any
sort (state already consumed the earlier row); keeping equal-ts rows
of one user in one batch is the ingest's responsibility, same as the
asof rule.  The ts contract is ENFORCED: state carries the per-user
ts high-water mark and a fix below it raises (failing the query)
instead of silently linking out of order — late data replays through
the batch operator.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from geo_spark.operators.network import site_key_col, snap_site_cols

STATE_SCHEMA = "site long, hw long"


def stream_trail_edges(
    fixes: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    latlng: tuple[str, str] = ("lat", "lng"),
    exponent: int = 0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """fixes(user, ts_us, lat, lng) stream -> (user_id, ts_us, u, v)
    edge rows, one per site transition (u < v).  ``tiebreak_col``
    orders equal-ts rows within a batch exactly like the batch
    operator's second order column (e.g. event_id); omit it only when
    ts is unique per user (see module docstring)."""
    ila, iln = snap_site_cols(
        F.col(latlng[0]), F.col(latlng[1]), exponent
    )
    cols = [
        F.col(user_col).alias("user_id"),
        F.col(ts_col).cast("long").alias("ts_us"),
        site_key_col(ila, iln, exponent).alias("site"),
    ]
    if tiebreak_col is not None:
        cols.append(F.col(tiebreak_col).alias("_tb"))
    src = fixes.select(*cols)
    sort_cols = ["ts_us", "_tb" if tiebreak_col is not None else "site"]
    out_schema = "user_id long, ts_us long, u long, v long"

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs)).sort_values(
            sort_cols, kind="mergesort"
        )
        if tiebreak_col is None and batch["ts_us"].duplicated().any():
            dup = int(batch["ts_us"][batch["ts_us"].duplicated()].iloc[0])
            raise ValueError(
                f"stream_trail_edges: duplicate ts {dup} for user "
                f"{key[0]!r} with no tiebreak_col — equal-ts fixes would "
                f"link in (ts, site) order, not the batch operator's; "
                f"pass tiebreak_col"
            )
        prev, hw = state.get if state.exists else (None, None)
        if hw is not None and int(batch["ts_us"].iloc[0]) < hw:
            raise ValueError(
                f"stream_trail_edges: out-of-order fix for user "
                f"{key[0]!r}: ts {int(batch['ts_us'].iloc[0])} below the "
                f"processed high-water mark {hw} — late data must replay "
                f"through the batch trail_network_edges"
            )
        rows = []
        for ts, site in zip(batch["ts_us"], batch["site"]):
            site = int(site)
            if prev is not None and site != prev:
                rows.append(
                    (key[0], int(ts), min(prev, site), max(prev, site))
                )
            prev = site
        new_hw = int(batch["ts_us"].iloc[-1])
        state.update(
            (prev, new_hw if hw is None else max(hw, new_hw))
        )
        yield pd.DataFrame(rows, columns=["user_id", "ts_us", "u", "v"])

    return src.groupBy("user_id").applyInPandasWithState(
        fn,
        out_schema,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

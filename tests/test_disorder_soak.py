"""W1 disorder-adjust SOAK (VERDICT r10 #8): the cross-batch clamp was
pinned on a 3-batch hand trace only; this drives the manual pipeline
through 12 ingests with MIXED disorder — within-batch shuffled
arrivals (treated concurrent, the documented micro-batch
approximation) and cross-batch stragglers reaching two batches back —
and pins three properties:

* exactness: final store counts equal an independent pure-Python
  replay of the Trill Adjust semantics (clamp each batch's arrivals to
  the carried watermark, tumble, close windows at end <= final wm);
* state flatness: the carry (open-window frontier) stays bounded by
  ~2 windows of events across all 12 ingests — late stragglers must
  not pin old windows open;
* replay idempotence: a full re-delivery over a fresh checkpoint
  leaves the store byte-identical (commit markers + overwrite-keyed
  writes), stragglers included.

Each ingest runs as its own availableNow drain against the SAME store
(commit-marker protocol), so the soak also exercises restart-with-
carry 12 times, not one long-lived query.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest

from tweetaggregates_spark.store import AggregateStore

pytestmark = pytest.mark.soak

BASE = datetime.datetime(2024, 5, 1, 12, 0, 0)
TOL = datetime.timedelta(seconds=5)
WIN = datetime.timedelta(minutes=10)


def _line(ts: datetime.datetime, i: int) -> str:
    return json.dumps(
        {
            "id": 7_000_000 + i,
            "text": f"tweet {i}",
            "timestamp_ms": str(int(ts.timestamp() * 1000)),
            "user": {"screen_name": f"u{i % 7}", "followers_count": 10},
            "entities": {"hashtags": [], "user_mentions": []},
        }
    )


def _batches() -> list[list[datetime.datetime]]:
    """12 ingests; batch i spans minutes [10i, 10i+10): 10 on-time
    events arriving shuffled WITHIN the batch, plus (from batch 2 on)
    two stragglers with event times from batch i-2's span — strictly
    older than the carried watermark, so they must clamp."""
    out = []
    for i in range(12):
        base_min = i * 10
        on_time = [
            BASE + datetime.timedelta(minutes=base_min + ((j * 7) % 10))
            for j in range(10)
        ]
        batch = list(on_time)
        if i >= 2:
            batch.append(BASE + datetime.timedelta(minutes=(i - 2) * 10 + 3))
            batch.append(BASE + datetime.timedelta(minutes=(i - 2) * 10 + 8))
        out.append(batch)
    return out


def _reference_counts(batches) -> dict[datetime.datetime, int]:
    """Pure-Python Trill-Adjust replay: carried watermark = running max
    adjusted ts − tolerance (monotone); each batch's arrivals clamp to
    the PREVIOUS batches' watermark; final counts = tumbling 10-min
    histogram of adjusted events over windows with end <= final wm."""
    wm = None
    adjusted: list[datetime.datetime] = []
    for batch in batches:
        adj = [max(ts, wm) if wm is not None else ts for ts in batch]
        adjusted.extend(adj)
        new_wm = max(adjusted) - TOL
        wm = new_wm if wm is None or new_wm > wm else wm
    counts: dict[datetime.datetime, int] = {}
    for ts in adjusted:
        start = BASE + WIN * ((ts - BASE) // WIN)
        end = start + WIN
        if end <= wm:
            counts[end] = counts.get(end, 0) + 1
    return counts


def _store_counts(spark, store_dir) -> dict:
    rows = AggregateStore(spark, str(store_dir)).read("counts").collect()
    return {r.window_time: r.cnt for r in rows}


def _carry_rows(spark, store_dir) -> int:
    root = os.path.join(str(store_dir), "_state", "carry")
    dirs = [d for d in os.listdir(root)] if os.path.isdir(root) else []
    if not dirs:
        return 0
    return sum(
        spark.read.parquet(os.path.join(root, d)).count() for d in dirs
    )


def test_adjust_soak_exact_flat_and_idempotent(spark, tmp_path):
    from tweetaggregates_spark.streaming.pipeline import (
        run_streaming_aggregates_manual,
    )

    batches = _batches()
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    store = tmp_path / "store"

    carry_sizes = []
    for i, batch in enumerate(batches):
        lines = [_line(ts, i * 100 + j) for j, ts in enumerate(batch)]
        (in_dir / f"{i:03d}.ndjson").write_text("\n".join(lines) + "\n")
        # ONE shared checkpoint: each availableNow run resumes the
        # stream, picks up exactly the new file, and batch ids continue
        # — a true restart-with-carry every ingest
        run_streaming_aggregates_manual(
            spark,
            str(in_dir),
            str(store),
            str(tmp_path / "ckpt"),
            available_now=True,
            disorder_policy="adjust",
        )
        carry_sizes.append(_carry_rows(spark, store))

    # exactness vs the independent reference replay
    got = _store_counts(spark, store)
    want = _reference_counts(batches)
    assert got == want
    # the stragglers actually adjusted: each batch >= 2 contributes 2
    # clamped events to the window open at its arrival, so interior
    # windows count 12, not 10
    assert got[BASE + datetime.timedelta(minutes=20)] == 12

    # state flatness: the carry never exceeds ~2 windows of events
    # (10 on-time + 2 stragglers per span, two spans open at most) and
    # ends where it started once the cadence is steady
    assert max(carry_sizes) <= 30, carry_sizes
    assert carry_sizes[-1] <= carry_sizes[2], carry_sizes

    # replay idempotence: full re-delivery, fresh checkpoint, same store
    before = got
    run_streaming_aggregates_manual(
        spark,
        str(in_dir),
        str(store),
        str(tmp_path / "ckpt_replay"),
        available_now=True,
        max_files_per_trigger=1,
        disorder_policy="adjust",
    )
    assert _store_counts(spark, store) == before

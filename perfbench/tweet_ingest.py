"""tweet_ingest: open-loop live ingest through
``streaming.pipeline.run_streaming_aggregates``.

One generator drops an NDJSON tweet file into the query's drop directory
every PERIOD_S seconds, on schedule whatever the query is doing. The query
runs continuously (default trigger) with the arguments bench.py's soak
passes. Event time runs EVENT_MULTIPLE times faster than wall time, so
each file carries PERIOD_S * EVENT_MULTIPLE / 60 event minutes and closes
that many hopping windows. A warm-up file goes first; its triggers are
set-up, not measurement, and so is computing the output check's batch
plan over the inputs. The warm-up file spreads WARM_TWEETS over WARM_DAYS
event days, so the store the run leaves spans several date partitions.

The traced run also drives the store read path (store_read.py) against
the store the traced phase wrote.

Latency is freshness: per hopping window, from the scheduled drop of the
file whose events first take the watermark (max event time - 5 s) past
the window's end, to the commit marker of the micro-batch that wrote the
window's rows.
"""

from __future__ import annotations

import calendar
import glob
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

import common
import gen
import shared
import stats
import store_read

# A backlog drains one file per ~4 s trigger, but live, each data trigger
# is followed by a no-data trigger that evicts the closed windows; one
# file per 10 s keeps that cycle (~6.5 s on an idle 4-core host, 10-12 s on
# a busy one) from queueing the next file. At the default 10 s run length
# this is one measured file.
PERIOD_S = 10.0
TWEETS_PER_FILE = 4_000
WARM_TWEETS = 300
WARM_DAYS = 3
EVENT_MULTIPLE = 600
TOLERANCE_MS = 5_000
# the arguments bench.py's streaming soak passes
PIPELINE_ARGS = {"max_files_per_trigger": 1, "state_shuffle_partitions": 8,
                 "source_parallelism": 16}


def generate(seed: int, seconds: float, out_dir: str) -> list[dict]:
    """The warm-up file, then one file per drop scheduled at 0, PERIOD_S,
    ... before ``seconds``."""
    span_ms = int(PERIOD_S * EVENT_MULTIPLE * 1000)
    warm_ms = WARM_DAYS * 86_400_000
    files = []
    for i in range(1 + math.ceil(seconds / PERIOD_S)):
        if i == 0:
            n, start, span = WARM_TWEETS, gen.BASE_MS, warm_ms
        else:
            n, start, span = TWEETS_PER_FILE, gen.BASE_MS + warm_ms + (i - 1) * span_ms, span_ms
        lines, max_ts = gen.tweet_file(seed, i, n, start, span)
        path = os.path.join(out_dir, f"{i:05d}.ndjson")
        gen.write_lines(path, lines)
        files.append({"path": path, "max_ts": max_ts, "tweets": n})
    return files


def _settled(query, n_data: int) -> bool:
    """n_data files processed and the eviction batch after the last one done."""
    prog = shared.progress(query)
    data = shared.data_batches(prog)
    return (len(data) >= n_data and prog[-1]["numInputRows"] == 0
            and prog[-1]["batchId"] > data[-1]["batchId"])


def run_phase(ctx, files: list[dict], tracer, tag: str) -> dict:
    from tweetaggregates_spark.store import AggregateStore
    from tweetaggregates_spark.streaming.pipeline import run_streaming_aggregates

    spark = ctx.spark
    root = common.fresh_dir(tag)
    drop, tmp = os.path.join(root, "in"), os.path.join(root, "tmp")
    os.makedirs(drop)
    os.makedirs(tmp)
    store_dir = os.path.join(root, "store")
    measured = files[1:]

    tracer.wrap(AggregateStore, "write_batch", "store.write_batch",
                annotate=lambda a, k, o: {"family": a[1], "batch_id": a[3]})
    t_warm = time.time()
    shared.publish(files[0]["path"], tmp, drop)
    [query] = run_streaming_aggregates(
        spark, drop, store_dir, os.path.join(root, "ckpt"),
        available_now=False, **PIPELINE_ARGS)
    failed_wait = False
    try:
        # the check's batch plan runs while the warm-up file's triggers do
        expected = expected_digests(spark, files)
        if not shared.wait_for(lambda: _settled(query, 1), 170, query):
            raise RuntimeError("warm-up trigger did not finish")
        warm_s = time.time() - t_warm
        n_warm = len(shared.progress(query))
        cpu0, t0 = common.tree_cpu_seconds(), time.time()
        sched, actual = [], []
        for i, f in enumerate(measured):
            due = t0 + i * PERIOD_S
            time.sleep(max(0.0, due - time.time()))
            actual.append(shared.publish(f["path"], tmp, drop))
            sched.append(due)
        if not shared.wait_for(lambda: _settled(query, 1 + len(measured)), 120, query):
            failed_wait = True
        t_end, cpu1 = time.time(), common.tree_cpu_seconds()
    finally:
        query.stop()
        tracer.restore()
    error = query.exception()
    prog = shared.progress(query)
    mprog = prog[n_warm:]

    # freshness per hopping window
    commits_dir = os.path.join(store_dir, "_state", "commits")
    commit_t = {int(n[:-5]): os.stat(os.path.join(commits_dir, n)).st_mtime
                for n in os.listdir(commits_dir) if n.endswith(".json")}
    running, m = [], 0
    for f in files:
        m = max(m, f["max_ts"])
        running.append(m)
    windows = spark.read.parquet(os.path.join(store_dir, "hopping_counts")) \
        .select("window_time", "batch_id").collect()
    fresh, uncommitted = [], 0
    for r in windows:
        end_ms = calendar.timegm(r["window_time"].timetuple()) * 1000
        k = next((k for k, mk in enumerate(running) if mk - TOLERANCE_MS >= end_ms), None)
        if k is None or k == 0:
            continue  # never closed, or closed by the warm-up file
        if r["batch_id"] not in commit_t:
            uncommitted += 1
            continue
        fresh.append(commit_t[r["batch_id"]] - sched[k - 1])

    tweets = sum(f["tweets"] for f in measured)
    first_measured = min((p["batchId"] for p in shared.data_batches(mprog)), default=None)
    last_commit = max((t for b, t in commit_t.items()
                       if first_measured is not None and b >= first_measured), default=t_end)
    dropped_late = sum(so.get("numRowsDroppedByWatermark", 0)
                       for p in prog for so in p["stateOperators"])
    notes = []
    correct = (error is None and not failed_wait and not uncommitted
               and len(fresh) > 0 and min(fresh) > 0)
    if not correct:
        notes.append(f"{tag}: query error={error!r} settled={not failed_wait} "
                     f"windows={len(fresh)} without commit marker={uncommitted}")
    t_check = time.time()
    ok, msg = _check_store(spark, store_dir, files, expected)
    correct = correct and ok
    notes.append(f"{tag}: {msg}; measured {t_end - t0:.1f}s, check {time.time() - t_check:.1f}s")
    attempted, failed = len(mprog), (1 if error is not None or failed_wait else 0) + dropped_late
    reads = None
    if tracer.enabled:
        reads = store_read.probe(spark, store_dir, ctx.seed, ctx.seconds, tracer)
        correct = correct and reads["correct"]
        attempted += reads["attempted"]
        failed += reads["failed"]
        notes += [f"{tag} store read: {m}" for m in reads["notes"]]
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "warm_s": warm_s,
        "fresh": fresh,
        "late_ms": [(a - s) * 1000.0 for a, s in zip(actual, sched)],
        "e2e": {
            "latency_p50_ms": stats.percentile(fresh, 50) * 1000.0 if fresh else 0.0,
            "latency_p90_ms": stats.percentile(fresh, 90) * 1000.0 if fresh else 0.0,
            "throughput_per_s": tweets / max(last_commit - t0, 1e-9),
            "cpu_s_per_1k_ops": (cpu1 - cpu0) / (tweets / 1000.0),
        },
        "window": (t0, t_end),
        "prog": mprog,
        "actual": actual,
        "store_dir": store_dir,
        "tweets": tweets,
        "dropped_late": dropped_late,
        "reads": reads,
        "notes": notes,
    }


def expected_digests(spark, files: list[dict]) -> dict:
    """Digest per family of plans.tweets.tweet_aggregates over every
    file's lines, restricted to the windows the final watermark closes.
    It needs only the inputs, so it runs during set-up, where it also
    warms the operators stage 2 shares with the batch plan."""
    import datetime

    from pyspark.sql import functions as F

    from tweetaggregates_spark.plans import tweets as tp

    flat = tp.parse_tweets(spark.read.text([f["path"] for f in files])).persist()
    try:
        parsed = flat.count()
        wm = datetime.datetime.utcfromtimestamp(
            (max(f["max_ts"] for f in files) - TOLERANCE_MS) / 1000.0)
        fams = tp.tweet_aggregates(flat)
        with ThreadPoolExecutor(len(fams)) as pool:
            digests = pool.map(
                lambda df: (df.columns, shared.multiset_digest(
                    df.filter(F.col("window_time") <= F.lit(wm)))), fams.values())
            return {"parsed": parsed, "families": dict(zip(fams, digests))}
    finally:
        flat.unpersist()


def _check_store(spark, store_dir: str, files: list[dict], expected: dict) -> tuple[bool, str]:
    """Every valid generated tweet parses, and the committed family rows
    equal the batch plan's (``expected_digests``)."""
    from tweetaggregates_spark.store import AggregateStore

    generated = sum(f["tweets"] for f in files)
    if expected["parsed"] != generated:
        return False, f"parsed {expected['parsed']} tweets, generated {generated} valid"
    fams = expected["families"]
    store = AggregateStore(spark, store_dir)
    with ThreadPoolExecutor(len(fams)) as pool:
        got = dict(zip(fams, pool.map(
            lambda item: shared.multiset_digest(store.read(item[0]).select(*item[1][0])),
            fams.items())))
    for fam, (_, want) in fams.items():
        if got[fam] != want:
            return False, f"{fam}: store (rows, hashes) {got[fam]} != batch plan {want}"
    return True, f"store matches batch plan, rows {({f: d[0] for f, d in got.items()})}"


def layers(ctx, ph: dict, tracer) -> dict:
    """Per-layer metrics of a traced phase."""
    status = ctx.status
    prog = ph["prog"]
    data = shared.data_batches(prog)
    t0, t1 = ph["window"]
    writes = [s for s in tracer.named("store.write_batch") if t0 <= s["start"] <= t1]
    trig, jobs, stages, body_self, backlog = [], [], [], [], []
    seen_data = 0
    for p in prog:
        ws, we = shared.trigger_window(p)
        trig.append(p["durationMs"]["triggerExecution"])
        w = status.window(ws, we)
        jobs.append(w["jobs"])
        stages.append(w["stages"])
        inside = [(s["start"], s["end"]) for s in writes if ws <= s["start"] <= we]
        add_ms = p["durationMs"].get("addBatch", 0)
        body_self.append(stats.self_time(add_ms / 1000.0, inside) * 1000.0)
        backlog.append(sum(1 for a in ph["actual"] if a <= ws) - seen_data)
        seen_data += p["numInputRows"] > 0

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    state = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
    batch_ids = {p["batchId"] for p in prog}
    size = files = 0
    for d in glob.glob(os.path.join(ph["store_dir"], "*", "batch_id=*")):
        if int(d.rsplit("=", 1)[1]) in batch_ids:
            b, n = shared.tree_bytes_files(d)
            size, files = size + b, files + n
    written = len({s["attrs"]["batch_id"] for s in writes})
    write_ms = [(s["end"] - s["start"]) * 1000.0 for s in writes]
    p50 = shared.p50
    return store_read.layers(ctx.spark, status, ph["reads"], tracer) | {
        "source.latest_offset_ms_p50": p50(dur("latestOffset")),
        "source.backlog_files_max": max(backlog, default=0),
        "source.rows_per_trigger_p50": p50([p["numInputRows"] for p in data]),
        "pipeline.trigger_ms_p50": p50(trig),
        "pipeline.trigger_ms_p90": stats.percentile(trig, 90) if trig else 0.0,
        "pipeline.add_batch_ms_p50": p50(dur("addBatch")),
        "pipeline.planning_ms_p50": p50(dur("queryPlanning")),
        "pipeline.wal_commit_ms_p50": p50(dur("walCommit")),
        "pipeline.commit_offsets_ms_p50": p50(dur("commitOffsets")),
        "pipeline.triggers": len(prog),
        "pipeline.jobs_per_trigger": shared.mean(jobs),
        "pipeline.stages_per_trigger": shared.mean(stages),
        "pipeline.body_self_ms_p50": p50(body_self),
        "state.rows_total_max": max((s["numRowsTotal"] for s in state), default=0),
        "state.rows_updated_per_trigger_p50": p50([p["stateOperators"][0]["numRowsUpdated"]
                                                   for p in data if p["stateOperators"]]),
        "state.memory_bytes_max": max((s["memoryUsedBytes"] for s in state), default=0),
        "state.commit_ms_p50": p50([s.get("commitTimeMs", 0) for s in state]),
        "state.rows_dropped_late": ph["dropped_late"],
        "store.write_batch_ms_p50": p50(write_ms),
        "store.write_batch_ms_max": max(write_ms, default=0.0),
        "store.files_written_per_trigger": files / written if written else 0.0,
        "store.bytes_written_per_tweet": size / ph["tweets"],
        "gen.late_ms_p50": p50(ph["late_ms"]),
        "gen.late_ms_max": max(ph["late_ms"], default=0.0),
    }


def run(ctx) -> dict:
    files = None

    def write_inputs(d):
        nonlocal files
        files = generate(ctx.seed, ctx.seconds, d)

    _, reps = shared.generate_reps(write_inputs)
    return ctx.measure(
        lambda tracer, tag: run_phase(ctx, files, tracer, tag),
        lambda ph, tracer: layers(ctx, ph, tracer),
        setup_reps=reps,
        describe=lambda ph: [
            "freshness " + stats.describe(ph["fresh"], "s"),
            "generator late " + stats.describe(ph["late_ms"], "ms"),
        ],
    )

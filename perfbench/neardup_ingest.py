"""neardup_ingest: closed-loop drain through
``streaming.dedup.run_streaming_near_dedup``.

The query runs continuously with one file per trigger. The client keeps
one shard of the generated backlog in flight: it drops the next file as
soon as the previous trigger has committed, until the run's time is up,
and the trigger in flight then finishes. The first file is the
warm-up and its trigger is set-up. With COMPACT_EVERY = 2 the band index
is compacted inline at the start of batch 2, the second measured trigger.

Throughput is documents assigned per second of drain wall time; latency
is per document, from its file's drop to the commit of its trigger.
"""

from __future__ import annotations

import json
import os
import time

import common
import gen
import shared
import stats

DOCS_PER_FILE = 400
DUP_SHARE = 0.2
COMPACT_EVERY = 2
BACKLOG_FILES = 12
INDEX_COLS = ["doc_id", "band_id", "band_key", "cluster"]


def generate(seed: int, out_dir: str) -> list[dict]:
    files = []
    for i, (lines, planted) in enumerate(
            gen.document_files(seed, BACKLOG_FILES, DOCS_PER_FILE, DUP_SHARE)):
        path = os.path.join(out_dir, f"{i:05d}.json")
        gen.write_lines(path, lines)
        files.append({"path": path, "docs": len(lines), "planted": planted})
    return files


def run_phase(ctx, files: list[dict], tracer, tag: str) -> dict:
    from tweetaggregates_spark import versioned_store
    from tweetaggregates_spark.operators import dedup as dd
    from tweetaggregates_spark.streaming.dedup import run_streaming_near_dedup

    spark = ctx.spark
    root = common.fresh_dir(tag)
    drop, tmp = os.path.join(root, "in"), os.path.join(root, "tmp")
    os.makedirs(drop)
    os.makedirs(tmp)
    index, out = os.path.join(root, "index"), os.path.join(root, "out")

    def fold_depth(a, k, o):
        base, deltas = versioned_store.base_and_deltas(a[1], "base", "bands", k.get("below"))
        return {"fold_depth": (base is not None) + len(deltas)}

    def append_bytes(a, k, o):
        v = a[3]
        return {"bytes": sum(shared.tree_bytes_files(f"{a[2]}/{sub}/v={v}")[0]
                             for sub in ("bands", "remap", "counts"))}

    def compact_bytes(a, k, o):
        return {"bytes": shared.tree_bytes_files(f"{a[1]}/base")[0]}

    tracer.wrap(dd, "read_band_index", "dedup.read_index", annotate=fold_depth)
    tracer.wrap(dd, "dedup_new_batch_delta", "dedup.batch_dedup")
    tracer.wrap(dd, "append_band_index_delta", "vstore.append", annotate=append_bytes)
    tracer.wrap(dd, "compact_band_index", "vstore.compact", annotate=compact_bytes)

    def drop_file(i: int) -> float:
        return shared.publish(files[i]["path"], tmp, drop)

    def triggers_done() -> int:
        return len(shared.data_batches(shared.progress(query)))

    t_warm = time.time()
    drop_file(0)
    query = run_streaming_near_dedup(
        spark, drop, index, out, os.path.join(root, "ckpt"),
        available_now=False, max_files_per_trigger=1, compact_every=COMPACT_EVERY)
    dropped, settled = [], True
    try:
        # the check's one-shot index for the shortest run, built while the
        # warm-up trigger runs; it needs only the inputs and also warms the
        # minhash and components operators
        oneshot = oneshot_index(spark, files[:1 + COMPACT_EVERY])
        if not shared.wait_for(lambda: triggers_done() >= 1, 170, query):
            raise RuntimeError("warm-up trigger did not finish")
        warm_s = time.time() - t_warm
        cpu0, t0 = common.tree_cpu_seconds(), time.time()
        deadline = t0 + ctx.seconds
        i = 1
        while i < len(files):
            dropped.append(drop_file(i))
            if not shared.wait_for(lambda: triggers_done() >= i + 1, 120, query):
                settled = False
                break
            i += 1
            # at least up to the compacting trigger, even on a slow host
            if time.time() >= deadline and i > COMPACT_EVERY:
                break
        t_end, cpu1 = time.time(), common.tree_cpu_seconds()
    finally:
        query.stop()
        tracer.restore()
    error = query.exception()
    prog = shared.data_batches(shared.progress(query))[1:]
    done = [shared.trigger_window(p)[1] for p in prog]
    n = len(dropped) if settled else len(done)
    docs = sum(f["docs"] for f in files[1:1 + n])
    lat = [done[j] - dropped[j] for j in range(min(n, len(done)))
           for _ in range(files[1 + j]["docs"])]
    t_check = time.time()
    if n != COMPACT_EVERY:
        oneshot = oneshot_index(spark, files[:1 + n])
    ok, msg, recall = _check(spark, files[:1 + n], index, out, oneshot)
    msg += f"; measured {t_end - t0:.1f}s, check {time.time() - t_check:.1f}s"
    correct = ok and error is None and settled
    return {
        "correct": correct,
        "attempted": len(dropped),
        "failed": 0 if error is None and settled else 1,
        "warm_s": warm_s,
        "lat": lat,
        "e2e": {
            "latency_p50_ms": stats.percentile(lat, 50) * 1000.0 if lat else 0.0,
            "latency_p90_ms": stats.percentile(lat, 90) * 1000.0 if lat else 0.0,
            "throughput_per_s": docs / max((done[n - 1] if n else t_end) - t0, 1e-9),
            "cpu_s_per_1k_ops": (cpu1 - cpu0) / max(docs / 1000.0, 1e-9),
        },
        "window": (t0, t_end),
        "prog": prog[:n],
        "docs": docs,
        "recall": recall,
        "notes": [f"{tag}: {n} measured triggers, {msg}"
                  + ("" if error is None else f", query error {error!r}")],
    }


def oneshot_index(spark, files: list[dict]) -> list[tuple]:
    """Sorted rows of a one-shot build_band_index over the files' documents."""
    from tweetaggregates_spark.operators import dedup as dd
    from tweetaggregates_spark.streaming.dedup import DOC_SCHEMA

    docs = spark.read.schema(DOC_SCHEMA).json([f["path"] for f in files])
    return sorted(tuple(r) for r in dd.build_band_index(docs).select(*INDEX_COLS).collect())


def _check(spark, files: list[dict], index: str, out: str, oneshot: list[tuple]
           ) -> tuple[bool, str, float]:
    """The folded index equals a one-shot build_band_index over the same
    documents (``oneshot``), and every document has exactly one
    assignment."""
    from pyspark.sql import functions as F

    from tweetaggregates_spark.operators import dedup as dd

    folded = sorted(tuple(r) for r in dd.read_band_index(spark, index).select(*INDEX_COLS).collect())
    if folded != oneshot:
        return False, f"folded index {len(folded)} rows != one-shot {len(oneshot)}", 0.0
    assigned = spark.read.parquet(out)
    per_doc = dict(assigned.groupBy("doc_id").count().collect())
    want = set()
    for f in files:
        with open(f["path"]) as fh:
            want.update(json.loads(line)["doc_id"] for line in fh)
    if set(per_doc) != want or any(c != 1 for c in per_doc.values()):
        return False, (f"{len(per_doc)} assigned docs for {len(want)} ingested; "
                       f"max assignments per doc {max(per_doc.values(), default=0)}"), 0.0
    planted = [d for f in files for d in f["planted"]]
    flagged = assigned.filter(F.col("is_duplicate") & F.col("doc_id").isin(planted)).count()
    recall = flagged / len(planted) if planted else 1.0
    return True, f"index and {len(want)} assignments match", recall


def layers(ctx, ph: dict, tracer) -> dict:
    t0, t1 = ph["window"]

    def spans(name):
        return [s for s in tracer.named(name) if t0 <= s["start"] <= t1]

    def secs(name):
        return [s["end"] - s["start"] for s in spans(name)]

    p50 = shared.p50
    per = [ctx.status.window(*shared.trigger_window(p)) for p in ph["prog"]]
    written = sum(s["attrs"]["bytes"] for n in ("vstore.append", "vstore.compact")
                  for s in spans(n))
    return {
        "dedup.read_index_s_p50": p50(secs("dedup.read_index")),
        "dedup.batch_dedup_s_p50": p50(secs("dedup.batch_dedup")),
        "dedup.jobs_per_trigger": shared.mean(w["jobs"] for w in per),
        "dedup.stages_per_trigger": shared.mean(w["stages"] for w in per),
        "dedup.shuffle_bytes_per_doc": sum(w["shuffle_write_bytes"] for w in per) / max(ph["docs"], 1),
        "dedup.planted_recall": ph["recall"],
        "vstore.append_s_p50": p50(secs("vstore.append")),
        "vstore.compact_s": sum(secs("vstore.compact")),
        "vstore.fold_depth_max": max((s["attrs"]["fold_depth"] for s in spans("dedup.read_index")),
                                     default=0),
        "vstore.bytes_written_per_doc": written / max(ph["docs"], 1),
    }


def run(ctx) -> dict:
    files = None

    def write_inputs(d):
        nonlocal files
        files = generate(ctx.seed, d)

    _, reps = shared.generate_reps(write_inputs)
    return ctx.measure(
        lambda tracer, tag: run_phase(ctx, files, tracer, tag),
        lambda ph, tracer: layers(ctx, ph, tracer),
        setup_reps=reps,
        describe=lambda ph: ["document latency " + stats.describe(ph["lat"], "s")],
    )

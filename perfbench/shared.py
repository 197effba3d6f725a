"""Helpers both workloads share: input generation, file drops,
streaming progress, waiting, output digests and row normalisation,
directory sizes, and the Spark executor counters every traced run
reports."""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time

import stats

SETUP_REPS = 3  # input generation runs this often per run


def progress(query) -> list[dict]:
    """The query's recent progress reports as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def data_batches(prog: list[dict]) -> list[dict]:
    """The reports of triggers that read input. An idle query also adds a
    report with no rows every ``noDataProgressEventInterval`` (10 s), and
    stateful queries run no-data batches, so counting reports does not
    count processed files."""
    return [p for p in prog if p["numInputRows"] > 0]


def iso_s(stamp: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-01-01T00:00:00.123Z."""
    return datetime.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def trigger_window(p: dict) -> tuple[float, float]:
    start = iso_s(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def wait_for(pred, timeout: float, query=None) -> bool:
    """Poll ``pred`` until true or ``timeout`` seconds pass; stop early
    (False) if ``query`` has stopped with an exception."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        if query is not None and not query.isActive:
            return bool(pred())
        time.sleep(0.02)
    return False


def _plain(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return str(v)
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def row_json(d: dict) -> str:
    """Engine-neutral JSON of one result row: timestamps as naive UTC in
    ``str(datetime)`` form, which is also what ``json.dumps(...,
    default=str)`` makes of Spark's rows."""
    return json.dumps(_plain(d), sort_keys=True, default=str)


def publish(src: str, tmp_dir: str, drop_dir: str) -> float:
    """Copy ``src`` outside the watched directory, then rename it in, so a
    file source never lists a partly written file. Returns the time the
    file became visible."""
    tmp = os.path.join(tmp_dir, os.path.basename(src))
    shutil.copyfile(src, tmp)
    os.replace(tmp, os.path.join(drop_dir, os.path.basename(src)))
    return time.time()


def multiset_digest(df) -> tuple:
    """Row count plus two order-independent sums of 64- and 32-bit row
    hashes over every column. Two row multisets with equal digests are
    equal up to a hash collision."""
    from pyspark.sql import functions as F

    r = (df.select(F.xxhash64(*df.columns).alias("h64"), F.hash(*df.columns).alias("h32"))
         .agg(F.count(F.lit(1)), F.sum(F.col("h64").cast("decimal(38,0)")),
              F.sum(F.col("h32").cast("decimal(38,0)")))
         .first())
    return tuple(r)


def tree_bytes_files(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum and marker files."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_") or n.startswith("."):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def spark_layer(status, start_s: float, end_s: float, cores: int) -> dict:
    """Executor counters over the measured window."""
    w = status.window(start_s, end_s)
    wall = max(end_s - start_s, 1e-9)
    return {
        "spark.executor_run_s": w["executor_run_ms"] / 1000.0,
        "spark.utilization": w["executor_run_ms"] / 1000.0 / (wall * cores),
        "spark.shuffle_write_bytes": w["shuffle_write_bytes"],
        "spark.spill_bytes": w["spill_bytes"],
    }


def p50(xs) -> float:
    """Median, or 0 when a layer recorded no samples."""
    return stats.percentile(xs, 50) if xs else 0.0


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def generate_reps(write_inputs) -> tuple[list[str], list[float]]:
    """Run ``write_inputs(dir)`` SETUP_REPS times into fresh directories,
    timing each; the files of every repetition must be byte-identical.
    Returns (directories, seconds per repetition)."""
    import common

    dirs, reps = [], []
    for r in range(SETUP_REPS):
        d = common.fresh_dir("inputs", f"rep{r}")
        t = time.time()
        write_inputs(d)
        reps.append(time.time() - t)
        dirs.append(d)
    for d in dirs[1:]:
        for name in sorted(os.listdir(dirs[0])):
            with open(os.path.join(dirs[0], name), "rb") as a, \
                    open(os.path.join(d, name), "rb") as b:
                if a.read() != b.read():
                    raise RuntimeError(f"generator output differs between runs: {name}")
    return dirs, reps

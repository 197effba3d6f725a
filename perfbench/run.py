"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tweet_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (every end-to-end metric with ``--trace 0``, every
per-layer metric with ``--trace 1``). Lines before it describe the run.
Scratch files go to ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

import common
import metrics
import shared

T_START = time.time()


class Context:
    """What a workload needs: the session, the arguments, and ``measure``,
    which runs the workload's measured phase and assembles the result."""

    def __init__(self, spark, args, session_s: float):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.workload = args.workload
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.session_s = session_s
        self.status = None

    def measure(self, phase, layers, setup_reps, describe) -> dict:
        """Untraced: one phase, end-to-end metrics. Traced: the traced
        phase first (as warm as an untraced run's phase), then an untraced
        one; the overhead is their difference, an upper bound since the
        second phase runs in a warmer process."""
        from spans import StatusStore, Tracer

        tracer = Tracer(self.trace)
        first = phase(tracer, "traced" if self.trace else "untraced")
        out = {"correct": first["correct"], "attempted": first["attempted"],
               "failed": first["failed"], "notes": first["notes"] + describe(first)}
        setup_s = self.session_s + first["warm_s"] + statistics.median(setup_reps)
        out["notes"].append(
            f"setup_s={setup_s:.3f} = session {self.session_s:.3f} + warm-up "
            f"{first['warm_s']:.3f} + median of {len(setup_reps)} input generations ("
            + ", ".join(f"{r:.3f}" for r in setup_reps) + ")")
        if not self.trace:
            out["metrics"] = {"setup_s": setup_s, **first["e2e"]}
            return out
        self.status = StatusStore(self.spark).refresh()
        values = dict.fromkeys(metrics.PER_LAYER, 0)
        values.update(layers(first, tracer))
        values.update(shared.spark_layer(self.status, *first["window"], self.cores))
        tracer.dump(os.path.join(common.WORK, f"spans-{self.workload}-{self.seed}.json"))
        plain = phase(Tracer(False), "untraced")
        for k, v in first["e2e"].items():
            values[f"trace.overhead.{k}"] = v - plain["e2e"][k]
        out["correct"] = out["correct"] and plain["correct"]
        out["attempted"] += plain["attempted"]
        out["failed"] += plain["failed"]
        out["notes"] += plain["notes"] + [f"untraced {line}" for line in describe(plain)]
        out["metrics"] = values
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=metrics.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(common.REPO, "tweetaggregates_spark")):
        print("tweetaggregates_spark not found: run from the root of a checkout",
              file=sys.stderr)
        return 2
    common.prepare_env(int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    workload = importlib.import_module(args.workload)
    t = time.time()
    spark = common.start_spark()
    session_s = time.time() - t
    try:
        result = workload.run(Context(spark, args, session_s))
    finally:
        t_stop = time.time()
        common.stop_spark(spark)
    for line in result.pop("notes"):
        print(line)
    print(f"process {time.time() - T_START:.1f}s: to session start {t - T_START:.1f}s, "
          f"session {session_s:.1f}s, workload {t_stop - t - session_s:.1f}s, "
          f"stop {time.time() - t_stop:.1f}s")
    table = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    for name, value in result["metrics"].items():
        print(f"{args.workload} {name} = {value:.6g} {table[name][0]}")
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": v, "unit": table[k][0]} for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

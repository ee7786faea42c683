"""One-off transition measurement: spans_raw under `.count()` and noop.

    python3 perfbench/transition.py --seed 1 --repeats 5

The historical series (bench.py, BENCH_r0*.json) timed the flagship with
`.count()`, whose optimized plan drops the OCR stage's window exchange.
This script times the same spans_raw input both ways, alternating, in one
warm session, and prints one JSON line with the medians, so the step
between that series and this benchmark has a number. Files go under
.bench_build/perfbench like run.py's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench import run as bench  # noqa: E402
from perfbench.workloads import SpansRaw, code_hash, plan_text  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeats", type=int, default=5)
    args = ap.parse_args()
    run_dir = os.path.join(bench.WORK, f"transition-{os.getpid()}")
    for sub in ("data", "tmp", "local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cache = os.path.join(bench.WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    w = SpansRaw(args.seed, os.path.join(run_dir, "data"), cache,
                 code_hash(bench.ROOT))
    w.prepare()
    r = bench.Run(w, 0, False, run_dir)
    spark = r.session()
    try:
        build = w.actions()[0][1]
        build(spark).write.format("noop").mode("overwrite").save()
        times: dict[str, list[float]] = {"count": [], "noop": []}
        for _ in range(args.repeats):
            for how in ("count", "noop"):
                df = build(spark)
                t = time.perf_counter()
                if how == "count":
                    df.count()
                else:
                    df.write.format("noop").mode("overwrite").save()
                times[how].append(time.perf_counter() - t)
        counted = plan_text(build(spark).groupBy().count())
        out = {
            "seed": args.seed, "master": r.master, "sizes": w.sizes,
            "count_s": statistics.median(times["count"]),
            "noop_s": statistics.median(times["noop"]),
            "count_plan_has_window": "Window [" in counted,
            "samples": times,
        }
        out["noop_over_count"] = out["noop_s"] / out["count_s"]
    finally:
        spark.stop()
        bench.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

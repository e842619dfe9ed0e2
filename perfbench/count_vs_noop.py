"""One-off attribution run for the caption_dedup sink change: time the
eight queries with the old ``df.count()`` sink and with the ``noop`` write
the benchmark uses, on the same inputs and session, and print both totals.

    python3 perfbench/count_vs_noop.py --seed 1

``count()`` lets Catalyst drop every column it does not read, so the
difference between the totals is measurement, not engine work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import run


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path[:0] = [run.ROOT]
    import __spark_entry__ as entry
    from spans import QUERIES
    from workloads import WORKLOADS

    work = run.prepare_work("count_vs_noop")
    spark = None
    try:
        spark = run.make_session(work, os.cpu_count() or 1, None)
        wl = WORKLOADS["image_caption"]().captions
        wl.generate(spark, args.seed, os.path.join(work, "inputs"))
        qs = entry.queries()
        sinks = {
            "count": lambda df: df.count(),
            "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
        }
        out = {name: {} for name in sinks}
        for rep in range(2):  # the first pass warms every plan for both sinks
            for name, sink in sinks.items():
                for q in QUERIES:
                    t0 = time.perf_counter()
                    sink(qs[q](spark, wl.sf_dir))
                    out[name][q] = time.perf_counter() - t0
        totals = {f"{name}_total_s": round(sum(v.values()), 3) for name, v in out.items()}
        print(json.dumps({**totals, "queries": {n: {q: round(t, 3) for q, t in v.items()} for n, v in out.items()}}))
    finally:
        run.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

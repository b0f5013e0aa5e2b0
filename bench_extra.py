#!/usr/bin/env python
"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file exists so the optimization work can time queries, isolate stages with
the noop sink, and dump plans without touching the driver contract).

Usage:
  python bench_extra.py q1 q2 ...            # time the named queries
  python bench_extra.py --all                # time every HEADLINE query
  python bench_extra.py --plans q1 q2 ...    # also write plans/r07/<q>_<tag>.txt
  env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0), SPARK_GRAFT_CPUS,
       BENCH_EXTRA_TRIALS (default 2), BENCH_EXTRA_TAG (plan-file suffix,
       default "before").

Timing methodology follows bench.py (build_session(local[cpus],
shuffle_partitions=4*cpus), best-of-N; every trial calls the query afresh
and it checkpoints its own intermediates, so no trial reuses another's)
except for the action: each query is forced with a noop-sink write, not
bench.py's ``df.count()``. On a one-row summary the optimizer may drop
work a count does not need — the executed plan of
``dedup_bloom_prefilter(...).count()`` has no ``word_idx`` probe join —
while the noop write runs the whole plan, as a real consumer of the
result does.

The JSON carries ``calib_1core_turns_per_sec``: ``bench.calib_single_core``
taken before and after the sweep, and each query's entry carries its own
``calib_1core_turns_per_sec`` taken just before its trials. The box speed
drifts within one sweep, so each query's timings can be scaled (or
discarded) by the speed they ran at.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    trials = int(os.environ.get("BENCH_EXTRA_TRIALS", "2"))
    tag = os.environ.get("BENCH_EXTRA_TAG", "before")

    args = [a for a in sys.argv[1:]]
    want_plans = "--plans" in args
    args = [a for a in args if not a.startswith("--")]

    from bench import HEADLINE, calib_single_core

    from pdf_extraction_spark.session import build_session

    spark = build_session(app_name="bench_extra", master=f"local[{cpus}]",
                          shuffle_partitions=4 * cpus)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = list(HEADLINE) if "--all" in sys.argv[1:] else args
    os.makedirs("plans/r07", exist_ok=True)

    calib = [calib_single_core()]
    timings = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        if want_plans:
            df = fn(spark, sf_dir)
            with open(f"plans/r07/{name}_{tag}.txt", "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        query_calib = calib_single_core()
        best = float("inf")
        samples = []
        for _ in range(trials):
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            samples.append(round(dt, 3))
            best = min(best, dt)
        timings[name] = {"best": round(best, 3), "samples": samples,
                         "calib_1core_turns_per_sec": query_calib}
        print(f"# {name}: {samples}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    calib.append(calib_single_core())
    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "tag": tag,
                      "calib_1core_turns_per_sec": calib, "timings": timings}))
    spark.stop()


if __name__ == "__main__":
    main()

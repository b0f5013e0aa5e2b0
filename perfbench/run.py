"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_rich --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. ``--trace 0`` measures the
end-to-end metrics with nothing installed in the program; ``--trace 1``
is a separate run that records the per-layer metrics and a spans file.
The workloads and the metric names and units are read from
``BENCHMARK.json`` at the checkout root. Human-readable lines go to stdout
first; the last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. Exit code 0 only when every operation passed its
correctness check.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# wall_s is the median of at least this many timed passes
MIN_TIMED = 3
# A pass during which the hypervisor took more than this share of the
# box's CPU time (steal) is steal-hit: on a 4-core box, passes at 8-20%
# steal ran 25-45% slower than passes at under 1%, passes at 3-4% up to
# 12% slower. wall_s is the median of the passes that were not hit when at
# least two were not. Hit passes are not repeated: steal phases last
# minutes, so a repeat is mostly hit as well and only lengthens the run.
STEAL_LIMIT = 0.05


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run of one workload: set-up, timed passes,
    each followed (outside its timing) by the correctness gate."""

    def __init__(self, wl, sess, log):
        self.wl = wl
        self.sess = sess
        self.log = log
        self.passes = []
        self.attempted = 0
        self.failed = 0
        self.rss_mb = 0.0
        self._n = 0

    def out_root(self, keep: bool) -> str:
        from harness import fresh_dir

        self._n += 1
        # outputs of earlier passes are deleted here, outside every timing;
        # a kept output lives elsewhere until the run's scratch is removed
        shutil.rmtree(os.path.join(self.wl.work, "out"), ignore_errors=True)
        return fresh_dir(os.path.join(self.wl.work, "kept" if keep else "out", f"pass{self._n:03d}"))

    def one(self, kind: str, full_check: bool, fn=None, keep: bool = False):
        """Run and check one pass; returns (pass record, result, output root)."""
        import harness

        spark = self.sess.spark
        out = self.out_root(keep)
        ys, l1 = harness.yardstick(), harness.load1()
        self.attempted += 1
        err, res = None, None
        ticks = harness.cpu_ticks()
        t0 = time.perf_counter()
        try:
            res = fn(spark, out) if fn else self.wl.run(spark, out)
        except Exception as exc:  # a pass that raises counts as failed
            err = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        steal, iowait = harness.steal_iowait(ticks, harness.cpu_ticks())
        t_check = time.perf_counter()
        if err is None:
            try:
                self.wl.check(spark, out, res, full_check)
            except Exception as exc:
                err = f"check: {type(exc).__name__}: {exc}"
        t_check = time.perf_counter() - t_check
        jvm_mb, py_mb, n_py = harness.peak_rss_mb(self.sess.jvm_pid())
        self.rss_mb = max(self.rss_mb, jvm_mb + py_mb)
        if err:
            self.failed += 1
        p = harness.Pass(kind, dt, err is None, err, ys, l1, steal, iowait, steal > STEAL_LIMIT)
        self.passes.append(p)
        self.log(f"  pass {kind:<9} {dt:8.3f} s  yardstick {ys:.3f} s  load1 {l1:.2f}"
                 f"  steal {steal:.1%}{' (hit)' if p.steal_hit else ''}  iowait {iowait:.1%}"
                 f"  check {t_check:.2f} s  rss jvm {jvm_mb:.0f} MB + {n_py} python {py_mb:.0f} MB"
                 + (f"  FAILED {err}" if err else ""))
        return p, res, out

    def setup(self) -> float:
        """Launch the JVM, build the SparkSession, load the input and run
        the workload's warm-up passes: what a fresh job pays before its
        passes reach a steady speed."""
        t0 = time.perf_counter()
        spark = self.sess.start()
        self.wl.load(spark)
        t_load = time.perf_counter() - t0
        warm = [self.one("setup", full_check=False)[0].seconds for _ in range(self.wl.warmup_passes)]
        self.log(f"  setup: jvm+session+load {t_load:.3f} s, warm-up passes "
                 + " ".join(f"{t:.3f}" for t in warm) + " s")
        return t_load + sum(warm)

    def timed(self, seconds: float):
        """At least MIN_TIMED passes and ``seconds``. Returns the passes
        wall_s is the median of, and all of them."""
        t_start = time.perf_counter()
        done = []
        while len(done) < MIN_TIMED or time.perf_counter() - t_start < seconds:
            p, res, out = self.one("timed", full_check=False)
            done.append(p)
        # the full output comparison runs on the last timed pass (its
        # output is still on disk); every pass gets the summary checks
        last = self.passes[-1]
        if last.ok:
            try:
                self.wl.check(self.sess.spark, out, res, True)
            except Exception as exc:
                last.ok, last.error = False, f"check: {type(exc).__name__}: {exc}"
                self.failed += 1
                self.log(f"  last timed pass FAILED {last.error}")
        clean = [p for p in done if not p.steal_hit]
        return (clean if len(clean) >= 2 else done), done


def _metric_line(name, value, unit, samples=None):
    import harness

    if samples and len(samples) > 1:
        return (f"{name:<34} {value:14.4f} {unit:<6} n={len(samples)} spread {harness.spread(samples):6.1%}"
                f"  [{' '.join(f'{s:.3f}' for s in samples)}]")
    return f"{name:<34} {value:14.4f} {unit}"


def run_untraced(wl, sess, seconds, log):
    import harness

    r = Run(wl, sess, log)
    setup = r.setup()
    used, done = r.timed(seconds)
    if len(used) < len(done):
        log(f"  wall_s from the {len(used)} of {len(done)} timed passes that were not steal-hit")
    times = [p.seconds for p in used]
    wall = harness.median(times)
    metrics = {  # name -> (value, per-pass samples)
        "setup_s": (setup, None),
        "wall_s": (wall, times),
        "items_per_s": (wl.n_items / wall, [wl.n_items / t for t in times]),
        "peak_rss_mb": (r.rss_mb, None),
    }
    return r, metrics


def run_traced(wl, sess, log):
    import harness
    from spans import Tracer

    r = Run(wl, sess, log)
    r.setup()
    # untraced passes on both sides of the traced one, so that drift of
    # the machine or of the warm-up does not read as tracing overhead
    untraced = [r.one("untraced", full_check=True)[0].seconds]
    tr = Tracer(sess.spark)
    traced, result, out = r.one("traced", full_check=False,
                                fn=lambda s, o: wl.traced_pass(s, o, tr), keep=True)
    tr.collect()
    untraced.append(r.one("untraced", full_check=False)[0].seconds)
    m = {}
    if r.failed == 0:
        # the layer measurements (the ingest sequence included) are one
        # more checked operation
        r.attempted += 1
        try:
            wl.layers(sess.spark, tr, out, result, m)
        except Exception as exc:
            r.failed += 1
            log(f"  layers FAILED {type(exc).__name__}: {exc}")
            traceback.print_exc(file=sys.stderr)
        tr.collect()  # the layer spans too, for the spans file
    m["trace_overhead_frac"] = traced.seconds / harness.median(untraced) - 1.0
    return r, m, tr


def main(argv=None) -> int:
    args = _parse(argv)
    # on SIGTERM unwind through the finally blocks that stop Spark and the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "pdf_extraction_spark")):
        print(f"perfbench: no pdf_extraction_spark package under {ROOT}; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import harness
    import workloads

    seconds = args.seconds or spec["run_seconds"]
    results_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(results_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)

    def log(msg):
        print(msg, flush=True)

    wl = workloads.WORKLOADS[args.workload](args.seed, work, harness.cpus())
    sess = harness.Session(work, wl.n_cores)
    try:
        log(f"perfbench {args.workload} seed={args.seed} seconds={seconds} trace={args.trace} "
            f"cpus={wl.n_cores}")
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        wl.prepare()
        log(f"  generated {wl.n_items} {wl.item} in {gen_s:.3f} s; reference in "
            f"{time.perf_counter() - t0 - gen_s:.3f} s")
        if args.trace:
            r, layer, tr = run_traced(wl, sess, log)
            layer.update(cpus=wl.n_cores, gen_s=gen_s,
                         load1=harness.median([p.load1 for p in r.passes]),
                         yardstick_s=harness.median([p.yardstick_s for p in r.passes]))
            declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
            unknown = sorted(set(layer) - set(declared))
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            spans_path = os.path.join(results_dir, f"spans-{args.workload}-{args.seed}.json")
            tr.write(spans_path)
            log(f"  spans: {os.path.relpath(spans_path, ROOT)}")
            # a layer this workload bypasses did no work: it reads 0
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in declared.items()}
            for n, mv in metrics.items():
                log(_metric_line(n, mv["value"], mv["unit"]))
        else:
            r, e2e = run_untraced(wl, sess, seconds, log)
            metrics = {}
            for m in spec["end_to_end"]:
                value, samples = e2e.pop(m["name"])
                metrics[m["name"]] = {"value": float(value), "unit": m["unit"]}
                log(_metric_line(m["name"], value, m["unit"], samples))
            if e2e:
                raise RuntimeError(f"end-to-end metrics missing from BENCHMARK.json: {sorted(e2e)}")
            for name, unit, key in (("yardstick_s", "s", "yardstick_s"), ("load1", "1", "load1"),
                                    ("steal", "1", "steal")):
                xs = [getattr(p, key) for p in r.passes]
                log(_metric_line(name, harness.median(xs), unit, xs))
            log(_metric_line("gen_s", gen_s, "s"))
            log(_metric_line("cpus", wl.n_cores, "count"))
        failed_frac = r.failed / r.attempted
        log(_metric_line("failed_frac", failed_frac, "1") + f"  ({r.failed} of {r.attempted} operations)")
        with open(os.path.join(results_dir, f"passes-{args.workload}-{args.seed}-trace{args.trace}.json"),
                  "w") as f:
            json.dump([dataclasses.asdict(p) for p in r.passes], f, indent=1)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    correct = r.failed == 0
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

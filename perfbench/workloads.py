"""The workloads: what each one runs, how its output is checked, and which
per-layer metrics its traced run records.

A workload generates its input from the seed (``gen``), computes what the
correctness gate compares against, then runs passes: each pass is one call
of the package's public entry point into a fresh output root. All timing
and span recording happens here, outside the package.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import subprocess
import sys
import time
from typing import Dict, List

import gen
from spans import Tracer, patched, task_skew

N_BUCKETS = 32
SALT_TURNS = 1000
CORE_SAMPLE = 240


class CheckFailed(Exception):
    pass


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _data_files(path: str) -> List[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def common_targets(tr: Tracer) -> list:
    """Span wrappers around the table and ledger functions both plans call."""
    from pdf_extraction_spark.plans.checkpoint import Ledger
    from pdf_extraction_spark.sources.tables import TableIO

    def arg(i, kw):
        return lambda *a, **k: k.get(kw, a[i] if len(a) > i else "?")

    return [
        (TableIO, "write", tr.wrap(TableIO.write, "TableIO.write", key=arg(2, "name"))),
        (TableIO, "read", tr.wrap(TableIO.read, "TableIO.read", key=arg(1, "name"))),
        (Ledger, "bucket_state", tr.wrap(Ledger.bucket_state, "Ledger.bucket_state")),
        (Ledger, "bucket_stats", staticmethod(tr.wrap(Ledger.bucket_stats, "Ledger.bucket_stats"))),
        (Ledger, "mark_done", tr.wrap(Ledger.mark_done, "Ledger.mark_done")),
    ]


def table_metrics(tr: Tracer, top, root: str, out: Dict) -> None:
    """tables.* from the write/read spans under ``top`` and the bytes the
    written tables hold on disk under ``root``."""
    written = set()
    for sp in tr.subtree(top):
        if sp.name.startswith("TableIO.write["):
            t = sp.name[len("TableIO.write["):-1]
            written.add(t)
            key = f"tables.write_s.{t}"
            out[key] = out.get(key, 0.0) + sp.seconds
        elif sp.name.startswith("TableIO.read["):
            out["tables.read_s"] = out.get("tables.read_s", 0.0) + sp.seconds
    for t in written:
        files = _data_files(os.path.join(root, t))
        out[f"tables.write_bytes.{t}"] = sum(os.path.getsize(f) for f in files)
        out[f"tables.files_written.{t}"] = len(files)


def spark_metrics(tr: Tracer, top, out: Dict) -> Dict[int, Dict]:
    """spark.* over every stage the span tree under ``top`` ran."""
    stages = {}
    for sp in tr.subtree(top):
        for st in sp.stages:
            stages[st["stage"]] = st
    out["spark.gc_s"] = sum(s["gc_ms"] for s in stages.values()) / 1000.0
    out["spark.spill_bytes"] = sum(s["spill"] for s in stages.values())
    out["spark.peak_exec_mem_bytes"] = max((s["peak_exec_mem"] for s in stages.values()), default=0)
    return stages


def capturing(fn, seen: list):
    """``fn`` wrapped to append its first argument to ``seen``. Around
    ``pipeline.extract_stage`` this keeps the DataFrame the pipeline hands
    to the extraction (its own bucket/salt repartition of the input), so
    the noop-sink timings run the program's plan, not a copy of it."""

    def wrapper(df, *args, **kwargs):
        seen.append(df)
        return fn(df, *args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def span_seconds(tr: Tracer, name: str) -> float:
    return sum(s.seconds for s in tr.find(name))


class Workload:
    name = ""
    item = ""
    # passes run inside the set-up before timing starts: the cold pass of
    # a fresh JVM, 2-3 x as long as the next one (measured on a 4-core box)
    warmup_passes = 1

    def __init__(self, seed: int, work: str, n_cores: int):
        self.seed = seed
        self.work = work
        self.n_cores = n_cores
        self.n_items = 0

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Reference results for the correctness gate (not timed)."""

    def load(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark, out: str):
        raise NotImplementedError

    def check(self, spark, out: str, result, full: bool) -> None:
        raise NotImplementedError

    def traced_pass(self, spark, out: str, tr: Tracer):
        raise NotImplementedError

    def layers(self, spark, tr: Tracer, out: str, result, metrics: Dict) -> None:
        raise NotImplementedError


# ---------------------------------------------------------------- extract

def _golden(pdf):
    from pdf_extraction_spark import fixtures

    return fixtures.golden_pandas(pdf)


def reference(pdf, procs: int):
    """``fixtures.golden_pandas`` over every turn, split across ``procs``
    forked processes. Runs before Spark starts and is not timed."""
    import multiprocessing

    import pandas as pd

    pool = multiprocessing.get_context("fork").Pool(procs)
    try:
        parts = pool.map(_golden, [pdf.iloc[i::procs] for i in range(procs)])
    finally:
        pool.close()
        pool.join()
    return pd.concat(parts).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


class ExtractRich(Workload):
    """plans.pipeline.run_extraction: ``N_BUCKETS`` buckets, 4 x cores
    partitions, no resume, on fixture turns at web-page size
    (``gen.RICH``)."""

    name = "extract_rich"
    item = "turns"

    def generate(self) -> None:
        self.inp = gen.gen_extract(self.seed, os.path.join(self.work, "in"))
        self.n_items = self.inp["n_turns"]

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.pdf = pq.read_table(self.inp["path"]).to_pandas()
        self.golden = reference(self.pdf, self.n_cores)

    def load(self, spark) -> None:
        # the schema is known: no schema-inference job
        self.df = spark.read.schema(self.inp["schema"]).parquet(self.inp["path"])

    def run(self, spark, out: str):
        from pdf_extraction_spark.plans.pipeline import run_extraction

        return run_extraction(spark, self.df, out, run_id=os.path.basename(out),
                              n_buckets=N_BUCKETS, salt_turns=SALT_TURNS,
                              partitions=4 * self.n_cores, resume=False)

    def check(self, spark, out: str, res, full: bool) -> None:
        import pyarrow.parquet as pq

        from pdf_extraction_spark.core.extractor import EXTRACT_FIELDS

        if (res["buckets_run"], res["buckets_failed"], res["n_turns"]) != (N_BUCKETS, 0, self.n_items):
            raise CheckFailed(f"summary {res}")
        run_id = os.path.basename(out)
        led = (spark.read.parquet(os.path.join(out, "lineage"))
               .filter(f"run_id = '{run_id}'").select("bucket", "status", "n_turns").collect())
        done = {r["bucket"]: r["n_turns"] for r in led if r["status"] == "done"}
        if sorted(done) != list(range(N_BUCKETS)):
            raise CheckFailed(f"{N_BUCKETS - len(done)} buckets not ledgered done")
        if sum(done.values()) != self.n_items:
            raise CheckFailed(f"ledger n_turns {sum(done.values())} != input {self.n_items}")
        if not full:
            return
        # read the written files directly: the comparison is of what is on
        # disk, and needs no Spark job
        got = (pq.read_table(os.path.join(out, "extracted"), columns=["conv_id", "turn_idx", *EXTRACT_FIELDS])
               .to_pandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        gold = self.golden
        if len(got) != len(gold):
            raise CheckFailed(f"{len(got)} rows written, {len(gold)} expected")
        for col in ("conv_id", "turn_idx", "quality_score") + tuple(
                c for c in EXTRACT_FIELDS if c not in ("spans", "quality_score")):
            a, b = got[col], gold[col]
            if a.dtype == object:
                a, b = a.fillna(""), b.fillna("")
            bad = int((a.values != b.values).sum())
            if bad:
                raise CheckFailed(f"{col}: {bad} turns differ from the reference")

        def spans(v):
            return [(s["span_idx"], s["kind"], s["text"], s["page"], s["bbox"]["x1"],
                     s["bbox"]["y1"], s["bbox"]["x2"], s["bbox"]["y2"])
                    for s in (list(v) if v is not None else [])]

        bad = sum(spans(g) != spans(o) for g, o in zip(got["spans"], gold["spans"]))
        if bad:
            raise CheckFailed(f"spans: {bad} turns differ from the reference")

    def traced_pass(self, spark, out: str, tr: Tracer):
        from pdf_extraction_spark.plans import pipeline

        self.stage_inputs: List = []
        targets = common_targets(tr) + [
            (pipeline, "extract_stage",
             capturing(tr.wrap(pipeline.extract_stage, "extract_stage"), self.stage_inputs))]
        with patched(targets), tr.span("run_extraction"):
            return self.run(spark, out)

    def layers(self, spark, tr: Tracer, out: str, result, m: Dict) -> None:
        from pyspark.sql import functions as F

        root = tr.find("run_extraction")[-1]
        m["pipeline.run_s"] = root.seconds
        m["pipeline.untraced_gap_s"] = root.seconds - sum(c.seconds for c in tr.children(root))
        stages = spark_metrics(tr, root, m)
        jobs = {j for sp in tr.subtree(root) for j in sp.jobs}
        m["pipeline.n_jobs"] = len(jobs)
        m["pipeline.n_stages"] = len(stages)
        table_metrics(tr, root, out, m)
        m["checkpoint.bucket_stats_s"] = span_seconds(tr, "Ledger.bucket_stats")
        m["checkpoint.mark_done_s"] = span_seconds(tr, "Ledger.mark_done")

        write = tr.find("TableIO.write[extracted]")[-1]
        m["pipeline.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in write.stages)
        body = max(write.stages, key=lambda s: s["run_ms"])
        m["pipeline.task_skew"] = task_skew(body)
        ms_sum = (spark.read.parquet(os.path.join(out, "extracted"))
                  .agg(F.sum("extract_ms")).collect()[0][0] or 0.0)
        m["core.extract_ms_sum_s"] = ms_sum / 1000.0
        m["core.busy_frac"] = m["core.extract_ms_sum_s"] / max(body["wall_ms"] / 1000.0 * self.n_cores, 1e-9)

        # the two halves of the extract/write stage, each to a noop sink:
        # the repartitioned input the traced pass handed to extract_stage,
        # and extract_stage over it
        from pdf_extraction_spark.plans.pipeline import extract_stage

        (b,) = self.stage_inputs  # one wave
        plans = {"pipeline.repartition_s": b, "pipeline.extract_stage_s": extract_stage(b)}
        for key, df in plans.items():
            with tr.span(f"noop.{key}") as sp:
                df.write.format("noop").mode("overwrite").save()
            m[key] = sp.seconds

        self._core_probe(tr, m)
        m["extract.scaling_eff_1v4"] = self._scaling(tr, m)

    def _core_probe(self, tr: Tracer, m: Dict) -> None:
        """Single-process times of the core's public functions over a
        seeded sample of this workload's turns (inclusive times: dom.parse
        includes tokenizing, density.extract_html includes dom.parse)."""
        from pdf_extraction_spark.core import classify, density, dom, extractor, layout, noise, tokenizer

        rows = list(zip(self.pdf["text"], self.pdf["tool"]))
        sample = random.Random(self.seed).sample(rows, min(CORE_SAMPLE, len(rows)))

        def cls(text, tool):
            if layout.sniff_layout(text):
                return "layout"
            if tokenizer.looks_like_html(text):
                return "html"
            return "tool" if tool else "plain"

        by_cls: Dict[str, List] = {}
        for text, tool in sample:
            if text and text.strip():
                by_cls.setdefault(cls(text, tool), []).append((text, tool))
        probes = {
            "core.tokenize_s": ("html", lambda t, _: list(tokenizer.tokenize(t))),
            "core.dom_s": ("html", lambda t, _: dom.parse(t)),
            "core.density_s": ("html", lambda t, _: density.extract_html(t)),
            "core.layout_s": ("layout", lambda t, _: layout.extract_layout(t)),
            "core.noise_s": ("tool", lambda t, _: noise.strip_noise(t)),
            "core.classify_s": (None, lambda t, _: classify.classify_text(t)),
        }
        with tr.span("core.probe", n_turns=len(sample)) as probe:
            for t, tool in sample:  # one untimed round warms caches and allocator
                extractor.extract_turn(t, tool)
            for key, (c, fn) in probes.items():
                items = by_cls.get(c, []) if c else [x for v in by_cls.values() for x in v]
                m[key] = _timed(lambda: [fn(t, tool) for t, tool in items])[0]
            per_cls = {}
            for c, items in sorted(by_cls.items()):
                per_cls[c] = _timed(lambda: [extractor.extract_turn(t, tool) for t, tool in items])[0]
            total, _ = _timed(lambda: [extractor.extract_turn(t, tool) for t, tool in sample])
            probe.attrs["extract_turn_s_by_class"] = per_cls
            probe.attrs["n_by_class"] = {c: len(v) for c, v in by_cls.items()}
        m["core.calib_1core_turns_per_s"] = len(sample) / total

    def _scaling(self, tr: Tracer, m: Dict) -> float:
        """Extract-stage throughput at 1 core and at min(4, cores) cores,
        each CPU-pinned: efficiency = speedup / core ratio. A leg with all
        of this process's cores reuses the in-process noop timing; any
        other leg runs ``scaling_probe.py`` in a fresh, taskset-pinned
        JVM."""
        hi = min(4, self.n_cores)
        if hi < 2:
            return 1.0
        probe = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scaling_probe.py")
        tps = {}
        for n in (1, hi):
            if n == self.n_cores:
                tps[n] = self.n_items / m["pipeline.extract_stage_s"]
                continue
            cores = sorted(os.sched_getaffinity(0))[:n]
            with tr.span(f"scaling.local[{n}]") as sp:
                proc = subprocess.run(
                    ["taskset", "-c", ",".join(map(str, cores)), sys.executable, probe,
                     "--cores", str(n), "--input", self.inp["path"],
                     "--work", os.path.join(self.work, f"scaling{n}")],
                    capture_output=True, text=True, timeout=170)
            if proc.returncode != 0:
                raise CheckFailed(f"scaling probe local[{n}] failed: {proc.stderr[-2000:]}")
            tps[n] = self.n_items / float(proc.stdout.strip().splitlines()[-1])
            sp.attrs["turns_per_s"] = tps[n]
        return tps[hi] / (hi * tps[1])


class _Captured(BaseException):
    """Raised by ``scaling_probe``'s wrapper once ``extract_stage`` has
    been handed its input, to stop that run_extraction there. Not an
    ``Exception``, so the pipeline's wave-failure handler lets it through
    and nothing is written."""


def scaling_probe(n_cores: int, input_path: str, work: str) -> float:
    """Seconds of the extract stage at ``n_cores`` in a fresh session: the
    repartitioned input that ``run_extraction`` hands to ``extract_stage``
    (the plan of ``pipeline.extract_stage_s``), run through
    ``extract_stage`` to a noop sink, after a warm-up on a sample of it."""
    from harness import Session

    from pdf_extraction_spark.plans import pipeline

    seen: List = []

    def capture(df):
        seen.append(df)
        raise _Captured()

    sess = Session(work, n_cores)
    try:
        spark = sess.start()
        df = spark.read.schema(gen.EXTRACT_SCHEMA).parquet(input_path)
        with patched([(pipeline, "extract_stage", capture)]), contextlib.suppress(_Captured):
            pipeline.run_extraction(spark, df, os.path.join(work, "out"), run_id="scaling",
                                    n_buckets=N_BUCKETS, salt_turns=SALT_TURNS,
                                    partitions=4 * n_cores, resume=False)
        # a tenth of the input warms up the JVM and the Python workers
        pipeline.extract_stage(seen[0].sample(0.1, seed=1)).write.format("noop").mode("overwrite").save()
        plan = pipeline.extract_stage(seen[0])
        return _timed(lambda: plan.write.format("noop").mode("overwrite").save())[0]
    finally:
        sess.close()


# ---------------------------------------------------------------- curate

class CurateChain(Workload):
    """plans.curation.curate_corpus (default stages, chunk de-repetition)
    over extraction-output documents with planted duplicate families."""

    name = "curate_chain"
    item = "docs"

    def generate(self) -> None:
        root = os.path.join(self.work, "in")
        self.inp = gen.gen_curate(self.seed, root)
        self.ingest = gen.gen_ingest(self.seed, root)
        self.n_items = self.inp["n_input"]
        self.first_stats = None

    def load(self, spark) -> None:
        # the schema is known: no schema-inference job
        self.df = spark.read.schema(self.inp["schema"]).parquet(self.inp["path"])

    def run(self, spark, out: str):
        from pdf_extraction_spark.plans import curation

        timings: Dict[str, float] = {}
        stats = curation.curate_corpus(spark, self.df, out, stage_timings=timings)
        return {"stats": stats, "timings": timings}

    def check(self, spark, out: str, res, full: bool) -> None:
        stats = res["stats"]
        keys = ("n_input", "n_quality_gated", "n_after_exact_dedup", "n_after_neardup", "n_after_derep")
        counts = [stats[k] for k in keys]
        if any(a < b for a, b in zip(counts, counts[1:])):
            raise CheckFailed(f"stage counts not monotone: {counts}")
        want = [self.inp["expect"][k] for k in keys]
        if counts != want:
            raise CheckFailed(f"stage counts {counts}, planted families give {want}")
        if self.first_stats is None:
            self.first_stats = stats
        elif stats != self.first_stats:
            raise CheckFailed("curation stats differ between passes")
        cur = spark.read.parquet(os.path.join(out, "curated")).select("conv_id", "text_md5").toPandas()
        if len(cur) != stats["n_after_derep"] or cur["text_md5"].duplicated().any():
            raise CheckFailed("curated text_md5 not unique or row count differs")
        kept = set(cur["conv_id"])
        for label, ids in self.inp["families"].items():
            n = len(kept.intersection(ids))
            if n != (0 if label == "drop" else 1):
                raise CheckFailed(f"family {label}: {n} members kept")

    def traced_pass(self, spark, out: str, tr: Tracer):
        with patched(common_targets(tr)), tr.span("curate_corpus"):
            return self.run(spark, out)

    def layers(self, spark, tr: Tracer, out: str, result, m: Dict) -> None:
        root = tr.find("curate_corpus")[-1]
        spark_metrics(tr, root, m)
        table_metrics(tr, root, out, m)
        for stage, s in result["timings"].items():
            m[f"curation.stage_s.{stage}"] = s
        self._dedup_layers(spark, tr, m)
        self._ingest_layers(spark, tr, m)

    def _dedup_layers(self, spark, tr: Tracer, m: Dict) -> None:
        """Each lazy dedup operator materialized on its own, on this
        workload's exact-dedup survivors (the near-dup stage's input)."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.operators.corpus import chunk_dup_fractions
        from pdf_extraction_spark.operators.dedup import (lsh_band_candidates, minhash_lsh_pairs,
                                                          minhash_signatures, neardup_clusters)
        from pdf_extraction_spark.plans.curation import MIN_QUALITY

        docs = (self.df.filter((F.col("status") == "ok") & (F.col("quality_score") >= MIN_QUALITY))
                .select(F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
                        F.col("extracted_text").alias("text")))
        keep = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
        corpus = docs.join(keep.select("doc_id"), "doc_id", "left_semi").localCheckpoint(eager=True)

        with tr.span("dedup.signatures") as s_sig:
            sigs = minhash_signatures(corpus).persist()
            sigs.count()
        with tr.span("dedup.candidates") as s_cand:
            n_cand = lsh_band_candidates(sigs).count()
        sigs.unpersist()
        with tr.span("dedup.lsh_pairs") as s_pairs:
            pairs = minhash_lsh_pairs(corpus).select("doc_a", "doc_b").localCheckpoint(eager=True)
            n_pairs = pairs.count()
        cc_stats: Dict = {}
        with tr.span("dedup.cc") as s_cc:
            clusters = neardup_clusters(pairs, stats=cc_stats).localCheckpoint(eager=True)
        survivors = corpus.join(clusters.filter(F.col("doc_id") != F.col("keeper")).select("doc_id"),
                                "doc_id", "left_anti")
        with tr.span("corpus.derep") as s_derep:
            chunk_dup_fractions(survivors).count()
        m["dedup.signatures_s"] = s_sig.seconds
        m["dedup.candidates_s"] = s_cand.seconds
        # minhash_lsh_pairs recomputes signatures and candidates before its
        # Jaccard verify, so verify is what remains of it
        m["dedup.verify_s"] = s_pairs.seconds - s_sig.seconds - s_cand.seconds
        m["dedup.cc_s"] = s_cc.seconds
        m["dedup.n_candidates"] = n_cand
        m["dedup.n_pairs"] = n_pairs
        m["dedup.verify_yield"] = n_pairs / n_cand if n_cand else 0.0
        m["dedup.cc_rounds"] = cc_stats.get("rounds", 0)
        m["corpus.derep_s"] = s_derep.seconds

    def _ingest_layers(self, spark, tr: Tracer, m: Dict) -> None:
        """The ingest sequence once: append_batch(admit_unique=True) per
        batch into a fresh warehouse, then compact_gram_index and
        rebuild_bloom, with its own correctness gate."""
        from pyspark.sql import functions as F

        from pdf_extraction_spark.plans import incremental

        wh = os.path.join(self.work, "warehouse_ingest")
        sums, times = [], []
        with patched(common_targets(tr)), tr.span("ingest") as top:
            for b in self.ingest["batches"]:
                new = spark.read.parquet(b["path"])
                with tr.span("append_batch", batch=b["batch_id"]) as sp:
                    s = incremental.append_batch(spark, wh, new, b["batch_id"], admit_unique=True)
                sums.append(s)
                times.append(sp.seconds)
                want = (b["n_in"], b["n_batch_dups"], b["n_store_dups"],
                        b["n_in"] - b["n_batch_dups"] - b["n_store_dups"])
                got = (s["n_in"], s["n_batch_dups"], s["n_store_dups"], s["n_admitted"])
                if got != want or s["n_docs"] != want[3]:
                    raise CheckFailed(f"batch {b['batch_id']}: admitted {got}, planted {want}")
            total = (spark.read.parquet(os.path.join(wh, "gram_index"))
                     .agg(F.sum("n_old")).collect()[0][0])
            with tr.span("compact_gram_index") as s_compact:
                comp = incremental.compact_gram_index(spark, wh)
            with tr.span("rebuild_bloom") as s_bloom:
                bloom = incremental.rebuild_bloom(spark, wh)
        if comp["total_count"] != total:
            raise CheckFailed(f"compaction total {comp['total_count']} != {total}")
        if bloom["n_store"] != self.ingest["n_admitted"]:
            raise CheckFailed(f"store holds {bloom['n_store']}, expected {self.ingest['n_admitted']}")
        reads = m.get("tables.read_s", 0.0)
        table_metrics(tr, top, wh, m)
        m["tables.read_s"] = reads  # reads of the curation pass only
        n_in = sum(s["n_in"] for s in sums)
        n_cand = sum(s["n_bloom_candidates"] for s in sums)
        m["incremental.append_p50_s"] = statistics.median(times)
        m["incremental.append_max_s"] = max(times)
        m["incremental.bloom_candidate_frac"] = n_cand / n_in
        m["incremental.store_dup_yield"] = sum(s["n_store_dups"] for s in sums) / n_cand if n_cand else 0.0
        m["incremental.compact_s"] = s_compact.seconds
        m["incremental.rebuild_bloom_s"] = s_bloom.seconds
        m["sarray.gram_index_rows"] = comp["rows"]


WORKLOADS = {w.name: w for w in (ExtractRich, CurateChain)}

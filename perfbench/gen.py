"""Seeded input generation for the benchmark workloads.

Everything here runs in the calling process, single-threaded, and writes
plain parquet with pyarrow: the program under test never generates its own
input, it only reads the tables written here. The same seed gives the same
bytes. Each generator returns the table path plus the facts the
correctness gate needs (row counts and the planted duplicate families).
"""

from __future__ import annotations

import datetime as dt
import os
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

# extract_rich: N_TURNS fixture turns for every seed, at web-page size
# (rich=24: about 18 KB of text per turn on average), with whale
# conversations so that task skew is part of the measured plan. Their
# Python extraction body is about 3 s of CPU on a 4-core box.
RICH = 24
N_TURNS = 1000
N_WHALES = 2
WHALE_LEN = 150
EXTRACT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"

# curate_chain: extraction-output-shaped documents over a small vocabulary
# (random pairs share a few 3-word shingles, so LSH emits candidates that
# the Jaccard verify must reject), plus planted families.
CUR_BACKGROUND = 100
CUR_EXACT_FAMILIES, CUR_EXACT_COPIES = 6, 2       # 12 docs removed by exact dedup
CUR_NEAR_FAMILIES, CUR_NEAR_COPIES = 6, 2         # 12 docs removed by near-dup
CUR_REPETITIVE = 6                                # removed by chunk de-repetition
CUR_LOW_QUALITY = 8                               # removed by the quality gate
NEAR_EDIT_FRAC = 0.04

# the incremental ingest measured in curate_chain's traced run: a fixed
# batch sequence with in-batch and cross-batch exact duplicates.
ING_BATCHES = 2
ING_BATCH_DOCS = 100
ING_BATCH_DUPS = 6    # per batch: copies of a doc earlier in the same batch
ING_STORE_DUPS = 8    # per batch after the first: copies of a stored doc

_BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _vocab(n: int = 64) -> List[str]:
    r = random.Random(1234)
    letters = "abcdefghijklmnopqrstuvwxyz"
    out: List[str] = []
    while len(out) < n:
        w = "".join(r.choice(letters) for _ in range(r.randint(3, 9)))
        if w not in out:
            out.append(w)
    return out


_WORDS = _vocab()


def _prose(r: random.Random, n_words: int) -> List[str]:
    return [r.choice(_WORDS) for _ in range(n_words)]


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=256)
    return path


def gen_extract(seed: int, root: str) -> Dict:
    """Transcripts (conv_id, turn_idx, role, text, tool, ts)."""
    from pdf_extraction_spark.fixtures import _ROLES, gen_turn_text

    r = random.Random(seed)
    lengths = [WHALE_LEN] * N_WHALES
    left = N_TURNS - sum(lengths)
    while left > 0:
        lengths.append(min(r.randint(2, 20), left))
        left -= lengths[-1]
    r.shuffle(lengths)
    cols: Dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    for i, n_turns in enumerate(lengths):
        conv_id = f"s{seed}-c{i:05d}"
        for t in range(n_turns):
            role = _ROLES[t % 3]
            text, tool = gen_turn_text(conv_id, t, role, RICH)
            cols["conv_id"].append(conv_id)
            cols["turn_idx"].append(t)
            cols["role"].append(role)
            cols["text"].append(text)
            cols["tool"].append(tool)
            cols["ts"].append(_BASE_TS + dt.timedelta(seconds=i * 3600 + t * 17))
    table = pa.table({
        "conv_id": pa.array(cols["conv_id"], pa.string()),
        "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
        "role": pa.array(cols["role"], pa.string()),
        "text": pa.array(cols["text"], pa.string()),
        "tool": pa.array(cols["tool"], pa.string()),
        "ts": pa.array(cols["ts"], pa.timestamp("us", tz="UTC")),
    })
    path = _write(table, os.path.join(root, "transcripts", "part-0.parquet"))
    return {"path": os.path.dirname(path), "n_turns": table.num_rows, "schema": EXTRACT_SCHEMA}


def _edit(r: random.Random, words: List[str], frac: float) -> List[str]:
    out = list(words)
    for i in r.sample(range(len(out)), max(1, int(len(out) * frac))):
        out[i] = r.choice(_WORDS) + "x"
    return out


def gen_curate(seed: int, root: str) -> Dict:
    """Extraction-output docs (conv_id, turn_idx, extracted_text,
    quality_score, status) with planted duplicate families:

    - exact families: identical copies of a background doc;
    - near-dup families: copies with a few words replaced (3-shingle
      Jaccard to the original about 0.8, far above the 0.1 bar);
    - repetitive docs: one random 10-word chunk repeated, so nearly all of
      the doc's aligned 10-word chunks repeat and de-repetition drops it
      whatever the doc order;
    - low-quality docs: failed or below the quality threshold.
    """
    r = random.Random(seed)
    texts: List[str] = []
    quality: List[float] = []
    status: List[str] = []
    group: List[str] = []

    def add(words: List[str], label: str, q: float = 0.9, st: str = "ok") -> None:
        texts.append(" ".join(words))
        quality.append(q)
        status.append(st)
        group.append(label)

    background = [_prose(r, r.randint(600, 1100)) for _ in range(CUR_BACKGROUND)]
    for i, w in enumerate(background):
        label = f"exact{i}" if i < CUR_EXACT_FAMILIES else ""
        add(w, label, q=round(r.uniform(0.35, 1.0), 3))
    for f in range(CUR_EXACT_FAMILIES):
        for _ in range(CUR_EXACT_COPIES):
            add(background[f], f"exact{f}")
    for f in range(CUR_NEAR_FAMILIES):
        w = _prose(r, r.randint(600, 1100))
        add(w, f"near{f}")
        for _ in range(CUR_NEAR_COPIES):
            add(_edit(r, w, NEAR_EDIT_FRAC), f"near{f}")
    for _ in range(CUR_REPETITIVE):
        add(_prose(r, 10) * r.randint(40, 80), "drop")
    for i in range(CUR_LOW_QUALITY):
        if i % 2:
            add(_prose(r, 300), "drop", q=round(r.uniform(0.0, 0.29), 3))
        else:
            add(_prose(r, 300), "drop", st="failed")

    order = list(range(len(texts)))
    r.shuffle(order)
    conv_ids = [f"s{seed}-d{i:05d}" for i in range(len(order))]
    families: Dict[str, List[str]] = {}
    for pos, i in enumerate(order):
        if group[i]:
            families.setdefault(group[i], []).append(conv_ids[pos])
    table = pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array([0] * len(order), pa.int32()),
        "extracted_text": pa.array([texts[i] for i in order], pa.string()),
        "quality_score": pa.array([quality[i] for i in order], pa.float64()),
        "status": pa.array([status[i] for i in order], pa.string()),
    })
    path = _write(table, os.path.join(root, "extracted", "part-0.parquet"))
    n_in = table.num_rows
    n_gated = n_in - CUR_LOW_QUALITY
    n_exact = n_gated - CUR_EXACT_FAMILIES * CUR_EXACT_COPIES
    n_near = n_exact - CUR_NEAR_FAMILIES * CUR_NEAR_COPIES
    return {
        "path": os.path.dirname(path),
        "schema": "conv_id string, turn_idx int, extracted_text string, quality_score double, status string",
        "n_input": n_in,
        "expect": {
            "n_input": n_in,
            "n_quality_gated": n_gated,
            "n_after_exact_dedup": n_exact,
            "n_after_neardup": n_near,
            "n_after_derep": n_near - CUR_REPETITIVE,
        },
        # label -> conv_ids; "drop" docs must all be gone, every other
        # family must keep exactly one member
        "families": families,
    }


def gen_ingest(seed: int, root: str) -> Dict:
    """Batches of (doc_id, text). Batch b holds ING_BATCH_DOCS docs, of
    which ING_BATCH_DUPS repeat an earlier doc of the same batch and (from
    the second batch on) ING_STORE_DUPS repeat a doc of an earlier batch."""
    r = random.Random(seed)
    batches = []
    stored: List[str] = []
    next_id = seed * 1_000_000
    for b in range(ING_BATCHES):
        n_store = ING_STORE_DUPS if b else 0
        fresh = [" ".join(_prose(r, r.randint(150, 400)))
                 for _ in range(ING_BATCH_DOCS - ING_BATCH_DUPS - n_store)]
        texts = fresh + r.sample(fresh, ING_BATCH_DUPS) + r.sample(stored, n_store)
        r.shuffle(texts)
        ids = list(range(next_id, next_id + len(texts)))
        next_id += len(texts)
        table = pa.table({"doc_id": pa.array(ids, pa.int64()),
                          "text": pa.array(texts, pa.string())})
        path = _write(table, os.path.join(root, f"batch_{b}", "part-0.parquet"))
        batches.append({"path": os.path.dirname(path), "batch_id": f"b{b:03d}",
                        "n_in": len(texts), "n_batch_dups": ING_BATCH_DUPS,
                        "n_store_dups": n_store})
        stored.extend(fresh)
    return {"batches": batches,
            "n_input": sum(b["n_in"] for b in batches),
            "n_admitted": sum(b["n_in"] - b["n_batch_dups"] - b["n_store_dups"]
                              for b in batches)}

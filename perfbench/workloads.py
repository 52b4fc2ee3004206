"""Seeded workload inputs for the benchmark, cached on disk, with the
oracle's expected outputs stored beside each input.

Two workloads (see BENCHMARK.json for why each exists), both drawn from the
seed corpus recipe of ``datagen.generate_transcripts`` (short turns, ~35%
unmatched, duplicate-pattern multicast, 0.5% duplicate keys, one 100x hot
conversation), cut to a fixed number of input turns so that every seed
costs the same:

- ``mixed_short``: one bucket, parquet sink — a small batch, whose wall is
  mostly the pipeline's size-independent per-job cost.
- ``table_resume``: a smaller input through the snapshot-table sink with
  two buckets and a failure injected after the first, then the resume.

The program only ever sees the written parquet. Generation runs in one
process and is skipped when the cached directory for (workload, seed, size)
already holds its ``expected.json``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from logparserhelper_spark import datagen
from logparserhelper_spark.defaults import default_pattern_bank
from logparserhelper_spark.oracle import extract_spans

WORKLOADS = ("mixed_short", "table_resume")

# (workload, size) -> input turns. "bench" is what the benchmark measures;
# "tiny" is the self-test scale.
SIZES = {
    ("mixed_short", "bench"): 40000,
    ("mixed_short", "tiny"): 2000,
    ("table_resume", "bench"): 6000,
    ("table_resume", "tiny"): 1000,
}

# pipeline shape per workload: (routed_format, n_buckets, fail_after_buckets)
PIPELINE_SHAPE = {
    "mixed_short": ("parquet", 1, None),
    "table_resume": ("table", 2, 1),
}

SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def data_dir(work_dir: str, workload: str, seed: int, size: str) -> str:
    return os.path.join(work_dir, "data", f"{workload}-s{seed}-{SIZES[(workload, size)]}")


def ensure_workload(work_dir: str, workload: str, seed: int, size: str = "bench") -> str:
    """Generate (or reuse) the input for (workload, seed, size); returns its
    directory, which holds ``transcripts.parquet``, the two dims and
    ``expected.json``."""
    out = data_dir(work_dir, workload, seed, size)
    if os.path.exists(os.path.join(out, "expected.json")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = corpus_rows(seed, SIZES[(workload, size)])
    pq.write_table(
        pa.table({k: pa.array(v, SCHEMA.field(k).type) for k, v in rows.items()}, schema=SCHEMA),
        os.path.join(tmp, "transcripts.parquet"),
        compression="snappy",
    )
    datagen._write_dims(tmp)
    expected = oracle_expectation(rows)
    with open(os.path.join(tmp, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def _empty_cols() -> dict[str, list]:
    return {f.name: [] for f in SCHEMA}


def _append(cols, conv_id, ti, role, text, tool, ts) -> None:
    cols["conv_id"].append(conv_id)
    cols["turn_idx"].append(ti)
    cols["role"].append(role)
    cols["text"].append(text)
    cols["tool"].append(tool)
    cols["ts"].append(ts)


def corpus_rows(seed: int, n_turns: int) -> dict[str, list]:
    """The datagen corpus recipe (lengths, roles, texts and duplicate keys
    as in ``datagen.generate_transcripts``), conversation after
    conversation, cut at exactly ``n_turns`` input rows."""
    lens = datagen.conversation_lengths(n_turns // datagen.MEDIAN_TURNS, 1.6, seed)
    rng = random.Random(seed)
    cols = _empty_cols()
    for ci, n in enumerate(lens):
        conv_id = f"conv-{ci:08d}"
        base = datagen.BASE_TS + timedelta(seconds=ci * 60)
        for ti in range(int(n)):
            role = rng.choices(datagen.ROLES, weights=datagen.ROLE_WEIGHTS, k=1)[0]
            tool = rng.choice(datagen.TOOLS) if role == "tool" else None
            ts = base + timedelta(seconds=ti)
            _append(cols, conv_id, ti, role, datagen._make_text(rng), tool, ts)
            if rng.random() < 0.005:  # duplicated (conv_id, turn_idx), later ts
                role2 = rng.choices(datagen.ROLES, weights=datagen.ROLE_WEIGHTS, k=1)[0]
                _append(cols, conv_id, ti, role2, datagen._make_text(rng), None,
                        ts + timedelta(microseconds=500000))
            if len(cols["conv_id"]) >= n_turns:
                return {k: v[:n_turns] for k, v in cols.items()}
    raise ValueError(f"seed {seed}: {n_turns} turns need more conversations")


# -- the oracle's expected outputs ------------------------------------------

def oracle_expectation(rows: dict[str, list]) -> dict:
    """Expected pipeline outputs, from the pure-Python oracle: the stable
    dedup winner per (conv_id, turn_idx) is min(role, ts, text, tool); each
    winner routes one row per span to its pattern's sink, or one row to
    ``unmatched``."""
    winners: dict[tuple, tuple] = {}
    for conv_id, ti, role, text, tool, ts in zip(
        rows["conv_id"], rows["turn_idx"], rows["role"], rows["text"],
        rows["tool"], rows["ts"],
    ):
        cand = (role, ts, text, tool or "")
        key = (conv_id, ti)
        if key not in winners or cand < winners[key]:
            winners[key] = cand
    bank = default_pattern_bank()
    sink_of = {e.pattern_id: e.sink for e in bank.entries}
    routed: Counter = Counter()
    n_matches: Counter = Counter()
    n_turns: Counter = Counter()
    for _role, _ts, text, _tool in winners.values():
        spans = extract_spans(text, bank)
        if not spans:
            routed["unmatched"] += 1
            n_matches["unmatched"] += 1
            n_turns["unmatched"] += 1
            continue
        per_pid = Counter(pid for pid, *_ in spans)
        for pid, n in per_pid.items():
            routed[sink_of[pid]] += n
            n_matches[pid] += n
            n_turns[pid] += 1
    freq = {str(k): [n_matches[k], n_turns[k]] for k in n_matches}
    return {
        "input_turns": len(rows["conv_id"]),
        "routed_per_sink": dict(routed),
        # pattern_id (or "unmatched") -> [n_matches, n_turns]
        "sink_pattern_freq": freq,
        "conv_rollup_rows": len({c for c, _ in winners}),
        "conv_rollup_n_turns": len(winners),
    }


def load_expected(path: str) -> dict:
    with open(os.path.join(path, "expected.json")) as f:
        return json.load(f)

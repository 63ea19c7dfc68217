"""Seeded input tables for the benchmark workloads (numpy + pyarrow).

The bronze generator keeps the shape of the engine's own TranscriptGen:
zipf-ish conversation sizes around `avg_turns` (the same closed-form size
per conversation index), optional dense agent loops, seconds-scale gaps with
occasional session breaks, ~20 tools and short word-salad texts. The seed
draws everything else: the conv-id salt (so hash placement, and which task
holds a mega conversation, moves with the seed), each conversation's start
offset, and every gap, role and text.
"""
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400

WORDS = np.array([
    "the", "a", "of", "and", "to", "query", "plan", "join", "scan", "sort",
    "merge", "filter", "window", "agg", "shuffle", "partition", "broadcast",
    "table", "row", "column", "key", "hash", "range", "stream", "batch",
    "tool", "call", "result", "error", "retry", "state", "turn", "reply",
    "data", "file", "read", "write", "commit", "check", "model", "token",
    "text", "user", "agent", "step", "trace", "span", "event", "log", "run"])


def _texts(rng, n, lo, hi, words=WORDS):
    """n texts of lo..hi words each."""
    lens = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(words), (n, hi))
    w = words[idx]
    return [" ".join(w[i, :lens[i]]) for i in range(n)]


def _text_column(rng, n, lo, hi, pool=8192):
    """n texts drawn from a seeded pool of distinct ones: cheap at millions
    of rows, and every feature reads only a text's length.
    """
    texts = pa.array(_texts(rng, pool, lo, hi))
    return texts.take(pa.array(rng.integers(0, pool, n)))


def bronze(seed, out_dir, n_convs, avg_turns, mega_convs, mega_turns, spread_secs,
           mega_every_secs=10 * DAY, files=16):
    """Writes a bronze transcript table as `files` time-ranged parquet files
    (like a landed bronze layer delivered by arrival time); returns its row count.
    """
    rng = np.random.default_rng([seed, 1])
    idx = np.arange(n_convs)
    sizes = np.where(idx < mega_convs, mega_turns,
                     np.maximum(2, (avg_turns * 3 / (idx % 1000 + 1) ** 0.7).astype(np.int64)))
    # mega conversation i starts in the first day of backfill slice i, so no
    # two megas share a slice and the slowest sweep task holds exactly one
    start = np.where(idx < mega_convs, idx * mega_every_secs + rng.integers(0, DAY, n_convs),
                     rng.integers(0, spread_secs, n_convs))
    conv = np.repeat(idx, sizes)
    first = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    turn = np.arange(len(conv)) - np.repeat(first, sizes)
    n = len(conv)
    csize = sizes[conv]
    u = rng.random(n)
    # megas are dense agent loops (sub-3 s ticks): one fits inside a day
    dense = (conv < mega_convs) | (csize > 100000)
    gap = np.where(dense, np.where(u < 1 / 8192, 1801 + rng.integers(0, 1800, n), rng.integers(0, 3, n)),
          np.where(csize > 5000, np.where(u < 1 / 512, 1801 + rng.integers(0, 1800, n), 1 + rng.integers(0, 30, n)),
                   np.where(u < 1 / 16, 3600 + rng.integers(0, 7200, n), 5 + rng.integers(0, 240, n))))
    gap[turn == 0] = 0
    cum = np.cumsum(gap)
    ts = BASE_EPOCH + start[conv] + cum - np.repeat(cum[first], sizes)
    role_h = rng.integers(0, 10, n)
    role = np.where(role_h <= 3, "user", np.where(role_h <= 7, "assistant", "tool"))
    tools = pa.array([f"tool_{t}" for t in range(20)])
    tool = tools.take(pa.array(rng.integers(0, 20, n), mask=role_h < 8))
    salts = [hashlib.sha256(f"{seed}/{i}".encode()).hexdigest()[:8] for i in range(n_convs)]
    ids = np.array([f"{s}-conv_{i:09d}" for i, s in enumerate(salts)])
    table = pa.table({
        "conv_id": pa.array(ids[conv]),
        "turn_idx": pa.array(turn.astype(np.int32)),
        "role": pa.array(role, pa.string()),
        "text": _text_column(rng, n, 3, 32),
        "tool": tool,
        "ts": pa.array((ts * 1_000_000).astype(np.int64), pa.timestamp("us", tz="UTC")),
    })
    table = table.take(np.argsort(ts, kind="stable"))
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for p in out.glob("*.parquet"):
        p.unlink()
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), out / f"part-{i:05d}.parquet")
    return n


SUITE_WORDS = np.array([
    "the", "and", "of", "to", "a", "in", "is", "it", "der", "die", "und", "ist", "das", "le",
    "la", "et", "les", "des", "el", "los", "las", "que", "query", "plan", "join", "scan",
    "sort", "merge", "filter", "window", "hash", "range", "stream", "batch", "table", "row",
    "column", "key", "value", "group", "order", "fast", "slow", "big", "small", "spark",
    "data", "vector", "line", "part", "agg", "customer"])


def suite_tables(seed, out_dir, events=100000, users=1500, docs=5000, vecs=2000):
    """The tables the q1-q20 suite reads, in the schema and at the row
    counts of the repository's sf0.1 test data (100k events over 1.5k users
    and 30 days, 5k documents of ~300 characters, 2k 64-d embeddings in 10
    labels):
    `events` (the transcript view's source), `documents` with exact and
    one-word-edit near duplicates (so every dedup operator finds pairs), and
    `embeddings` drawn around ten label centres (so near-duplicate and top-k
    searches have neighbours).
    """
    rng = np.random.default_rng([seed, 2])
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    types = np.array(["click", "view", "purchase", "signup", "error"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(((BASE_EPOCH + rng.integers(0, 30 * DAY, events)) * 1_000_000
                        + rng.integers(0, 1_000_000, events)).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, events).astype(np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, events)]),
        "value": pa.array(np.round(rng.random(events) * 500, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]),
    }), out / "events.parquet")

    # doc 10k+1 repeats doc 10k verbatim; 10k+2 repeats it with its first word changed
    texts = _texts(rng, docs, 24, 76, SUITE_WORDS)
    edits = SUITE_WORDS[rng.integers(0, len(SUITE_WORDS), docs)]
    for i in range(docs):
        if i % 10 == 1:
            texts[i] = texts[i - 1]
        elif i % 10 == 2:
            rest = texts[i - 2].split(" ", 1)
            texts[i] = " ".join([edits[i] + "x"] + rest[1:])
    langs = np.array(["en", "zh", "de", "fr", "es"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, docs)]),
        "source": pa.array([f"src{i % 7}" for i in range(docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), out / "documents.parquet")

    labels = rng.integers(0, 10, vecs)
    centres = rng.normal(0, 0.12, (10, 64))
    emb = (centres[labels] + rng.normal(0, 0.12, (vecs, 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), out / "embeddings.parquet")

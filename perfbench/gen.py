"""Seeded input generators owned by the benchmark.

Every table derives from NumPy's PCG64 stream for the seed, so one seed
always writes the same rows, whatever the engine package does. The
transcript recipe follows the closed form of the package's own
generator (conversation length = 2 + Pareto(alpha=2), capped; odd turns
call one of eight tools at rate 0.25), and the event, document and
embedding tables mirror the shape of the engine's test tables.

Tables are written as parquet with pyarrow, no Spark involved, so input
generation stays out of the session set-up time.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOOLS = np.array(["search", "browser", "python", "sql", "calculator", "files", "email", "maps"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
WORDS = np.array(
    "a agg batch big column data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table value window".split()
)


def transcripts(seed: int, n_convs: int, max_turns: int = 64, tool_rate: float = 0.25) -> pa.Table:
    """conv_id, turn_idx, role, text, tool, ts — the engine's transcript shape."""
    rng = np.random.default_rng([seed, 1])
    u = rng.random(n_convs)
    n_turns = np.minimum(max_turns, 2 + np.floor((1.0 - u) ** -0.5 - 1.0)).astype(np.int64)
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), n_turns)
    turn = np.arange(len(conv), dtype=np.int64) - np.repeat(np.cumsum(n_turns) - n_turns, n_turns)
    uses_tool = (turn % 2 == 1) & (rng.random(len(conv)) < tool_rate)
    tool = TOOLS[rng.integers(0, len(TOOLS), len(conv))]
    conv_s, turn_s = conv.astype(str), turn.astype(str)
    return pa.table(
        {
            "conv_id": pa.array(np.char.add("c", conv_s)),
            "turn_idx": pa.array(turn.astype(np.int32)),
            "role": pa.array(np.where(turn % 2 == 0, "user", "assistant")),
            "text": pa.array(np.char.add(np.char.add(np.char.add("turn-", conv_s), "-"), turn_s)),
            "tool": pa.array(np.where(uses_tool, tool, None), type=pa.string()),
            "ts": pa.array((1_700_000_000 + conv * 86_400 + turn * 30) * 1_000_000, pa.timestamp("us")),
        }
    )


def events(seed: int, n_events: int, n_users: int) -> pa.Table:
    """event_id, ts, user_id, event_type, value, props — the engine's events shape."""
    rng = np.random.default_rng([seed, 2])
    ts = 1_704_067_200_000_000 + np.cumsum(rng.integers(1, 60_000_000, n_events))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
            "value": pa.array(np.round(rng.random(n_events) * 136.0, 2)),
            "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}")),
        }
    )


def documents(seed: int, n_docs: int, dup_rate: float = 0.05):
    """(table, planted) — doc_id, text; ``planted`` lists (original, copy)
    id pairs whose texts are identical, which MinHash-LSH must report."""
    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), n)]) for n in lengths]
    n_dup = int(n_docs * dup_rate)
    copies = rng.choice(np.arange(n_docs // 2, n_docs), n_dup, replace=False)
    planted = []
    for c in np.sort(copies):
        o = int(rng.integers(0, n_docs // 2))
        texts[c] = texts[o]
        planted.append((o, int(c)))
    table = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": pa.array(texts)})
    return table, planted


def embeddings(seed: int, n: int, dim: int, clusters: int, noise: float = 0.1) -> pa.Table:
    """vec_id, embedding (float) — points scattered round ``clusters`` centres."""
    rng = np.random.default_rng([seed, 4])
    centres = rng.standard_normal((clusters, dim))
    vec = centres[rng.integers(0, clusters, n)] + noise * rng.standard_normal((n, dim))
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        }
    )


def row_hash(table: pa.Table) -> str:
    """SHA-256 of the table's Arrow IPC stream: schema plus every row in order."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path

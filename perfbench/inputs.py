"""Seeded input generators, one per workload.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical rows. The engine only ever sees the generated rows, written
as parquet files and read back by Spark.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from openccnet_spark.operators.quality import MAX_CHARS, MIN_CHARS
from openccnet_spark.sources.transcripts import _pool_idx, _turns_for_conv, pool_text

TURN_SCHEMA = pa.schema(
    [
        ("row_id", pa.int64()),
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
    ]
)

_ROLES = ("user", "assistant", "tool")
#: conversation-id stride between seeds: larger than any run's
#: conversation count, so two seeds never draw the same conversations
_CONV_STRIDE = 1_000_003

_ENGLISH = (
    "the data pipeline model review table shard token budget filter quality "
    "report summary please check again running batch result error latency "
    "cluster memory worker queue schema partition export import update"
).split()


def pool_turns(seed: int, n_rows: int) -> pa.Table:
    """Transcript turns over ``transcripts.POOL``: the source's turn-count
    mix (90% 2-10 turns, 10% 50-200) and pool-index arithmetic, over a
    conversation range offset by the seed. Exactly ``n_rows`` rows (the
    last conversation is cut short)."""
    cols: dict[str, list] = {k: [] for k in TURN_SCHEMA.names}
    c = seed * _CONV_STRIDE
    while len(cols["text"]) < n_rows:
        for t in range(min(_turns_for_conv(c), n_rows - len(cols["text"]))):
            cols["row_id"].append(len(cols["text"]))
            cols["conv_id"].append(f"conv{c:012d}")
            cols["turn_idx"].append(t)
            cols["role"].append(_ROLES[t % 3])
            cols["text"].append(pool_text(_pool_idx(c, t)))
        c += 1
    return pa.Table.from_pydict(cols, schema=TURN_SCHEMA)


def _phrase_run(rng: random.Random, phrases: list, n_chars: int) -> str:
    """``n_chars // 3`` random phrases (about 1.1 ``n_chars`` characters),
    a punctuation mark after every sixth."""
    words = rng.choices(phrases, k=max(3, n_chars // 3))
    marks = rng.choices("，。；、", k=len(words) // 6 + 1)
    return "".join(w + marks[i // 6] if i % 6 == 5 else w for i, w in enumerate(words))


def unique_long_turns(seed: int, n_rows: int, phrases: list) -> pa.Table:
    """All-distinct long Simplified turns built from ``st_phrases`` keys
    (about 165-440 chars), 15% with an English clause, 5% with an email or
    phone number to scrub, and a 1% tail longer than ``MAX_CHARS`` that
    the pre-gate drops."""
    rng = random.Random(seed)
    cols: dict[str, list] = {k: [] for k in TURN_SCHEMA.names}
    for i in range(n_rows):
        r = rng.random()
        if r < 0.01:
            text = _phrase_run(rng, phrases, MAX_CHARS + 64)
        else:
            text = _phrase_run(rng, phrases, rng.randint(150, 400))
            cut = rng.randrange(len(text))
            if rng.random() < 0.15:
                clause = " ".join(rng.choices(_ENGLISH, k=rng.randint(4, 12)))
                text = f"{text[:cut]} {clause} {text[cut:]}"
            elif rng.random() < 0.06:
                pii = (
                    f"user{rng.randrange(10**6)}@example.org"
                    if rng.random() < 0.5
                    else f"+86 138 {rng.randrange(10**4):04d} {rng.randrange(10**4):04d}"
                )
                text = f"{text[:cut]} {pii} {text[cut:]}"
        cols["row_id"].append(i)
        cols["conv_id"].append(f"conv{seed * _CONV_STRIDE + i // 8:012d}")
        cols["turn_idx"].append(i % 8)
        cols["role"].append(_ROLES[i % 3])
        cols["text"].append(text)
    return pa.Table.from_pydict(cols, schema=TURN_SCHEMA)


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Split ``table`` into ``n_files`` contiguous parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:04d}.parquet"))


def text_properties(texts: list) -> dict:
    """The input properties later claims must quote: distinct-text share,
    share the raw-length pre-gate drops, mean chars and pure-ASCII share."""
    n = len(texts)
    return {
        "distinct_frac": len(set(texts)) / n,
        "pregated_frac": sum(not MIN_CHARS <= len(t) <= MAX_CHARS for t in texts) / n,
        "mean_chars": sum(map(len, texts)) / n,
        "ascii_frac": sum(t.isascii() for t in texts) / n,
    }

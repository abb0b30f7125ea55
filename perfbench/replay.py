"""Single-process replay of the fused quality UDF, layer by layer.

The fused UDF (``functions.pipeline_struct_udf``) calls convert, langid,
quality metrics, ppl and scrub once per row inside one Arrow batch. Spark
reports only the whole UDF's time, so the traced run replays the same
generated rows through each module's public function, timing every call
from outside, and then through the UDF's own ``.func`` on batch-sized
Series. ``udf.residual_s`` is the batch time the sub-stages do not explain
(frame assembly, Series conversion, loop overhead).
"""

from __future__ import annotations

import time

import pandas as pd

from openccnet_spark.convert import Converter
from openccnet_spark.dictionary import load_bundle
from openccnet_spark.functions import pipeline_struct_udf
from openccnet_spark.functions.langid import SAMPLE_CHARS, detect_language
from openccnet_spark.functions.ppl import perplexity
from openccnet_spark.operators.quality import (
    MAX_CHARS,
    MIN_CHARS,
    REP_MIN_WORDS,
    REP_UNIQUE_RATIO,
    SYMBOL_RATIO,
    quality_metrics,
    scrub_text,
)

#: Spark's default ``spark.sql.execution.arrow.maxRecordsPerBatch``
ARROW_BATCH_ROWS = 10_000


def dictionary_load_s(config: str) -> float:
    """What a fresh Python worker pays before its first row: parse the
    bundle (bypassing the per-process cache) and build the config's
    matcher indexes on first conversion."""
    t0 = time.perf_counter()
    Converter(load_bundle.__wrapped__()).convert("汉字转换", config)
    return time.perf_counter() - t0


def replay_udf(tracer, texts: list, config: str) -> dict:
    """Per-layer metrics of the fused UDF over ``texts`` (as generated;
    rows the raw-length pre-gate drops reach the UDF as NULL)."""
    fused = pipeline_struct_udf(config).func
    cc = Converter()
    fused(pd.Series(["预热"]))  # fill the per-process converter cache
    gated = [t if MIN_CHARS <= len(t) <= MAX_CHARS else None for t in texts]
    live = [t for t in gated if t is not None]
    timing = dict.fromkeys(("convert", "langid", "quality.metrics", "ppl", "quality.scrub"), 0.0)
    batch_s, nulls = 0.0, 0
    changed = ascii_ = scored = scrubbed = 0

    def timed(name, fn):
        with tracer.span(name) as s:
            out = fn()
        timing[name] += s["end"] - s["start"]
        return out

    for i in range(0, len(gated), ARROW_BATCH_ROWS):
        batch = gated[i:i + ARROW_BATCH_ROWS]
        with tracer.span("udf.batch") as s:
            frame = fused(pd.Series(batch, dtype=object))
        batch_s += s["end"] - s["start"]
        processed = frame["char_len"].notna()
        nulls += int(frame["text_converted"][processed].isna().sum())
        nulls += int(frame["text_scrubbed"][processed].isna().sum())

        rows = [t for t in batch if t is not None]
        conv = timed("convert", lambda: cc.convert_many([cc.normalize_compat(t) for t in rows], config))
        timed("langid", lambda: [detect_language(x) for x in conv])
        ms = timed("quality.metrics", lambda: [quality_metrics(x) for x in conv])
        alive = [
            x for x, m in zip(conv, ms)
            if not (m["word_cnt"] >= REP_MIN_WORDS and m["uniq_ratio"] < REP_UNIQUE_RATIO)
            and not m["symbol_ratio"] > SYMBOL_RATIO
        ]
        timed("ppl", lambda: [perplexity(x) for x in alive])
        scrubs = timed("quality.scrub", lambda: [scrub_text(x) for x in conv])
        changed += sum(x != t for x, t in zip(conv, rows))
        ascii_ += sum(x[:SAMPLE_CHARS].isascii() for x in conv)
        scored += len(alive)
        scrubbed += sum(s != x for s, x in zip(scrubs, conv))

    n = max(len(live), 1)
    return {
        "convert.s": timing["convert"],
        "convert.chars_per_s": sum(map(len, live)) / timing["convert"] if timing["convert"] else 0.0,
        "convert.changed_frac": changed / n,
        "langid.s": timing["langid"],
        "langid.ascii_frac": ascii_ / n,
        "ppl.s": timing["ppl"],
        "ppl.scored_frac": scored / n,
        "quality.metrics_s": timing["quality.metrics"],
        "quality.scrub_s": timing["quality.scrub"],
        "quality.scrubbed_frac": scrubbed / n,
        "udf.batch_s": batch_s,
        "udf.residual_s": batch_s - sum(timing.values()),
        "udf.null_compressed_frac": nulls / (2 * n),
        "udf.replay_rows": len(gated),
    }

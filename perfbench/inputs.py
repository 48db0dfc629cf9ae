"""Seeded input generators for the benchmark.

The inputs are made here with numpy, not with the package's own
``synth_transcripts``: the program under test receives only the generated
parquet files, so a change to the package can never change the benchmark's
inputs.  The distributions follow FIXTURES.md section 1 (transcripts) and the
shape of the sf0.1 ``documents`` table (documents).  The same seed always
gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROLES = np.array(["user", "assistant", "system", "tool"])
FILLER = ("loremipsum dolorsit " * 3300)[:65536]
# the 30-word vocabulary of the sf0.1 documents table
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
HOT_SHARES = np.array([0.01, 0.02, 0.03])
# several files, so the scan splits over the task slots of the local session
FILES = 4


def transcripts(seed: int, n_turns: int) -> pa.Table:
    """``(conv_id, turn_idx, role, text, tool, ts)``, one row per turn.

    Conversation sizes are ``1 + Poisson(9)`` (about 10 turns each) except
    for three hot conversations that own 1%, 2% and 3% of all turns, the
    skewed head FIXTURES.md asks for.  The head's shares are fixed so that
    every seed gives the same skew; the seed picks the ids and the values.
    ``length(text)`` is Lognormal(5, 1) clipped to [1, 65536]; gaps between
    turns are Exponential(rate 1.5) seconds; roles cycle
    user/assistant/system/tool.
    """
    rng = np.random.default_rng([seed, 1])
    hot = np.round(HOT_SHARES * n_turns).astype(np.int64)
    rest = n_turns - int(hot.sum())
    sizes = 1 + rng.poisson(9, size=rest // 5 + 10)
    cut = int(np.searchsorted(np.cumsum(sizes), rest))
    sizes = sizes[: cut + 1]
    sizes[-1] -= int(sizes.sum()) - rest
    sizes = np.concatenate([hot, sizes[sizes > 0]])
    n_conv = sizes.size
    conv_num = rng.permutation(n_conv) + 1000
    conv_of_turn = np.repeat(np.arange(n_conv), sizes)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    turn_idx = np.arange(n_turns) - np.repeat(starts, sizes)
    # interleave conversations the way an event log would land them
    order = rng.permutation(n_turns)
    conv_of_turn, turn_idx = conv_of_turn[order], turn_idx[order]

    length = np.clip(np.round(np.exp(rng.normal(5.0, 1.0, n_turns))), 1, 65536)
    length = length.astype(np.int64)
    conv_ids = np.char.add("conv-", np.char.zfill(conv_num.astype(str), 8))
    cid = conv_ids[conv_of_turn]
    text = [
        (f"t:{c}:{t} " + FILLER)[:n]
        for c, t, n in zip(conv_num[conv_of_turn].tolist(), turn_idx.tolist(), length.tolist())
    ]
    role = ROLES[turn_idx % 4]
    tool_rank = rng.zipf(1.6, n_conv) % 20
    tool = np.where(role == "tool", np.char.add("tool-", tool_rank[conv_of_turn].astype(str)), None)
    gaps = rng.exponential(1 / 1.5, n_turns)
    # ts = conversation start + running sum of gaps in turn order
    by_turn = np.lexsort((turn_idx, conv_of_turn))
    csum = np.empty(n_turns)
    g = gaps[by_turn]
    run = np.cumsum(g)
    first = np.searchsorted(conv_of_turn[by_turn], np.arange(n_conv))
    csum[by_turn] = run - np.repeat(run[first] - g[first], sizes)
    ts_us = (1704067200.0 + conv_of_turn * 0.001 + csum) * 1e6
    return pa.table(
        {
            "conv_id": pa.array(cid, pa.string()),
            "turn_idx": pa.array(turn_idx.astype(np.int32)),
            "role": pa.array(role, pa.string()),
            "text": pa.array(text, pa.string()),
            "tool": pa.array(tool, pa.string()),
            "ts": pa.array(ts_us.astype(np.int64), pa.timestamp("us", tz="UTC")),
        }
    )


def documents(seed: int, n_docs: int, dup_frac: float = 0.05) -> pa.Table:
    """``(doc_id, text, lang, source, n_chars)`` shaped like the sf0.1
    ``documents`` table: 10-100 words drawn uniformly from a 30-word
    vocabulary, ``source`` cycling over 20 values.  A seed-chosen
    ``dup_frac`` of the documents are planted near-duplicates: a copy of
    another document with the word ``dup`` appended."""
    rng = np.random.default_rng([seed, 2])
    n_words = rng.integers(10, 101, n_docs)
    words = rng.integers(0, VOCAB.size, int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    text = [" ".join(VOCAB[words[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
    dups = rng.choice(n_docs, size=int(n_docs * dup_frac), replace=False)
    for d in dups.tolist():
        src = int(rng.integers(0, n_docs))
        if src != d:
            text[d] = text[src] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )


def write(table: pa.Table, path: str) -> int:
    """Write ``table`` as FILES parquet files under directory ``path`` and
    return the bytes written."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    size = 0
    for i in range(FILES):
        f = os.path.join(path, f"part-{i:02d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        size += os.path.getsize(f)
    return size

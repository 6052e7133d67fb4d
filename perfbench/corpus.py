"""Seeded transcript corpora for the benchmark.

Each generator writes ``<out_dir>/documents.parquet`` with the schema of
the fixture the pipeline reads through ``sf_dir``::

    doc_id int64, text string, lang string, source string, n_chars int64

One document is one conversation; the pipeline derives 8-word turns from
it.  The same (shape, seed, size) always gives a byte-identical file, so
an oracle answer computed once per corpus stays valid for every build of
it.  ``describe`` returns the shape statistics the benchmark records.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cross_sentence_relation_extraction_idepnn_spark.config import ENTITY_ALIASES
from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
    TURN_WORDS,
)

ALIASES = sorted(ENTITY_ALIASES)
# the fixture's 12 non-entity words (function words included: the
# kernel's POS rule treats "the"/"a" specially)
FILLER = [
    "a", "the", "big", "small", "fast", "slow",
    "column", "vector", "agg", "dup", "of", "and",
]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

# The long-tail shape: a 50k-word vocabulary with Zipf(1.1) frequencies
# and ~4% entity density, so the mention and candidate layers see few,
# sparse hits while scan and segmentation see every word; lognormal(1.6, 1.4)
# conversation lengths in turns (median ~5), capped at 4,000, so the
# longest conversations hold a large share of the conv_id shuffle.
LONGTAIL_VOCAB = 50_000
LONGTAIL_DENSITY = 0.04
LONGTAIL_ZIPF_S = 1.1
LONGTAIL_TURNS_MU = 1.6
LONGTAIL_TURNS_SIGMA = 1.4
LONGTAIL_MAX_TURNS = 4000

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70


def _vocab_word(i: int) -> str:
    """Deterministic pronounceable word for index ``i`` (base-70
    syllables, at least two)."""
    out = []
    n = i
    while True:
        out.append(_SYLLABLES[n % len(_SYLLABLES)])
        n //= len(_SYLLABLES)
        if n == 0 and len(out) >= 2:
            break
    return "".join(out)


def _vocabulary(size: int) -> np.ndarray:
    """``size`` distinct generated words, none an alias or filler word
    (syllable words such as "data" or "line" would be)."""
    taken = set(ALIASES) | set(FILLER)
    words: list[str] = []
    i = 0
    while len(words) < size:
        w = _vocab_word(i)
        if w not in taken:
            words.append(w)
        i += 1
    return np.array(words)


def _write(texts: list[str], out_dir: str, rng: np.random.Generator) -> str:
    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    return path


def _mix(rng: np.random.Generator, n_words: int, density: float, other) -> str:
    """``n_words`` tokens: an alias with probability ``density``, else a
    word drawn by ``other(k)``."""
    is_alias = rng.random(n_words) < density
    aliases = rng.integers(0, len(ALIASES), n_words)
    others = other(n_words)
    return " ".join(
        ALIASES[aliases[j]] if is_alias[j] else others[j] for j in range(n_words)
    )


def _ladder(lo: int, hi: int, n: int) -> np.ndarray:
    """``n`` lengths spread evenly over [lo, hi]: the same multiset for
    every seed, so corpora of one size differ in content, not in size."""
    return np.round(np.linspace(lo, hi, n)).astype(int)


def dense(seed: int, n_docs: int, out_dir: str, block: int | None = None) -> str:
    """Fixture-shaped corpus: 10–100 words per document, the 12 filler
    words plus the 21 aliases at ~60% entity density.  Every ``block``
    consecutive documents (default: all) hold the same multiset of
    lengths in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    block = block or n_docs
    lengths = np.concatenate(
        [rng.permutation(_ladder(10, 100, min(block, n_docs - i)))
         for i in range(0, n_docs, block)]
    )
    filler = np.array(FILLER)
    texts = [
        _mix(rng, int(n), 0.6, lambda k: filler[rng.integers(0, len(filler), k)])
        for n in lengths
    ]
    return _write(texts, out_dir, rng)


def longtail(seed: int, n_docs: int, out_dir: str) -> str:
    """Long-tail corpus: a Zipf vocabulary with sparse entities and
    lognormal conversation lengths (the ``LONGTAIL_*`` constants), so a
    few conversations are long while most are short."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(LONGTAIL_VOCAB)
    ranks = np.arange(1, LONGTAIL_VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -LONGTAIL_ZIPF_S)
    cdf /= cdf[-1]
    # lognormal quantiles: the same multiset of conversation lengths
    # for every seed, in a seeded order
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf((i + 0.5) / n_docs) for i in range(n_docs)])
    turns = rng.permutation(
        np.clip(
            np.round(np.exp(LONGTAIL_TURNS_MU + LONGTAIL_TURNS_SIGMA * z)),
            1,
            LONGTAIL_MAX_TURNS,
        ).astype(int)
    )

    def zipf_words(k: int):
        return words[np.searchsorted(cdf, rng.random(k))]

    texts = [
        _mix(rng, int(t) * TURN_WORDS, LONGTAIL_DENSITY, zipf_words) for t in turns
    ]
    return _write(texts, out_dir, rng)


def describe(path: str) -> dict:
    """Shape statistics of a generated corpus: turns, vocabulary size,
    entity density, conversation-length percentiles (turns) and the
    hottest conversation's share of all turns."""
    texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
    n_words = np.array([len(t.split(" ")) for t in texts])
    turns = np.maximum(np.ceil(n_words / TURN_WORDS), 1).astype(int)
    vocab: set[str] = set()
    n_alias = 0
    alias_set = set(ALIASES)
    for t in texts:
        ws = t.split(" ")
        vocab.update(ws)
        n_alias += sum(1 for w in ws if w in alias_set)
    pct = np.percentile(turns, [50, 90, 99, 100])
    return {
        "docs": len(texts),
        "turns": int(turns.sum()),
        "words": int(n_words.sum()),
        "vocab": len(vocab),
        "entity_density": round(n_alias / max(int(n_words.sum()), 1), 4),
        "conv_turns_p50": float(pct[0]),
        "conv_turns_p90": float(pct[1]),
        "conv_turns_p99": float(pct[2]),
        "conv_turns_max": int(pct[3]),
        "hottest_conv_share": round(float(turns.max()) / max(int(turns.sum()), 1), 4),
    }


def file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]

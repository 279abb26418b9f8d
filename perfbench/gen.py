"""Seeded input generators for the benchmark workloads.

Everything here is plain Python/NumPy and depends only on the seed, so the
same seed gives byte-identical inputs.  The program under test receives the
generated rows as DataFrames; it never sees the seed.

- ``hot_texts``: the hot-key corpus.  Documents are uniform draws from a
  fixed 30-word vocabulary (15 words are entity-eligible, i.e. at least 5
  characters), 10-100 words each, so every merge key is hot and the graph
  stays at 30 nodes whatever the corpus size.
- ``zipf_texts``: the long-tail corpus.  About 60% of the tokens are drawn
  Zipf(s=1.1) from 2x10^5 distinct entity tokens, the rest are short
  fillers, 100-600 tokens per document.
- ``pages``: the same documents in the pages-table shape the incremental
  ingest path consumes.
- ``questions``: a question set drawn over the corpus's entity tokens.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import random

import numpy as np

HOT_VOCAB = (
    "spark window merge table column vector stream value small filter group "
    "customer order query batch a the key row big fast slow sort scan hash "
    "part line agg data join"
).split()
FILLERS = "a an the of in on at by to is it and or for as".split()

ZIPF_VOCAB = 200_000
ZIPF_S = 1.1
ZIPF_ENTITY_SHARE = 0.6
MIN_ENTITY_LEN = 5


def zipf_token(rank: int) -> str:
    """Entity token for a vocabulary rank: 'k' + 5 base-26 letters."""
    letters = []
    for _ in range(5):
        rank, r = divmod(rank, 26)
        letters.append(chr(ord("a") + r))
    return "k" + "".join(reversed(letters))


def doc_id_for(text: str) -> str:
    """The enqueue doc id (``doc-`` + md5 of the sanitized text)."""
    return "doc-" + hashlib.md5(text.encode("utf-8")).hexdigest()


def _distinct(n: int, draw) -> list[str]:
    """The first n distinct values of ``draw()``, in draw order."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        v = draw()
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def _budgeted(tokens: int, draw) -> list[str]:
    """Distinct documents from ``draw()`` (a token list) until the corpus
    holds exactly ``tokens`` tokens; the last document is cut to fit.  A
    fixed token count keeps the work per seed constant."""
    seen: set[str] = set()
    out: list[str] = []
    left = tokens
    while left > 0:
        words = draw()[:left]
        text = " ".join(words)
        if text not in seen:
            seen.add(text)
            out.append(text)
            left -= len(words)
    return out


def hot_texts(tokens: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return _budgeted(
        tokens, lambda: [rng.choice(HOT_VOCAB) for _ in range(rng.randint(10, 100))]
    )


_ZIPF_CDF = None


def _zipf_cdf():
    global _ZIPF_CDF
    if _ZIPF_CDF is None:
        w = 1.0 / np.arange(1, ZIPF_VOCAB + 1, dtype=np.float64) ** ZIPF_S
        cdf = np.cumsum(w)
        _ZIPF_CDF = cdf / cdf[-1]
    return _ZIPF_CDF


def zipf_texts(tokens: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    cdf = _zipf_cdf()

    def draw():
        length = int(rng.integers(100, 601))
        is_entity = rng.random(length) < ZIPF_ENTITY_SHARE
        ranks = np.minimum(np.searchsorted(cdf, rng.random(length)), ZIPF_VOCAB - 1)
        fill = rng.integers(0, len(FILLERS), length)
        return [
            zipf_token(int(r)) if e else FILLERS[f]
            for e, r, f in zip(is_entity, ranks, fill)
        ]

    return _budgeted(tokens, draw)


def docs(texts: list[str], first_order: int = 0, source_prefix: str = "src") -> list[dict]:
    """Enqueued-document rows (doc_id, text, file_path, doc_order)."""
    return [
        {
            "doc_id": doc_id_for(t),
            "text": t,
            "file_path": f"{source_prefix}{(first_order + i) % 64}",
            "doc_order": first_order + i,
        }
        for i, t in enumerate(texts)
    ]


PAGE_TS = datetime.datetime(2025, 8, 1)


def pages(rows: list[dict]) -> list[tuple]:
    """Pages-table tuples (url, warc_ts, html, text, lang, page_order) that
    enqueue to exactly ``rows`` (url becomes file_path)."""
    return [(d["file_path"], PAGE_TS, None, d["text"], "en", d["doc_order"]) for d in rows]


def entity_tokens(texts: list[str]) -> list[str]:
    """Entity-eligible tokens of a corpus, with repeats (frequency order)."""
    return [t for text in texts for t in text.split() if len(t) >= MIN_ENTITY_LEN]


def questions(texts: list[str], n: int, seed: int) -> list[str]:
    """n distinct questions: three tokens drawn by corpus frequency (the hot
    head), one drawn uniformly from the distinct tokens (the tail), and a
    filler word, shuffled."""
    rng = random.Random(seed)
    toks = entity_tokens(texts)
    distinct = sorted(set(toks))

    def draw():
        words = [rng.choice(toks) for _ in range(3)] + [rng.choice(distinct), rng.choice(FILLERS)]
        rng.shuffle(words)
        return " ".join(words)

    return _distinct(n, draw)


# corpus sizes in tokens: about 1,300 hot documents, about 30 Zipf ones
HOT_TOKENS = 70_000
ZIPF_TOKENS = 10_000
BATCH_PAGES = 50
N_QUESTIONS = 50


def workload_inputs(workload: str, seed: int) -> dict:
    """All inputs of one (workload, seed): base docs, one upsert micro-batch
    of pages drawn after them from the same generator, and the question
    set."""
    if workload == "index_hot":
        base = hot_texts(HOT_TOKENS, seed)
        more = hot_texts(HOT_TOKENS // 20, seed + 10**6)
    elif workload == "index_zipf":
        base = zipf_texts(ZIPF_TOKENS, seed)
        more = zipf_texts(ZIPF_TOKENS * 3, seed + 10**6)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    seen = set(base)
    batch = [t for t in more if t not in seen][:BATCH_PAGES]
    return {
        "docs": docs(base),
        "batch": docs(batch, first_order=len(base), source_prefix="batch"),
        "questions": questions(base, N_QUESTIONS, seed),
    }


def fingerprint(inputs: dict) -> str:
    blob = json.dumps(inputs, sort_keys=True).encode("utf-8")
    return hashlib.sha256(blob).hexdigest()


def self_check(workload: str, seed: int, inputs: dict) -> None:
    """Same seed -> byte-identical inputs; another seed -> different ones."""
    if fingerprint(workload_inputs(workload, seed)) != fingerprint(inputs):
        raise RuntimeError(f"{workload}: seed {seed} did not reproduce its inputs")
    if fingerprint(workload_inputs(workload, seed + 1)) == fingerprint(inputs):
        raise RuntimeError(f"{workload}: seeds {seed} and {seed + 1} gave the same inputs")

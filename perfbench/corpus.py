"""Seeded document corpus with planted duplicates for the dedup workload,
and the exact answers the dedup operators must give on it.

Documents are random words from a seeded vocabulary. Some originals get
exact copies (case and spacing changed, so equal after normalization),
some get a near copy (one word replaced, word-3-shingle Jaccard about
0.95), some get both. Unrelated documents share almost no 3-shingles.
The answers are computed here in Python with the engine's documented
semantics: normalization (lower, trim, runs of whitespace to one space),
distinct word 3-shingles, the stop-shingle cap, Jaccard rounded to 6
places, and the keep-lowest-id rule of the dedup pipeline.
"""

from __future__ import annotations

import random
import re
import string
from collections import defaultdict
from itertools import combinations

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def normalize(text: str) -> str:
    return _WS.sub(" ", text.strip(" ").lower())


def shingles(text: str, n: int = 3) -> set[str]:
    words = normalize(text).split()
    if len(words) < n:
        return {normalize(text)}
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def make_corpus(
    seed: int,
    n_docs: int,
    vocab: int = 4000,
    words: tuple[int, int] = (60, 120),
    exact_share: float = 0.1,
    near_share: float = 0.1,
) -> list[dict]:
    """`n_docs` originals plus their planted copies, as {doc_id, text,
    orig}: `orig` is the index of the original a copy was made from (the
    original itself carries its own index). doc_ids are a seeded
    permutation, so an original is not always the smallest id."""
    rng = random.Random(seed)
    lex = sorted(
        {"".join(rng.choices(string.ascii_lowercase, k=rng.randint(3, 9))) for _ in range(vocab)}
    )
    docs = []
    for i in range(n_docs):
        text = " ".join(rng.choices(lex, k=rng.randint(*words)))
        docs.append({"text": text, "orig": i})
        r = rng.random()
        if r < exact_share + near_share / 2:
            for _ in range(rng.randint(1, 2)):
                docs.append({"text": _respell(rng, text), "orig": i})
        if r >= exact_share:
            if r < exact_share + near_share:
                w = text.split(" ")
                k = rng.randrange(len(w))
                w[k] = rng.choice([x for x in lex if x != w[k]])
                docs.append({"text": " ".join(w), "orig": i})
    ids = rng.sample(range(1, 10 * len(docs)), len(docs))
    for d, doc_id in zip(docs, ids):
        d["doc_id"] = doc_id
    return docs


def _respell(rng: random.Random, text: str) -> str:
    """The same text after normalization: some words upper-cased, some
    single spaces doubled, padding spaces at both ends."""
    out = []
    for w in text.split(" "):
        out.append(w.upper() if rng.random() < 0.2 else w)
        out.append("  " if rng.random() < 0.1 else " ")
    return "  " + "".join(out[:-1]) + " "


def ngram_pairs(docs: list[dict], threshold: float, max_df: int | None, n: int = 3) -> dict:
    """(id_a, id_b) -> jaccard for every pair with Jaccard >= threshold
    over the shingles kept by the document-frequency cap, as
    operators.dedup.ngram_jaccard_pairs defines them."""
    sets = {d["doc_id"]: shingles(d["text"], n) for d in docs}
    df = defaultdict(int)
    for s in sets.values():
        for sh in s:
            df[sh] += 1
    if max_df is not None:
        sets = {i: {sh for sh in s if df[sh] <= max_df} for i, s in sets.items()}
    index = defaultdict(list)
    for i, s in sets.items():
        for sh in s:
            index[sh].append(i)
    common = defaultdict(int)
    for ids in index.values():
        for a, b in combinations(sorted(ids), 2):
            common[(a, b)] += 1
    out = {}
    for (a, b), c in common.items():
        j = round(c / (len(sets[a]) + len(sets[b]) - c), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


def pipeline_answer(docs: list[dict], near_threshold: float) -> dict:
    """Per-stage counts and surviving ids of jobs.dedup_cli.run_dedup_pipeline
    with the quality filter passing every generated document: exact stage
    keeps the smallest id per normalized text; near stage drops the larger
    id of every surviving pair with Jaccard >= `near_threshold` (the
    planted near copies; unrelated documents never come close)."""
    by_text = defaultdict(list)
    for d in docs:
        by_text[normalize(d["text"])].append(d["doc_id"])
    survivors = sorted(min(ids) for ids in by_text.values())
    texts = {d["doc_id"]: d["text"] for d in docs}
    pairs = ngram_pairs([{"doc_id": i, "text": texts[i]} for i in survivors], near_threshold, None)
    dropped = {b for (a, b) in pairs}
    kept = sorted(set(survivors) - dropped)
    return {
        "stages": [
            {"stage": "exact_dedup", "in": len(docs), "kept": len(survivors)},
            {"stage": "near_dedup_minhash", "in": len(survivors), "kept": len(kept)},
            {"stage": "quality_langid_filter", "in": len(kept), "kept": len(kept)},
        ],
        "kept": kept,
    }

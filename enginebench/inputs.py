"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed gives
the same documents on any machine. The engine receives only what these
functions return.

The seed moves content, not amounts: span counts, media shares, skew-tail
page counts and duplicate shares are drawn as shuffled fixed multisets, so
every seed gives a corpus with the same number of pages and spans and the
run-to-run spread of the figures is the engine's, not the generator's.
"""

from __future__ import annotations

import numpy as np

# Keeps the warm-up inputs apart from the timed inputs of the same seed
# (same shape, different content).
WARM_SALT = 1_000_003

_DECORATIONS = ("{}", "  {}", "{}   ", "\t{}\n", " \t {} \n ", "{}")


def _vocab(rng: np.random.Generator, n_words: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, n)) for n in rng.integers(3, 10, n_words)]


def _spread(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[int]:
    """``n`` integers in [lo, hi], evenly spread and shuffled: the sum
    depends only on (n, lo, hi)."""
    vals = [lo + (hi - lo + 1) * (2 * j + 1) // (2 * n) for j in range(n)]
    return [vals[i] for i in rng.permutation(n)]


def _flags(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Exactly round(n * share) True values at seeded positions."""
    out = np.zeros(n, dtype=bool)
    out[rng.choice(n, size=int(round(n * share)), replace=False)] = True
    return out


def _text(rng: np.random.Generator, vocab: list[str]) -> str:
    """1-11 words, usually edged with whitespace runs; sometimes empty or
    whitespace only."""
    r = int(rng.integers(20))
    if r == 0:
        return ""
    if r == 1:
        return "   \t  "
    words = " ".join(rng.choice(vocab, int(rng.integers(1, 12))))
    return _DECORATIONS[int(rng.integers(len(_DECORATIONS)))].format(words)


def _docs(prefix: str, kinds_per_doc: list[list[bool]], rng, vocab) -> list[dict]:
    docs = []
    for i, kinds in enumerate(kinds_per_doc):
        doc_id = f"{prefix}-{i:08d}"
        spans, media_k = [], 0
        for off, is_media in enumerate(kinds):
            if is_media:
                style = int(rng.integers(0, 1 << 32))
                spans.append(dict(kind="media", text="", offset=off,
                                  media_ref=f"media://{doc_id}/{media_k}#{style:08x}"))
                media_k += 1
            else:
                spans.append(dict(kind="text", text=_text(rng, vocab), media_ref="", offset=off))
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs


def media_skew_docs(n_docs: int, seed: int) -> list[dict]:
    """The fixture generator's corpus shape: 1-12 spans per doc of which
    20 % are media pages, and every doc at index 7 mod 100 is a skew-tail
    doc with 30-60 pages and up to three text spans."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 400)
    tail = [i for i in range(n_docs) if i % 100 == 7]
    body = [i for i in range(n_docs) if i % 100 != 7]
    lengths = _spread(rng, len(body), 1, 12)
    media = iter(_flags(rng, sum(lengths), 0.20))
    kinds: list[list[bool]] = [[] for _ in range(n_docs)]
    for i, n in zip(body, lengths):
        kinds[i] = [bool(next(media)) for _ in range(n)]
    for i, pages in zip(tail, _spread(rng, len(tail), 30, 60)):
        kinds[i] = [True] * pages + [False] * int(rng.integers(4))
    return _docs("doc", kinds, rng, vocab)


def text_heavy_docs(n_docs: int, seed: int) -> list[dict]:
    """Text-heavy corpus: 12-28 spans per doc, 2 % of them media pages;
    most text spans are edged with whitespace runs that normalization
    trims."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 400)
    lengths = _spread(rng, n_docs, 12, 28)
    media = iter(_flags(rng, sum(lengths), 0.02))
    kinds = [[bool(next(media)) for _ in range(n)] for n in lengths]
    return _docs("txt", kinds, rng, vocab)


def near_dup_corpus(
    n_docs: int,
    seed: int,
    dim: int,
    text_dup_share: float = 0.10,
    emb_dup_share: float = 0.05,
) -> tuple[list[dict], np.ndarray, set, set]:
    """Text docs with planted near-duplicates plus one embedding per doc
    with planted exact duplicates.

    A ``text_dup_share`` of docs copy an earlier doc's 30-50 words and
    replace one or two of them; an ``emb_dup_share`` of docs copy an
    earlier doc's vector exactly. Returns (docs, vectors, planted text
    pairs as doc_id pairs, planted vector pairs as index pairs); the
    vector pairs link every two members of a duplicate group.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 3000)
    text_dup = _flags(rng, n_docs - 1, text_dup_share)
    emb_dup = _flags(rng, n_docs - 1, emb_dup_share)
    lengths = _spread(rng, n_docs, 30, 50)
    texts: list[list[str]] = []
    text_pairs = set()
    for i in range(n_docs):
        if i > 0 and text_dup[i - 1]:
            src = int(rng.integers(0, i))
            words = list(texts[src])
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
            text_pairs.add((src, i))
        else:
            words = [str(w) for w in rng.choice(vocab, lengths[i])]
        texts.append(words)
    docs = [{"doc_id": f"nd-{i:07d}", "text": " ".join(w)} for i, w in enumerate(texts)]
    vecs = np.round(rng.standard_normal((n_docs, dim)), 6)
    root = list(range(n_docs))
    for i in range(1, n_docs):
        if emb_dup[i - 1]:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src]
            root[i] = root[src]
    groups: dict[int, list[int]] = {}
    for i, r in enumerate(root):
        groups.setdefault(r, []).append(i)
    emb_pairs = {
        (a, b) for g in groups.values() for x, a in enumerate(g) for b in g[x + 1:]
    }
    text_pairs = {(docs[a]["doc_id"], docs[b]["doc_id"]) for a, b in text_pairs}
    return docs, vecs, text_pairs, emb_pairs

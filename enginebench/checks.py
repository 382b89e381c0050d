"""Output checks against computations made here, independently of the
engine's Spark plans.

Each check returns the sorted list of input doc ids whose output is wrong;
an empty list means the output passed.
"""

from __future__ import annotations

import json

import numpy as np

from ops import NEAR_DUP
from tesseract_recognize_spark.oracle.oracle import expected_spans
from tesseract_recognize_spark.operators.similarity import lsh_signs

# the whitespace the inputs are edged with; the engine trims \s runs
_WS = " \t\n\r\x0b\x0c"
_EPS = 1e-9


def span_properties(docs: list[dict], rows: list[tuple]) -> list[str]:
    """Per-doc properties of extracted rows (doc_id, order, kind, text,
    media_ref, offset):

    * ``order`` is 0..n-1 without gaps, and offsets never decrease with it;
    * the text rows are the stripped input text spans, in offset order;
    * every media row carries the media_ref of the input span at its
      offset, and every input media span yields at least one row.
    """
    by_doc: dict[str, list[tuple]] = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    bad = set(by_doc) - {d["doc_id"] for d in docs}
    for d in docs:
        out = sorted(by_doc.get(d["doc_id"], ()), key=lambda r: r[1])
        spans = sorted(d["spans"], key=lambda s: s["offset"])
        media = {s["offset"]: s["media_ref"] for s in spans if s["kind"] == "media"}
        ok = (
            [r[1] for r in out] == list(range(len(out)))
            and all(a[5] <= b[5] for a, b in zip(out, out[1:]))
            and [r[3] for r in out if r[2] == "text"]
            == [s["text"].strip(_WS) for s in spans if s["kind"] == "text"]
            and all(media.get(r[5]) == r[4] for r in out if r[2] == "media")
            and set(media) <= {r[5] for r in out if r[2] == "media"}
        )
        if not ok:
            bad.add(d["doc_id"])
    return sorted(bad)


def oracle_sample(docs: list[dict], rows: list[tuple], sample: list[str], cfg) -> list[str]:
    """Exact (kind, text, media_ref, order) equality with the pure-Python
    oracle on the sampled docs."""
    want = set(sample)
    got: dict[str, list[tuple]] = {d: [] for d in want}
    for r in rows:
        if r[0] in want:
            got[r[0]].append((r[2], r[3], r[4], r[1]))
    bad = []
    for d in docs:
        if d["doc_id"] not in want:
            continue
        exp = [
            (e["kind"], e["text"], e["media_ref"], e["order"])
            for e in expected_spans(d["doc_id"], d["spans"], cfg)
        ]
        if sorted(got[d["doc_id"]], key=lambda t: t[3]) != exp:
            bad.append(d["doc_id"])
    return bad


def crash_and_resume(manifest_path: str, n_groups: int) -> bool:
    """The manifest of one crash and one resume over ``n_groups`` groups:
    exactly one committed line per group, in group order, the first half
    from one run and the second half from another."""
    with open(manifest_path) as f:
        lines = [json.loads(ln) for ln in f]
    half = n_groups // 2
    runs = [e["run_id"] for e in lines]
    return (
        all(e["status"] == "committed" for e in lines)
        and [e["group"] for e in lines] == list(range(n_groups))
        and len(set(runs[:half])) == 1
        and len(set(runs[half:])) == 1
        and runs[0] != runs[-1]
    )


def oracle_sample_ids(docs: list[dict], seed: int, n: int = 16) -> list[str]:
    """Every skew-tail doc (30+ media spans) plus ``n`` seeded others."""
    tail = [d["doc_id"] for d in docs if sum(s["kind"] == "media" for s in d["spans"]) >= 30]
    rest = sorted({d["doc_id"] for d in docs} - set(tail))
    rng = np.random.default_rng([seed, 7])
    pick = rng.choice(len(rest), size=min(n, len(rest)), replace=False)
    return sorted(tail + [rest[i] for i in pick])


def _grams(text: str) -> set[str]:
    return {text[i:i + 3] for i in range(len(text) - 2)}


def jaccard_pairs(texts: dict[str, str], pairs: list[tuple], threshold: float) -> list[str]:
    """Every emitted pair's character-3-gram Jaccard reaches the threshold."""
    bad = set()
    for a, b in pairs:
        ga, gb = _grams(texts[a]), _grams(texts[b])
        if len(ga & gb) / len(ga | gb) < threshold - _EPS:
            bad.update((a, b))
    return sorted(bad)


def planted_recall(texts: dict[str, str], planted: set, pairs: list[tuple]) -> float:
    """Share of planted pairs with Jaccard >= 0.9 that were emitted."""
    found = set(pairs)
    strong = [
        p for p in planted
        if len(_grams(texts[p[0]]) & _grams(texts[p[1]]))
        / len(_grams(texts[p[0]]) | _grams(texts[p[1]])) >= 0.9
    ]
    return sum(p in found for p in strong) / len(strong) if strong else 1.0


def components(pairs: list[tuple], labels: dict[str, str]) -> list[str]:
    """Labels equal a union-find over the emitted pairs, each component
    labelled by its smallest member."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    return sorted(x for x in set(want) | set(labels) if want.get(x) != labels.get(x))


def cosine_matrix(vecs: np.ndarray) -> np.ndarray:
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    return unit @ unit.T


def embedding_pairs(sims: np.ndarray, threshold: float, planted: set, pairs: list[tuple]) -> list[int]:
    """Emitted pairs equal both the planted duplicate pairs and every pair
    whose numpy cosine reaches the threshold."""
    i, j = np.nonzero(np.triu(sims >= threshold, k=1))
    numpy_pairs = set(zip(i.tolist(), j.tolist()))
    got = set(pairs)
    return sorted({v for p in got ^ numpy_pairs | got ^ planted for v in p})


def lsh_buckets(vecs: np.ndarray, bits: int) -> np.ndarray:
    """Sign-random-projection bucket per vector, summing the projection
    left to right over dimensions as the engine does, so a projection
    near zero lands on the same side."""
    signs = np.array([lsh_signs(b, vecs.shape[1]) for b in range(bits)], dtype=np.float64)
    proj = vecs[:, 0][:, None] * signs[:, 0][None, :]
    for d in range(1, vecs.shape[1]):
        proj = proj + vecs[:, d][:, None] * signs[:, d][None, :]
    return ((proj > 0) * (1 << np.arange(bits))[None, :]).sum(axis=1)


def topk(sims: np.ndarray, buckets: np.ndarray, n_queries: int, k: int, rows: list[tuple]) -> list[int]:
    """Each query's ranked neighbours (vec_id, rank, neighbor_id) are the
    k most cosine-similar vectors of its LSH bucket, ranked by similarity."""
    got: dict[int, list[tuple]] = {q: [] for q in range(min(n_queries, len(sims)))}
    bad = {q for q, _, _ in rows if q not in got}
    for q, rank, nb in rows:
        if q in got:
            got[q].append((rank, nb))
    for q, ranked in got.items():
        ranked.sort()
        cands = [c for c in np.flatnonzero(buckets == buckets[q]).tolist() if c != q]
        nbs = [nb for _, nb in ranked]
        s = [sims[q, nb] for nb in nbs]
        rest = [sims[q, c] for c in cands if c not in set(nbs)]
        ok = (
            [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
            and len(nbs) == min(k, len(cands))
            and set(nbs) <= set(cands)
            and all(a >= b - _EPS for a, b in zip(s, s[1:]))
            and (not rest or not s or min(s) >= max(rest) - _EPS)
        )
        if not ok:
            bad.add(q)
    return sorted(bad)


def near_dup(corpus, vecs, planted_text: set, planted_emb: set, out: dict) -> list[str]:
    """All near-dup checks on one round's outputs (see ops.near_dup_round);
    returns the doc ids whose outputs are wrong."""
    texts = {d["doc_id"]: d["text"] for d in corpus}
    sims = cosine_matrix(vecs)
    bad = set(jaccard_pairs(texts, out["pairs"], NEAR_DUP["jaccard"]))
    bad |= set(components(out["pairs"], out["labels"]))
    if planted_recall(texts, planted_text, out["pairs"]) < 0.9:
        bad.add("planted-recall")
    vec_bad = embedding_pairs(sims, NEAR_DUP["cosine"], planted_emb, out["emb"])
    vec_bad += topk(sims, lsh_buckets(vecs, NEAR_DUP["bits"]), NEAR_DUP["queries"],
                    NEAR_DUP["k"], out["topk"])
    return sorted(bad | {corpus[i]["doc_id"] for i in vec_bad})

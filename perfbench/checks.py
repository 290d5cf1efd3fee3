"""Independent driver-side checks for the dedup and ANN chains."""

from __future__ import annotations

import hashlib

JACCARD_THRESHOLD = 0.5
MAX_HAMMING = 3
_SHIFTS = tuple(60 - 4 * (j // 4) + (j % 4) for j in range(64))


def shingles(text: str) -> set[str]:
    """Distinct word 3-shingles; a shorter text is its own shingle."""
    toks = text.split(" ")
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def simhash(text: str) -> int:
    """Unsigned 64-bit SimHash: bit j is the majority vote, over tokens,
    of bit _SHIFTS[j] of the first 16 hex digits of md5(token)."""
    toks = text.split(" ")
    counts = [0] * 64
    for t in toks:
        word = int(hashlib.md5(t.encode()).hexdigest()[:16], 16)
        for j, s in enumerate(_SHIFTS):
            counts[j] += (word >> s) & 1
    return sum(1 << j for j, c in enumerate(counts) if 2 * c > len(toks))


def check_verified_pairs(rows, texts: dict) -> tuple[int, int]:
    """Each verified pair must reach the threshold, with the reported
    Jaccard equal to the exact one at 4 decimals."""
    wrong = 0
    for r in rows:
        j = jaccard(texts[r["doc_a"]], texts[r["doc_b"]])
        wrong += not (r["doc_a"] < r["doc_b"] and r["jaccard"] >= JACCARD_THRESHOLD
                      and abs(j - r["jaccard"]) <= 5e-5 + 1e-12)
    return len(rows), wrong


def check_simhash_pairs(rows, texts: dict) -> tuple[int, int]:
    wrong = 0
    for r in rows:
        ham = bin(simhash(texts[r["doc_a"]]) ^ simhash(texts[r["doc_b"]])).count("1")
        wrong += not (ham == r["hamming"] <= MAX_HAMMING)
    return len(rows), wrong


def check_clusters(rows, candidate_pairs) -> tuple[int, int]:
    """Union-find over the candidate graph: every node's cluster_id must
    be the smallest doc_id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in candidate_pairs:
        a, b = find(p["doc_a"]), find(p["doc_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    got = {r["doc_id"]: r["cluster_id"] for r in rows}
    wrong = sum(got.get(x) != find(x) for x in list(parent))
    wrong += len(set(got) - set(parent))
    return len(parent), wrong

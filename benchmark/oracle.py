"""References the benchmark checks each run's output against.

They are computed outside Spark, single-threaded, from the per-document
kernels in ``fa_spark.pure`` plus plain-Python versions of the relational
steps (sha-256 canonical election, MinHash banding with the bucket cap,
connected components, the repetition gate).
"""

from __future__ import annotations

import hashlib
from decimal import ROUND_HALF_UP, Decimal

from fa_spark import pure

# build_corpus settings of the corpus_neardup workload (CorpusConfig fields)
CORPUS_CFG = {
    "langs": ("en", "und"),
    "min_words": 20,
    "min_uniq_ratio": 0.3,
    "min_alpha_ratio": 0.5,
    "near_dup_jaccard": 0.8,
    "minhash_bands": 16,
    "max_top2gram_frac": 0.2,
    "max_dup10gram_frac": 0.1,
}
MAX_BUCKET = 64  # fa_spark.stages.dedup.DEFAULT_MAX_BUCKET, the band-bucket cap


def _round6(x: float) -> float:
    """Spark's round(x, 6) on a double: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _elect(urls: list[str], shas: list[str]) -> dict[str, str]:
    """sha -> canonical url (the smallest url carrying that content)."""
    first: dict[str, str] = {}
    for u, s in zip(urls, shas):
        if s not in first or u < first[s]:
            first[s] = u
    return first


def _repetition(text: str) -> tuple[float, float] | None:
    """(top_2gram_frac, dup_10gram_frac) as stages.text.repetition_metrics
    defines them; None for docs with fewer than two tokens."""
    toks = pure.tokenize(text)
    if len(toks) < 2:
        return None
    jlen = len(" ".join(toks))
    counts: dict[str, int] = {}
    for i in range(len(toks) - 1):
        g = toks[i] + " " + toks[i + 1]
        counts[g] = counts.get(g, 0) + 1
    gram, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    top = _round6(cnt * len(gram) / jlen)
    dup10 = 0.0
    if len(toks) >= 10:
        g10 = [" ".join(toks[i:i + 10]) for i in range(len(toks) - 9)]
        dup10 = _round6(1 - len(set(g10)) / len(g10))
    return top, dup10


def _components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """vertex -> smallest vertex of its connected component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {v: find(v) for v in parent}


def corpus_reference(urls: list[str], htmls: list[bytes]) -> dict:
    """Funnel counts and corpus url set of ``build_corpus`` under CORPUS_CFG."""
    cfg = CORPUS_CFG
    shas = [hashlib.sha256(h).hexdigest() for h in htmls]
    first = _elect(urls, shas)
    n = {"n_input": len(urls), "n_extracted": 0, "n_lang": 0, "n_quality": 0,
         "n_exact_canonical": 0}
    kept: dict[str, tuple[str, list[int]]] = {}  # url -> (text, minhash)
    for u, h, s in zip(urls, htmls, shas):
        d = pure.analyze_document(h, 64)
        ex, q = d["extract"], d["quality"]
        if ex.status not in ("success", "success_lenient") or ex.doc_type == "boilerplate":
            continue
        n["n_extracted"] += 1
        if d["detected_lang"] not in cfg["langs"]:
            continue
        n["n_lang"] += 1
        if not (q["n_words"] >= cfg["min_words"]
                and q["uniq_ratio"] >= cfg["min_uniq_ratio"]
                and q["alpha_ratio"] >= cfg["min_alpha_ratio"]):
            continue
        n["n_quality"] += 1
        if first[s] != u:
            continue
        n["n_exact_canonical"] += 1
        kept[u] = (ex.text, d["minhash"])

    # MinHash banding: rows (url, band key), buckets wider than the cap are
    # dropped, pairs inside a bucket are candidates, then the Jaccard estimate
    bands = cfg["minhash_bands"]
    buckets: dict[tuple, list[str]] = {}
    for u, (_t, sig) in kept.items():
        if not sig:
            continue
        r = len(sig) // bands
        for b in range(bands):
            buckets.setdefault((b, tuple(sig[b * r:(b + 1) * r])), []).append(u)
    candidates: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                if a < b:
                    candidates.add((a, b))
    edges = []
    for a, b in candidates:
        sa, sb = kept[a][1], kept[b][1]
        if _round6(sum(x == y for x, y in zip(sa, sb)) / len(sa)) >= cfg["near_dup_jaccard"]:
            edges.append((a, b))
    labels = _components(edges)
    drop = {v for v, root in labels.items() if v != root}
    n["n_near_dup_members"] = len(labels)
    n["n_near_dup_clusters"] = len(set(labels.values()))

    repetitious = set()
    for u, (text, _sig) in kept.items():
        rep = _repetition(text)
        if rep is not None and (rep[0] > cfg["max_top2gram_frac"]
                                or rep[1] > cfg["max_dup10gram_frac"]):
            repetitious.add(u)
    n["n_repetitious"] = len(repetitious)
    corpus = sorted(set(kept) - drop - repetitious)
    n["n_corpus"] = len(corpus)
    return {"funnel": n, "urls": corpus, "candidate_pairs": len(candidates),
            "edges": len(edges)}

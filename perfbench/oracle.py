"""Answer checks recomputed in numpy from the collected inputs.

Spark folds cosine sums sequentially in double; numpy sums in another
order, so the last bits differ. Rank checks therefore accept a swap only
between candidates whose exact scores are within ``EPS``.
"""

from __future__ import annotations

import numpy as np

from vector_search_spark.llm.clients import FakeEmbeddingClient, FakeLLMClient

EPS = 1e-6
POSITIVE, NEGATIVE = "긍정", "부정"


def embed(texts: list[str]) -> np.ndarray:
    """The pipelines embed on the driver and store array<float>."""
    return np.asarray(FakeEmbeddingClient().embed_batch(texts), np.float32)


def cosine(corpus: np.ndarray, probes: np.ndarray) -> np.ndarray:
    """[n_probes, n_corpus] cosine scores in float64."""
    c = corpus.astype(np.float64)
    p = probes.astype(np.float64)
    den = np.linalg.norm(p, axis=1)[:, None] * np.linalg.norm(c, axis=1)[None, :]
    return (p @ c.T) / den


def topk(scores: np.ndarray, ids: np.ndarray, k: int) -> list[list[int]]:
    """Per row: ids of the k highest scores, ties by id ascending."""
    out = []
    for row in scores:
        order = np.lexsort((ids, -row))[:k]
        out.append([int(ids[i]) for i in order])
    return out


def nl_expected(cond: dict, query: str, threshold: float = 0.5) -> list[tuple]:
    """(cond_nm, code, max_score) rows nl_targeting_conditions must return:
    threshold search + groupwise max per keyword, positives minus the
    (cond_nm, code) pairs any negative keyword hit."""
    kws = FakeLLMClient().extract_keywords(query)
    vecs = embed([f"{k['attr']} {k['value']} 검색 문장 0" for k in kws])
    s = cosine(cond["vec"], vecs)
    best: dict[tuple, float] = {}
    for p, k in enumerate(kws):
        for j in np.nonzero(s[p] >= threshold)[0]:
            key = (p, k["polarity"], cond["cond_nm"][j], cond["code"][j],
                   cond["code_nm"][j])
            best[key] = max(best.get(key, -2.0), float(s[p, j]))
    neg = {(c, code) for (_p, pol, c, code, _n) in best if pol == NEGATIVE}
    return sorted(
        (c, code, sc) for (_p, pol, c, code, _n), sc in best.items()
        if pol == POSITIVE and (c, code) not in neg
    )


def nl_matches(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    return all(
        g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= 1e-5
        for g, w in zip(sorted(got), want)
    )


def fused_scores(camp: dict, query: str, k: int = 10) -> dict[int, float]:
    """multiprobe_fusion in numpy: per expanded probe top-k, summed."""
    vecs = embed(FakeLLMClient().expand_query(query, 5))
    s = cosine(camp["vec"], vecs)
    fused: dict[int, float] = {}
    for p, ids in enumerate(topk(s, camp["id"], k)):
        for i in ids:
            fused[i] = fused.get(i, 0.0) + float(s[p, camp["pos"][i]])
    return fused


def recommend_expected(camp: dict, query: str, top_n: int = 5) -> tuple[list[int], dict]:
    fused = fused_scores(camp, query)
    order = sorted(fused, key=lambda i: (-fused[i], i))
    return order[:top_n], fused


def rank_matches(got: list[int], want: list[int], score: dict) -> bool:
    """Equal lists, or a swap among candidates whose scores tie within
    EPS of the last expected one."""
    if got == want:
        return True
    if len(got) != len(want) or not want:
        return False
    floor = score[want[-1]] - EPS
    return all(score.get(i, -np.inf) >= floor for i in got)


def recall_at_k(got: dict[int, list[int]], corpus: np.ndarray,
                ids: np.ndarray, probes: np.ndarray, k: int) -> tuple[int, int]:
    """(hits, wanted) of served top-k lists against exact top-k."""
    want = topk(cosine(corpus, probes), ids, k)
    hits = sum(len(set(got.get(p, [])) & set(w)) for p, w in enumerate(want))
    return hits, sum(len(w) for w in want)

"""Counting wrappers around the engine's deterministic LLM and embedding
clients, passed through the pipelines' public ``llm=``, ``embedder=`` and
``client=`` parameters.

Every count is an accumulator: calls made on the driver add to it
directly, and calls made inside ``mapInPandas`` run in executor Python
workers, whose additions (embedding wall time included) travel back with
the task results.
"""

from __future__ import annotations

import time

from vector_search_spark.llm.clients import FakeEmbeddingClient, FakeLLMClient


class CountingEmbedder:
    def __init__(self, sc) -> None:
        self.inner = FakeEmbeddingClient()
        self.calls = sc.accumulator(0)
        self.texts = sc.accumulator(0)
        self.secs = sc.accumulator(0.0)

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        t = time.perf_counter()
        out = self.inner.embed_batch(texts)
        self.secs.add(time.perf_counter() - t)
        self.calls.add(1)
        self.texts.add(len(texts))
        return out

    def snapshot(self) -> dict:
        return {"calls": self.calls.value, "texts": self.texts.value,
                "secs": self.secs.value}


class CountingLLM:
    def __init__(self, sc) -> None:
        self.inner = FakeLLMClient()
        self.calls = sc.accumulator(0)

    def expand_query(self, query: str, n: int = 5) -> list[str]:
        self.calls.add(1)
        return self.inner.expand_query(query, n)

    def extract_keywords(self, query: str) -> list[dict]:
        self.calls.add(1)
        return self.inner.extract_keywords(query)

    def paraphrase(self, attribute: str, value: str, n: int = 3) -> list[str]:
        self.calls.add(1)
        return self.inner.paraphrase(attribute, value, n)

    def normalize_operator(self, cond_type: str, value: str) -> str:
        self.calls.add(1)
        return self.inner.normalize_operator(cond_type, value)

    def snapshot(self) -> dict:
        return {"calls": self.calls.value}

"""The closed-loop workloads, one client each.

Every workload has a set-up, then cycles of a fixed op mix: a few
untimed warm-up cycles (they count toward ``setup_s``) and a fixed
number of measured cycles. Op kinds are timed and reported separately,
never pooled into one percentile. Inputs come only from the seed.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import fixtures, oracle
from .hostprobe import WriteMeter, tree_bytes
from .stats import p50, tail

VEC_BYTES = 4 * fixtures.DIM  # one float32 vector
ID_BYTES = 8


class Loop:
    """Times ops, keeps per-kind samples of the measured phase and the
    pass/fail state of every op attempted (warm-up included)."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.cycle_walls: list[float] = []
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.measuring = False

    def span(self, name: str, request: str | None = None):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, request)

    def op(self, kind: str, request: str, fn):
        rec = {"kind": kind, "request": request, "ok": True}
        self.ops.append(rec)
        t = time.perf_counter()
        try:
            with self.span(f"op.{kind}", request):
                out = fn()
        except Exception as e:  # an op that raises is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.fail(rec, f"{type(e).__name__}: {e}")
            return None
        rec["s"] = time.perf_counter() - t
        if self.measuring:
            self.samples.setdefault(kind, []).append(rec["s"])
        return out

    def fail(self, rec: dict, why: str) -> None:
        if rec["ok"]:
            rec["ok"] = False
            self.errors.append(f"{rec['request']}: {why}"[:400])

    @property
    def last_ok(self) -> bool:
        return self.ops[-1]["ok"]

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.ops)

    def kind_summary(self) -> dict:
        return {k: {"p50_s": p50(v), "tail": tail(v), "n": len(v)}
                for k, v in self.samples.items()}


def to_df(spark, ids: np.ndarray, vecs: np.ndarray, id_col="vec_id",
          vec_col="embedding"):
    import pandas as pd

    pdf = pd.DataFrame({id_col: ids.astype(np.int64), vec_col: list(vecs)})
    return spark.createDataFrame(pdf, f"{id_col} long, {vec_col} array<float>")


def probe_df(spark, vecs: np.ndarray):
    return to_df(spark, np.arange(len(vecs)), vecs, "probe_id", "probe_vec")


def served_lists(rows) -> dict[int, list[int]]:
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(int(r.probe_id), []).append((-r.score, int(r.vec_id)))
    return {p: [i for _s, i in sorted(v)] for p, v in out.items()}


class Workload:
    """Subclasses set the op mix; ``cycles(seconds)`` fixes the number of
    measured cycles from the run length so that a run does the same work
    whatever the host speed."""

    name = ""
    nominal_cycle_s = 1.0
    # untimed cycles of the same op mix before the measured ones, as many
    # as the workload needs to settle (evidence/warmup.json)
    warmup_cycles = 1
    llm = emb = None  # counting clients, when the workload uses the LLM layer

    def __init__(self, spark, work: str, seed: int, loop: Loop) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.loop = loop
        self.rng = np.random.default_rng(seed)

    def cycles(self, seconds: int) -> int:
        return max(1, round(seconds / self.nominal_cycle_s))

    def start_measuring(self) -> None:
        """Reset counters that cover only the measured phase."""


# -- journeys -------------------------------------------------------------
NL_ATTRS = ["세그먼트", "국가"]
NL_NOISE = ["채널=온라인", "연령=30대", "성별=여성", "지역=서울", "등급=VIP"]
REC_ADJ = ["신규", "휴면", "충성", "고액", "첫구매", "재방문"]
REC_TOPIC = ["가구", "가전", "자동차", "주방용품", "건축자재", "생활용품"]
REC_GOAL = ["할인 캠페인", "재구매 유도", "멤버십 전환", "시즌 프로모션", "리텐션 캠페인"]


class Journeys(Workload):
    """Alternating NL-targeting and recommend → audience-count requests
    over the vector tables the two ingest pipelines write during set-up.

    The ingest pipelines run once untimed over a tenth-size copy of the
    tables, because the first Spark work of a process runs about three
    times slower than the same work after it; then once over the full
    tables, timed. That pass writes the tables the requests read."""

    name = "journeys"
    nominal_cycle_s = 5.0
    warmup_cycles = 2

    def setup(self, traced: bool) -> None:
        from vector_search_spark.pipelines import (
            build_campaign_vectors, build_condition_vectors,
        )

        self.sf = os.path.join(self.work, "sf")
        fixtures.write_tables(self.sf, self.seed)
        warm_sf = os.path.join(self.work, "sf-warm")
        fixtures.write_tables(warm_sf, self.seed, n_customer=fixtures.N_CUSTOMER // 10,
                              n_orders=fixtures.N_ORDERS // 10)
        if traced:
            from .clients import CountingEmbedder, CountingLLM

            self.llm = CountingLLM(self.spark.sparkContext)
            self.emb = CountingEmbedder(self.spark.sparkContext)

        def ingest(span: str, sf: str, tag: str) -> None:
            self.out = [os.path.join(self.work, f"{k}{tag}") for k in ("camp", "cond")]
            with self.loop.span(f"{span}.campaign"):
                self.camp = build_campaign_vectors(
                    self.spark, sf, client=self.emb, out_path=self.out[0])
            with self.loop.span(f"{span}.condition"):
                self.cond = build_condition_vectors(
                    self.spark, sf, llm=self.llm, client=self.emb, out_path=self.out[1])

        ingest("setup.ingest", warm_sf, "-warm")
        t = time.perf_counter()
        ingest("pipelines.ingest", self.sf, "")
        self.ingest_s = time.perf_counter() - t
        self.results: list[tuple] = []

    def nl_query(self) -> str:
        r = self.rng
        toks = [f"{NL_ATTRS[0]}={r.choice(fixtures.SEGMENTS)}",
                f"{NL_ATTRS[1]}=NATION_{r.integers(fixtures.N_NATION)}"]
        if r.random() < 0.5:
            toks.append(f"not_{NL_ATTRS[0]}={r.choice(fixtures.SEGMENTS)}")
        toks.append(str(r.choice(NL_NOISE)))
        r.shuffle(toks)
        return " ".join(toks)

    def rec_query(self) -> str:
        r = self.rng
        return (f"{r.choice(REC_ADJ)} 고객 대상 {r.choice(REC_TOPIC)} "
                f"{r.choice(REC_GOAL)}")

    def _nl(self, q: str):
        from vector_search_spark.pipelines import nl_targeting_conditions

        with self.loop.span("pipelines.nl_targeting"):
            return nl_targeting_conditions(
                self.spark, self.sf, q, llm=self.llm, embedder=self.emb,
                condition_vectors=self.cond).collect()

    def _recommend(self, q: str):
        from vector_search_spark.pipelines import recommend_similar_and_count

        with self.loop.span("pipelines.recommend"):
            out = recommend_similar_and_count(
                self.spark, self.sf, q, llm=self.llm, embedder=self.emb,
                campaign_vectors=self.camp)
            top = [int(r.camp_id) for r in out["recommendations"].collect()]
            count = out["audience_count"].collect()[0][0]
        return top, count

    def cycle(self, i: int) -> None:
        q = self.nl_query()
        rows = self.loop.op("nl", f"c{i}.nl", lambda: self._nl(q))
        self.results.append(("nl", q, rows, self.loop.ops[-1]))
        q = self.rec_query()
        res = self.loop.op("recommend", f"c{i}.recommend", lambda: self._recommend(q))
        self.results.append(("recommend", q, res, self.loop.ops[-1]))

    def finish(self) -> dict:
        cond_pd = self.cond.toPandas()
        camp_pd = self.camp.toPandas()
        cond = {
            "cond_nm": cond_pd["cond_nm"].tolist(),
            "code": cond_pd["code"].tolist(),
            "code_nm": cond_pd["code_nm"].tolist(),
            "vec": np.stack(cond_pd["cond_vec"].to_numpy()).astype(np.float32),
        }
        ids = camp_pd["camp_id"].to_numpy(np.int64)
        camp = {"id": ids, "vec": np.stack(camp_pd["embedding"].to_numpy()),
                "pos": {int(c): j for j, c in enumerate(ids)}}
        hits = wanted = 0
        for kind, q, res, rec in self.results:
            if res is None:
                continue
            if kind == "nl":
                want = oracle.nl_expected(cond, q)
                got = [(r.cond_nm, r.code, r.max_score) for r in res]
                wanted += len(want)
                hits += len({w[:2] for w in want} & {g[:2] for g in got})
                if not oracle.nl_matches(got, want):
                    self.loop.fail(rec, f"nl answer {got} != {want}")
            else:
                top, count = res
                want, fused = oracle.recommend_expected(camp, q)
                wanted += len(want)
                hits += len(set(top) & set(want))
                if not oracle.rank_matches(top, want, fused):
                    self.loop.fail(rec, f"recommend top {top} != {want}")
                if not 0 < count <= fixtures.N_CUSTOMER:
                    self.loop.fail(rec, f"audience count {count}")
        rows = len(cond_pd) + len(camp_pd)
        logical = (pa.Table.from_pandas(cond_pd).nbytes
                   + pa.Table.from_pandas(camp_pd).nbytes)
        on_disk = sum(tree_bytes(p) for p in self.out)
        return {
            "write_rows_per_s": rows / self.ingest_s,
            "recall": hits / max(wanted, 1),
            "write_amp": on_disk / logical,
            "space_amp": on_disk / (rows * VEC_BYTES),
            "rows_written": rows,
        }

    def e2e(self, summary: dict) -> dict:
        return {"read_p50_s": summary["nl"]["p50_s"]}

    def kind_metrics(self, summary: dict) -> dict:
        return {
            "nl_p50_s": summary["nl"]["p50_s"],
            "nl_tail_s": summary["nl"]["tail"],
            "recommend_p50_s": summary["recommend"]["p50_s"],
            "recommend_tail_s": summary["recommend"]["tail"],
        }


# -- index churn ----------------------------------------------------------
class LiveSet:
    """The rows an index should hold, kept in numpy for the exact top-k."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray) -> None:
        self.rows = dict(zip(ids.tolist(), vecs))

    def arrays(self) -> tuple[np.ndarray, np.ndarray]:
        ids = np.fromiter(self.rows, np.int64, len(self.rows))
        return ids, np.stack([self.rows[i] for i in ids])


class IndexChurn(Workload):
    """Two durable graph indexes over an sf0.1-sized corpus (2000 × 64),
    written to in every cycle:

    - insert → delete → six serves on a ``VectorIndexService`` opened
      ``mutable=True`` with a ``state_dir`` (the accreting catalog). Equal
      insert and delete batches of 500 keep the corpus at 2000 rows, so
      ``GraphMaintainer`` compaction (churn since the last build >= half
      the corpus) fires once a cycle, at the delete, in every run.
    - one parquet file of new vectors dropped into a source directory and
      drained by one ``DurableGraphIngest.run_availablenow`` trigger,
      then a serve over the grown graph of a probe batch holding the rows
      just ingested (the serving side adds them to its corpus and band
      table first, inside the timed serve). Its ``GraphDeltaLog`` folds deltas into a base on its
      own policy, so trigger costs alternate.
    """

    name = "index_churn"
    nominal_cycle_s = 10.0
    serves_per_cycle = 6
    n0 = fixtures.N_VECTORS
    batch = 500
    file_rows = 20
    n_probes = 24
    k = 10
    n_planes, band_bits, graph_k = 24, 6, 6

    def setup(self, traced: bool) -> None:
        from vector_search_spark.operators.index_service import VectorIndexService
        from vector_search_spark.streaming.serving import DurableGraphIngest

        self.src = fixtures.VectorSource(self.seed)
        vecs = self.src.draw(self.n0)
        ids = np.arange(self.n0)
        self.next_id = self.n0
        self.maintained = LiveSet(ids, vecs)
        self.streamed = LiveSet(ids, vecs)
        self.states = [os.path.join(self.work, d) for d in ("maintained", "streamed")]
        self.source = os.path.join(self.work, "source")
        os.makedirs(self.source)
        corpus = to_df(self.spark, ids, vecs)
        self.svc = VectorIndexService.open(
            corpus, dim=fixtures.DIM, mutable=True, state_dir=self.states[0], k=self.k)
        self.ingest = DurableGraphIngest(
            corpus, self.states[1], k=self.graph_k, n_planes=self.n_planes,
            band_bits=self.band_bits, seed=42, dim=fixtures.DIM)
        self.schema = corpus.schema
        self.grown, self.grown_bands = self.ingest.base, self.ingest.bands
        self.meters = [WriteMeter(p) for p in self.states]
        self.inserted: set[int] = set()
        self.deleted: set[int] = set()
        self.ingested: list[int] = []
        self.last_probes = None
        # recall counts every serve of the run, warm-up included
        self.recall_hits = self.recall_wanted = 0
        self.start_measuring()

    def start_measuring(self) -> None:
        for m in self.meters:
            m.update()
            m.written = 0
        self.rows_written = self.logical_bytes = self.rows_streamed = 0

    def _wrote(self, rows: int, row_bytes: int, streamed: bool = False) -> None:
        if self.loop.measuring:
            self.rows_streamed += rows if streamed else 0
            self.rows_written += rows
            self.logical_bytes += rows * row_bytes
        for m in self.meters:
            m.update()

    def _fresh_ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        return ids

    def perturbed(self, live: LiveSet, n: int, scale: float) -> np.ndarray:
        """Seeded perturbations of live vectors: inserts land next to rows
        the index already holds, and probes have true near neighbours."""
        _ids, vecs = live.arrays()
        pick = vecs[self.rng.choice(len(vecs), n, replace=False)]
        noise = self.rng.standard_normal(pick.shape) * (scale / np.sqrt(pick.shape[1]))
        return fixtures.unit_rows(pick + noise)

    def score(self, rows, live: LiveSet, probes: np.ndarray) -> dict[int, list[int]]:
        got = served_lists(rows)
        ids, vecs = live.arrays()
        h, w = oracle.recall_at_k(got, vecs, ids, probes, self.k)
        self.recall_hits += h
        self.recall_wanted += w
        return got

    # -- one cycle ---------------------------------------------------------
    def cycle(self, i: int) -> None:
        self._churn(i)
        self._stream(i)

    def _churn(self, i: int) -> None:
        spark, live = self.spark, self.maintained
        vecs = self.perturbed(live, self.batch, 0.05)
        ids = self._fresh_ids(self.batch)
        new = to_df(spark, ids, vecs)
        self.loop.op("insert", f"c{i}.insert", lambda: self.svc.insert(new))
        if self.loop.last_ok:
            live.rows.update(zip(ids.tolist(), vecs))
            self.inserted.update(ids.tolist())
        self._wrote(len(ids), VEC_BYTES + ID_BYTES)
        dels = np.sort(self.rng.choice(live.arrays()[0], self.batch, replace=False))
        del_df = spark.createDataFrame([(int(d),) for d in dels], "vec_id long")
        self.loop.op("delete", f"c{i}.delete", lambda: self.svc.delete(del_df))
        if self.loop.last_ok:
            for d in dels.tolist():
                live.rows.pop(d)
            self.deleted.update(dels.tolist())
        self._wrote(len(dels), ID_BYTES)
        for j in range(self.serves_per_cycle):
            probes = self.perturbed(live, self.n_probes, 0.3)
            pdf = probe_df(spark, probes)
            rows = self.loop.op("serve", f"c{i}.serve{j}",
                                lambda: self.svc.serve(pdf).collect())
            if rows is not None:
                self.last_probes = (probes, self.score(rows, live, probes))

    def _stream(self, i: int) -> None:
        vecs = self.src.draw(self.file_rows)
        ids = self._fresh_ids(self.file_rows)
        pq.write_table(
            pa.table({"vec_id": pa.array(ids, pa.int64()),
                      "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
            os.path.join(self.source, f"part-{i:05d}.parquet"))
        glob = os.path.join(self.source, "*.parquet")
        self.loop.op("trigger", f"c{i}.trigger",
                     lambda: self.ingest.run_availablenow(glob, self.schema))
        if self.loop.last_ok:
            self.streamed.rows.update(zip(ids.tolist(), vecs))
            self.ingested.extend(ids.tolist())
        self._wrote(len(ids), VEC_BYTES + ID_BYTES, streamed=True)
        probes = np.concatenate([vecs, self.perturbed(self.streamed, self.n_probes, 0.3)])
        pdf = probe_df(self.spark, probes)
        rows = self.loop.op("stream_serve", f"c{i}.stream_serve",
                            lambda: self._serve_grown(ids, vecs, pdf))
        if rows is None:
            return
        got = self.score(rows, self.streamed, probes)
        missing = [int(d) for p, d in enumerate(ids) if got.get(p, [])[:1] != [int(d)]]
        if missing:
            self.loop.fail(self.loop.ops[-1], f"ingested ids not served first: {missing[:5]}")

    def _serve_grown(self, ids: np.ndarray, vecs: np.ndarray, probes):
        """Refresh the serving relations with the rows just ingested, then
        serve over the grown graph. The rows join the corpus and their band
        keys (the bounded-batch JVM fold) join the band table; both are
        checkpointed, as ``GraphIndexServer`` pins its relations."""
        from vector_search_spark.operators import ann

        new = to_df(self.spark, ids, vecs)
        self.grown = (self.grown.unionByName(new).coalesce(8)
                      .localCheckpoint(eager=True))
        self.grown_bands = (self.grown_bands.unionByName(ann.bounded_band_keys(
            new, n_planes=self.n_planes, band_bits=self.band_bits, seed=42,
            dim=fixtures.DIM)).coalesce(8).localCheckpoint(eager=True))
        return ann.knn_graph_serve(
            self.ingest.graph, self.grown, probes, k=self.k, beam=8, rounds=2,
            entries="lsh", n_planes=self.n_planes, band_bits=self.band_bits,
            seed=42, dim=fixtures.DIM, corpus_bands=self.grown_bands,
        ).collect()

    # -- after the measured phase ------------------------------------------
    def finish(self) -> dict:
        writes = sum(sum(self.loop.samples.get(k, [])) for k in ("insert", "delete", "trigger"))
        live_bytes = (len(self.maintained.rows) + len(self.streamed.rows)) * (
            VEC_BYTES + ID_BYTES)
        out = {
            "write_rows_per_s": self.rows_written / writes,
            "recall": self.recall_hits / max(self.recall_wanted, 1),
            "write_amp": sum(m.written for m in self.meters) / max(self.logical_bytes, 1),
            "space_amp": sum(tree_bytes(p) for p in self.states) / live_bytes,
            "rows_written": self.rows_written,
            "rows_streamed": self.rows_streamed,
        }
        self._check("recover", self._check_recovery)
        self._check("graph_check", self._check_ingested)
        return out

    def _check(self, kind: str, fn) -> None:
        rec = {"kind": kind, "request": kind, "ok": True}
        self.loop.ops.append(rec)
        try:
            with self.loop.span(f"op.{kind}", kind):
                why = fn()
        except Exception as e:  # a check that raises is a failed op
            traceback.print_exc(file=sys.stderr)
            why = f"{type(e).__name__}: {e}"
        if why:
            self.loop.fail(rec, why)

    def _check_recovery(self) -> str | None:
        """Reopen from ``state_dir``: same live ids, same answers."""
        from vector_search_spark.operators.index_service import VectorIndexService

        again = VectorIndexService.recover(self.spark, self.states[0], k=self.k)
        # the facade keeps its maintainer private; the maintainer's public
        # ``corpus`` holds the live rows
        got = {int(r[0]) for r in again._engine.corpus.select("vec_id").collect()}
        want = (set(range(self.n0)) | self.inserted) - self.deleted
        if got != want:
            return f"recovered live ids differ in {len(got ^ want)} ids"
        probes, before = self.last_probes
        after = served_lists(again.serve(probe_df(self.spark, probes)).collect())
        if after != before:
            return "recovered index serves different answers"
        return None

    def _check_ingested(self) -> str | None:
        """Every ingested id is a node of the grown graph."""
        from pyspark.sql import functions as F

        srcs = {int(r[0]) for r in self.ingest.graph.select("src_id")
                .where(F.col("src_id") >= self.n0).distinct().collect()}
        lost = set(self.ingested) - srcs
        return f"{len(lost)} ingested ids missing from the graph" if lost else None

    def e2e(self, summary: dict) -> dict:
        return {"read_p50_s": summary["serve"]["p50_s"]}

    def kind_metrics(self, summary: dict) -> dict:
        return {
            "insert_p50_s": summary["insert"]["p50_s"],
            "insert_tail_s": summary["insert"]["tail"],
            "delete_p50_s": summary["delete"]["p50_s"],
            "serve_p50_s": summary["serve"]["p50_s"],
            "serve_tail_s": summary["serve"]["tail"],
            "trigger_p50_s": summary["trigger"]["p50_s"],
            "trigger_tail_s": summary["trigger"]["tail"],
            "stream_serve_p50_s": summary["stream_serve"]["p50_s"],
            "stream_serve_tail_s": summary["stream_serve"]["tail"],
        }


WORKLOADS = {w.name: w for w in (Journeys, IndexChurn)}

"""Which engine bindings the traced run wraps, and the per-layer metrics
computed from the spans.

Unless a name says otherwise, a ``*_s`` metric is seconds per measured
cycle, a ``*_per_op`` metric is per measured op, and a count is the
total of the measured phase. Layers a workload does not use read 0.
"""

from __future__ import annotations

import os

from .counters import STORE_KEYS, UNAVAILABLE
from .hostprobe import tree_bytes

PER_LAYER = [
    "session.start_s",
    "pipelines.ingest.campaign_s", "pipelines.ingest.condition_s",
    "llm.calls_per_op", "llm.texts_embedded_per_op", "llm.embed_s",
    "pipelines.nl_targeting.self_s", "pipelines.recommend.self_s",
    "operators.knn.threshold_search_s", "operators.knn.multiprobe_fusion_s",
    "operators.sweepline.s", "plans.codegen.s",
    "operators.ann.build_s", "operators.ann.insert_s", "operators.ann.delete_s",
    "operators.ann.serve_s", "operators.ann.band_keys_s",
    "operators.graph_lifecycle.self_s", "operators.graph_lifecycle.compactions",
    "operators.graph_lifecycle.compact_s", "operators.graph_lifecycle.recover_s",
    "operators.graph_delta.publish_s", "operators.graph_delta.bytes_written",
    "operators.graph_delta.base_publishes", "operators.graph_delta.delta_publishes",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.engine_s",
    "streaming.rows_read_per_row",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.failed_tasks", "spark.executor_cpu_s", "spark.executor_run_s",
    "spark.shuffle_bytes",
    "driver.cpu_s_per_op", "jvm.cpu_s_per_op",
    "host.calib_s", "host.steal_frac", "host.busy_jiffies",
    "trace.overhead_s",
]

UNITS = {"_s": "s", "_per_op": "count", "_bytes": "bytes", "bytes_written": "bytes",
         "_frac": "ratio", "_per_row": "ratio", "jiffies": "count"}


def unit_of(name: str) -> str:
    if name.endswith(("cpu_s_per_op", ".s")):
        return "s"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def instrument(tracer) -> None:
    """Wrap each layer's public entry points where their callers bind
    them: pipelines import knn/sweepline/codegen names into their own
    module; the graph classes import ``operators.ann`` functions at call
    time, so the module attribute is the binding; methods are wrapped on
    their class."""
    import vector_search_spark.pipelines.nl_targeting as nl
    import vector_search_spark.pipelines.recommend as rec
    from vector_search_spark.operators import ann, graph_delta, graph_lifecycle
    from vector_search_spark.streaming import serving

    tracer.wrap(nl, "threshold_search", "operators.knn.threshold_search")
    tracer.wrap(rec, "multiprobe_fusion", "operators.knn.multiprobe_fusion")
    tracer.wrap(rec, "sweep_overlap", "operators.sweepline")
    tracer.wrap(rec, "sweep_overlap_dates", "operators.sweepline")
    tracer.wrap(rec, "audience_count_sql", "plans.codegen")
    for fn, short in (("knn_graph_build", "build"), ("knn_graph_insert", "insert"),
                      ("knn_graph_delete", "delete"), ("knn_graph_serve", "serve"),
                      ("corpus_band_keys", "band_keys"),
                      ("bounded_band_keys", "band_keys")):
        tracer.wrap(ann, fn, f"operators.ann.{short}")
    for m in ("insert", "delete", "compact", "serve", "recover"):
        tracer.wrap(graph_lifecycle.GraphMaintainer, m,
                    f"operators.graph_lifecycle.{m}")

    def publish_attrs(sp, mode, args, kwargs):
        log, batch_id = args[0], kwargs.get("batch_id", args[3] if len(args) > 3 else None)
        sp.attrs["mode"] = mode
        sp.attrs["bytes"] = tree_bytes(os.path.join(log.graph_dir, f"{mode}-b{batch_id}"))

    tracer.wrap(graph_delta.GraphDeltaLog, "publish", "operators.graph_delta.publish",
                on_result=publish_attrs)
    tracer.wrap(graph_delta.GraphDeltaLog, "fold", "operators.graph_delta.fold")
    tracer.wrap(serving.DurableGraphIngest, "ingest_batch", "streaming.add_batch")
    tracer.wrap(serving.DurableGraphIngest, "run_availablenow", "streaming.trigger")


def per_layer(tracer, *, t_measure: float, t_end: float, n_cycles: int, n_ops: int,
              session_s: float, llm: dict, stream_events: list[dict],
              rows_streamed: int, cpu: dict, host: dict) -> dict:
    """Per-layer metrics from the spans (``t_measure`` and ``t_end`` bound
    the measured phase on the tracer's clock)."""
    spans = tracer.spans
    kids = tracer.children()
    measured = [s for s in spans
                if t_measure <= s.start < t_end and s.end is not None]

    def named(prefix: str, pool=measured):
        return [s for s in pool if s.name == prefix or s.name.startswith(prefix + ".")]

    def outermost(pool):
        """Drop spans nested in a span of the same name (recursion)."""
        ids = {s.id for s in pool}
        by_id = {s.id: s for s in spans}
        out = []
        for s in pool:
            p = by_id.get(s.parent)
            while p is not None and p.name != s.name:
                p = by_id.get(p.parent)
            if p is None or p.id not in ids:
                out.append(s)
        return out

    def total(prefix: str, pool=measured) -> float:
        return sum(s.dur for s in outermost(named(prefix, pool)))

    def self_total(prefix: str) -> float:
        return sum(tracer.self_time(s, kids.get(s.id, [])) for s in named(prefix))

    per_cycle = 1.0 / max(n_cycles, 1)
    per_op = 1.0 / max(n_ops, 1)
    m: dict = {
        "session.start_s": session_s,
        # journeys' timed ingest pass; the untimed one is named setup.ingest
        "pipelines.ingest.campaign_s": total("pipelines.ingest.campaign", spans),
        "pipelines.ingest.condition_s": total("pipelines.ingest.condition", spans),
        "llm.calls_per_op": llm.get("calls", 0) * per_op,
        "llm.texts_embedded_per_op": llm.get("texts", 0) * per_op,
        "llm.embed_s": llm.get("secs", 0.0) * per_cycle,
        "pipelines.nl_targeting.self_s": self_total("pipelines.nl_targeting") * per_cycle,
        "pipelines.recommend.self_s": self_total("pipelines.recommend") * per_cycle,
        "operators.knn.threshold_search_s": total("operators.knn.threshold_search") * per_cycle,
        "operators.knn.multiprobe_fusion_s": total("operators.knn.multiprobe_fusion") * per_cycle,
        "operators.sweepline.s": total("operators.sweepline") * per_cycle,
        "plans.codegen.s": total("plans.codegen") * per_cycle,
    }
    for short in ("build", "insert", "delete", "serve", "band_keys"):
        m[f"operators.ann.{short}_s"] = total(f"operators.ann.{short}") * per_cycle
    compacts = named("operators.graph_lifecycle.compact")
    publishes = named("operators.graph_delta.publish")
    m.update({
        "operators.graph_lifecycle.self_s": self_total("operators.graph_lifecycle") * per_cycle,
        "operators.graph_lifecycle.compactions": len(compacts),
        "operators.graph_lifecycle.compact_s": total("operators.graph_lifecycle.compact") * per_cycle,
        "operators.graph_lifecycle.recover_s": total("operators.graph_lifecycle.recover", spans),
        "operators.graph_delta.publish_s": total("operators.graph_delta.publish") * per_cycle,
        "operators.graph_delta.bytes_written": sum(s.attrs.get("bytes", 0) for s in publishes),
        "operators.graph_delta.base_publishes": sum(s.attrs.get("mode") == "base" for s in publishes),
        "operators.graph_delta.delta_publishes": sum(s.attrs.get("mode") == "delta" for s in publishes),
    })
    if stream_events:
        trig = sum(e["trigger_ms"] for e in stream_events) / 1e3 / len(stream_events)
        add = sum(e["add_batch_ms"] for e in stream_events) / 1e3 / len(stream_events)
        m.update({
            "streaming.trigger_s": trig, "streaming.add_batch_s": add,
            "streaming.engine_s": trig - add,
            "streaming.rows_read_per_row":
                sum(e["rows"] for e in stream_events) / max(rows_streamed, 1),
        })
    else:
        m.update(dict.fromkeys(("streaming.trigger_s", "streaming.add_batch_s",
                                "streaming.engine_s", "streaming.rows_read_per_row"), 0.0))
    sums = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    store = dict.fromkeys(STORE_KEYS, 0.0)
    for s in measured:
        for k in sums:
            sums[k] += s.counters.get(k, 0)
        for k in STORE_KEYS:
            v = s.counters.get(k, UNAVAILABLE)
            store[k] = UNAVAILABLE if UNAVAILABLE in (v, store[k]) else store[k] + v
    m.update({
        "spark.jobs_per_op": sums["jobs"] * per_op,
        "spark.stages_per_op": sums["stages"] * per_op,
        "spark.tasks_per_op": sums["tasks"] * per_op,
        "spark.failed_tasks": sums["failed_tasks"],
    })
    for k in STORE_KEYS:
        v = store[k]
        m[f"spark.{k}"] = v if v == UNAVAILABLE else v * per_cycle
    m.update({
        "driver.cpu_s_per_op": cpu["driver_s"] * per_op,
        "jvm.cpu_s_per_op": cpu["jvm_s"] * per_op,
        "host.calib_s": host["calib_s"],
        "host.steal_frac": host["steal_frac"],
        "host.busy_jiffies": host["busy_jiffies"],
        "trace.overhead_s": tracer.overhead_s * per_cycle,
    })
    return {k: m[k] for k in PER_LAYER}

"""One benchmark run in its own process: ``python3 -m perfbench.worker``.

``run.py`` starts it with a pinned environment; it prints the result
object as the last line of standard output and writes the full run
record (and, when traced, the spans) into its work directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

from . import hostprobe, layers
from .workloads import WORKLOADS, Loop

E2E_UNITS = {"setup_s": "s", "cycle_s": "s", "read_p50_s": "s",
             "write_rows_per_s": "rows/s", "recall": "ratio", "write_amp": "ratio",
             "space_amp": "ratio", "retained_mb": "MB"}


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def retained_mb(spark) -> float:
    """Driver Python RSS plus the JVM's heap and non-heap in use after a
    full collection. The JVM's own RSS is not used: it depends on when the
    collector last ran and how far the heap had grown."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return hostprobe.rss_mb() + used / 2**20


def run(args) -> dict:
    from vector_search_spark.session import get_spark

    host0 = {"loadavg": hostprobe.loadavg(), "jiffies": hostprobe.cpu_jiffies()}
    t = time.monotonic()
    spark = get_spark("perfbench")
    session_s = time.monotonic() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracer = stream = None
    if args.trace:
        from .spans import StreamProgress, Tracer

        tracer = Tracer(sc)
        layers.instrument(tracer)
        if args.workload == "index_churn":
            stream = StreamProgress(spark)
    loop = Loop(tracer)
    wl = WORKLOADS[args.workload](spark, args.work, args.seed, loop)
    n_cycles = wl.cycles(args.seconds)
    wl.setup(bool(args.trace))
    warm_walls = []
    for i in range(wl.warmup_cycles):
        c = time.perf_counter()
        wl.cycle(i)
        warm_walls.append(time.perf_counter() - c)

    # -- measured phase ---------------------------------------------------
    wl.start_measuring()
    pid = jvm_pid(spark)
    llm0 = wl.emb.snapshot() if wl.emb else {}
    calls0 = wl.llm.snapshot()["calls"] if wl.llm else 0
    cpu0 = (time.process_time(), hostprobe.proc_cpu_s(pid))
    jif0 = hostprobe.cpu_jiffies()
    n_ops0 = len(loop.ops)
    loop.measuring = True
    t_measure = time.perf_counter()
    setup_s = time.monotonic() - args.t0
    for i in range(wl.warmup_cycles, wl.warmup_cycles + n_cycles):
        c = time.perf_counter()
        wl.cycle(i)
        loop.cycle_walls.append(time.perf_counter() - c)
    loop.measuring = False
    measured_s = time.perf_counter() - t_measure
    n_ops = len(loop.ops) - n_ops0
    jif = hostprobe.jiffies_delta(jif0, hostprobe.cpu_jiffies())
    cpu = {"driver_s": time.process_time() - cpu0[0],
           "jvm_s": hostprobe.proc_cpu_s(pid) - cpu0[1]}
    llm = {}
    if llm0:
        now = wl.emb.snapshot()
        llm = {k: now[k] - llm0[k] for k in now}
        llm["calls"] += wl.llm.snapshot()["calls"] - calls0
    retained = retained_mb(spark)

    t_finish = time.perf_counter()
    extra = wl.finish()
    finish_s = time.perf_counter() - t_finish
    summary = loop.kind_summary()
    e2e = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(loop.cycle_walls),
        **wl.e2e(summary),
        "write_rows_per_s": extra["write_rows_per_s"],
        "recall": extra["recall"],
        "write_amp": extra["write_amp"],
        "space_amp": extra["space_amp"],
        "retained_mb": retained,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cycles": {"warmup": wl.warmup_cycles, "measured": n_cycles},
        "e2e": e2e,
        "kind_metrics": {
            **wl.kind_metrics(summary), "setup_s": setup_s,
            "write_rows_per_s": extra["write_rows_per_s"], "recall": extra["recall"],
            "write_amp": extra["write_amp"], "space_amp": extra["space_amp"],
            "retained_mb": retained,
            "error_rate": loop.failed / max(len(loop.ops), 1),
        },
        "kinds": summary,
        "samples": loop.samples,
        "cycle_walls": loop.cycle_walls,
        "warmup": {"cycle_walls": warm_walls},
        "ops": loop.ops,
        "measured_s": measured_s,
        "finish_s": finish_s,
        "session_s": session_s,
        "ingest_s": getattr(wl, "ingest_s", None),
        "rows_written": extra["rows_written"],
        "attempted": len(loop.ops), "failed": loop.failed, "errors": loop.errors,
        "host": {"loadavg_start": host0["loadavg"], **jif},
        "cpu": cpu,
    }
    per_layer = None
    if tracer is not None:
        from .counters import SparkCounters
        from .spans import LAZY_NOTE

        tracer.restore()
        tracer.attach_counters(SparkCounters(sc))
        events = []
        if stream is not None:
            n_trig = wl.warmup_cycles + n_cycles
            events = stream.data_events(n_trig)[-n_cycles:]
            stream.close()
        record["per_layer_inputs"] = {"llm": llm, "stream_events": events}
        per_layer = {
            "tracer": tracer, "t_measure": t_measure,
            "t_end": t_measure + measured_s, "n_cycles": n_cycles,
            "n_ops": n_ops, "session_s": session_s, "llm": llm,
            "stream_events": events,
            "rows_streamed": extra.get("rows_streamed", 0),
            "cpu": cpu,
        }
        record["lazy_note"] = LAZY_NOTE
        record["spans"] = tracer.records()
    t_stop = time.perf_counter()
    spark.stop()
    record["stop_s"] = time.perf_counter() - t_stop
    # the host probe runs with no Spark job in flight
    host = {"calib_s": hostprobe.calib_s(), **jif}
    record["host"]["calib_s"] = host["calib_s"]
    if per_layer is not None:
        record["per_layer"] = layers.per_layer(host=host, **per_layer)
    return record


def result_line(record: dict, trace: int) -> dict:
    if trace:
        metrics = {k: {"value": v, "unit": layers.unit_of(k)}
                   for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": record["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    return {"correct": record["failed"] == 0, "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--t0", type=float, required=True)
    args = p.parse_args(argv)
    record = run(args)
    with open(os.path.join(args.work, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, v in record["kind_metrics"].items():
        unit = E2E_UNITS.get(k, "s" if k.endswith("_s") else "ratio")
        print(f"{args.workload} {k} {v} {unit}", file=sys.stderr)
    for e in record["errors"]:
        print(f"error {e}", file=sys.stderr)
    print(json.dumps(result_line(record, args.trace)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

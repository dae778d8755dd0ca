"""Benchmark entry point.

    python3 perfbench/run.py --workload journeys --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It pins the environment, runs the
workload in a child process (``perfbench.worker``) and relays the
child's result object as the last line of standard output. Everything
it writes goes under ``.perfbench/`` in the checkout; the run record
(and the span record of a traced run) is kept there, the index state and
Spark scratch are removed. It exits non-zero, printing no result, when
the engine package is not in the checkout or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("journeys", "index_churn")
CHILD_TIMEOUT_S = 160
DRIVER_MEM = "2g"

SPARK_DEFAULTS = """\
spark.ui.showConsoleProgress false
spark.driver.extraJavaOptions -Xms{mem} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData
spark.ui.retainedJobs 100000
spark.ui.retainedStages 100000
spark.sql.warehouse.dir {work}/warehouse
"""
LOG4J2 = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def spark_cpus(nproc: int) -> int:
    """Spark task slots: half the cores, so that the JIT compiler threads,
    the collector, the driver and the Python workers have cores beside the
    task threads. With a slot per core they queue behind the tasks: ops run
    slower and a stalled core holds up whole stages (on 4 cores, journeys
    cycles settle at 4.2 s after six cycles with local[4], at 3.5 s after
    three with local[2])."""
    return max(1, nproc // 2)


def pinned_env(work: str) -> tuple[dict, dict]:
    """(environment for the child, the pinned part): the caller's
    environment with every setting the numbers depend on fixed here
    rather than in the caller's shell."""
    nproc = len(os.sched_getaffinity(0))
    cpus = spark_cpus(nproc)
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write(SPARK_DEFAULTS.format(work=work, mem=DRIVER_MEM))
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(LOG4J2)
    pinned = {
        # the session default is local[32]; see spark_cpus
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_CONF_DIR": conf,
        # temporary files stay in the checkout too
        "TMPDIR": os.path.join(work, "tmp"),
        # executor Python workers import the engine and the counting clients
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        # the driver-placed graph kernels multiply small matrices; a BLAS
        # pool spinning beside four busy task threads only adds jitter
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_DRIVER_PYTHON", "SPARK_GRAFT_SF_DIR",
                        "SPARK_GRAFT_EMB_DIM")}
    env.update(pinned)
    return env, pinned


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the child runs in a session of
    its own; PySpark's worker daemon moves to its own process group)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                out.append(int(d))
    return out


def stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's session (the JVM and the
    Python workers) and wait until it is gone."""
    proc.kill()
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        left = session_pids(proc.pid)
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def main(argv=None) -> int:
    t0 = time.monotonic()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "vector_search_spark", "__init__.py")):
        print(f"perfbench: no vector_search_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env, pinned = pinned_env(work)
    print("perfbench settings " + json.dumps(
        {**pinned, "nproc": len(os.sched_getaffinity(0)), "cwd": ROOT,
         "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
         "trace": args.trace}), file=sys.stderr)
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--t0", repr(t0)]
    # a terminated run still takes its child's session down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    t_child = time.monotonic()
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        out = ""
    finally:
        stop_session(proc)
    keep = os.path.join(base, "records")
    os.makedirs(keep, exist_ok=True)
    record = os.path.join(work, "record.json")
    if os.path.exists(record):
        shutil.move(record, os.path.join(keep, os.path.basename(work) + ".json"))
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: wall {time.monotonic() - t0:.1f}s, "
          f"child {time.monotonic() - t_child:.1f}s", file=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        print(f"perfbench: worker exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Benchmark entry point.

    python3 perfbench/run.py --workload {tumbling_live,sliding_replay} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones (see
``perfbench/README.md``). A traced run also writes its spans and summary to
``.perfbench_work/traces/``. Exit code 0 means every output matched its
reference; 1 means a check failed; 2 means the engine could not be run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170
JVM_HEAP = "1g"
ENGINE_CPUS = 2


def pin_engine_cpus() -> set[int]:
    """Confine this process, and so the JVM and Python workers it starts, to
    ``ENGINE_CPUS`` cores; return the cores left for the load generator.

    ``local[2]`` alone still lets JIT, GC and worker threads spread over every
    core, and a host that throttles sustained load on all its cores then slows
    later runs of a sequence. Pinning keeps the benchmark's load at the same
    two cores from the first run to the last."""
    allowed = sorted(os.sched_getaffinity(0))
    engine = set(allowed[:ENGINE_CPUS])
    os.sched_setaffinity(0, engine)
    return set(allowed[ENGINE_CPUS:]) or engine


def spark_env(work: str, trace: bool) -> None:
    """Launch settings for the JVM the engine starts: a fixed, pre-touched heap
    so GC growth cannot move the memory peak, every scratch file inside the
    run's work directory, and no UI or console progress bar."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    args = ["--driver-memory", JVM_HEAP]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f'"{a}"' if " " in a else a for a in args) + " pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp


def on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kda_flink_demo_spark")):
        print(f"no engine package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        import engine
    except ImportError as exc:
        print(f"cannot import the engine: {exc}", file=sys.stderr)
        return 2
    if a.workload not in engine.WORKLOADS:
        print(f"unknown workload {a.workload!r}; known: {sorted(engine.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    spark_env(work, bool(a.trace))
    gen_cpus = pin_engine_cpus()
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    w = engine.WORKLOADS[a.workload](work, a.seed, a.seconds, bool(a.trace), T_START)
    w.gen_cpus = gen_cpus
    try:
        e2e = w.run()
    except engine.CheckFailed as exc:
        print(f"check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        w.tracer.write(os.path.join(base, "traces", f"{a.workload}-{a.seed}.json"),
                       {"layer": w.layer, "e2e": e2e, "problems": w.problems,
                        "progress": getattr(w, "progress", []), "sink_calls": w.timed.calls})
        metrics = {k: {"value": float(w.layer[k]), "unit": u} for k, u in engine.PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in engine.END_TO_END_UNITS.items()}
    for msg in w.problems:
        print(f"problem: {msg}", file=sys.stderr)
    correct = w.failed == 0 and not w.problems
    print(json.dumps({"correct": correct, "attempted": int(w.attempted), "failed": int(w.failed),
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

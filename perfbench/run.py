#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds a fresh SparkSession with one task
slot fewer than the cores the process may use, runs the named workload,
checks its outputs, and prints one JSON line last on stdout::

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
enables the Spark event log, records spans, and reports the per-layer
metrics instead.  Everything the run writes stays under ``.perfbench/`` in
the repository root: scratch files are removed at exit; a one-line record
of every run is appended to ``.perfbench/runs.jsonl`` and a traced run
leaves its spans and layer report in ``.perfbench/traces/``.
"""

import time

T_PROCESS = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = {"events_batch": "batch", "alerts_stream": "stream"}


class Run:
    """What a workload needs to know about this invocation."""

    def __init__(self, args: argparse.Namespace, work: str, spec: dict) -> None:
        from harness import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.t_process = T_PROCESS
        # one core fewer than the process may use: the driver's Python, the
        # JVM's GC and compiler threads and the Python workers run beside
        # the task slots, and with a slot on every core they queue for one
        self.cpus = max(1, len(os.sched_getaffinity(0)) - 1)
        self.tracer = Tracer()
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.data_dir = os.path.join(HERE, "data", "sf0.1")
        self.expected_dir = os.path.join(HERE, "expected")
        self.state = STATE
        self.layer_names = [m["name"] for m in spec["per_layer"]]


def _configure_process(work: str, trace: bool, eventlog_dir: str) -> None:
    """Keep every file Spark and Python write inside ``work``; enable the
    event log for traced runs.  Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        os.makedirs(eventlog_dir)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
            # Spark 4.1 otherwise writes zstd-compressed rolling logs
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "pulseboard_spark", "__init__.py")):
        print("perfbench: the pulseboard_spark package is missing from the checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(STATE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run = Run(args, work, spec)
        _configure_process(work, run.trace, run.eventlog_dir)
        sys.path.insert(0, ROOT)
        import harness

        context = harness.host_context(args.seed, args.workload)
        sampler = harness.RssSampler().start()
        try:
            if WORKLOADS[args.workload] == "batch":
                import batch as workload
            else:
                import stream as workload
            result = workload.run(run)
        except BaseException:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                harness.stop_spark(active)
            raise
        finally:
            sampler.stop()
        context["loadavg_end"] = harness.loadavg()
        context["cpu_steal_s"] = harness.cpu_steal_s() - context["cpu_steal_s"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result["layer"]["peak_rss_mb"] = sampler.peak_bytes / 2**20
    result["layer"]["session.python_workers_peak"] = sampler.peak_python
    kind = "per_layer" if run.trace else "end_to_end"
    values = result["layer"] if run.trace else result["e2e"]
    missing = [m["name"] for m in spec[kind] if m["name"] not in values]
    if missing:
        print(f"perfbench: workload did not produce {missing}", file=sys.stderr)
        return 3
    record = {"context": context, "trace": run.trace, "attempted": result["attempted"],
              "failed": result["failed"], "e2e": result["e2e"], "layer": result["layer"]}
    print("# context " + json.dumps(context), file=sys.stderr)
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec[kind]},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""sparksearch benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload msearch_code --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Inputs are generated from the seed and
cached under ``.perfbench/inputs``; every index is built by the code under
test during the run and deleted at its end. The last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1``. The lines before it give each metric
with its sample count, the failed ratio, per-layer self time (traced runs)
and the host/config record. A traced run also writes its spans to
``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("msearch_code", "contract_headline")


class Bench:
    """One run: its paths, the Spark session and the tracing helpers."""

    def __init__(self, args) -> None:
        from perfbench.observe import Spans

        self.seed = args.seed
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench")
        self.seed_dir = os.path.join(self.work, "inputs", f"seed-{args.seed}")
        os.makedirs(os.path.join(self.work, "runs"), exist_ok=True)
        self.run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-",
                                        dir=os.path.join(self.work, "runs"))
        self.cleanup: list[str] = [self.run_dir]
        self.prune_dir = os.path.join(self.run_dir, "prune")
        self.cores = len(os.sched_getaffinity(0))
        self.spans = Spans() if self.trace else None
        self.spark = self.counters = self.rss = None

    # -------------------------------------------------------------- session
    def start_spark(self) -> float:
        """Start the session, with every scratch path inside the checkout.
        Returns the seconds ``get_spark`` took."""
        from perfbench.observe import PeakRss, SparkCounters

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # no progress bars on stderr; this is a console setting, and the
        # engine's configuration is left exactly as get_spark makes it
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false pyspark-shell")
        # Python workers import the program from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        if self.trace:
            # the scorer's per-task block counters; workers inherit this
            os.makedirs(self.prune_dir)
            os.environ["ES_SPARK_PRUNE_STATS_DIR"] = self.prune_dir

        from elasticsearch_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark", -1):
            self.spark = get_spark("perfbench", cores=self.cores)
        started = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)
        jvm = self.spark.sparkContext._jvm
        self.rss = PeakRss(int(
            jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()))
        self.rss.sample()
        return started

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit (its Python workers exit with
        it) and delete what the run wrote, except the inputs and the trace."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                self.spark.stop()
                gateway = SparkContext._gateway
                proc = getattr(gateway, "proc", None)
                # no more Python-to-JVM calls (object finalizers) from here,
                # so none is cut off when the JVM exits
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        finally:
            for path in self.cleanup:
                shutil.rmtree(path, ignore_errors=True)

    # -------------------------------------------------------------- tracing
    def span(self, name: str, op: int, traced: bool = True):
        if self.spans is None or not traced:
            return nullcontext()
        return self.spans.span(name, op)

    @contextmanager
    def op_span(self, name: str, op: int, traced: bool, rec: dict, key: str):
        """One layer call inside a traced operation, under its own span and
        Spark job group. Sets ``rec[key + '_ms']``, ``rec[key + '_jobs']`` and
        ``rec['spark_' + key]``, and adds the group's counters to
        ``rec['spark']``."""
        if not traced:
            yield
            return
        group = f"perfbench-{op}-{key}"
        self.counters.enter(group)
        t0 = time.perf_counter()
        try:
            with self.spans.span(name, op):
                yield
        finally:
            rec[f"{key}_ms"] = 1000.0 * (time.perf_counter() - t0)
            self.counters.leave()
        c = self.counters.read(group)
        rec[f"{key}_jobs"] = c["jobs"]
        rec[f"spark_{key}"] = c
        total = rec.setdefault("spark", dict.fromkeys(c, 0.0))
        for k, v in c.items():
            total[k] += v

    def read_prune_stats(self) -> dict[str, int]:
        """Sum, then delete, the scorer's per-task block counter files."""
        out = {"blocks": 0, "decoded": 0}
        for name in os.listdir(self.prune_dir):
            path = os.path.join(self.prune_dir, name)
            with open(path) as f:
                stat = json.load(f)
            os.remove(path)
            out["blocks"] += int(stat["blocks"])
            out["decoded"] += int(stat["decoded"])
        return out

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    from perfbench.observe import host_record
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    b = Bench(args)
    try:
        wl = WORKLOADS[args.workload](b)
        wl.make_inputs()
        t0 = time.perf_counter()
        session_s = b.start_spark()
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare_checks()
        t0 = time.perf_counter()
        wl.warm()
        setup_s += time.perf_counter() - t0
        wl.measure(args.seconds, b.trace)
        host = host_record(b.spark)
        b.rss.sample()

        if not b.trace:
            declared = spec["end_to_end"]
            values = wl.end_to_end()
            values["setup_s"] = setup_s
            values["python_peak_rss_mb"] = b.rss.python_mb()
            samples = {"op_p50_ms": len(wl.op_walls)}
        else:
            declared = spec["per_layer"]
            values = dict(wl.layers)
            values.update(wl.per_layer())
            values["session.start_ms"] = 1000.0 * session_s
            values["memory.peak_rss_mb"] = b.rss.mb()
            values["memory.jvm_peak_rss_mb"] = b.rss.mb() - b.rss.python_mb()
            values["trace.overhead_ratio"] = wl.overhead()
            unknown = set(values) - {m["name"] for m in declared}
            if unknown:
                raise RuntimeError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
            # a layer this workload never calls did no work
            values = {m["name"]: values.get(m["name"], 0.0) for m in declared}
            samples = {}
            b.spans.write(os.path.join(
                b.work, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"),
                host)
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in declared}

        for name, m in metrics.items():
            n = samples.get(name)
            print(f"{name:42s} {m['value']:>16.4f} {m['unit']}"
                  + (f"  (n={n} ops)" if n else ""))
        if b.trace:
            print(f"traced ops: {len(wl.records)}, untraced ops: {len(wl.op_walls)}")
            for name, ms in sorted(b.spans.self_ms().items()):
                print(f"self_ms {name:34s} {ms:>16.1f} ms")
        for name, n in wl.notes.items():
            print(f"{name:42s} {n:>16d}")
        print(f"{'failed_ratio':42s} {wl.failed / wl.attempted:>16.4f}  "
              f"({wl.failed} failed of {wl.attempted} attempted)")
        print(json.dumps({"host": host}))
        return {"correct": wl.failed == 0, "attempted": wl.attempted,
                "failed": wl.failed, "metrics": metrics}
    finally:
        b.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    missing = [p for p in ("elasticsearch_spark", "__spark_entry__.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a sparksearch checkout; missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

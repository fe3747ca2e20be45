"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload nem_week --seed 1 --seconds 30 --trace 0

Runs from the root of a source checkout of this repository. Inputs are
generated from ``--seed`` inside ``.perfbench/`` at the root; nothing is
read or written outside the checkout. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The lines before it print every metric by
name and unit. See perfbench/README.md.
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "assignment_2_dataengineering_spark"
WORKLOADS = ("nem_week", "query_catalog")

# End-to-end metrics, in BENCHMARK.json order, with units.
E2E = {
    "setup_s": "s",
    "job_s": "s",
    "rate_per_s": "1/s",
    "latency_ms": "ms",
}


class Harness:
    """What a workload needs: arguments, a private work directory, the
    Spark session factory, set-up timing and the tracer."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", args.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        for d in ("spark-local", "tmp", "warehouse"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["TZ"] = "UTC"  # collected timestamps compare with DuckDB's in UTC
        time.tzset()
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
        self.spark = None
        self.gen_s = 0.0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from assignment_2_dataengineering_spark.session import get_spark

        tmp = self.path("tmp")
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def stop_jvm(self) -> None:
        """End the JVM the session launched and wait for it: it exits when
        its standard input closes."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def setup_done(self) -> None:
        """End of the workload's set-up: ``setup_s`` runs from process
        start (JVM launch included) and leaves out input generation."""
        self.put("setup_s", time.time() - PROCESS_START - self.gen_s, "s")

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"CHECK FAILED {name}: {detail}")

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        print(f"perfbench: program package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    h = Harness(args)
    try:
        if args.workload == "nem_week":
            import nem_week as wl
        else:
            import query_catalog as wl
        layer = wl.run(h)
    finally:
        h.stop_spark()
        h.stop_jvm()

    from layers import PER_LAYER, unit

    for line in h.notes:
        print(line)
    layer["gen_s"] = h.gen_s
    layer["failed_ops_ratio"] = h.failed / max(1, h.attempted)
    if args.trace:
        # The traced run's own end-to-end values: minus the medians of
        # untraced runs of the same workload they give the tracing overhead.
        for k, (v, _) in h.metrics.items():
            layer[f"tracing.{k}"] = v
    for k, (v, u) in h.metrics.items():
        print(f"{k} = {v:.6g} {u}")
    for k, v in layer.items():
        print(f"{k} = {v:.6g} {unit(k)}")
    if args.trace:
        out = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": h.metrics[k][0], "unit": u} for k, u in E2E.items()}
    print(json.dumps({"correct": h.failed == 0, "attempted": h.attempted,
                      "failed": h.failed, "metrics": out}))
    shutil.rmtree(h.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

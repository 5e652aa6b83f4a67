"""Benchmark of the engine's production paths.

    python3 kgbench/run.py --workload kg_full --seed 1 --seconds 15 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``kg_full``: full ``KGPipeline.run`` into a fresh warehouse, then a fixed
  batch of read-after-write tool requests through ``cli.serve_loop``.
- ``corpus_dedup``: the four near-duplicate operators over a document and an
  embedding corpus, then top-10 vector queries.

Every workload reports the same end-to-end metrics:

- ``setup_s``: session start, input build and warm-up (kg_full: one cold
  full index; corpus_dedup: one pass over a small slice of the inputs);
- ``op_s``: the bulk operation (kg_full: ``KGPipeline.run``; corpus_dedup:
  the four near-duplicate operators back to back).

The finer figures (per operator, per read request or query, triples/s, the
incremental run) are printed as named lines with their sample count.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and the span wrappers and reports the per-layer metrics.
Every run checks its outputs outside the timed region; a failed check, an
engine error or a metric the run did not measure exits with code 1 after the
result line (``correct: false``). The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

The benchmark runs from any working directory: it puts the checkout root
on the driver's and the Python workers' import path, and keeps every file
it writes under ``<checkout>/.kgbench/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    """State shared by a workload: the session, the tracer, op counts and
    the named figures it reports."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.named: dict[str, tuple[float, str, dict]] = {}
        self.spark = None
        self.tracer = None
        self.marks: dict = {}  # span ids the trace fold looks up
        self.event_dir = os.path.join(work, "events")

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, fn):
        """Run one counted operation; an exception counts as a failure and
        is re-raised, since later steps depend on the result."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            raise

    def another(self, t_loop: float, iter_s: list[float], minimum: int) -> bool:
        """Whether to start another timed iteration: until `minimum` are done,
        then only while one more of median length ends within --seconds."""
        if len(iter_s) < minimum:
            return True
        return time.monotonic() - t_loop + statistics.median(iter_s) <= self.seconds

    def name(self, key: str, value: float, unit: str, **extra) -> None:
        """A named figure printed for the reader (not a contract metric)."""
        self.named[key] = (value, unit, extra)

    def timing(self, key: str, samples: list[float], unit: str) -> float:
        """Name a timing's median with its sample count, plus the highest
        percentile that has at least ten samples beyond it."""
        from kgbench.spans import summarize

        q = summarize(samples)
        extra = {"n": q["n"]}
        if "tail" in q:
            extra[f"p{q['tail_q']:g}"] = q["tail"]
        self.name(key, q["median"], unit, **extra)
        return q["median"]

    def start_spark(self):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tmp
        from cie_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp and perf-data files out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app="kgbench", master=f"local[{cpus}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from kgbench.hooks import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and its Python workers) to
        exit; the JVM exits when its stdin closes."""
        if self.spark is None:
            return
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus this process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def event_log(self) -> str:
        (name,) = os.listdir(self.event_dir)
        return os.path.join(self.event_dir, name)


def host_probe() -> float | None:
    """Seconds of the repository's pinned single-thread CPU probe."""
    probe = os.path.join(ROOT, "tools", "host_probe.py")
    if not os.path.exists(probe):
        return None
    out = subprocess.run(
        [sys.executable, probe], capture_output=True, text=True, timeout=60,
        cwd=ROOT,
    )
    try:
        return float(out.stdout.strip().splitlines()[-1])
    except (ValueError, IndexError):
        return None


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    contract = load_contract()
    names = [w["name"] for w in contract["workloads"]]
    if args.workload not in names:
        ap.error(f"unknown workload {args.workload!r}; one of {names}")
    sys.path.insert(0, ROOT)
    engine = importlib.util.find_spec("cie_spark")
    if engine is None or not engine.origin.startswith(ROOT + os.sep):
        print(f"kgbench: no cie_spark package in {ROOT}", file=sys.stderr)
        return 2
    from kgbench import corpus_dedup, kg_full

    workload = {"kg_full": kg_full, "corpus_dedup": corpus_dedup}[args.workload]
    work = os.path.join(ROOT, ".kgbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(args, work)
    probe_before = host_probe()
    wanted = contract["per_layer" if run.trace else "end_to_end"]
    correct, error = True, None
    try:
        try:
            workload.main(run, time.monotonic())
        finally:
            run.stop_spark()
        listed = {m["name"] for m in wanted}
        owned = listed
        if run.trace:
            workload.fold_trace(run)  # reads the event log the stop flushed
            owned = workload.owned_metrics()
            check(owned <= listed, f"not in BENCHMARK.json: {sorted(owned - listed)}")
            for name in listed - owned:  # layers this workload bypasses
                run.metrics[name] = 0.0
        missing = sorted(owned - run.metrics.keys())
        check(not missing, f"metrics not measured: {missing}")
    except CheckFailed as e:
        correct, error = False, f"check failed: {e}"
    except Exception as e:  # an engine error: still report attempted/failed
        traceback.print_exc()
        correct, error = False, f"{type(e).__name__}: {e}"
    probe_after = host_probe()
    shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    if correct:
        metrics = {m["name"]: {"value": float(run.metrics[m["name"]]), "unit": m["unit"]}
                   for m in wanted}
    for key, (value, unit, extra) in sorted(run.named.items()):
        tail = "".join(f" {k}={v:.6g}" for k, v in extra.items())
        print(f"{key} {value:.6g} {unit}{tail}")
    for key, m in metrics.items():
        print(f"metric {key} {m['value']:.6g} {m['unit']}")
    print(f"context host_probe_s before={probe_before} after={probe_after} "
          f"workload={args.workload} seed={args.seed} trace={args.trace}")
    if error:
        print(error, file=sys.stderr)
    result = {
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }
    record = dict(result, error=error, context={
        "host_probe_s": {"before": probe_before, "after": probe_after},
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "named": {k: v[0] for k, v in run.named.items()},
    })
    out_dir = os.path.join(ROOT, ".kgbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    ), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    # run as kgbench.run, the module the workloads import `check` from, so
    # that `except CheckFailed` sees their exceptions
    sys.path.insert(0, ROOT)
    from kgbench.run import main as package_main

    sys.exit(package_main())

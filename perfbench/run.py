#!/usr/bin/env python3
"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload import_rebuild --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a checkout. The run generates (or reuses) the
workload's inputs, sets the Spark session up several times, runs one
untimed first job, then timed jobs until ``--seconds`` of job time has
passed, checks every job's outputs against what the generator planted,
and prints one JSON result as the last line of stdout. ``--trace 1``
instead runs untraced jobs for half the time, one traced job and one
more untraced job, and prints the per-layer metrics; its span tree goes to
``.perfbench/traces/<workload>-seed<seed>.json``.

Everything a run writes (inputs, outputs, Spark local dirs, temp files)
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3  # the first is cold (JVM launch); setup_s is the median
MIN_TIMED_JOBS = 2
DRIVER_MEMORY = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_job_s": "s",
    "job_s": "s",
    "items_per_s": "items/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: session, jobs, checks and metrics."""

    def __init__(self, args, steps, inputs):
        from perfbench.procmon import ProcTree

        self.args = args
        self.steps = steps
        self.inputs = inputs
        self.nproc = len(os.sched_getaffinity(0))
        self.tree = ProcTree()
        self.spark = None
        self.n_jobs = 0
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []
        self.setups: list[tuple[float, float]] = []

    # -- session ----------------------------------------------------------

    def setup(self) -> None:
        from impresso_ta.session import get_spark, warm_python_workers

        confs = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a heap sized up front keeps peak_rss_mb from following G1's
            # run-to-run heap-growth decisions; no hsperfdata file, which
            # the JVM would write to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        }
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc,
                extra_confs=confs,
            )
            t1 = time.perf_counter()
            warm_python_workers(self.spark)
            t2 = time.perf_counter()
            self.setups.append((t1 - t0, t2 - t1))
            self.spark.sparkContext.setLogLevel("ERROR")

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- jobs -------------------------------------------------------------

    def job(self, tracer=None) -> dict:
        """Run every step once on fresh output dirs; check the outputs."""
        from perfbench import jobs

        out = os.path.join(WORK, "out", self.args.workload,
                           f"job{self.n_jobs}")
        self.n_jobs += 1
        shutil.rmtree(out, ignore_errors=True)
        rec = {"steps": {}, "verdicts": {}}
        cpu0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        error = None
        for step in self.steps:
            s0 = time.perf_counter()
            try:
                if tracer is None:
                    jobs.STEPS[step](self.spark, self.inputs["steps"][step]
                                     ["input"], f"{out}/{step}")
                else:
                    with tracer.span(f"step.{step}", "step"):
                        jobs.STEPS[step](
                            self.spark, self.inputs["steps"][step]["input"],
                            f"{out}/{step}", act=tracer.action)
            except Exception:  # noqa: BLE001 — a failed job fails its items
                error = traceback.format_exc()
                break
            finally:
                rec["steps"][step] = time.perf_counter() - s0
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = self.tree.cpu_s() - cpu0
        self.tree.sample_memory()
        rec["output_bytes"] = sum(
            jobs.output_bytes(f"{out}/{s}", s) for s in self.steps)
        if tracer is not None:
            rec["sink_files"] = _sink_files(tracer)
        for step in self.steps:
            self._check(step, f"{out}/{step}", rec, error)
        shutil.rmtree(out, ignore_errors=True)
        return rec

    def _check(self, step: str, out: str, rec: dict, error) -> None:
        from perfbench import check

        spec = self.inputs["steps"][step]
        if error is not None:
            v = check.Verdict(attempted=_items(step, spec))
            v.failed = set(range(v.attempted))
            v.reasons.append(error.strip().splitlines()[-1])
        elif step == "import":
            v = check.check_import(out, spec["expected"])
        elif step == "rebuild":
            v = check.check_rebuild(out, spec["expected"])
        elif step == "corpus":
            v = check.check_corpus(out, spec["expected"], spec["rows"])
        else:
            v = check.check_knn(out, spec["input"], spec["expected"])
        rec["verdicts"][step] = v
        self.attempted += v.attempted
        self.failed += len(v.failed)
        for r in v.reasons:
            if len(self.reasons) < 10:
                self.reasons.append(f"{step}: {r}")

    def timed(self, budget: float, min_jobs: int = MIN_TIMED_JOBS
              ) -> list[dict]:
        recs: list[dict] = []
        while len(recs) < min_jobs or sum(
                r["wall"] for r in recs) < budget:
            recs.append(self.job())
        return recs

    def items(self) -> int:
        return sum(_items(s, self.inputs["steps"][s]) for s in self.steps)


def _items(step: str, spec: dict) -> int:
    """Items of one step: issues for import, content items for rebuild,
    input docs for corpus, queries for kNN."""
    e = spec["expected"]
    if step == "import":
        return len(e["issues"]) + len(e["broken"])
    if step == "rebuild":
        return len(e["ci_tokens"]) + len(e["broken"])
    if step == "corpus":
        return spec["rows"]
    return e["n_queries"]


def _sink_files(tracer) -> dict:
    files, size = 0, 0
    for span in tracer.spans:
        out_dir = span.get("out_dir")
        if not out_dir or (span["parent"] is not None and tracer.spans[
                span["parent"]]["layer"] == "sinks"):
            continue
        for root, _dirs, names in os.walk(out_dir):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def _end_to_end(run: Run, first: dict, timed: list[dict]) -> dict:
    walls = [r["wall"] for r in timed]
    vals = {
        "setup_s": statistics.median(a + b for a, b in run.setups),
        "first_job_s": first["wall"],
        "job_s": statistics.median(walls),
        "items_per_s": run.items() / statistics.median(walls),
        "cpu_s": statistics.median(r["cpu"] for r in timed),
        "peak_rss_mb": run.tree.peak_rss_mb(),
        "output_mb": statistics.median(r["output_bytes"] for r in timed) / 1e6,
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]}
            for k, v in vals.items()}


def _traced(run: Run, first: dict) -> tuple[dict, dict]:
    from perfbench import tracing

    # untraced jobs on both sides of the traced one, so JIT warm-up still
    # in progress does not read as negative tracing overhead
    untraced = run.timed(run.args.seconds / 2, min_jobs=1)
    store = tracing.SparkStore(run.spark)
    offset = store.n_executions()
    tracer = tracing.Tracer(run.spark)
    tracer.install()
    try:
        traced = run.job(tracer=tracer)
    finally:
        tracer.uninstall()
    untraced.append(run.job())
    collected = tracing.collect(store, tracer, offset)
    for span in collected["spans"]:
        if "out_dir" in span:
            span["out_dir"] = os.path.relpath(span["out_dir"], ROOT)
    posthoc = tracing.posthoc_counts(run.spark, tracer)
    metrics = tracing.layer_metrics(
        collected, posthoc, traced, run.inputs, run.steps,
        setups=run.setups,
        untraced_job_s=statistics.median(r["wall"] for r in untraced),
        failed_frac=run.failed / run.attempted,
    )
    doc = {
        "workload": run.args.workload, "seed": run.args.seed,
        "nproc": run.nproc, "fingerprint": run.inputs["fingerprint"],
        "first_job_s": first["wall"],
        "untraced_job_s": [r["wall"] for r in untraced],
        "traced_job_s": traced["wall"], "posthoc_counts": posthoc,
        "metrics": metrics, **collected,
    }
    return metrics, doc


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[0] = ROOT  # the checkout root, not this directory
    try:
        import impresso_ta
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(impresso_ta.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: impresso_ta comes from {impresso_ta.__file__}, "
              f"not from the checkout at {ROOT}", file=sys.stderr)
        return 2
    from perfbench import gen, jobs

    if args.workload not in jobs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(jobs.WORKLOADS)}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "cache", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the short-lived launcher JVM of spark-submit: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    steps = jobs.WORKLOADS[args.workload]
    inputs = gen.prepare_inputs(os.path.join(WORK, "cache"), args.workload,
                                steps, args.seed)
    run = Run(args, steps, inputs)
    try:
        run.setup()
        first = run.job()
        if args.trace:
            metrics, doc = _traced(run, first)
            path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump(doc, f, indent=1, sort_keys=True)
            timed_jobs = doc["untraced_job_s"]
        else:
            timed = run.timed(args.seconds)
            metrics = _end_to_end(run, first, timed)
            timed_jobs = [round(r["wall"], 3) for r in timed]
    finally:
        run.shutdown()
    info = {
        "workload": args.workload, "seed": args.seed, "nproc": run.nproc,
        "fingerprint": inputs["fingerprint"],
        "inputs_cached": inputs["cached"], "timed_jobs": timed_jobs,
        "items_per_job": run.items(),
        "setups_s": [[round(a, 3), round(b, 3)] for a, b in run.setups],
        "failed_frac": {"value": run.failed / run.attempted,
                        "unit": "ratio"},
        "failures": run.reasons,
    }
    print(json.dumps({"info": info}))
    if run.failed:
        print("perfbench: output check failed:\n  " + "\n  ".join(
            run.reasons), file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

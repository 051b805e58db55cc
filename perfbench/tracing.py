"""Span tracer and Spark status-store collector for the traced run.

``Tracer.install`` replaces the program's public layer functions (module
attributes listed in ``TARGETS``) with wrappers that record a span per
call: name, layer, start, end and parent. Each span also sets a Spark job
group, so every Spark job a call triggers eagerly (a router's
``count()``, a connected-components round) is attributed to it; the
job's own writes and collects run under ``action`` spans. Spans stay in
memory until the run ends.

``collect`` then reads Spark's own bookkeeping in-process — jobs and
stages from ``SparkContext.statusStore()``, SQL executions, their plan
graphs and SQL metrics from the shared state's SQL status store — and
attributes it to the spans through the job groups.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import time

# (module, attribute, layer): the public calls the jobs make into each
# layer, plus the inner calls prepare_corpus and ann_topk_auto make
# through module attributes at call time
TARGETS = [
    ("impresso_ta.sources.discovery", "detect_issues", "discovery"),
    ("impresso_ta.importers.base", "import_issues", "importers"),
    ("impresso_ta.sources.readers", "read_issues", "readers"),
    ("impresso_ta.sources.readers", "read_pages", "readers"),
    ("impresso_ta.rebuild.solr", "rebuild_issues_solr", "rebuild"),
    ("impresso_ta.rebuild.solr", "split_errors", "rebuild"),
    ("impresso_ta.sources.sinks", "write_issues", "sinks"),
    ("impresso_ta.sources.sinks", "write_pages", "sinks"),
    ("impresso_ta.sources.sinks", "write_errors", "sinks"),
    ("impresso_ta.sources.sinks", "write_rebuilt", "sinks"),
    ("impresso_ta.sources.sinks", "manifest_stats", "sinks"),
    ("impresso_ta.operators.pipeline", "prepare_corpus", "pipeline"),
    ("impresso_ta.operators.text_arrow", "filter_keep_arrow", "text_arrow"),
    ("impresso_ta.operators.dedup", "line_dedup", "dedup"),
    ("impresso_ta.operators.dedup", "collapse_exact_reps", "dedup"),
    ("impresso_ta.operators.dedup", "jaccard_pairs", "dedup"),
    ("impresso_ta.operators.dedup", "dedup_survivors", "dedup"),
    ("impresso_ta.operators.dedup", "minhash_dedup_survivors", "dedup"),
    ("impresso_ta.operators.similarity", "ann_topk_auto", "similarity"),
    ("impresso_ta.operators.similarity", "cosine_topk", "similarity"),
    ("impresso_ta.operators.similarity", "ivf_topk", "similarity"),
    ("impresso_ta.operators.similarity", "multiprobe_lsh_topk", "similarity"),
]

# plan-graph node names that run Python on the executors
_PY_NODE = re.compile(r"Pandas|Python|InArrow")
_STAGE_OF = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.returns: dict[str, list] = {}  # span name -> return values
        self._saved: list[tuple] = []
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "group": f"perfbench-span-{sid}", **attrs}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(rec["group"], name, False)
        rec["start"] = time.perf_counter() - self.t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.stack.pop()
            if self.stack:
                outer = self.spans[self.stack[-1]]
                self.sc.setJobGroup(outer["group"], outer["name"], False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def action(self, name: str):
        return self.span(f"action.{name}", "action")

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if layer == "sinks" and name != "sinks.manifest_stats":
                attrs["out_dir"] = (kwargs["out_dir"] if "out_dir" in kwargs
                                    else args[1])
            with self.span(name, layer, **attrs):
                out = fn(*args, **kwargs)
            self.returns.setdefault(name, []).append(out)
            return out

        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in TARGETS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, f"{layer}.{attr}", layer))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()


# --------------------------------------------------------------------------
# Spark bookkeeping


class SparkStore:
    """JSON views of the in-process status stores (Jackson-serialized in
    the JVM, one py4j round trip per list)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self.mapper.registerModule(scala)
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty_q = self.sc._gateway.new_array(jvm.double, 0)
        self._jlist = jvm.java.util.ArrayList

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def n_executions(self) -> int:
        return int(self.sql.executionsCount())

    def jobs(self) -> list[dict]:
        return self._json(self.app.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self.app.stageList(
            None, False, False, self._empty_q, self._jlist()))

    def tasks(self, stage_id: int, attempt: int) -> list[dict]:
        return self._json(self.app.taskList(stage_id, attempt, 100_000))

    def executions(self, offset: int) -> list[dict]:
        return self._json(self.sql.executionsList(offset, 1_000_000))

    def plan_nodes(self, execution_id: int) -> list[dict]:
        return self._json(self.sql.planGraph(execution_id).allNodes())

    def metric_values(self, execution_id: int) -> dict:
        return self._json(self.sql.executionMetrics(execution_id))


def _count(text: str | None) -> int:
    if not text:
        return 0
    return int(text.split("\n")[0].replace(",", "").split()[0])


SPARK_KEYS = ("jobs", "stages", "tasks", "python_stages", "executor_run_s",
              "executor_cpu_s", "scheduler_delay_s", "shuffle_write_mb",
              "spill_mb", "gc_s", "failed_tasks", "input_mb")


def collect(store: SparkStore, tracer: Tracer, exec_offset: int) -> dict:
    """Attribute Spark jobs, stages, tasks and SQL executions to spans.

    Returns {"spans": [...], "executions": [...], "stages": {...}} where
    each span carries its self time and the Spark metrics of the jobs
    launched under its own job group, and each execution lists its
    plan nodes with output rows and the stage that ran them."""
    by_group = {s["group"]: s for s in tracer.spans}
    jobs = [j for j in store.jobs() if j.get("jobGroup") in by_group]
    job_span = {j["jobId"]: by_group[j["jobGroup"]]["id"] for j in jobs}

    stage_rows: dict[int, dict] = {}
    for st in store.stages():
        if st["status"] in ("COMPLETE", "FAILED"):
            stage_rows.setdefault(st["stageId"], []).append(st)
    stage_span: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            if sid in stage_rows and sid not in stage_span:
                stage_span[sid] = job_span[j["jobId"]]

    # SQL executions -> plan nodes (python nodes, rows, stage)
    executions = []
    py_stages: set[int] = set()
    for ex in store.executions(exec_offset):
        spans_of = {job_span[int(k)] for k in ex.get("jobs", {})
                    if int(k) in job_span}
        if not spans_of:
            continue
        values = store.metric_values(ex["executionId"])
        nodes = []
        for node in store.plan_nodes(ex["executionId"]):
            rec = {"name": node["name"], "rows": None, "stage": None}
            for m in node.get("metrics", []):
                val = values.get(str(m["accumulatorId"]))
                if m["name"] == "number of output rows":
                    rec["rows"] = _count(val)
                elif m["name"] == "number of written files":
                    rec["files"] = _count(val)
                elif val and rec["stage"] is None:
                    hit = _STAGE_OF.search(val)
                    if hit:
                        rec["stage"] = int(hit.group(1))
            if _PY_NODE.search(node["name"]) and rec["stage"] is not None:
                py_stages.add(rec["stage"])
            nodes.append(rec)
        executions.append({"id": ex["executionId"], "span": min(spans_of),
                           "nodes": nodes})

    stages: dict[int, dict] = {}
    for sid, span_id in stage_span.items():
        agg = {"span": span_id, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "scheduler_delay_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
               "failed_tasks": 0, "input_mb": 0.0, "task_s": [],
               "python": sid in py_stages}
        for st in stage_rows[sid]:
            agg["tasks"] += st["numTasks"]
            agg["executor_run_s"] += st["executorRunTime"] / 1e3
            agg["executor_cpu_s"] += st["executorCpuTime"] / 1e9
            agg["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
            agg["spill_mb"] += st["diskBytesSpilled"] / 1e6
            agg["gc_s"] += st["jvmGcTime"] / 1e3
            agg["failed_tasks"] += st["numFailedTasks"]
            agg["input_mb"] += st["inputBytes"] / 1e6
            for t in store.tasks(sid, st["attemptId"]):
                agg["scheduler_delay_s"] += (t.get("schedulerDelay") or 0) / 1e3
                agg["task_s"].append((t.get("duration") or 0) / 1e3)
        stages[sid] = agg

    spans = [dict(s) for s in tracer.spans]
    for s in spans:
        s["self_s"] = s["end"] - s["start"] - sum(
            c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
        totals = dict.fromkeys(SPARK_KEYS, 0)
        totals["jobs"] = sum(1 for sp in job_span.values() if sp == s["id"])
        for st in stages.values():
            if st["span"] != s["id"]:
                continue
            totals["stages"] += 1
            totals["python_stages"] += int(st["python"])
            for k in SPARK_KEYS[2:]:
                if k != "python_stages":
                    totals[k] += st[k]
        s["spark"] = totals
    return {"spans": spans, "executions": executions,
            "stages": {str(k): v for k, v in sorted(stages.items())}}


# --------------------------------------------------------------------------
# per-layer metrics

# name -> unit; every traced run reports all of them (0 where the
# workload does not exercise the layer)
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warm_workers_s": "s",
    "discovery.detect_s": "s",
    "discovery.issues_found": "count",
    "importers.build_s": "s",
    "importers.parse_passes": "ratio",
    "importers.udtf_task_s": "s",
    "importers.error_rows": "count",
    "readers.input_mb": "MB",
    "readers.python_rows_per_page": "ratio",
    "rebuild.build_s": "s",
    "rebuild.passes": "ratio",
    "rebuild.shuffle_write_mb": "MB",
    "rebuild.task_skew": "ratio",
    "rebuild.udtf_task_s": "s",
    "sinks.write_s": "s",
    "sinks.write_jobs": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written_mb": "MB",
    "pipeline.build_s": "s",
    "pipeline.stage_docs_out.filters": "count",
    "pipeline.stage_docs_out.line_dedup": "count",
    "pipeline.stage_docs_out.doc_dedup": "count",
    "pipeline.stage_docs_out.decontamination": "count",
    "text_arrow.filter_s": "s",
    "dedup.line_dedup_s": "s",
    "dedup.doc_dedup_s": "s",
    "dedup.doc_dedup_jobs": "count",
    "dedup.jaccard_route": "count",
    "dedup.dup_recall": "ratio",
    "similarity.build_s": "s",
    "similarity.pairs_scored_per_result": "ratio",
    "similarity.task_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.python_stages": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_ratio": "ratio",
    "step.import_s": "s",
    "step.rebuild_s": "s",
    "step.corpus_s": "s",
    "step.knn_s": "s",
    "check.failed_frac": "ratio",
}

_DOC_DEDUP = ("dedup.collapse_exact_reps", "dedup.jaccard_pairs",
              "dedup.dedup_survivors", "dedup.minhash_dedup_survivors")
_PAIR_NODES = ("BroadcastNestedLoopJoin", "CartesianProduct", "MapInArrow")


def posthoc_counts(spark, tracer: Tracer) -> dict:
    """Row counts of frames the traced calls returned, run after the
    traced job under their own job group (so no span is charged)."""
    def last(name):
        return (tracer.returns.get(name) or [None])[-1]

    counts = {}
    spark.sparkContext.setJobGroup("perfbench-posthoc", "posthoc", False)
    try:
        disc = last("discovery.detect_issues")
        if disc is not None:
            counts["discovery.issues_found"] = disc.count()
        kept = last("text_arrow.filter_keep_arrow")
        if kept is not None:
            counts["filters"] = kept.count()
        lines = last("dedup.line_dedup")
        if lines is not None:
            counts["line_dedup"] = lines.filter("n_kept > 0").count()
        docs = last("dedup.dedup_survivors")
        if docs is not None:
            counts["doc_dedup"] = docs.count()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return counts


def layer_metrics(collected: dict, posthoc: dict, traced: dict,
                  inputs: dict, steps: list[str], setups, untraced_job_s,
                  failed_frac) -> dict:
    import statistics

    spans = collected["spans"]
    stages = {int(k): v for k, v in collected["stages"].items()}

    def step_of(span_id):
        s = spans[span_id]
        while s["parent"] is not None:
            s = spans[s["parent"]]
        return s["name"].split(".", 1)[1] if s["layer"] == "step" else None

    def dur(s):
        return s["end"] - s["start"]

    def top(prefixes):
        """Spans named with one of ``prefixes`` not nested in another."""
        hit = [s for s in spans if s["name"].startswith(prefixes)]
        ids = {s["id"] for s in hit}
        return [s for s in hit if s["parent"] not in ids]

    def nodes(step, names):
        for ex in collected["executions"]:
            if step_of(ex["span"]) == step:
                for n in ex["nodes"]:
                    if n["name"] in names:
                        yield n

    def rows(step, names):
        return sum(n["rows"] or 0 for n in nodes(step, names))

    def node_stages(step, names):
        return {n["stage"] for n in nodes(step, names)
                if n["stage"] in stages}

    def step_stages(step):
        return [st for st in stages.values() if step_of(st["span"]) == step]

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.get_spark_s"] = statistics.median(a for a, _ in setups)
    m["session.warm_workers_s"] = statistics.median(b for _, b in setups)
    m["discovery.detect_s"] = sum(dur(s) for s in top(("discovery.",)))
    m["discovery.issues_found"] = posthoc.get("discovery.issues_found", 0)
    if "import" in steps:
        exp = inputs["steps"]["import"]["expected"]
        n_issues = len(exp["issues"]) + len(exp["broken"])
        m["importers.build_s"] = sum(dur(s) for s in top(("importers.",)))
        m["importers.parse_passes"] = rows("import", ("MapInPandas",)) / n_issues
        m["importers.udtf_task_s"] = sum(
            stages[i]["executor_run_s"]
            for i in node_stages("import", ("MapInPandas",)))
        m["importers.error_rows"] = traced["verdicts"]["import"].facts.get(
            "error_rows", 0)
    if "rebuild" in steps:
        exp = inputs["steps"]["rebuild"]["expected"]
        n_cis = len(exp["ci_tokens"]) + len(exp["broken"])
        m["readers.input_mb"] = sum(
            st["input_mb"] for st in step_stages("rebuild"))
        m["readers.python_rows_per_page"] = rows(
            "rebuild", ("MapInPandas",)) / exp["n_pages"]
        m["rebuild.build_s"] = sum(dur(s) for s in top(("rebuild.",)))
        m["rebuild.passes"] = rows("rebuild", ("MapInArrow",)) / n_cis
        m["rebuild.shuffle_write_mb"] = sum(
            st["shuffle_write_mb"] for st in step_stages("rebuild"))
        asm = node_stages("rebuild", ("MapInArrow",))
        m["rebuild.udtf_task_s"] = sum(
            stages[i]["executor_run_s"] for i in asm)
        m["rebuild.task_skew"] = max(
            (max(stages[i]["task_s"]) / statistics.median(stages[i]["task_s"])
             for i in asm if stages[i]["task_s"]
             and statistics.median(stages[i]["task_s"]) > 0),
            default=0.0)
    sink_spans = [s for s in spans if s["layer"] == "sinks"]
    m["sinks.write_s"] = sum(dur(s) for s in top(("sinks.write_",)))
    m["sinks.write_jobs"] = sum(s["spark"]["jobs"] for s in sink_spans)
    m["sinks.files_written"] = traced.get("sink_files", {}).get("files", 0)
    m["sinks.bytes_written_mb"] = traced.get("sink_files", {}).get(
        "bytes", 0) / 1e6
    if "corpus" in steps:
        m["pipeline.build_s"] = sum(dur(s) for s in top(("pipeline.",)))
        for stage in ("filters", "line_dedup", "doc_dedup"):
            m[f"pipeline.stage_docs_out.{stage}"] = posthoc.get(stage, 0)
        facts = traced["verdicts"]["corpus"].facts
        m["pipeline.stage_docs_out.decontamination"] = facts.get("docs_out", 0)
        m["dedup.dup_recall"] = facts.get("dup_recall", 0.0)
        m["text_arrow.filter_s"] = sum(
            stages[i]["executor_run_s"]
            for i in node_stages("corpus", ("MapInArrow",)))
        m["dedup.line_dedup_s"] = sum(dur(s) for s in top(("dedup.line_",)))
        doc = top(_DOC_DEDUP)
        m["dedup.doc_dedup_s"] = sum(dur(s) for s in doc)
        m["dedup.doc_dedup_jobs"] = sum(
            s["spark"]["jobs"] for s in spans if s["name"] in _DOC_DEDUP)
        m["dedup.jaccard_route"] = sum(
            1 for s in spans if s["name"] == "dedup.jaccard_pairs")
    if "knn" in steps:
        exp = inputs["steps"]["knn"]["expected"]
        m["similarity.build_s"] = sum(dur(s) for s in top(("similarity.",)))
        m["similarity.pairs_scored_per_result"] = rows(
            "knn", _PAIR_NODES) / (exp["n_queries"] * exp["k"])
        m["similarity.task_s"] = sum(
            st["executor_run_s"] for st in step_stages("knn"))
    for key in SPARK_KEYS:
        if f"spark.{key}" in m:
            m[f"spark.{key}"] = sum(s["spark"][key] for s in spans)
    m["trace.overhead_ratio"] = traced["wall"] / untraced_job_s
    for step, secs in traced["steps"].items():
        m[f"step.{step}_s"] = secs
    m["check.failed_frac"] = failed_frac
    return {k: {"value": float(v), "unit": PER_LAYER[k]}
            for k, v in m.items()}

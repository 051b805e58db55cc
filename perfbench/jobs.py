"""The benchmark's job steps, each as the matching ``impresso_ta.cli``
subcommand runs it: the same public calls, in the same order, with the CLI's
defaults.

Every program function is looked up on its module at call time, never
bound at import, so the span tracer (``tracing.py``) sees each call once it
has replaced the module attribute. ``act`` wraps the job's own DataFrame
actions (the writes and collects the CLI makes directly) so a traced run
can attribute their Spark jobs; untraced runs pass a no-op.
"""

from __future__ import annotations

import contextlib
import os

import impresso_ta.importers.base as importers_base
import impresso_ta.operators.pipeline as pipeline
import impresso_ta.operators.similarity as similarity
import impresso_ta.rebuild.solr as solr
import impresso_ta.sources.discovery as discovery
import impresso_ta.sources.readers as readers
import impresso_ta.sources.sinks as sinks


def no_action(name: str):
    return contextlib.nullcontext()


def run_import(spark, inputs: str, out: str, act=no_action) -> None:
    """``impresso_ta.cli import --format mets_alto`` (cmd_import)."""
    disc = discovery.detect_issues(spark, inputs, "mets_alto")
    res = importers_base.import_issues(disc, ts=None)
    sinks.write_issues(res.issues, f"{out}/issues")
    sinks.write_pages(res.pages, f"{out}/pages")
    with act("records_probe"):
        has_records = bool(res.records.take(1))
    if has_records:
        sinks.write_pages(res.records, f"{out}/records")
    sinks.write_errors(res.errors, f"{out}/errors")
    stats_df = sinks.manifest_stats(res.issues)
    with act("manifest_write"):
        stats_df.write.mode("overwrite").json(f"{out}/manifest")
    with act("manifest_echo"):
        stats_df.orderBy("alias", "year").limit(20).collect()


def run_rebuild(spark, inputs: str, out: str, act=no_action) -> None:
    """``impresso_ta.cli rebuild --fmt solr`` (cmd_rebuild)."""
    issues = readers.read_issues(spark, f"{inputs}/issues")
    supports = readers.read_pages(spark, f"{inputs}/pages")
    rebuilt = solr.rebuild_issues_solr(
        issues, supports, ts=None, default_language=None
    )
    ok, errors = solr.split_errors(rebuilt)
    sinks.write_rebuilt(ok, f"{out}/rebuilt", fmt="json")
    sinks.write_errors(errors, f"{out}/errors")
    with act("rebuilt_count"):
        ok.count()


def run_corpus(spark, inputs: str, out: str, act=no_action) -> None:
    """``impresso_ta.cli corpus --benchmark`` with every other flag at its
    default (cmd_corpus)."""
    docs = spark.read.parquet(f"{inputs}/docs.parquet")
    bench = spark.read.parquet(f"{inputs}/benchmark.parquet")
    res = pipeline.prepare_corpus(
        docs,
        id_col="doc_id",
        text_col="text",
        line_spans=10,
        benchmark=bench,
        doc_dedup_method="auto",
    )
    with act("corpus_write"):
        res.docs.write.mode("overwrite").parquet(f"{out}/corpus")
    res.unpersist()
    with act("corpus_count"):
        spark.read.parquet(f"{out}/corpus").count()


def run_knn(spark, inputs: str, out: str, act=no_action) -> None:
    """Corpus-scale top-10 cosine neighbours of a query batch through the
    size router (``similarity.ann_topk_auto``), written as parquet."""
    corpus = spark.read.parquet(f"{inputs}/corpus.parquet")
    queries = spark.read.parquet(f"{inputs}/queries.parquet")
    res = similarity.ann_topk_auto(corpus, queries, k=10)
    with act("knn_write"):
        res.write.mode("overwrite").parquet(f"{out}/knn")


STEPS = {
    "import": run_import,
    "rebuild": run_rebuild,
    "corpus": run_corpus,
    "knn": run_knn,
}

# a workload's job runs its steps back to back, each on its own inputs
WORKLOADS = {
    "import_rebuild": ["import", "rebuild"],
    "corpus_knn": ["corpus", "knn"],
}

# the directories a step commits (output_mb sums their files)
OUTPUT_DIRS = {
    "import": ["issues", "pages", "records", "errors", "manifest"],
    "rebuild": ["rebuilt", "errors"],
    "corpus": ["corpus"],
    "knn": ["knn"],
}


def output_bytes(out: str, step: str) -> int:
    total = 0
    for sub in OUTPUT_DIRS[step]:
        for root, _dirs, files in os.walk(os.path.join(out, sub)):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(root, f))
    return total

"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q

- generators are deterministic per seed;
- every checker accepts an output built to the planted properties and
  rejects a deliberately corrupted copy;
- every metric name the benchmark prints is declared in BENCHMARK.json
  with the same unit and matches the name grammar.
"""

from __future__ import annotations

import bz2
import json
import os
import random
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen, jobs, procmon, run, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    cache = str(tmp_path_factory.mktemp("cache"))
    return {wl: gen.prepare_inputs(cache, wl, steps, seed=7)
            for wl, steps in jobs.WORKLOADS.items()}


# -- generators -------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(jobs.WORKLOADS))
def test_same_seed_same_fingerprint(tmp_path, workload):
    steps = jobs.WORKLOADS[workload]
    a = gen.prepare_inputs(str(tmp_path / "a"), workload, steps, seed=3)
    b = gen.prepare_inputs(str(tmp_path / "b"), workload, steps, seed=3)
    c = gen.prepare_inputs(str(tmp_path / "a"), workload, steps, seed=4)
    assert a["fingerprint"] == b["fingerprint"]
    assert a["fingerprint"]["md5"] != c["fingerprint"]["md5"]
    # the coarse sizes are seed-independent, so seeds compare like for like
    assert a["fingerprint"]["rows"] == c["fingerprint"]["rows"]
    again = gen.prepare_inputs(str(tmp_path / "a"), workload, steps, seed=3)
    assert again["cached"] and again["fingerprint"] == a["fingerprint"]


# -- helpers writing outputs the way the program's sinks do ---------------


def _write_jsonl(path, rows):
    os.makedirs(path, exist_ok=True)
    data = "".join(json.dumps(r) + "\n" for r in rows).encode()
    with open(os.path.join(path, "part-00000.json.bz2"), "wb") as f:
        f.write(bz2.compress(data))


def _write_lines(path, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.txt"), "w") as f:
        f.write("".join(line + "\n" for line in lines))


def _write_parquet(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _import_output(out, expected):
    issues, pages = [], []
    for iid, exp in expected["issues"].items():
        issues.append({"id": iid, "i": [{}] * exp["n_cis"],
                       "pp": [f"{iid}-p{n:04d}" for n in range(
                           1, len(exp["page_tokens"]) + 1)]})
        for n, tokens in enumerate(exp["page_tokens"], start=1):
            line = {"t": [{"tx": "w"}] * tokens}
            pages.append({"id": f"{iid}-p{n:04d}",
                          "r": [{"pOf": f"{iid}-i0001",
                                 "p": [{"l": [line]}]}]})
    _write_jsonl(f"{out}/issues", issues)
    _write_jsonl(f"{out}/pages", pages)
    _write_lines(f"{out}/errors",
                 [f"{b}: FileNotFoundError: no METS" for b in
                  expected["broken"]])
    _write_jsonl(f"{out}/manifest", [{
        "n_issues": len(issues), "n_pages": len(pages),
        "n_content_items": sum(len(i["i"]) for i in issues)}])
    return issues, pages


def test_import_checker(tmp_path, inputs):
    expected = inputs["import_rebuild"]["steps"]["import"]["expected"]
    out = str(tmp_path / "ok")
    _import_output(out, expected)
    assert not check.check_import(out, expected).failed

    bad = str(tmp_path / "bad")
    issues, pages = _import_output(bad, expected)
    pages[0]["r"][0]["p"][0]["l"][0]["t"].pop()  # one token lost
    _write_jsonl(f"{bad}/pages", pages)
    v = check.check_import(bad, expected)
    assert v.failed == {pages[0]["id"].rsplit("-", 1)[0]}

    _write_lines(f"{bad}/errors", [])  # planted broken issue unreported
    v = check.check_import(bad, expected)
    assert set(expected["broken"]) <= v.failed


def _rebuild_output(out, expected):
    rows = [{"id": ci, "ft": "text",
             "ppreb": [{"t": [{"s": 0, "l": 1}] * tokens}]}
            for ci, tokens in expected["ci_tokens"].items()]
    _write_jsonl(f"{out}/rebuilt", rows)
    _write_lines(f"{out}/errors",
                 [f"{ci}: Page p0099 not found" for ci in expected["broken"]])
    return rows


def test_rebuild_checker(tmp_path, inputs):
    expected = inputs["import_rebuild"]["steps"]["rebuild"]["expected"]
    out = str(tmp_path / "ok")
    _rebuild_output(out, expected)
    assert not check.check_rebuild(out, expected).failed

    bad = str(tmp_path / "bad")
    rows = _rebuild_output(bad, expected)
    rows[3]["ppreb"][0]["t"] = rows[3]["ppreb"][0]["t"][1:]
    _write_jsonl(f"{bad}/rebuilt", rows + [rows[5]])  # short + duplicated
    v = check.check_rebuild(bad, expected)
    assert v.failed == {rows[3]["id"], rows[5]["id"]}


def _corpus_output(out, spec):
    e = spec["expected"]
    docs = pq.read_table(os.path.join(spec["input"], "docs.parquet"))
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    keep = (e["clean"] + e["clean_boiler"]
            + [int(s) for s in e["exact_groups"]]
            + [s for s, _ in e["near_shift"]]
            + [s for s, _, _ in e["near_line"]])
    got = {d: text[d] for d in sorted(keep)}
    for b in e["boilerplate"]:  # line dedup: first occurrence only
        holders = [d for d in got if b in got[d]]
        for d in holders[1:]:
            got[d] = got[d].replace(b, "").strip()
    _write_parquet(f"{out}/corpus", pa.table({
        "doc_id": pa.array(list(got), pa.int64()),
        "text": list(got.values())}))
    return got


def test_corpus_checker(tmp_path, inputs):
    spec = inputs["corpus_knn"]["steps"]["corpus"]
    out = str(tmp_path / "ok")
    _corpus_output(out, spec)
    v = check.check_corpus(out, spec["expected"], spec["rows"])
    assert not v.failed and v.facts["dup_recall"] > 0.5

    e = spec["expected"]
    dup = e["exact_groups"][next(iter(e["exact_groups"]))][0]
    junk = e["junk"][0]
    for corrupt, culprit in (
        (lambda got: got.pop(e["clean"][0]), e["clean"][0]),
        (lambda got: got.__setitem__(junk, "junk"), junk),
        (lambda got: got.__setitem__(dup, "copy"), dup),
    ):
        bad = str(tmp_path / f"bad{culprit}")
        got = _corpus_output(bad, spec)
        corrupt(got)
        _write_parquet(f"{bad}/corpus", pa.table({
            "doc_id": pa.array(list(got), pa.int64()),
            "text": list(got.values())}))
        v = check.check_corpus(bad, spec["expected"], spec["rows"])
        assert v.failed == {culprit}


def _knn_output(out, spec):
    c = pq.read_table(os.path.join(spec["input"], "corpus.parquet"))
    q = pq.read_table(os.path.join(spec["input"], "queries.parquet"))
    want = check.exact_topk(
        np.array(c["vec_id"].to_pylist()),
        np.array(c["embedding"].to_pylist()), q["vec_id"].to_pylist(),
        np.array(q["embedding"].to_pylist()), spec["expected"]["k"])
    rows = [{"query_id": qid, "neighbor_id": nid, "cosine": cos,
             "rank": r}
            for qid, top in want.items()
            for r, (nid, cos) in enumerate(top, start=1)]
    _write_parquet(f"{out}/knn", pa.Table.from_pylist(rows))
    return rows


def test_knn_checker(tmp_path, inputs):
    spec = inputs["corpus_knn"]["steps"]["knn"]
    out = str(tmp_path / "ok")
    _knn_output(out, spec)
    assert not check.check_knn(out, spec["input"], spec["expected"]).failed

    bad = str(tmp_path / "bad")
    rows = _knn_output(bad, spec)
    rows[0]["cosine"] = round(rows[0]["cosine"] - 0.0001, 4)
    rows[12]["neighbor_id"], rows[13]["neighbor_id"] = (
        rows[13]["neighbor_id"], rows[12]["neighbor_id"])
    _write_parquet(f"{bad}/knn", pa.Table.from_pylist(rows))
    v = check.check_knn(bad, spec["input"], spec["expected"])
    assert v.failed == {rows[0]["query_id"], rows[12]["query_id"]}


def test_exact_topk_matches_decimal_loop():
    """The vectorized reference equals a plain loop with Decimal HALF_UP
    rounding and (cosine desc, id asc) tie-breaks."""
    rng = random.Random(5)
    corpus = np.array([[round(rng.uniform(-1, 1), 2) for _ in range(8)]
                       for _ in range(300)])
    corpus[7] = corpus[3]  # exact tie
    queries = corpus[[3, 50]] + 0.001
    ids = np.arange(100, 400)
    got = check.exact_topk(ids, corpus, [1, 2], queries, k=6)
    for qid, q in zip([1, 2], queries):
        scored = []
        for cid, c in zip(ids, corpus):
            dot = qq = cc = 0.0
            for a, b in zip(q, c):
                dot += a * b
                qq += a * a
                cc += b * b
            cos = dot / (qq ** 0.5 * cc ** 0.5)
            r = float(Decimal(repr(cos)).quantize(Decimal("0.0001"),
                                                   ROUND_HALF_UP))
            scored.append((-r, int(cid)))
        scored.sort()
        assert got[qid] == [(cid, -r) for r, cid in scored[:6]]


# -- metric declarations ----------------------------------------------------


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_are_declared():
    decl = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert decl == run.END_TO_END_UNITS
    assert all(NAME.match(n) for n in decl)


def test_per_layer_metrics_are_declared():
    decl = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert decl == tracing.PER_LAYER
    assert all(NAME.match(n) for n in decl)


def test_workloads_are_declared():
    assert sorted(w["name"] for w in _declared()["workloads"]) == sorted(
        jobs.WORKLOADS)


def test_procmon_sees_own_cpu_and_memory():
    tree = procmon.ProcTree()
    before = tree.cpu_s()
    x = 0
    while tree.cpu_s() - before < 0.05:
        x += sum(range(10_000))
    tree.sample_memory()
    assert tree.peak_rss_mb() > 1

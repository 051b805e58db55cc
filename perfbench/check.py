"""Output checkers: each compares one job's committed outputs with the
properties its generator planted (``expected.json``) and returns a
``Verdict`` — items attempted, the ids of items not handled correctly,
and a few human-readable reasons. Outputs are read back with plain
Python (bz2 + json, pyarrow), never through the program under test.
"""

from __future__ import annotations

import bz2
import glob
import json
import os
import re
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal


@dataclass
class Verdict:
    attempted: int
    failed: set = field(default_factory=set)
    reasons: list = field(default_factory=list)
    facts: dict = field(default_factory=dict)

    def fail(self, item, reason: str) -> None:
        self.failed.add(item)
        if len(self.reasons) < 8:
            self.reasons.append(reason)


def _parts(path: str) -> list[str]:
    return sorted(
        f for f in glob.glob(os.path.join(path, "**", "part-*"),
                             recursive=True)
        if not os.path.basename(f).startswith(".")
    )


def read_jsonl(path: str) -> list[dict]:
    rows = []
    for f in _parts(path):
        opener = bz2.open if f.endswith(".bz2") else open
        with opener(f, "rt") as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def read_lines(path: str) -> list[str]:
    out = []
    for f in _parts(path):
        with open(f) as fh:
            out.extend(line.rstrip("\n") for line in fh if line.strip())
    return out


def read_parquet(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    files = [f for f in _parts(path) if f.endswith(".parquet")]
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


_PAGE_SUFFIX = re.compile(r"-p\d{4}$")


def _page_tokens(page: dict) -> tuple[int, int]:
    """(tokens, regions without a content item)."""
    n, orphans = 0, 0
    for region in page.get("r") or []:
        if not region.get("pOf"):
            orphans += 1
        for para in region.get("p") or []:
            for line in para.get("l") or []:
                n += len(line.get("t") or [])
    return n, orphans


def check_import(out: str, expected: dict) -> Verdict:
    planted = expected["issues"]
    broken = set(expected["broken"])
    v = Verdict(attempted=len(planted) + len(broken))
    issues = {r["id"]: r for r in read_jsonl(f"{out}/issues")}
    pages: dict[str, dict] = {}
    for p in read_jsonl(f"{out}/pages"):
        pages.setdefault(_PAGE_SUFFIX.sub("", p["id"]), {})[p["id"]] = p
    for iid, exp in planted.items():
        got = issues.get(iid)
        if got is None:
            v.fail(iid, f"{iid}: issue missing")
            continue
        if len(got.get("i") or []) != exp["n_cis"]:
            v.fail(iid, f"{iid}: {len(got.get('i') or [])} CIs, "
                        f"planted {exp['n_cis']}")
        if len(got.get("pp") or []) != len(exp["page_tokens"]):
            v.fail(iid, f"{iid}: wrong page list")
        got_pages = pages.get(iid, {})
        for n, tokens in enumerate(exp["page_tokens"], start=1):
            page = got_pages.get(f"{iid}-p{n:04d}")
            if page is None:
                v.fail(iid, f"{iid}: page {n} missing")
                continue
            got_tokens, orphans = _page_tokens(page)
            if got_tokens != tokens or orphans:
                v.fail(iid, f"{iid} p{n}: {got_tokens} tokens "
                            f"({orphans} orphan regions), planted {tokens}")
        if len(got_pages) != len(exp["page_tokens"]):
            v.fail(iid, f"{iid}: {len(got_pages)} pages written")
    for iid in set(issues) - set(planted):
        v.fail(iid, f"{iid}: unplanted issue")
    errors = [line.split(": ", 1)[0] for line in read_lines(f"{out}/errors")]
    v.facts["error_rows"] = len(errors)
    for path in broken - set(errors):
        v.fail(path, f"{path}: planted broken issue has no error row")
    for path in set(errors) - broken:
        v.fail(path, f"{path}: unplanted error row")
    manifest = read_jsonl(f"{out}/manifest")
    totals = [sum(r[k] for r in manifest)
              for k in ("n_issues", "n_pages", "n_content_items")]
    want = [len(planted),
            sum(len(e["page_tokens"]) for e in planted.values()),
            sum(e["n_cis"] for e in planted.values())]
    if totals != want:
        for iid in planted:
            v.fail(iid, f"manifest totals {totals}, planted {want}")
    return v


def check_rebuild(out: str, expected: dict) -> Verdict:
    planted = expected["ci_tokens"]
    broken = set(expected["broken"])
    v = Verdict(attempted=len(planted) + len(broken))
    rebuilt = {}
    for r in read_jsonl(f"{out}/rebuilt"):
        if r["id"] in rebuilt:
            v.fail(r["id"], f"{r['id']}: rebuilt twice")
        rebuilt[r["id"]] = r
    for ci, tokens in planted.items():
        got = rebuilt.get(ci)
        if got is None:
            v.fail(ci, f"{ci}: content item missing")
            continue
        n = sum(len(pg.get("t") or []) for pg in got.get("ppreb") or [])
        if n != tokens or not got.get("ft"):
            v.fail(ci, f"{ci}: {n} tokens, planted {tokens}")
    for ci in set(rebuilt) - set(planted):
        v.fail(ci, f"{ci}: unplanted content item")
    errors = [line.split(": ", 1)[0] for line in read_lines(f"{out}/errors")]
    v.facts["error_rows"] = len(errors)
    for ci in broken - set(errors):
        v.fail(ci, f"{ci}: planted broken item has no error row")
    for ci in set(errors) - broken:
        v.fail(ci, f"{ci}: unplanted error row")
    return v


def check_corpus(out: str, expected: dict, n_docs: int) -> Verdict:
    v = Verdict(attempted=n_docs)
    got = {r["doc_id"]: r["text"] for r in read_parquet(f"{out}/corpus")}
    for d in expected["clean"] + expected["clean_boiler"]:
        if d not in got:
            v.fail(d, f"doc {d}: clean unique doc dropped")
    for cat in ("junk", "contaminated"):
        for d in expected[cat]:
            if d in got:
                v.fail(d, f"doc {d}: planted {cat} doc survived")
    removed = 0
    planted_dups = 0
    for src, copies in expected["exact_groups"].items():
        if int(src) not in got:
            v.fail(int(src), f"doc {src}: exact-dup representative dropped")
        for d in copies:
            planted_dups += 1
            if d in got:
                v.fail(d, f"doc {d}: exact duplicate of {src} survived")
            else:
                removed += 1
    for src, d in expected["near_shift"]:
        planted_dups += 1
        if src not in got:
            v.fail(src, f"doc {src}: near-dup original dropped")
        if d in got:
            v.fail(d, f"doc {d}: near duplicate of {src} survived")
        else:
            removed += 1
    for src, d, text in expected["near_line"]:
        planted_dups += 1
        if src not in got:
            v.fail(src, f"doc {src}: near-dup original dropped")
        if got.get(d) == text:
            v.fail(d, f"doc {d}: near duplicate of {src} kept whole")
        elif d not in got:
            removed += 1
    seen: dict[str, list] = {}
    for d, text in got.items():
        for b in expected["boilerplate"]:
            if b in text:
                seen.setdefault(b, []).append(d)
    for b, docs in seen.items():
        for d in sorted(docs)[1:]:
            v.fail(d, f"doc {d}: boilerplate line kept twice")
    valid = set(range(1, n_docs + 1))
    for d in set(got) - valid:
        v.fail(d, f"doc {d}: not an input doc")
    v.facts["docs_out"] = len(got)
    v.facts["dup_recall"] = removed / planted_dups if planted_dups else 0.0
    return v


def _spark_round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def exact_topk(corpus_ids, corpus, query_ids, queries, k: int):
    """Exact top-k cosine with the brute route's arithmetic: double
    dot products summed left to right over dimensions, cosine =
    dot / (|q| * |c|), Spark's HALF_UP round to 4 decimals, ties broken
    by neighbour id ascending. Returns {query_id: [(id, cosine), ...]}."""
    import numpy as np

    def seq_dot(a, b):
        acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
        for d in range(a.shape[-1]):
            acc = acc + a[..., d] * b[..., d]
        return acc

    c_norm = np.sqrt(seq_dot(corpus, corpus))
    out = {}
    for qid, q in zip(query_ids, queries):
        cos = seq_dot(q[None, :], corpus) / (np.sqrt(seq_dot(q, q)) * c_norm)
        scaled = cos * 1e4
        rounded = np.floor(scaled + 0.5) / 1e4
        frac = scaled - np.floor(scaled)
        for i in np.nonzero(np.abs(frac - 0.5) < 1e-6)[0]:
            rounded[i] = _spark_round4(float(cos[i]))
        order = np.lexsort((corpus_ids, -rounded))[:k]
        out[int(qid)] = [(int(corpus_ids[i]), float(rounded[i]))
                         for i in order]
    return out


def check_knn(out: str, inputs: str, expected: dict) -> Verdict:
    import numpy as np
    import pyarrow.parquet as pq

    k = expected["k"]
    c = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
    q = pq.read_table(f"{inputs}/queries.parquet").to_pydict()
    want = exact_topk(np.array(c["vec_id"]), np.array(c["embedding"]),
                      q["vec_id"], np.array(q["embedding"]), k)
    v = Verdict(attempted=len(want))
    got: dict[int, list] = {}
    for r in read_parquet(f"{out}/knn"):
        got.setdefault(r["query_id"], []).append(r)
    for qid, exp in want.items():
        rows = sorted(got.get(qid, []), key=lambda r: r["rank"])
        pairs = [(r["neighbor_id"], r["cosine"]) for r in rows]
        if pairs != exp or [r["rank"] for r in rows] != list(
                range(1, len(exp) + 1)):
            v.fail(qid, f"query {qid}: top-{k} differs from exact numpy")
    for qid in set(got) - set(want):
        v.fail(qid, f"query {qid}: not a planted query")
    return v

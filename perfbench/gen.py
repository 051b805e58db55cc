"""Seeded input generators for the benchmark's four job steps.

Each generator writes the inputs a job reads (``input/``) and, beside
them, ``expected.json``: the properties it planted, which the checkers in
``check.py`` compare the job's outputs against. The program under test
only ever sees ``input/``.

Inputs are cached under ``.perfbench/cache`` keyed by (workload, seed,
``GEN_VERSION``); bump ``GEN_VERSION`` whenever a generator's output
changes, so stale caches are never reused.
"""

from __future__ import annotations

import bz2
import hashlib
import json
import os
import random
import shutil
from collections import Counter

GEN_VERSION = 5

ALIASES = ["GDL", "JDG", "LCE", "EXP", "IMP", "LUX", "NZZ", "OBS"]
LANGS = ["en", "fr", "de"]
TS = "2024-01-01T00:00:00Z"

# Sizes: chosen so one workload job takes 5-10 s on a 4-core host and a
# whole run stays near a minute (see README.md).
IMPORT_ISSUES = 16
IMPORT_BROKEN = 1
# pages per rebuilt issue: a fixed zipf-shaped multiset (most issues thin,
# a few hot), shuffled per seed so every seed has the same total
REBUILD_PAGES = ([1] * 40 + [2] * 16 + [3] * 9 + [4] * 6 + [6] * 4
                 + [8] * 3 + [12] + [24])
REBUILD_BROKEN = 2
CORPUS_CLEAN = 340
KNN_VECTORS = 3200
KNN_DIMS = 64
KNN_CLUSTERS = 24


# --------------------------------------------------------------------------
# shared helpers


def _vocab(rng: random.Random, n: int, lo: int = 3, hi: int = 9) -> list[str]:
    """``n`` distinct lowercase pseudo-words built from syllables."""
    cons = "bcdfghjklmnprstvwz"
    vows = "aeiou"
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        target = rng.randint(lo, hi)
        w = ""
        while len(w) < target:
            w += rng.choice(cons) + rng.choice(vows)
        w = w[:target]
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (r**s) for r in range(1, n + 1)]


def _shuffled(rng: random.Random, values: list[int], n: int) -> list[int]:
    """``n`` draws from ``values`` in equal shares, shuffled: per-seed
    order, seed-independent total."""
    out = (values * (n // len(values) + 1))[:n]
    rng.shuffle(out)
    return out


def _dates(rng: random.Random, n: int, years: range) -> list[tuple[int, int, int]]:
    seen: set[tuple[int, int, int]] = set()
    while len(seen) < n:
        seen.add((rng.choice(years), rng.randint(1, 12), rng.randint(1, 28)))
    return sorted(seen)


def fingerprint(base: str, rows: int, subdirs: list[str]) -> dict:
    """(rows, bytes, md5) over every input file under ``base/<subdir>``
    in sorted relative-path order — the same identity for the same
    generated inputs."""
    md5 = hashlib.md5()
    total = 0
    for sub in subdirs:
        for root, dirs, files in os.walk(os.path.join(base, sub)):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(root, f)
                md5.update(os.path.relpath(path, base).encode())
                with open(path, "rb") as fh:
                    data = fh.read()
                md5.update(data)
                total += len(data)
    return {"rows": rows, "bytes": total, "md5": md5.hexdigest()}


# --------------------------------------------------------------------------
# import_mets_alto: a METS/ALTO source tree


def _alto_page(rng, vocab, weights, page_no, blocks):
    """ALTO XML for one page. ``blocks``: list of (block_id, n_lines).
    Returns (xml, tokens_on_page)."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<alto xmlns="http://www.loc.gov/standards/alto/ns-v3#">'
        "<Styles>"
        '<TextStyle ID="TXT_0" FONTFAMILY="Times" FONTSIZE="9"/>'
        '<TextStyle ID="TXT_1" FONTFAMILY="Times" FONTSTYLE="bold" '
        'FONTSIZE="14"/>'
        "</Styles>"
        f'<Layout><Page ID="P{page_no}" PHYSICAL_IMG_NR="{page_no}">'
        "<PrintSpace>"
    ]
    n_tokens = 0
    y = 10
    for block_id, n_lines in blocks:
        parts.append(
            f'<TextBlock ID="{block_id}" HPOS="10" VPOS="{y}" '
            f'WIDTH="900" HEIGHT="{n_lines * 30}">'
        )
        pending_hyp = None
        for li in range(n_lines):
            style = "TXT_1" if li == 0 else "TXT_0"
            parts.append(
                f'<TextLine HPOS="10" VPOS="{y}" WIDTH="900" HEIGHT="28">'
            )
            words = rng.choices(vocab, weights, k=rng.randint(5, 9))
            x = 10
            if pending_hyp is not None:
                head, tail = pending_hyp
                parts.append(
                    f'<String ID="{block_id}_{li}_h" CONTENT="{tail}" '
                    f'HPOS="{x}" VPOS="{y}" WIDTH="40" HEIGHT="25" '
                    f'STYLEREFS="{style}" SUBS_TYPE="HypPart2" '
                    f'SUBS_CONTENT="{head}{tail}"/>'
                )
                n_tokens += 1
                x += 50
                pending_hyp = None
            for wi, w in enumerate(words):
                parts.append(
                    f'<String ID="{block_id}_{li}_{wi}" CONTENT="{w}" '
                    f'HPOS="{x}" VPOS="{y}" WIDTH="{len(w) * 12}" '
                    f'HEIGHT="25" STYLEREFS="{style}"/><SP/>'
                )
                n_tokens += 1
                x += len(w) * 12 + 10
            if li + 1 < n_lines and rng.random() < 0.1:
                w = rng.choice(vocab) + rng.choice(vocab)
                cut = rng.randint(2, len(w) - 2)
                pending_hyp = (w[:cut], w[cut:])
                parts.append(
                    f'<String ID="{block_id}_{li}_x" CONTENT="{w[:cut]}" '
                    f'HPOS="{x}" VPOS="{y}" WIDTH="40" HEIGHT="25" '
                    f'STYLEREFS="{style}" SUBS_TYPE="HypPart1" '
                    f'SUBS_CONTENT="{w}"/><HYP CONTENT="-"/>'
                )
                n_tokens += 1
            parts.append("</TextLine>")
            y += 30
        parts.append("</TextBlock>")
        y += 20
    parts.append("</PrintSpace></Page></Layout></alto>")
    return "".join(parts), n_tokens


def _mets(cis, n_pages):
    """METS with a fileSec (page files) and a logical structMap whose CI
    divs point at ALTO blocks. ``cis``: list of (tp, [(page, block_id)])."""
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<mets xmlns="http://www.loc.gov/METS/" '
        'xmlns:xlink="http://www.w3.org/1999/xlink">'
        '<fileSec><fileGrp USE="Text">'
    ]
    for p in range(1, n_pages + 1):
        out.append(
            f'<file ID="ALTO{p:03d}" SEQ="{p}"><FLocat LOCTYPE="URL" '
            f'xlink:href="file://text/{p:04d}.xml"/></file>'
        )
    out.append('</fileGrp></fileSec><structMap TYPE="LOGICAL">'
               '<div TYPE="Newspaper"><div TYPE="Issue">')
    for n, (tp, areas) in enumerate(cis, start=1):
        div_type = "ARTICLE" if tp == "article" else "ADVERTISEMENT"
        out.append(
            f'<div ID="DIV{n}" TYPE="{div_type}" ORDER="{n}" '
            f'LABEL="item {n}"><div TYPE="BODY">'
        )
        for page, block_id in areas:
            out.append(
                f'<fptr><area FILEID="ALTO{page:03d}" BEGIN="{block_id}" '
                'BETYPE="IDREF"/></fptr>'
            )
        out.append("</div></div>")
    out.append("</div></div></structMap></mets>")
    return "".join(out)


def gen_import(root: str, seed: int) -> tuple[dict, int]:
    rng = random.Random(f"import_mets_alto:{seed}")
    vocab = _vocab(random.Random("vocab:archive"), 3000)
    weights = _zipf_weights(len(vocab), 1.05)
    base = os.path.join(root, "input")
    issues: dict[str, dict] = {}
    broken: list[str] = []
    broken_at = set(rng.sample(range(IMPORT_ISSUES), IMPORT_BROKEN))
    page_counts = _shuffled(rng, list(range(2, 7)), IMPORT_ISSUES)
    block_counts = _shuffled(rng, [3, 4, 5, 6], sum(page_counts))
    line_counts = _shuffled(rng, [3, 4, 5, 6, 7], sum(block_counts))
    k = 0
    for alias in ALIASES:
        for yyyy, mm, dd in _dates(rng, IMPORT_ISSUES // len(ALIASES),
                                   range(1880, 1886)):
            issue_id = f"{alias}-{yyyy:04d}-{mm:02d}-{dd:02d}-a"
            d = os.path.join(base, alias, f"{yyyy:04d}", f"{mm:02d}",
                             f"{dd:02d}", "a")
            os.makedirs(os.path.join(d, "text"))
            n_pages = page_counts[k]
            cis: list[tuple[str, list]] = []
            page_tokens = []
            carry = None  # CI continuing onto the next page
            for p in range(1, n_pages + 1):
                blocks = []
                n_blocks = block_counts.pop()
                for b in range(n_blocks):
                    block_id = f"P{p}_TB{b:05d}"
                    blocks.append((block_id, line_counts.pop()))
                    if b == 0 and carry is not None:
                        carry[1].append((p, block_id))
                        carry = None
                        continue
                    tp = "advertisement" if rng.random() < 0.2 else "article"
                    cis.append((tp, [(p, block_id)]))
                if p < n_pages and cis and rng.random() < 0.3:
                    carry = cis[-1]
                xml, n_tok = _alto_page(rng, vocab, weights, p, blocks)
                with open(os.path.join(d, "text", f"{p:04d}.xml"), "w") as f:
                    f.write(xml)
                page_tokens.append(n_tok)
            if k in broken_at:
                broken.append(issue_id)  # planted: no METS file
            else:
                with open(os.path.join(d, f"{issue_id}-mets.xml"), "w") as f:
                    f.write(_mets(cis, n_pages))
                issues[issue_id] = {
                    "n_cis": len(cis),
                    "page_tokens": page_tokens,
                }
            k += 1
    expected = {"issues": issues, "broken": sorted(broken)}
    return expected, IMPORT_ISSUES


# --------------------------------------------------------------------------
# rebuild_solr: a canonical store written directly in the sink layout


def _canonical_page(rng, vocab, weights, page_id, ci_ids):
    """One canonical page; each CI in ``ci_ids`` owns 1-2 regions.
    Returns (page, {ci_id: tokens})."""
    regions = []
    counts: Counter = Counter()
    y = 0
    for ci_id in ci_ids:
        for _ in range(rng.randint(1, 2)):
            lines = []
            for _li in range(rng.randint(2, 6)):
                toks = []
                x = 0
                for w in rng.choices(vocab, weights, k=rng.randint(4, 9)):
                    toks.append({"tx": w, "c": [x, y, len(w) * 10, 20],
                                 "s": 0})
                    x += len(w) * 10 + 8
                if rng.random() < 0.1:
                    toks[-1] = {"tx": toks[-1]["tx"] + "-", "hy": True,
                                "c": toks[-1]["c"], "s": 0}
                lines.append({"c": [0, y, x, 22], "t": toks})
                counts[ci_id] += len(toks)
                y += 24
            regions.append({
                "c": [0, lines[0]["c"][1], 900, y - lines[0]["c"][1]],
                "pOf": ci_id,
                "p": [{"c": [0, lines[0]["c"][1], 900, 10], "l": lines}],
            })
    page = {
        "id": page_id, "cdt": "2024-01-01 00:00:00", "ts": TS,
        "st": "newspaper", "sm": "print", "cc": True,
        "iiif_img_base_uri": f"https://iiif.example.org/{page_id}",
        "r": regions,
    }
    return page, counts


def _write_jsonl_bz2(path: str, rows: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows)
    with open(path, "wb") as f:
        f.write(bz2.compress(data.encode(), 9))


def gen_rebuild(root: str, seed: int) -> tuple[dict, int]:
    rng = random.Random(f"rebuild_solr:{seed}")
    vocab = _vocab(random.Random("vocab:archive"), 3000)
    weights = _zipf_weights(len(vocab), 1.05)
    issues_by_part: dict[tuple, list] = {}
    pages_by_part: dict[tuple, list] = {}
    ci_tokens: dict[str, int] = {}
    broken: list[str] = []
    page_counts = list(REBUILD_PAGES)
    rng.shuffle(page_counts)
    ci_counts = _shuffled(rng, [1, 2, 3, 4], sum(page_counts))
    broken_at = set(rng.sample(range(len(page_counts)), REBUILD_BROKEN))
    per_alias = len(page_counts) // len(ALIASES)
    k = 0
    for alias in ALIASES:
        for yyyy, mm, dd in _dates(rng, per_alias, range(1900, 1904)):
            issue_id = f"{alias}-{yyyy:04d}-{mm:02d}-{dd:02d}-a"
            n_pages = page_counts[k]
            cis = []
            pages = []
            n_ci = 0
            for p in range(1, n_pages + 1):
                on_page = []
                for _ in range(ci_counts.pop()):
                    n_ci += 1
                    ci_id = f"{issue_id}-i{n_ci:04d}"
                    on_page.append(ci_id)
                    cis.append({"m": {"id": ci_id, "pp": [p],
                                      "tp": "article", "lg": "fr",
                                      "ro": n_ci, "t": f"item {n_ci}"}})
                page, counts = _canonical_page(
                    rng, vocab, weights, f"{issue_id}-p{p:04d}", on_page
                )
                pages.append(page)
                ci_tokens.update(counts)
            if k in broken_at:
                # planted broken CI: points at a page the store lacks
                n_ci += 1
                ci_id = f"{issue_id}-i{n_ci:04d}"
                cis.append({"m": {"id": ci_id, "pp": [n_pages + 1],
                                  "tp": "article", "lg": "fr", "ro": n_ci}})
                broken.append(ci_id)
            issue = {
                "id": issue_id, "cdt": "2024-01-01 00:00:00", "ts": TS,
                "st": "newspaper", "sm": "print", "i": cis,
                "pp": [pg["id"] for pg in pages],
                "s": [{"id": 0, "f": "Times", "fs": 9.0}],
            }
            issues_by_part.setdefault((alias, yyyy), []).append(issue)
            pages_by_part.setdefault((alias, yyyy), []).extend(pages)
            k += 1
    store = os.path.join(root, "input")
    for (alias, yyyy), rows in sorted(issues_by_part.items()):
        _write_jsonl_bz2(os.path.join(
            store, "issues", f"alias={alias}", f"year={yyyy}",
            "part-00000.json.bz2"), rows)
    for (alias, yyyy), rows in sorted(pages_by_part.items()):
        _write_jsonl_bz2(os.path.join(
            store, "pages", f"alias={alias}", f"year={yyyy}",
            "part-00000.json.bz2"), rows)
    expected = {"ci_tokens": ci_tokens, "broken": sorted(broken),
                "n_pages": sum(page_counts)}
    return expected, len(ci_tokens) + len(broken)


# --------------------------------------------------------------------------
# corpus_prepare: raw documents with planted duplicates, junk and overlaps

SPAN = 10  # the pipeline's line-dedup span width (words)


def _clean_ok(words: list[str]) -> bool:
    """Margin check on the filter signals a clean doc must pass easily:
    top-word share and duplicated 2/3-gram shares well under the Gopher
    limits (0.15 / 0.10 / 0.05)."""
    n = len(words)
    if max(Counter(words).values()) / n > 0.08:
        return False
    for g, lim in ((2, 0.03), (3, 0.01)):
        grams = Counter(zip(*(words[i:] for i in range(g))))
        dup = sum(c for c in grams.values() if c >= 2)
        if dup / max(1, n - g + 1) > lim:
            return False
    return True


def gen_corpus(root: str, seed: int) -> tuple[dict, int]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus_prepare:{seed}")
    vocabs = {lg: _vocab(random.Random(f"vocab:{lg}"), 4000, 3, 9)
              for lg in LANGS}
    weights = _zipf_weights(4000, 0.7)

    def lines(lg: str, n_lines: int) -> list[str]:
        out = []
        for _ in range(n_lines):
            ws = rng.choices(vocabs[lg], weights, k=SPAN)
            ws[-1] += "."
            out.append(" ".join(ws))
        return out

    def clean_lines(lg: str) -> list[str]:
        while True:
            ls = lines(lg, rng.randint(8, 16))
            if _clean_ok(" ".join(ls).split()):
                return ls

    boiler = {lg: lines(lg, 6) for lg in LANGS}
    bench_docs = [" ".join(lines(rng.choice(LANGS), 6)) for _ in range(40)]
    bench_shingles = set()
    for t in bench_docs:
        w = t.split()
        bench_shingles.update(zip(*(w[i:] for i in range(5))))

    # (category, lang, text, tag); ids are assigned afterwards so that
    # every planted copy gets a higher id than its original
    docs: list[list] = []
    originals = []
    with_boiler = _shuffled(rng, [True] * 3 + [False] * 17, CORPUS_CLEAN)
    for boiled in with_boiler:
        lg = rng.choice(LANGS)
        while True:
            ls = clean_lines(lg)
            w = " ".join(ls).split()
            if not set(zip(*(w[i:] for i in range(5)))) & bench_shingles:
                break
        if boiled:
            ls.append(rng.choice(boiler[lg]))  # shared boilerplate line
            docs.append(["clean_boiler", lg, ls, None])
        else:
            docs.append(["clean", lg, ls, None])
            originals.append(len(docs) - 1)
    rng.shuffle(originals)
    n_orig = len(originals)
    exact_src = originals[: n_orig // 12]
    shift_src = originals[n_orig // 12: n_orig // 8]
    line_src = originals[n_orig // 8: n_orig // 6]
    contam_src = originals[n_orig // 6: n_orig // 6 + 25]
    copies = []
    for i, n_copies in zip(exact_src, _shuffled(rng, [1, 2, 3],
                                                len(exact_src))):
        for _ in range(n_copies):
            copies.append(["exact_dup", docs[i][1], list(docs[i][2]), i])
    for i in shift_src:
        # one word inserted up front: every span shifts, so line dedup
        # keeps it and the doc-level near-dup pass must catch it
        ls = list(docs[i][2])
        ls[0] = rng.choice(vocabs[docs[i][1]]) + " " + ls[0]
        copies.append(["near_shift", docs[i][1], ls, i])
    for i in line_src:
        # one whole span changed: line dedup strips the shared spans
        ls = list(docs[i][2])
        ls[rng.randrange(len(ls))] = lines(docs[i][1], 1)[0]
        copies.append(["near_line", docs[i][1], ls, i])
    for j, i in enumerate(contam_src):
        # a 15-word passage of one benchmark doc, each passage used once
        bw = bench_docs[j].split()
        docs[i][0] = "contaminated"
        docs[i][2] = docs[i][2][:3] + [" ".join(bw[10:25])] + docs[i][2][3:]
    junk = []
    for _ in range(CORPUS_CLEAN // 12):
        lg = rng.choice(LANGS)
        kind = rng.randrange(4)
        if kind == 0:  # too short for C4 (< 20 words)
            ls = [" ".join(rng.choices(vocabs[lg], k=rng.randint(5, 15)))]
        elif kind == 1:  # C4 blacklist phrase
            ls = lines(lg, 8)
            ls.insert(2, "please enable javascript to view this page")
        elif kind == 2:  # Gopher: one word dominates
            w = rng.choice(vocabs[lg])
            ls = [" ".join([w] * 60 + rng.choices(vocabs[lg], k=40))]
        else:  # C4: mostly non-alphabetic tokens
            ls = [" ".join(str(rng.randint(0, 99999)) for _ in range(80))]
        junk.append(["junk", lg, ls, None])

    # ids: originals first (shuffled), then copies and junk interleaved
    order = list(range(len(docs)))
    rng.shuffle(order)
    rows = [docs[i] + [i] for i in order]
    tail = [c + [None] for c in copies + junk]
    rng.shuffle(tail)
    rows += tail
    pos_of_src = {}
    ids, texts, langs = [], [], []
    expect: dict[str, list] = {
        "clean": [], "clean_boiler": [], "contaminated": [], "junk": [],
        "exact_groups": {}, "near_shift": [], "near_line": [],
    }
    for doc_id, (cat, lg, ls, src, own) in enumerate(rows, start=1):
        text = " ".join(ls)
        ids.append(doc_id)
        texts.append(text)
        langs.append(lg)
        if own is not None:
            pos_of_src[own] = doc_id
        if cat in ("clean", "clean_boiler", "contaminated", "junk"):
            expect[cat].append(doc_id)
        elif cat == "exact_dup":
            expect["exact_groups"].setdefault(str(pos_of_src[src]), []).append(
                doc_id)
        elif cat == "near_shift":
            expect["near_shift"].append([pos_of_src[src], doc_id])
        else:
            expect["near_line"].append([pos_of_src[src], doc_id, text])
    expect["boilerplate"] = sorted(b for lg in LANGS for b in boiler[lg])
    inp = os.path.join(root, "input")
    os.makedirs(inp)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts,
                  "lang": langs}),
        os.path.join(inp, "docs.parquet"),
    )
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(bench_docs)), pa.int64()),
                  "text": bench_docs}),
        os.path.join(inp, "benchmark.parquet"),
    )
    return expect, len(ids)


# --------------------------------------------------------------------------
# embedding_knn: clustered embeddings + a 1% query batch


def gen_knn(root: str, seed: int) -> tuple[dict, int]:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(KNN_CLUSTERS, KNN_DIMS))

    def points(n: int):
        lab = rng.integers(0, KNN_CLUSTERS, size=n)
        v = centers[lab] + 0.35 * rng.normal(size=(n, KNN_DIMS))
        # 4 decimals on disk keeps files small and values exact in text
        return np.round(v, 4)

    n_q = KNN_VECTORS // 100
    corpus, queries = points(KNN_VECTORS), points(n_q)
    inp = os.path.join(root, "input")
    os.makedirs(inp)
    for name, arr, first in (("corpus", corpus, 0), ("queries", queries,
                                                     10_000_000)):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(first, first + len(arr)),
                                   pa.int64()),
                "embedding": pa.array(list(arr), pa.list_(pa.float64())),
            }),
            os.path.join(inp, f"{name}.parquet"),
        )
    return {"k": 10, "n_queries": n_q}, KNN_VECTORS + n_q


GENERATORS = {
    "import": gen_import,
    "rebuild": gen_rebuild,
    "corpus": gen_corpus,
    "knn": gen_knn,
}

CACHE_KEEP = 4  # cached seeds kept per workload


def prepare_inputs(cache_root: str, workload: str, steps: list[str],
                   seed: int) -> dict:
    """Generate (or reuse) the inputs of every step of ``workload`` for
    ``seed``. Returns {"dir", "steps": {step: {"input", "expected",
    "rows"}}, "fingerprint", "cached"}."""
    key = f"{workload}-s{seed}-g{GEN_VERSION}"
    final = os.path.join(cache_root, key)
    meta_path = os.path.join(final, "meta.json")
    cached = os.path.exists(meta_path)
    if not cached:
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = {"steps": {}}
        for step in steps:
            sdir = os.path.join(tmp, step)
            os.makedirs(sdir)
            expected, rows = GENERATORS[step](sdir, seed)
            with open(os.path.join(sdir, "expected.json"), "w") as f:
                json.dump(expected, f)
            meta["steps"][step] = {"rows": rows}
        meta["fingerprint"] = fingerprint(
            tmp, sum(s["rows"] for s in meta["steps"].values()),
            [os.path.join(step, "input") for step in steps])
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _prune(cache_root, workload, keep=final)
    with open(meta_path) as f:
        meta = json.load(f)
    out = {"dir": final, "fingerprint": meta["fingerprint"],
           "cached": cached, "steps": {}}
    for step in steps:
        with open(os.path.join(final, step, "expected.json")) as f:
            expected = json.load(f)
        out["steps"][step] = {
            "input": os.path.join(final, step, "input"),
            "expected": expected,
            "rows": meta["steps"][step]["rows"],
        }
    return out


def _prune(cache_root: str, workload: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, e) for e in os.listdir(cache_root)
        if e.startswith(workload + "-s") and not e.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[CACHE_KEEP:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)

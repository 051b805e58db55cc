"""Canonical → rebuilt ("solr") pipeline, Spark-first.

Replaces the reference's driver-side loop + Dask bag pipeline
(ref: rebuilders/rebuilder.py:155-292 ``filter_and_process_cis`` /
``rebuild_issues``) with ONE distributed job:

    issues ⨝ supports (cogrouped by issue id, one shuffle)
        → per-issue UDTF: rejoin CIs (J3/J4) + assemble fulltext (W3/W4)
        → rebuilt rows with errors-as-data columns (F5/S15)

Scale posture: issues are independent units of a few MB each — the cogroup
key (issue id) is high-cardinality and unskewed, so this is one even
shuffle of the pages table; at 100 TB both sides can additionally be
bucketed by issue id at write time to make the cogroup shuffle-free.
All CI-level joins the reference hand-rolls in Python dict scans
(ref: paper_rebuilders.py:285-313 page lookup + pOf region filter) happen
inside the task against a single issue's data.
"""

from __future__ import annotations

import datetime
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from impresso_ta.schemas import REBUILT_CI_SCHEMA, TYPE_MAPPINGS
from impresso_ta.rebuild.text import rebuild_audio_text, rebuild_text

# Rebuilt schema + errors-as-data columns (never throw per-record; the
# reference logs and continues — ref: core.py:110-146, helpers.py:52-77).
REBUILT_WITH_ERRORS_SCHEMA = StructType(
    REBUILT_CI_SCHEMA.fields
    + [
        StructField("has_problem", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)


def _find_support(supports: list[dict], marker: str) -> Optional[dict]:
    """Find the support doc whose id contains e.g. ``p0004`` (ref:
    paper_rebuilders.py:290-295 substring match, first hit)."""
    for doc in supports:
        if marker in (doc.get("id") or ""):
            return doc
    return None


def _consensus_cc(docs: list[dict]) -> Optional[bool]:
    """cc = mean(support.cc) == 1.0; None when any cc missing (ref:
    paper_rebuilders.py:315-319)."""
    try:
        ccs = [bool(d["cc"]) for d in docs]
        if not ccs:
            return None
        return sum(ccs) / len(ccs) == 1.0
    except (KeyError, TypeError):
        return None


def _base_solr_ci(
    ci: dict, issue: dict, ts: Optional[str]
) -> tuple[dict, Optional[str], Optional[str]]:
    """Metadata part of the rebuilt CI (ref: rebuilders/helpers.py:176-259
    ``rebuild_for_solr``). Returns (solr_ci, mapped_type, language)."""
    m = ci["m"]
    ci_id = m["id"]
    # Parse from the right: aliases may themselves contain dashes
    # (functions/ids.py supports them), so the last 5 components are
    # (yyyy, mm, dd, edition, ciNNNN) and everything before is the alias.
    year, month, day, _, ci_num = ci_id.split("-")[-5:]
    d = datetime.date(int(year), int(month), int(day)).isoformat()

    tp = m.get("tp")
    mapped_type = TYPE_MAPPINGS.get(tp, tp)
    lang = m.get("lg")
    reading_order = m["ro"] if m.get("ro") is not None else int(ci_num[1:])
    st = issue.get("st")
    sm = issue.get("sm")
    is_audio = sm == "audio"
    has_olr = not (mapped_type is None or st == "radio_broadcast")

    solr_ci: dict[str, Any] = {
        "id": ci_id,
        "ts": ts,
        "d": d,
        "cc": True if is_audio else ci.get("_cc"),
        "olr": has_olr,
        "st": st,
        "sm": sm,
        "lg": lang,
        "tp": mapped_type,
        "ro": reading_order,
        "title": m.get("t"),
        "var_t": m.get("var_t"),
        "archival_note": m.get("archival_note"),
        "rp": issue.get("rp") if st == "radio_broadcast" else None,
        "rc": issue.get("rc") if st == "radio_broadcast" else None,
    }
    if is_audio:
        solr_ci["rr"] = sorted({int(r) for r in (m.get("rr") or [])})
    else:
        solr_ci["pp"] = sorted({int(p) for p in (m.get("pp") or [])})
    return solr_ci, mapped_type, lang


def _reconstruct_iiif_link(ci: dict) -> Optional[str]:
    """Image-CI IIIF link (ref: helpers.py:441-485). Python twin of
    functions/iiif.py for use inside the UDTF."""
    import posixpath

    from impresso_ta.functions.iiif import (
        DEFAULT_IMG_SUFFIX,
        IIIF_ENDPOINT_BASE_2_SUFFIX,
    )

    m = ci.get("m") or {}
    iiif = m.get("iiif_link") or ci.get("iiif_link")
    coords = ci.get("c") or m.get("c")
    if not iiif or not coords:
        return None
    coords_str = ",".join(str(int(c)) for c in coords)
    uri_base, old_suffix = posixpath.split(iiif)
    img_suffix = DEFAULT_IMG_SUFFIX
    for base, suffix in IIIF_ENDPOINT_BASE_2_SUFFIX.items():
        if base in uri_base:
            img_suffix = suffix
    if old_suffix == "default.jpg":
        if coords_str in iiif and img_suffix in iiif:
            return iiif
        uri_base = "/".join(uri_base.split("/")[:-3])
    return posixpath.join(uri_base, coords_str, img_suffix)


def rebuild_issue_cis(
    issue: dict,
    supports: list[dict],
    ts: Optional[str] = None,
    default_language: Optional[str] = None,
) -> Iterable[dict]:
    """Rebuild every content item of one issue (pure Python, one task).

    ``supports`` are the issue's canonical page docs (print) or audio
    record docs (audio), in any order. Yields rebuilt-CI dicts with
    ``has_problem``/``error`` set instead of raising.
    """
    is_audio = issue.get("sm") == "audio"
    supports = sorted(supports, key=lambda d: d.get("id") or "")

    for ci in issue.get("i") or []:
        m = ci.get("m") or {}
        ci_id = m.get("id") or f"{issue.get('id')}-i????"
        try:
            solr_ci, mapped_type, lang = _base_solr_ci(
                {**ci, "_cc": None}, issue, ts
            )
            if lang is None and default_language is not None:
                # opt-in divergence from the reference: without a language
                # the whitespace rules return None (tokens glue together);
                # a corpus-level default keeps rebuilt text usable
                lang = default_language
                solr_ci["lg"] = default_language
            nos = solr_ci["rr"] if is_audio else solr_ci["pp"]
            prefix = "r" if is_audio else "p"

            found: list[dict] = []
            missing: list[str] = []
            for no in nos:
                marker = f"{prefix}{str(no).zfill(4)}"
                doc = _find_support(supports, marker)
                if doc is None:
                    missing.append(marker)
                else:
                    found.append(doc)
            if missing:
                solr_ci["has_problem"] = True
                solr_ci["error"] = (
                    f"{'Audio' if is_audio else 'Page'} {','.join(missing)} "
                    f"not found for item {ci_id}"
                )
                yield solr_ci
                continue

            if is_audio:
                # stt/dur of the first record of the CI (ref:
                # helpers.py:348-351); cc is True by default for audio.
                # ``found`` is id-resolved (not positional): with a sparse
                # record set (e.g. r0002/r0003 and no r0001) positional
                # ``supports[no-1]`` would read the wrong record.
                if found:
                    rec = found[0]
                    solr_ci["stt"] = rec.get("stt")
                    solr_ci["dur"] = rec.get("dur")
            else:
                solr_ci["cc"] = _consensus_cc(found)

            if mapped_type == "img":
                solr_ci["iiif_link"] = _reconstruct_iiif_link(ci)
                solr_ci["has_problem"] = False
                solr_ci["error"] = None
                yield solr_ci
                continue

            issue_id = issue.get("id")
            fulltext = ""
            if is_audio:
                ssb: list[int] = []
                ub: list[int] = []
                sb: list[int] = []
                rreb = []
                for no in nos:
                    marker = f"r{str(no).zfill(4)}"
                    rec = _find_support(supports, marker)
                    sections = [
                        s
                        for s in (rec.get("s") or [])
                        if s.get("pOf") == ci_id
                    ]
                    fulltext, coords, offsets = rebuild_audio_text(
                        sections, lang, fulltext or None
                    )
                    ssb += offsets["speech_seg"]
                    ub += offsets["utterance"]
                    sb += offsets["section"]
                    rreb.append(
                        {
                            "id": f"{issue_id}-{marker}",
                            "n": no,
                            "t": coords["tokens"],
                            "u": coords["utterances"],
                            "s": coords["sections"],
                        }
                    )
                solr_ci.update(
                    {"ssb": ssb, "ub": ub, "sb": sb, "rreb": rreb, "ft": fulltext}
                )
            else:
                lb: list[int] = []
                pb: list[int] = []
                rb: list[int] = []
                ppreb = []
                for no in nos:
                    marker = f"p{str(no).zfill(4)}"
                    page = _find_support(supports, marker)
                    regions = [
                        r
                        for r in (page.get("r") or [])
                        if r.get("pOf") == ci_id
                    ]
                    fulltext, coords, offsets = rebuild_text(
                        regions, lang, fulltext or None
                    )
                    lb += offsets["line"]
                    pb += offsets["para"]
                    rb += offsets["region"]
                    ppreb.append(
                        {
                            "id": f"{issue_id}-{marker}",
                            "n": no,
                            "t": coords["tokens"],
                            "r": coords["regions"],
                        }
                    )
                solr_ci.update(
                    {"lb": lb, "pb": pb, "rb": rb, "ppreb": ppreb, "ft": fulltext}
                )

            solr_ci["has_problem"] = False
            solr_ci["error"] = None
            yield solr_ci
        except Exception as exc:  # noqa: BLE001 — errors-as-data, never throw
            yield {
                "id": ci_id,
                "has_problem": True,
                "error": f"{type(exc).__name__}: {exc}",
            }


_FIELD_NAMES = [f.name for f in REBUILT_WITH_ERRORS_SCHEMA.fields]


def json_rebuild_input(joined: DataFrame) -> DataFrame:
    """Collapse the issue+supports row to ONE JSON string column.

    The UDTF input crosses the JVM→Python boundary as text, not as nested
    Arrow structs: ``to_json`` runs inside whole-stage codegen and
    ``json.loads`` is a C parser, while ``RecordBatch.to_pylist()`` on the
    deeply-nested token tree walks it value-by-value in Python — measured
    6× slower at sf0.1 (6.0s vs 1.0s for 5k issues, single-threaded).
    ``to_json`` also drops null fields, which matches the canonical JSON
    convention rebuild/text.py already assumes (absent == None) and
    shrinks the transferred bytes.
    """
    return joined.select(F.to_json(F.struct(*joined.columns)).alias("js"))


def _rebuild_udtf(ts: Optional[str], arrow_schema, default_language: Optional[str] = None):
    """Batch-level mapInArrow function over JSON-encoded issues with
    attached supports (see ``json_rebuild_input``).

    One Python roundtrip per Arrow batch (~thousands of issues), not per
    issue — the per-key applyInPandas cogroup was measured ~3× slower on
    small-issue corpora (each key pays a full pandas/Arrow cycle).
    """
    import json

    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            out: list[dict] = []
            for js in batch.column(0).to_pylist():
                issue = json.loads(js)
                supports = issue.pop("_supports", None) or []
                for ci in rebuild_issue_cis(
                    issue, supports, ts=ts, default_language=default_language
                ):
                    out.append({k: ci.get(k) for k in _FIELD_NAMES})
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return fn


def support_issue_id(id_col):
    """Derive the issue id from a support id (``...-a-p0004`` → ``...-a``)."""
    return F.regexp_replace(id_col, "-[pr][0-9]{4}$", "")


def rebuild_issues_solr(
    issues_df: DataFrame,
    supports_df: DataFrame,
    ts: Optional[str] = None,
    default_language: Optional[str] = None,
) -> DataFrame:
    """Rebuild all CIs: supports grouped per issue (J2, one shuffle),
    joined to issues (co-partitioned on the same key), then ONE
    batch-level UDTF pass.

    ``issues_df`` rows follow ISSUE_SCHEMA; ``supports_df`` rows follow
    PAGE_SCHEMA or AUDIO_RECORD_SCHEMA. Returns REBUILT_WITH_ERRORS_SCHEMA;
    split problem rows with ``split_errors``.
    """
    # Only the fields the assembly actually reads ride the shuffle —
    # cdt/ts/st/sm/iiif/notes etc. are dead weight in the grouped join
    # (the r/s token trees dominate, but header pruning still trims the
    # per-row payload and, at 100 TB, the scan itself via column pruning).
    _USED = {"id", "cc", "r", "stt", "dur", "s"}
    support_cols = [
        F.col(f.name)
        for f in supports_df.schema.fields
        if f.name in _USED
    ]
    # A store that already carries issue_id (e.g. written bucketed by it,
    # see sinks.write_pages_bucketed) keeps its bucketing through the
    # groupBy — the shuffle disappears. Otherwise derive the key.
    if "issue_id" in supports_df.columns:
        # bucketed-store path: the existing layout (possibly bucketed by
        # issue_id) satisfies the groupBy — adding a repartition here
        # would reintroduce the shuffle the bucketing removed (tested)
        keyed = supports_df
    else:
        # Pin the grouping exchange with an explicit keyed repartition:
        # the groupBy reuses it (ClusteredDistribution(issue_id) is
        # satisfied — ONE shuffle either way), but a user-specified
        # partition count is exempt from AQE partition coalescing. AQE
        # sizes partitions by shuffle BYTES, and the downstream assembly
        # UDTF's cost is per-ROW compute (token-tree JSON assembly), so
        # byte-sized coalescing can serialize it: on the zipfian sf1
        # profile (1024 issues, ~50 docs each) AQE collapsed the join
        # output to ONE task — 34.8 s vs 11.2 s with the exchange pinned.
        # collect_list has no byte-reducing map-side combine, so nothing
        # is lost by aggregating after the exchange.
        keyed = supports_df.withColumn(
            "issue_id", support_issue_id(F.col("id"))
        )
        keyed = keyed.repartition(
            int(
                keyed.sparkSession.conf.get("spark.sql.shuffle.partitions")
            ),
            "issue_id",
        )
    grouped_supports = keyed.groupBy("issue_id").agg(
        F.collect_list(F.struct(*support_cols)).alias("_supports")
    )
    joined = issues_df.join(
        grouped_supports,
        issues_df["id"] == grouped_supports["issue_id"],
        "left",
    ).drop("issue_id")
    from pyspark.sql.pandas.types import to_arrow_schema

    return json_rebuild_input(joined).mapInArrow(
        _rebuild_udtf(
            ts,
            to_arrow_schema(REBUILT_WITH_ERRORS_SCHEMA),
            default_language=default_language,
        ),
        schema=REBUILT_WITH_ERRORS_SCHEMA,
    )


def rebuild_issues_solr_ci(
    issues_df: DataFrame,
    supports_df: DataFrame,
    ts: Optional[str] = None,
    default_language: Optional[str] = None,
) -> DataFrame:
    """CI-level twin of :func:`rebuild_issues_solr` — identical output,
    assembly keyed by CONTENT ITEM instead of issue.

    The issue-level plan's unit of work is one issue: a zipfian corpus
    where one national daily's issue holds thousands of pages serializes
    that issue's whole assembly into one task (measured tail 6x median
    on the sf1 zipfian profile). But the assembly only ever reads, per
    CI, the regions whose ``pOf`` names that CI on the pages in its
    ``pp`` list — so the atomic unit is really the CI:

    - region rows (the wide payload) shuffle ONCE keyed by
      (issue_id, pOf) — each region goes to exactly one CI, zero
      duplication, and the groupBy reuses the pinned partitioning;
    - page presence/metadata (id, cc, stt, dur — a few narrow columns)
      joins CI↔page pairs separately, so missing-page errors and the
      cc consensus see exactly the pages the issue-level path sees;
    - the Python assembly is byte-identical: each output row runs
      :func:`rebuild_issue_cis` on a single-CI issue whose supports
      carry only that CI's regions — the in-task ``pOf`` filter then
      keeps everything (idempotent).

    Group size becomes regions-per-CI — bounded by article length,
    never by issue fatness — which is what makes the tail flat at any
    corpus skew. Use this form when the alias/issue-size distribution
    is heavy-tailed; the issue-level form remains the default for its
    bucketed-store shuffle-free path.
    """
    n_parts = int(
        issues_df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    support_fields = {f.name for f in supports_df.schema.fields}
    is_audio_store = "s" in support_fields and "r" not in support_fields

    # --- one row per CI, issue header attached (narrow) ---------------
    header = [
        c for c in ("id", "st", "sm", "rp", "rc") if c in issues_df.columns
    ]
    cis = issues_df.select(
        *[F.col(c).alias(f"_iss_{c}") for c in header],
        F.explode("i").alias("_ci"),
    ).withColumn("_ci_id", F.col("_ci.m.id"))
    # sm / pp / rr are optional in the canonical schema (the issue-level
    # twin reads them as dict keys that may be absent) — guard on
    # column/field presence so a print-only store without `sm`, or a CI
    # struct carrying only one of pp/rr, still plans (mirrors the
    # `if c in issues_df.columns` header guard above).
    if "sm" in issues_df.columns:
        prefix = F.when(F.col("_iss_sm") == "audio", F.lit("r")).otherwise(
            F.lit("p")
        )
    else:
        prefix = F.lit("p")
    ci_m_fields = {
        f.name
        for f in issues_df.schema["i"].dataType.elementType["m"].dataType.fields
    }
    no_sources = [
        F.col(f"_ci.m.{c}") for c in ("pp", "rr") if c in ci_m_fields
    ]
    nos = F.array_sort(
        F.array_distinct(F.coalesce(*no_sources, F.array()))
    )
    markers = F.transform(
        nos,
        lambda no: F.concat(
            prefix, F.lpad(no.cast("string"), 4, "0")
        ),
    )
    cis = cis.withColumn("_markers", markers)

    # --- page/record presence + narrow metadata per (CI, marker) ------
    meta_cols = [
        F.col(c)
        for c in ("id", "cc", "stt", "dur")
        if c in support_fields
    ]
    page_meta = supports_df.select(
        support_issue_id(F.col("id")).alias("_sup_issue"),
        F.regexp_extract(F.col("id"), "([pr][0-9]{4})$", 1).alias(
            "_sup_marker"
        ),
        F.struct(*meta_cols).alias("_pm"),
    )
    pairs = cis.select(
        F.col("_iss_id"), F.col("_ci_id"), F.explode("_markers").alias("_mk")
    )
    found = (
        pairs.join(
            page_meta,
            (pairs["_iss_id"] == page_meta["_sup_issue"])
            & (pairs["_mk"] == page_meta["_sup_marker"]),
        )
        .groupBy("_iss_id", "_ci_id")
        .agg(
            F.collect_list(F.struct(F.col("_mk"), F.col("_pm"))).alias(
                "_found"
            )
        )
    )

    # --- the wide payload: region (or audio-section) rows keyed by the
    #     CI that owns them; ONE pinned exchange, reused by the groupBy
    payload_col, pof = ("s", "s") if is_audio_store else ("r", "r")
    regs = (
        supports_df.select(
            support_issue_id(F.col("id")).alias("_r_issue"),
            F.regexp_extract(F.col("id"), "([pr][0-9]{4})$", 1).alias(
                "_r_marker"
            ),
            # posexplode: region order within a page is SEMANTIC — the
            # assembly concatenates a CI's regions in file order, and
            # collect_list after a shuffle guarantees no order; the UDTF
            # re-sorts by (marker, pos)
            F.posexplode(payload_col).alias("_r_pos", "_reg"),
        )
        .withColumn("_r_pof", F.col("_reg.pOf"))
        .repartition(n_parts, "_r_issue", "_r_pof")
        .groupBy("_r_issue", "_r_pof")
        .agg(
            F.collect_list(
                F.struct(F.col("_r_marker"), F.col("_r_pos"), F.col("_reg"))
            ).alias("_regs")
        )
    )

    assembled = cis.join(
        found, on=["_iss_id", "_ci_id"], how="left"
    ).join(
        regs,
        (F.col("_iss_id") == F.col("_r_issue"))
        & (F.col("_ci_id") == F.col("_r_pof")),
        "left",
    ).drop("_r_issue", "_r_pof", "_markers")

    from pyspark.sql.pandas.types import to_arrow_schema

    return json_rebuild_input(assembled).mapInArrow(
        _rebuild_ci_udtf(
            ts,
            to_arrow_schema(REBUILT_WITH_ERRORS_SCHEMA),
            header,
            "s" if is_audio_store else "r",
            default_language=default_language,
        ),
        schema=REBUILT_WITH_ERRORS_SCHEMA,
    )


def _rebuild_ci_udtf(
    ts: Optional[str],
    arrow_schema,
    header: list[str],
    payload_field: str,
    default_language: Optional[str] = None,
):
    """Batch UDTF over single-CI rows (see rebuild_issues_solr_ci):
    reconstructs a one-CI issue dict + its pruned supports and delegates
    to the SAME ``rebuild_issue_cis`` the issue-level path runs."""
    import json

    import pyarrow as pa

    def fn(batches):
        for batch in batches:
            out: list[dict] = []
            for js in batch.column(0).to_pylist():
                row = json.loads(js)
                issue = {
                    h: row.get(f"_iss_{h}") for h in header
                }
                issue["i"] = [row.get("_ci") or {}]
                by_marker: dict[str, list] = {}
                for entry in sorted(
                    row.get("_regs") or [],
                    key=lambda e: (e["_r_marker"], e["_r_pos"]),
                ):
                    by_marker.setdefault(entry["_r_marker"], []).append(
                        entry["_reg"]
                    )
                supports = []
                for f_entry in row.get("_found") or []:
                    pm = dict(f_entry.get("_pm") or {})
                    pm[payload_field] = by_marker.get(f_entry["_mk"], [])
                    supports.append(pm)
                for ci in rebuild_issue_cis(
                    issue, supports, ts=ts, default_language=default_language
                ):
                    out.append({k: ci.get(k) for k in _FIELD_NAMES})
            yield pa.RecordBatch.from_pylist(out, schema=arrow_schema)

    return fn


def split_errors(rebuilt_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """F5: split problem-free CIs from the error channel
    (ref: helpers.py:52-77 + rebuilder.py:206-212). Serves both rebuild
    formats (Solr and passim share the ``has_problem``/``error`` columns).

    ``rebuilt_df`` is lazily local-checkpointed before the split, so the
    read, shuffle and assembly run once for both outputs and any later
    action on them: the first action keeps every partition as
    MEMORY_AND_DISK executor blocks (partitions it did not need are
    filled in by a follow-up job) and the ContextCleaner frees them once
    the frames are garbage collected. ``persist`` is not used because no
    caller ever calls ``unpersist`` on the split, so a persisted frame
    would stay in the session's cache manager for the life of the
    session. The rebuild plan has a shuffle, so under AQE the checkpoint
    call itself runs the shuffle map stage; that time moves out of the
    sinks rather than being added. Like ``operators.graph``'s
    checkpoints, the blocks are lost with their executor, and a lost
    block fails the consuming job instead of recomputing.
    """
    rebuilt_df = rebuilt_df.localCheckpoint(eager=False)
    ok = rebuilt_df.filter(~F.col("has_problem")).drop("has_problem", "error")
    errors = rebuilt_df.filter(F.col("has_problem")).select(
        F.col("id").alias("canonical_path"),
        F.lit("rebuild").alias("stage"),
        F.coalesce(F.col("error"), F.lit("unknown")).alias("error"),
    )
    return ok, errors

"""Parity: the fully distributed import (binaryFile bytes → per-issue
grouping → executor-local materialization → unchanged plugin) vs the
POSIX walk + executor-open path, on the same METS/ALTO tree — identical
canonical issues/pages/errors. Also pins the scale shape: ONE exchange
carries the file bytes (the window's clustering on the date key is a
subset of the groupBy key, so the groupBy reuses it)."""

from impresso_ta.importers import import_issues
from impresso_ta.importers.base import import_issues_distributed
from impresso_ta.sources.discovery import detect_issues

from test_importer_mets_alto import ALTO_PAGE, METS


def _tree(tmp_path):
    for alias, y, m, d, ed in [
        ("GAZ", 1900, 1, 2, "a"),
        ("GAZ", 1900, 1, 2, "b"),  # second edition, same date
        ("ABC", 1901, 5, 6, None),  # editionless date dir
    ]:
        issue_dir = tmp_path / alias / f"{y:04d}" / f"{m:02d}" / f"{d:02d}"
        if ed:
            issue_dir = issue_dir / ed
        (issue_dir / "text").mkdir(parents=True)
        (issue_dir / "issue-mets.xml").write_text(METS)
        (issue_dir / "text" / "0001.xml").write_text(ALTO_PAGE)
    # broken issue: dir exists with a stray file but no METS
    broken = tmp_path / "GAZ" / "1900" / "01" / "04" / "a"
    broken.mkdir(parents=True)
    (broken / "stray.txt").write_text("x")
    return str(tmp_path)


def _canon(res):
    issues = sorted(
        (r["id"], tuple(ci["m"]["id"] for ci in r["i"]))
        for r in res.issues.select("id", "i").collect()
    )
    pages = sorted(
        (r["id"], len(r["r"])) for r in res.pages.select("id", "r").collect()
    )
    errors = sorted(r["canonical_path"] for r in res.errors.collect())
    return issues, pages, errors


def test_distributed_import_matches_posix(spark, tmp_path):
    base = _tree(tmp_path)
    posix = import_issues(
        detect_issues(spark, base, "mets_alto"), ts="2024-01-01T00:00:00Z"
    )
    dist = import_issues_distributed(
        spark, base, "mets_alto", ts="2024-01-01T00:00:00Z"
    )
    assert _canon(posix) == _canon(dist)
    # both see the broken issue as an error row, not a task failure
    assert posix.errors.count() == 1 and dist.errors.count() == 1


def test_distributed_import_single_byte_shuffle(spark, tmp_path):
    """The file BYTES are read once and cross exactly one exchange (the
    per-issue groupBy); the edition election runs on a SECOND, bytes-free
    listing (content pruned from its ReadSchema) that joins back as a
    broadcast — so no byte row ever passes a window sort or a second
    shuffle."""
    base = _tree(tmp_path)
    dist = import_issues_distributed(
        spark, base, "mets_alto", ts="2024-01-01T00:00:00Z"
    )
    # the split frames' plans start at the fan-out's checkpointed RDD, and
    # the checkpoint has already run the unsplit frame's adaptive plan:
    # inspect that frame's initial (pre-reoptimization) physical plan
    plan = (
        dist.combined._jdf.queryExecution()
        .executedPlan()
        .initialPlan()
        .toString()
    )
    # one hash exchange on the bytes branch + one on the tiny election
    # branch; the election joins back via broadcast
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    # bytes are read by exactly one of the two binaryFile scans
    read_schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    with_content = [s for s in read_schemas if "content" in s]
    assert len(with_content) == 1, read_schemas


def test_files_udtf_needs_no_source_tree():
    """The parse stage depends ONLY on the bytes in the row — no source
    path exists at all (the non-POSIX-store guarantee): feed the UDTF a
    row whose files reference a directory that was never on disk."""
    import datetime

    import pandas as pd

    from impresso_ta.importers.base import _import_files_udtf

    row = {
        "alias": "GAZ",
        "date": datetime.date(1900, 1, 2),
        "edition": "a",
        "format": "mets_alto",
        "files": [
            {"relpath": "issue-mets.xml", "content": METS.encode()},
            {"relpath": "text/0001.xml", "content": ALTO_PAGE.encode()},
        ],
    }
    (out,) = list(_import_files_udtf("2024-01-01T00:00:00Z")([pd.DataFrame([row])]))
    rec = out.iloc[0]
    assert rec["error"] is None
    assert rec["issue"]["id"] == "GAZ-1900-01-02-a"
    assert len(rec["pages"]) == 1


def test_files_udtf_rejects_traversal():
    """A hostile relpath (escaping the scratch dir) becomes an ERROR ROW,
    never a write outside the sandbox."""
    import datetime

    import pandas as pd

    from impresso_ta.importers.base import _import_files_udtf

    row = {
        "alias": "GAZ",
        "date": datetime.date(1900, 1, 2),
        "edition": "a",
        "format": "mets_alto",
        "files": [{"relpath": "../../evil.xml", "content": b"x"}],
    }
    (out,) = list(_import_files_udtf(None)([pd.DataFrame([row])]))
    assert "unsafe relpath" in out.iloc[0]["error"]

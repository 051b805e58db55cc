"""The import and rebuild fan-outs run their Python pass once per job.

After the first sink has run, the inputs are deleted; every remaining
consumer must still see the full, correct result. A consumer that re-ran
the METS/ALTO parse would turn every issue into an error row (POSIX
route) or fail on the missing files (distributed route); one that re-ran
the rebuild would fail on the missing store."""

import json
import os
import shutil

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.importers.base import import_issues_distributed
from impresso_ta.rebuild.solr import rebuild_issues_solr, split_errors
from impresso_ta.schemas import ISSUE_SCHEMA, PAGE_SCHEMA
from impresso_ta.sources import (
    detect_issues,
    manifest_stats,
    read_issues,
    read_pages,
    write_errors,
    write_issues,
    write_pages,
    write_rebuilt,
)

from test_importer_mets_alto import ALTO_PAGE, METS
from tests.fixtures import content_item, simple_issue_and_pages

TS = "2024-01-01T00:00:00Z"
IMPORT_ISSUES = [("GAZ", 1900, 1, d) for d in range(2, 8)] + [
    ("ABC", 1901, 5, d) for d in range(6, 10)
]
IMPORT_BROKEN = "GAZ-1900-01-20-a"


def _mets_alto_tree(base):
    for alias, y, m, d in IMPORT_ISSUES:
        issue_dir = os.path.join(
            base, alias, f"{y:04d}", f"{m:02d}", f"{d:02d}", "a"
        )
        os.makedirs(os.path.join(issue_dir, "text"))
        with open(os.path.join(issue_dir, "issue-mets.xml"), "w") as f:
            f.write(METS)
        with open(os.path.join(issue_dir, "text", "0001.xml"), "w") as f:
            f.write(ALTO_PAGE)
    # planted error: an issue dir with a stray file but no METS
    broken = os.path.join(base, "GAZ", "1900", "01", "20", "a")
    os.makedirs(broken)
    with open(os.path.join(broken, "stray.txt"), "w") as f:
        f.write("x")


def _error_paths(spark, path):
    return sorted(
        r["value"].split(": ", 1)[0] for r in spark.read.text(path).collect()
    )


@pytest.mark.parametrize("route", ["posix", "distributed"])
def test_import_parses_once(spark, tmp_path, route):
    base, out = str(tmp_path / "src"), str(tmp_path / "out")
    _mets_alto_tree(base)
    if route == "posix":
        res = import_issues(detect_issues(spark, base, "mets_alto"), ts=TS)
    else:
        res = import_issues_distributed(spark, base, "mets_alto", ts=TS)

    # the CLI's sink order; only the first sink may read the source tree
    write_issues(res.issues, f"{out}/issues")
    shutil.rmtree(base)
    write_pages(res.pages, f"{out}/pages")
    assert not res.records.take(1)
    write_errors(res.errors, f"{out}/errors")
    stats = manifest_stats(res.issues).collect()

    ids = {f"{a}-{y:04d}-{m:02d}-{d:02d}-a" for a, y, m, d in IMPORT_ISSUES}
    pages = {r["id"] for r in read_pages(spark, f"{out}/pages").collect()}
    assert pages == {f"{i}-p0001" for i in ids}
    assert _error_paths(spark, f"{out}/errors") == [IMPORT_BROKEN]
    assert sum(r["n_issues"] for r in stats) == len(ids)
    assert sum(r["n_content_items"] for r in stats) == 2 * len(ids)
    assert sum(r["n_pages"] for r in stats) == len(ids)


def _renamed_issue(day):
    """``simple_issue_and_pages`` moved to another date (ids are nested
    in CIs, page ids and region ``pOf``s, so rename through JSON)."""
    iss, pages = simple_issue_and_pages()
    iid = f"GDL-1900-01-{day:02d}-a"
    dumped = json.dumps([iss, pages]).replace("GDL-1900-01-02-a", iid)
    iss, pages = json.loads(dumped)
    return iid, iss, pages


def test_rebuild_assembles_once(spark, tmp_path):
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    issues, pages, broken = [], [], []
    for day in (2, 3, 4, 5):
        iid, iss, pgs = _renamed_issue(day)
        if day % 2:
            # planted error: a CI on a page the store lacks
            iss["i"].append(content_item(f"{iid}-i0004", pp=[7], tp="article"))
            broken.append(f"{iid}-i0004")
        issues.append(iss)
        pages.extend(pgs)
    write_issues(spark.createDataFrame(issues, ISSUE_SCHEMA), f"{store}/issues")
    write_pages(spark.createDataFrame(pages, PAGE_SCHEMA), f"{store}/pages")

    ok, errors = split_errors(
        rebuild_issues_solr(
            read_issues(spark, f"{store}/issues"),
            read_pages(spark, f"{store}/pages"),
            ts=TS,
        )
    )
    write_rebuilt(ok, f"{out}/rebuilt")
    shutil.rmtree(store)
    write_errors(errors, f"{out}/errors")
    assert ok.count() == 3 * len(issues)

    assert spark.read.json(f"{out}/rebuilt").count() == 3 * len(issues)
    assert _error_paths(spark, f"{out}/errors") == broken


def test_partial_first_action_fills_every_partition(spark, tmp_path):
    """A first action that reads only some partitions (``take``) still
    leaves every partition checkpointed for the later consumers."""
    base = str(tmp_path / "src")
    _mets_alto_tree(base)
    disc = detect_issues(spark, base, "mets_alto").repartition(4)
    res = import_issues(disc, ts=TS)
    assert len(res.issues.take(1)) == 1
    shutil.rmtree(base)
    assert res.pages.count() == len(IMPORT_ISSUES)
    assert [r["canonical_path"] for r in res.errors.collect()] == [
        IMPORT_BROKEN
    ]

"""INA-style ASR import: utterance grouping by speaker, majority-vote
language, one CI per broadcast — then the audio rebuild end-to-end."""

import json
import os

import pytest

from impresso_ta.importers import import_issues
from impresso_ta.rebuild import rebuild_issues_solr
from impresso_ta.schemas import DISCOVERY_SCHEMA
from datetime import date

ASR_XML = """<?xml version="1.0" encoding="UTF-8"?>
<AudioDoc name="test">
  <SpeakerList>
    <Speaker spkid="S1" lang="fre"/>
    <Speaker spkid="S2" lang="fre"/>
  </SpeakerList>
  <SegmentList>
    <SpeechSegment spkid="S1" lang="fre" stime="1.0" etime="4.0">
      <Word stime="1.0" dur="0.5">bonjour</Word>
      <Word stime="1.6" dur="0.4">à</Word>
      <Word stime="2.1" dur="0.6">tous</Word>
    </SpeechSegment>
    <SpeechSegment spkid="S1" lang="fre" stime="4.0" etime="6.0">
      <Word stime="4.1" dur="0.5">mesdames</Word>
    </SpeechSegment>
    <SpeechSegment spkid="S2" lang="eng" stime="6.0" etime="9.5">
      <Word stime="6.1" dur="0.5">hello</Word>
      <Word stime="6.8" dur="0.5">there</Word>
    </SpeechSegment>
  </SegmentList>
</AudioDoc>
"""


@pytest.fixture(scope="module")
def audio_import(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("ina")
    issue_dir = base / "CFCE" / "1945" / "07" / "09" / "a"
    issue_dir.mkdir(parents=True)
    (issue_dir / "broadcast.xml").write_text(ASR_XML)
    (issue_dir / "metadata.json").write_text(
        json.dumps(
            {
                "title": "Chronique du jour",
                "program": "Chronique",
                "channel": "Chaîne A",
                "duration_sec": 1800,
            }
        )
    )
    disc = spark.createDataFrame(
        [("CFCE", date(1945, 7, 9), "a", str(issue_dir), "ina_asr")],
        DISCOVERY_SCHEMA,
    )
    return import_issues(disc, ts="2024-01-01T00:00:00Z")


def test_audio_issue_shape(audio_import):
    res = audio_import
    assert res.errors.count() == 0 and res.pages.count() == 0
    issue = res.issues.collect()[0].asDict(recursive=True)
    assert issue["id"] == "CFCE-1945-07-09-a"
    assert issue["st"] == "radio_broadcast" and issue["sm"] == "audio"
    assert issue["rp"] == "Chronique" and issue["rc"] == "Chaîne A"
    ci = issue["i"][0]
    assert ci["m"]["id"] == "CFCE-1945-07-09-a-i0001"
    assert ci["m"]["tp"] == "radio_broadcast_episode"
    assert ci["m"]["lg"] == "fr"  # majority vote: fre ×4 (2 spk + 2 seg) > eng
    assert ci["m"]["rr"] == [1]


def test_audio_record_utterances(audio_import):
    rec = audio_import.records.collect()[0].asDict(recursive=True)
    assert rec["id"] == "CFCE-1945-07-09-a-r0001"
    assert rec["dur"] == "00:30:00"  # sidecar metadata, not etime
    assert rec["stt"] == "00:00:00"
    section = rec["s"][0]
    # section spans first utterance start → max etime
    assert section["tc"] == [1.0, 8.5]
    assert section["pOf"] == "CFCE-1945-07-09-a-i0001"
    utts = section["u"]
    # S1's two consecutive segments merge into one utterance; S2 separate
    assert len(utts) == 2
    assert utts[0]["tc"] == [1.0, 5.0]
    assert len(utts[0]["ss"]) == 2
    assert utts[1]["tc"] == [6.0, 3.5]
    assert utts[0]["ss"][0]["t"][0] == {"tc": [1.0, 0.5], "tx": "bonjour"}


REFERENCE_INA = "/root/reference/text_preparation/data/sample_data/INA"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_INA),
    reason="reference sample data not available",
)


@pytest.fixture(scope="module")
def reference_audio_import(spark):
    from impresso_ta.sources.discovery import detect_issues_ina

    disc = detect_issues_ina(spark, REFERENCE_INA)
    return import_issues(disc, ts="2024-01-01T00:00:00Z")


@needs_reference
def test_reference_sample_discovery(spark):
    """Manifest-driven discovery (ref: ina/detect.py:46-117): alias from
    'Alias Collection', date from dd/mm/yyyy 'Date d'enregistrement',
    only dirs present in both manifest and filesystem."""
    from impresso_ta.sources.discovery import detect_issues_ina

    rows = sorted(
        (r["alias"], str(r["date"]), r["edition"])
        for r in detect_issues_ina(spark, REFERENCE_INA).collect()
    )
    assert rows == [
        ("CFCE", "1996-09-08", "a"),
        ("CFCE", "1996-09-15", "a"),
        ("RDN", "1950-01-12", "a"),
    ]


@needs_reference
def test_reference_sample_import_metadata(reference_audio_import):
    """French manifest fields map onto issue/CI metadata the way the
    reference's _fetch_broadcast_metadata / _parse_content_item do
    (ref: ina/classes.py:262-289): program = Titre collection, channel =
    Canal (Société), title = Titre propre, dur = manifest Durée."""
    res = reference_audio_import
    assert res.errors.count() == 0
    issues = {
        r["id"]: r.asDict(recursive=True) for r in res.issues.collect()
    }
    rdn = issues["RDN-1950-01-12-a"]
    assert rdn["rp"] == "La ronde des nations"
    assert rdn["rc"] == "Chaîne Parisienne (RTF)"
    ci = rdn["i"][0]
    assert ci["m"]["t"] == "Accords économiques internationaux"
    assert ci["m"]["lg"] == "fr"
    assert ci["m"]["archival_note"]  # Résumé flows through
    assert "Identifiant de la notice" in ci["l"]["source"]
    recs = {r["id"]: r for r in res.records.collect()}
    assert recs["RDN-1950-01-12-a-r0001"]["dur"] == "00:17:13"
    assert recs["CFCE-1996-09-08-a-r0001"]["dur"] == "00:55:00"


@needs_reference
def test_reference_sample_rebuild_golden(spark):
    """The committed golden digest the per-round oracle gates on —
    fulltext AND ssb/ub/sb offsets hashed per CI (drift in either fails)."""
    from impresso_ta.queries import (
        _REFERENCE_AUDIO_GOLDEN,
        rebuild_reference_audio,
    )

    got = sorted(
        tuple(r) for r in rebuild_reference_audio(spark, "").collect()
    )
    assert got == sorted(_REFERENCE_AUDIO_GOLDEN)


def test_audio_rebuild_from_import(audio_import):
    res = audio_import
    rebuilt = rebuild_issues_solr(res.issues, res.records, ts="2024-01-01T00:00:00Z")
    row = rebuilt.collect()[0].asDict(recursive=True)
    assert row["ft"] == "bonjour à tous mesdames hello there "
    assert row["stt"] == "00:00:00" and row["dur"] == "00:30:00"
    assert row["sb"] == []  # single section → no section breaks
    assert len(row["rreb"][0]["t"]) == 6

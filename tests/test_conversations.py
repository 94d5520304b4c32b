"""S8 conversation parsing + S4 spreadsheet shaping tests."""

from __future__ import annotations

import pytest

from ndl_core_data_pipeline_spark.sources.conversations import (
    SEPARATOR,
    _utterance_rows,
    conversations_from_xml,
    parse_utterances,
    utterances_from_xml,
)
from ndl_core_data_pipeline_spark.sources.spreadsheet import (
    read_workbook_sheets,
    sanitize_sheet_name,
    sheets_to_frames,
)

QA_XML = """<debate>
  <speech type="Start Question" speaker="Alice">Will the minister confirm?</speech>
  <speech speaker="Bob">Yes, I can confirm.</speech>
  <speech speaker="Alice">A follow-up point.</speech>
  <speech type="Start Question" speaker="Carol">Second question here.</speech>
  <speech speaker="Bob">Answering the second.</speech>
</debate>"""


def test_parse_utterances_order_and_types():
    rows = parse_utterances(QA_XML, "d1.xml")
    assert [r["seq"] for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0]["utterance_type"] == "Start Question"
    assert rows[1]["speaker"] == "Bob"
    assert parse_utterances("not xml at all") == []


def test_conversations_grouping(spark):
    files = spark.createDataFrame(
        [("d1.xml", QA_XML.encode())], "path STRING, content BINARY"
    )
    convs = {r["conversation_id"]: r for r in conversations_from_xml(files).collect()}
    assert len(convs) == 2
    c1, c2 = convs[1], convs[2]
    assert c1["speakers"] == ["Alice", "Bob"]  # first-encounter order, distinct
    assert c1["n_utterances"] == 3
    assert c1["text"].count(SEPARATOR) == 2  # three segments joined
    assert c2["speakers"] == ["Carol", "Bob"]
    assert "Second question here." in c2["text"]


def test_conversations_multiple_docs_isolated(spark):
    files = spark.createDataFrame(
        [("a.xml", QA_XML.encode()), ("b.xml", QA_XML.encode())],
        "path STRING, content BINARY",
    )
    out = conversations_from_xml(files).collect()
    assert len(out) == 4  # 2 conversations per doc, no cross-doc bleed
    assert {r["doc_path"] for r in out} == {"a.xml", "b.xml"}


def test_conversations_string_content_matches_binary(spark):
    """A STRING content column parses exactly like its UTF-8 bytes."""
    xml = QA_XML.replace("Bob", "Bób")
    as_bytes = spark.createDataFrame(
        [("d1.xml", xml.encode())], "path STRING, content BINARY"
    )
    as_text = spark.createDataFrame([("d1.xml", xml)], "path STRING, content STRING")
    got = utterances_from_xml(as_text).collect()
    assert got == utterances_from_xml(as_bytes).collect()
    assert [r["speaker"] for r in got][:2] == ["Alice", "Bób"]


def test_utterance_rows_raise_on_non_xml_error():
    """A parse failure other than malformed XML is not turned into an
    empty document: the error call raises, failing the task."""
    with pytest.raises(RuntimeError, match="d.xml: KeyError"):
        _utterance_rows("d.xml", b"<a/>", "KeyError: 'x'")


def test_map_files_raise_from_error_call_fails_task(spark):
    """map_files isolates a file only when `parse` returns error rows;
    a `parse` that raises again fails the task, as _utterance_rows does."""
    from ndl_core_data_pipeline_spark.sources.listing import map_files

    def parse(path, data, err):
        if err:
            raise RuntimeError(f"{path}: {err}")
        raise KeyError("boom")

    files = spark.createDataFrame([("d.xml", b"<a/>")], "path STRING, content BINARY")
    with pytest.raises(Exception, match="d.xml: KeyError"):
        map_files(files, parse, "doc_path STRING").collect()


def test_sheet_name_sanitizer():
    assert sanitize_sheet_name("Water Level Readings") == "Water_Level_Readings"
    # '/' maps to '_' (reference X8), the other specials are dropped
    assert sanitize_sheet_name('bad<>:"/\\|?*name') == "bad_name"
    assert sanitize_sheet_name("  ") == "sheet"


def test_sheets_to_frames_with_inference(spark):
    sheets = {
        "Readings": [
            ["Station", "Level", "Time", "datetime"],
            ["Thames", "3.2", "15:00", "2023-05-01 15:00:00"],
            ["Severn", "1.8", "16:30", "2023-05-01 16:30:00"],
        ],
        "Empty": [],
    }
    frames = sheets_to_frames(spark, sheets)
    assert set(frames) == {"Readings"}
    df = frames["Readings"]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["Level"] == "double"
    assert types["Time"] == "string"  # time-only guard holds for sheets too
    assert types["datetime"] == "timestamp"
    assert df.count() == 2


def test_workbook_reader_missing_file():
    # both formats now have pure-Python tiers (tests/test_xlsx.py,
    # tests/test_ods.py); a bad path surfaces as a file error, not a gate
    with pytest.raises(FileNotFoundError):
        read_workbook_sheets("/nonexistent.ods")

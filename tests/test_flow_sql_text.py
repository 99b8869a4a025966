"""Processors build their expressions as Spark SQL text: every property
value and column name spliced into that text must reach Spark unchanged.

Spark unescapes backslashes inside string literals and reads an unsuffixed
``1.5`` as DECIMAL, so each case below feeds a quote, a backslash, a
``\\s+`` regex or a backtick through a property, reads columns whose names
hold a dot or a space, and checks the values against Python.
"""

from __future__ import annotations

import base64
import hashlib
import json
import re

import pytest

from apache_nifi_spark.plans.flow_import import run_flow

TEXT1 = "it's a \\path\\ with `ticks`"
TEXT2 = "two  words\nnext\tline"
ROWS = [
    (1, TEXT1, "g'1", ["x", "y"], json.dumps({"k": "it's", "score": 2.5}), (7,)),
    (2, TEXT2, "g\\2", ["z"], json.dumps({"k": "no", "score": 1.4}), (8,)),
]
SCHEMA = (
    "`doc.id` int, `my text` string, grp string, tags array<string>, js string,"
    " st struct<`a b`: int>"
)
TEXTS = {1: TEXT1, 2: TEXT2}


def _run(spark, sf_dir, ptype, props):
    flow = {
        "flowContents": {
            "inputPorts": [{"identifier": "in", "name": "in"}],
            "processors": [
                {"identifier": "p", "name": "P", "type": f"x.{ptype}",
                 "properties": props},
            ],
            "connections": [
                {"source": {"id": "in"}, "destination": {"id": "p"},
                 "selectedRelationships": ["success"]},
            ],
        }
    }
    src = spark.createDataFrame(ROWS, SCHEMA)
    return run_flow(spark, sf_dir, flow, port_sources={"in": src})


def _by_id(df, col):
    return {r["doc.id"]: r[col] for r in df.collect()}


def _ids(df):
    return sorted(r["doc.id"] for r in df.collect())


CASES = {
    "RouteText": (
        {"Column": "my text", "Regular Expression": r"\\path\\"},
        lambda o: (_ids(o["P.matched"]), _ids(o["P.unmatched"])),
        ([1], [2]),
    ),
    "ReplaceText": (
        {"Column": "my text", "Regular Expression": r"\s+", "Replacement Value": "'"},
        lambda o: _by_id(o["P.success"], "my text"),
        {i: re.sub(r"\s+", "'", t) for i, t in TEXTS.items()},
    ),
    "ExtractText": (
        {"Column": "my text", "first": r"^(\S+)\s"},
        lambda o: _by_id(o["P.matched"], "first"),
        {1: "it's", 2: "two"},
    ),
    "ExtractGrok": (
        {"Column": "my text", "Grok Expression": "%{WORD:w}'s a \\%{WORD:p}\\"},
        lambda o: {k: (r["w"], r["p"]) for k, r in
                   ((r["doc.id"], r) for r in o["P.matched"].collect())},
        {1: ("it", "path"), 2: ("", "")},
    ),
    "CountText": (
        {"Column": "my text"},
        lambda o: {r["doc.id"]: (r["text.line.count"], r["text.word.count"],
                                 r["text.character.count"])
                   for r in o["P.success"].collect()},
        {i: (len(t.split("\n")), len(t.split()), len(t)) for i, t in TEXTS.items()},
    ),
    "ScanContent": (
        {"Column": "my text", "Dictionary": "it's,`ticks`"},
        lambda o: (_ids(o["P.matched"]), _ids(o["P.unmatched"])),
        ([1], [2]),
    ),
    "ScanAttribute": (
        {"Attribute": "grp", "Dictionary": "g\\2"},
        lambda o: (_ids(o["P.matched"]), _ids(o["P.unmatched"])),
        ([2], [1]),
    ),
    "AttributesToCSV": (
        {"Attributes List": "doc.id,grp", "Destination Attribute": "c s'v"},
        lambda o: _by_id(o["P.success"], "c s'v"),
        {1: "1,g'1", 2: "2,g\\2"},
    ),
    "AttributesToJSON": (
        {"Attributes List": "doc.id,my text"},
        lambda o: {k: json.loads(v) for k, v in _by_id(o["P.success"], "json").items()},
        {i: {"doc.id": i, "my text": t} for i, t in TEXTS.items()},
    ),
    "EvaluateJsonPath": (
        {"Column": "js", "k'": "$.k"},
        lambda o: _by_id(o["P.matched"], "k'"),
        {1: "it's", 2: "no"},
    ),
    "ValidateJson": (
        {"Column": "js", "Schema Text": json.dumps({
            "properties": {
                "score": {"type": "number", "minimum": 1.5, "multipleOf": 0.5},
                "k": {"type": "string", "pattern": "^it's$|^no$"},
            },
        })},
        lambda o: (_ids(o["P.valid"]), _by_id(o["P.invalid"], "validation_error")),
        ([1], {2: "minimum:$.score"}),
    ),
    "SplitText": (
        {"Column": "my text"},
        lambda o: sorted((r["doc.id"], r["fragment_index"], r["line"])
                         for r in o["P.splits"].collect()),
        sorted((i, n, line) for i, t in TEXTS.items()
               for n, line in enumerate(t.split("\n"))),
    ),
    "SplitContent": (
        {"Column": "my text", "Byte Sequence": "\\"},
        lambda o: sorted((r["doc.id"], r["fragment"]) for r in o["P.splits"].collect()),
        sorted((i, f) for i, t in TEXTS.items() for f in t.split("\\")),
    ),
    "SegmentContent": (
        {"Column": "my text", "Segment Size": "5"},
        lambda o: sorted((r["doc.id"], r["segment_index"], r["segment"])
                         for r in o["P.segments"].collect()),
        sorted((i, n, t[5 * n:5 * n + 5]) for i, t in TEXTS.items()
               for n in range((len(t) + 4) // 5)),
    ),
    "ModifyBytes": (
        {"Column": "my text", "Start Offset": "1", "End Offset": "2"},
        lambda o: _by_id(o["P.success"], "my text"),
        {i: t[1:-2] for i, t in TEXTS.items()},
    ),
    "EncodeContent": (
        {"Column": "my text", "Encoding": "base64"},
        lambda o: _by_id(o["P.success"], "my text"),
        {i: base64.b64encode(t.encode()).decode() for i, t in TEXTS.items()},
    ),
    "CryptographicHashContent": (
        {"Column": "my text", "Hash Algorithm": "SHA-256", "Hash Attribute": "h.1"},
        lambda o: _by_id(o["P.success"], "h.1"),
        {i: hashlib.sha256(t.encode()).hexdigest() for i, t in TEXTS.items()},
    ),
    "ConvertRecord": (
        {"Record Writer Format": "json"},
        lambda o: {k: json.loads(v)["my text"]
                   for k, v in _by_id(o["P.success"], "content").items()},
        TEXTS,
    ),
    "ConvertCharacterSet": (
        {"Column": "my text", "Input Character Set": "UTF-8",
         "Output Character Set": "UTF-8"},
        lambda o: _by_id(o["P.success"], "my text"),
        TEXTS,
    ),
    "IdentifyMimeType": (
        {"Column": "my text"},
        lambda o: _by_id(o["P.success"], "mime_type"),
        {1: "application/octet-stream", 2: "application/octet-stream"},
    ),
    "DistributeLoad": (
        {"Order Column": "doc.id", "a'b": "1", "c\\d": "1"},
        lambda o: (_ids(o["P.a'b"]), _ids(o["P.c\\d"])),
        ([1], [2]),
    ),
    "MergeContent": (
        {"Correlation Attribute Name": "js", "Payload Column": "my text",
         "Order Attribute": "doc.id", "Header": "'", "Demarcator": "\\",
         "Footer": "`"},
        lambda o: sorted(r["merged_content"] for r in o["P.merged"].collect()),
        sorted(f"'{t}`" for t in TEXTS.values()),
    ),
    "FlattenJson": (
        {},
        lambda o: _by_id(o["P.success"], "st.a b"),
        {1: 7, 2: 8},
    ),
    "SplitRecord": (
        {"Record Path": "tags"},
        lambda o: sorted((r["doc.id"], r["fragment_index"], r["record"])
                         for r in o["P.splits"].collect()),
        [(1, 0, "x"), (1, 1, "y"), (2, 0, "z")],
    ),
    "ForkRecord": (
        {"Record Path": "tags"},
        lambda o: sorted((r["doc.id"], r["pos"], r["element"])
                         for r in o["P.fork"].collect()),
        [(1, 0, "x"), (1, 1, "y"), (2, 0, "z")],
    ),
    "DeduplicateRecord": (
        {"Deduplication Keys": "my text", "Order Column": "doc.id"},
        lambda o: _ids(o["P.success"]),
        [1, 2],
    ),
    "EnforceOrder": (
        {"Group Identifier": "grp", "Order Column": "doc.id"},
        lambda o: _by_id(o["P.success"], "seq"),
        {1: 1, 2: 1},
    ),
    "CalculateRecordStats": (
        {"Categories": "grp"},
        lambda o: sorted((r["category"], r["value"], r["record_count"])
                         for r in o["P.success"].collect()),
        [("<total>", "<total>", 2), ("grp", "g'1", 1), ("grp", "g\\2", 1)],
    ),
}


@pytest.mark.parametrize("ptype", sorted(CASES))
def test_sql_text_carries_values_unchanged(spark, sf_dir, ptype):
    props, read, want = CASES[ptype]
    assert read(_run(spark, sf_dir, ptype, props)) == want

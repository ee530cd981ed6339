"""Byte-identity tests for html -> text extraction (BASELINE.json
input_hint: 'byte-identical extracted text per url')."""

from __future__ import annotations

import sys

from name_deduplication_python_spark.functions.text_extract import (
    _SPACES,
    extract_text_oracle,
    wrap_html,
)
from name_deduplication_python_spark.operators.extract import extract_stage
from name_deduplication_python_spark.schemas import WEB_PAGES
from name_deduplication_python_spark.sources.corpus import corpus_to_spark, generate_corpus

_PY_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow", "MapInPandas")


def _extract(spark, htmls: list) -> list:
    """``extract_stage`` over html-only rows, in input order."""
    rows = [(f"u{i:05d}", None, h, None, None) for i, h in enumerate(htmls)]
    out = extract_stage(spark.createDataFrame(rows, WEB_PAGES)).collect()
    return [r["text"] for r in sorted(out, key=lambda r: r["url"])]


def test_wrap_roundtrip_unicode():
    cases = [
        "hello world foo bar",
        "café naïve — übergroß straße",
        "日本語のテキスト 中文文本 한국어",
        "emoji \U0001f600 rocket \U0001f680 & ampersand < lt > gt \"q\" 'a'",
        "a" * 5000 + " tail",
    ]
    for t in cases:
        html = wrap_html(t, title="t")
        assert extract_text_oracle(html) == t


def test_series_matches_oracle(spark):
    texts = ["x y z", "café & <b>bold</b>", "multi  space input"]
    htmls = [wrap_html(t) for t in texts] + [None, b"<p>a</p><p>b</p>"]
    want = [extract_text_oracle(h) for h in htmls]
    assert _extract(spark, htmls) == want
    assert want[-1] == "a b"  # tag boundary becomes a space


def test_entity_ordering():
    # &amp;lt; must unescape to literal '&lt;', never to '<'
    assert extract_text_oracle(b"x &amp;lt; y") == "x &lt; y"
    assert extract_text_oracle(b"x &lt; y &nbsp;z") == "x < y z"


def test_adversarial_html(spark):
    cases = [
        # nested/unclosed script: non-greedy block kill, then tag strip
        (b"<script>a<script>b</script>text<p>x</p>", "text x"),
        # malformed lone '<' without closing '>': spec treats rest as tag
        # only up to next '>', a trailing lone '<' survives as text
        (b"a < b", "a < b"),
        (b"a <b", "a <b"),
        # case-insensitive tags, attributes with '>' in quotes are NOT
        # special-cased (spec: tag ends at first '>')
        (b'<SCRIPT TYPE="x">junk</SCRIPT>ok', "ok"),
        # entity torture
        (b"&amp;amp; &lt;p&gt; &nbsp;&nbsp;", "&amp; <p>"),
        # invalid utf-8 -> replacement char, deterministic
        (b"caf\xc3 ok", "caf� ok"),
        # style with newlines
        (b"<style>\nbody {}\n</style>done", "done"),
        (b"", ""),
    ]
    for html, want in cases:
        got = extract_text_oracle(html)
        assert got == want, (html, got, want)
    htmls = [html for html, _ in cases]
    assert _extract(spark, htmls) == [want for _, want in cases]


def test_native_extraction_edge_cases_match_oracle(spark):
    """Where Java's regex and decoder differ from Python's (see the
    functions.text_extract docstring), the native stage must still equal
    the oracle byte for byte."""
    cases = [
        # invalid UTF-8: one U+FFFD per maximal invalid subpart
        b"\xed\xa0\x80z",
        b"caf\xc3\x28",
        b"\xff\xfe<p>bom</p>",
        # IGNORECASE: long s, back-reference and mixed-case names
        "<ſcript>x</ſcript>keep".encode(),
        "<script>x</ſcript>keep".encode(),
        "<ſcript>x</script>keep".encode(),
        "<scrıpt>x</script>keep".encode(),
        "<tİtle>x</TITLE>keep".encode(),
        "<STYLE>\u212a</style>keep".encode(),
        b"<tItLe>x</TITLE>keep",
        # closing-tag whitespace: \x0b and the \x1c-\x1f separators
        b"<script>x</script\x0b>keep",
        b"<script>x</script\x1c>keep",
        # word boundary after the tag name
        "<script\u0301>x</script>keep".encode(),
        "<script²>x</script>keep".encode(),
        "<title‿>x</title>keep".encode(),
        # ends stripped as str.strip does
        "\xa0 nbsp \xa0".encode(),
        "\u2003 em \u3000".encode(),
        b"\x0c lead \x0c",
        "tail\x85".encode(),
        b"\x1c sep \x1f",
        "zero\u200b".encode(),
    ]
    want = [extract_text_oracle(h) for h in cases]
    assert want[0] == "\ufffd\ufffd\ufffdz"
    got = _extract(spark, cases)
    assert [(h, g) for h, g, w in zip(cases, got, want) if g != w] == []


def test_strip_set_is_python_isspace():
    """The Java forms' whitespace set is exactly what Python's ``\\s`` and
    ``str.strip`` use."""
    assert sorted(_SPACES) == [c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace()]


def test_extract_stage_byte_identity(spark):
    pages, _ = generate_corpus(n_base=60, seed=7, null_text_frac=1.0)
    df = corpus_to_spark(spark, pages)
    out = extract_stage(df).toPandas().set_index("url")["text"]
    for _, row in pages.iterrows():
        want = extract_text_oracle(row["html"])
        assert out[row["url"]] == want, row["url"]


def test_extract_stage_preserves_existing_text(spark):
    pages, _ = generate_corpus(n_base=30, seed=9, null_text_frac=0.0)
    df = corpus_to_spark(spark, pages)
    out = extract_stage(df).toPandas().set_index("url")["text"]
    for _, row in pages.iterrows():
        assert out[row["url"]] == row["text"]


def test_extract_udf_only_on_null_text_branch(spark, tmp_path):
    """Extraction is native: the plan holds no Python evaluation node.
    It runs on the text-is-null side only — the populated branch is a
    plain projection that never reads the html column."""
    pages, _ = generate_corpus(n_base=30, seed=11, null_text_frac=0.3)
    path = str(tmp_path / "pages.parquet")
    corpus_to_spark(spark, pages).write.parquet(path)
    plan = extract_stage(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in _PY_EVAL_NODES if n in plan], plan
    # two scans: the populated side's ReadSchema must exclude html
    read_schemas = [
        seg.split("ReadSchema:", 1)[1].splitlines()[0]
        for seg in plan.split("FileScan parquet")[1:]
        if "ReadSchema:" in seg
    ]
    assert len(read_schemas) == 2, plan
    assert any("html" not in rs for rs in read_schemas), read_schemas


def test_extract_udf_absent_when_text_fully_populated(spark, tmp_path):
    """With text non-null everywhere the UDF side is empty at runtime; the
    no-null side must not carry the html column through its projection."""
    pages, _ = generate_corpus(n_base=20, seed=12, null_text_frac=0.0)
    path = str(tmp_path / "pages2.parquet")
    corpus_to_spark(spark, pages).write.parquet(path)
    df = extract_stage(spark.read.parquet(path))
    assert df.count() == len(pages)
    assert "html" not in df.columns

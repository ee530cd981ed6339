"""CCNet-style line-level dedup tests."""

from __future__ import annotations

from name_deduplication_python_spark.operators.linededup import (
    dedup_lines,
    repeated_lines,
)


def _pages(spark):
    footer = "copyright example corp all rights reserved"
    nav = "home | about | contact"
    rows = [
        ("u1", f"{nav}\nunique one alpha\nmiddle line one\n{footer}"),
        ("u2", f"{nav}\nunique two beta\n\n{footer}"),
        ("u3", f"unique three gamma\nanother unique line\n{footer}"),
        ("u4", f"{nav}\n{footer}"),          # pure boilerplate page
        ("u5", "solo page with no repeats"),
        # repeated WITHIN one doc only: must NOT be dropped (min_docs=2
        # counts distinct documents)
        ("u6", "intra repeat\nintra repeat\nunique six delta"),
    ]
    return spark.createDataFrame(rows, "url string, text string")


def test_repeated_lines_counts_distinct_docs(spark):
    rep = repeated_lines(_pages(spark), exact=True).toPandas()
    by_line = {r.line_key: (r.n_docs, r.n_occurrences) for r in rep.itertuples()}
    assert by_line["copyright example corp all rights reserved"] == (4, 4)
    assert by_line["home | about | contact"] == (3, 3)
    assert "intra repeat" not in by_line  # one doc, two occurrences
    assert len(by_line) == 2


def test_dedup_lines_strips_boilerplate_preserves_order(spark):
    got = {
        r.url: r.text for r in dedup_lines(_pages(spark)).collect()
    }
    assert got["u1"] == "unique one alpha\nmiddle line one"
    # the blank line survives (it is not boilerplate, it is structure)
    assert got["u2"] == "unique two beta\n"
    assert got["u3"] == "unique three gamma\nanother unique line"
    assert got["u4"] == ""  # fully boilerplate -> empty (dropped downstream)
    assert got["u5"] == "solo page with no repeats"
    assert got["u6"] == "intra repeat\nintra repeat\nunique six delta"


def test_dedup_lines_untouched_docs_are_byte_identical(spark):
    """A document sharing NO line with any other must come out
    byte-for-byte — including blank lines / paragraph boundaries."""
    pages = spark.createDataFrame(
        [
            ("p1", "para one\n\npara two\n\n\npara three"),
            ("p2", "totally different text"),
        ],
        "url string, text string",
    )
    got = {r.url: r.text for r in dedup_lines(pages).collect()}
    assert got["p1"] == "para one\n\npara two\n\n\npara three"
    assert got["p2"] == "totally different text"


def test_dedup_lines_exact_matches_hashed(spark):
    pages = _pages(spark)
    a = {r.url: r.text for r in dedup_lines(pages, exact=True).collect()}
    b = {r.url: r.text for r in dedup_lines(pages, exact=False).collect()}
    assert a == b


def test_dedup_lines_crlf_boilerplate(spark):
    """CRLF pages split into lines like LF ones (repetition.py's rule):
    a boilerplate line shared with an LF page is repeated and removed,
    and the survivors are rebuilt with LF."""
    pages = spark.createDataFrame(
        [
            ("u1", "intro one\nshared footer line"),
            ("u2", "intro two\r\nshared footer line\r\nmore text"),
        ],
        "url string, text string",
    )
    for exact in (True, False):
        got = {r.url: r.text for r in dedup_lines(pages, exact=exact).collect()}
        assert got == {"u1": "intro one", "u2": "intro two\nmore text"}, exact


def test_dedup_lines_plan_has_no_python(spark):
    plan = (
        dedup_lines(_pages(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_paragraph_unit_removes_repeated_paragraphs(spark):
    """unit='paragraph': a multi-line paragraph repeated across docs is
    removed WHOLE (its individual lines are not line-boilerplate since
    they never repeat as single lines across enough docs in line mode);
    unique paragraphs survive in order, rebuilt with single blank lines."""
    from name_deduplication_python_spark.operators.linededup import (
        dedup_lines,
        repeated_lines,
    )

    footer = "contact us here\nall rights reserved"
    docs = spark.createDataFrame(
        [
            ("a", f"alpha unique para\n\n{footer}\n\nmore alpha text"),
            ("b", f"beta opening words\n\n\n{footer}"),
            ("c", "gamma has no footer\n\ngamma second para"),
        ],
        ["url", "text"],
    )
    rep = repeated_lines(docs, unit="paragraph", exact=True).collect()
    assert [r["line_key"] for r in rep] == [footer]

    out = {
        r["url"]: r["text"]
        for r in dedup_lines(docs, unit="paragraph", exact=True).collect()
    }
    assert out["a"] == "alpha unique para\n\nmore alpha text"
    assert out["b"] == "beta opening words"
    assert out["c"] == "gamma has no footer\n\ngamma second para"

    # line mode on the same corpus removes the footer LINES individually
    # (each line repeats in 2 docs) — same cleaning, different unit
    line_out = {
        r["url"]: r["text"]
        for r in dedup_lines(docs, exact=True).collect()
    }
    assert "contact us here" not in line_out["a"]

    import pytest as _pt

    with _pt.raises(ValueError):
        dedup_lines(docs, unit="sentence")

"""Line-level (CCNet-style) corpus dedup: strip lines repeated across
documents.

Web boilerplate (navigation, cookie banners, footers) recurs VERBATIM as
whole lines across many pages; the standard training-data cleanup (CCNet,
Wenzek et al. 2020; RefinedWeb — both public) drops every line whose
exact text occurs in >= ``min_docs`` distinct documents, keeping the
surviving lines in original order. This complements document-level dedup
(operators/lsh.py et al.): those merge near-identical PAGES, this removes
repeated SPANS inside otherwise-unique pages.

Spark-first shape — no UDF anywhere:
  1. posexplode(split(text, '\\r?\\n'))   -> (url, pos, line)
  2. repeated lines = groupBy(line_hash) counting DISTINCT docs, kept as
     an 8-byte-key table (xxhash64(line) — the line string itself never
     enters the shuffle twice); only hashes with >= min_docs docs survive
     the aggregate (the overwhelmingly-singleton majority dies map-side
     combined, the exact analog of the LSH singleton prefilter)
  3. left-anti join lines against the repeated-hash table (8-byte keys)
  4. re-assemble: groupBy(url) sort_array over (pos, line) structs ->
     concat_ws('\\n') — original order restored without a window sort.

At 10^12 docs the repeated-hash table is small relative to the corpus
(boilerplate is heavy-tailed), and step 2/3 join on 8-byte keys; the only
wide shuffle is the unavoidable line explode. Blank lines are never
counted as boilerplate AND never removed — paragraph boundaries in
untouched documents survive byte-for-byte (tested).

Hash note: dropping a line on an xxhash64 collision with true boilerplate
has odds |lines|^2/2^64 per corpus — the same documented budget as the
pipeline's other 64-bit surrogates; pass ``exact=True`` to key the
aggregate/join on the line text itself (wider shuffle, zero collisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# unit -> (split regex, rejoin separator). Both split on LF or CRLF
# (repetition.py's line rule) and rebuild with LF. Paragraph mode treats
# any blank-line run as ONE boundary and rebuilds with a single blank
# line (documented normalization: a 3-newline run becomes 2 — the paragraph
# STRUCTURE survives, the exact blank-run length does not).
_UNITS = {
    "line": (r"\r?\n", "\n"),
    "paragraph": (r"(\r?\n){2,}", "\n\n"),
}


def _unit_spec(unit: str) -> tuple[str, str]:
    if unit not in _UNITS:
        raise ValueError(f"unit must be one of {sorted(_UNITS)}, got {unit!r}")
    return _UNITS[unit]


def repeated_lines(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    min_docs: int = 2,
    exact: bool = False,
    unit: str = "line",
) -> DataFrame:
    """The boilerplate-unit table: (line_key, n_docs, n_occurrences) for
    every unit appearing in >= min_docs distinct documents. line_key is
    xxhash64(unit text) (or the text itself when exact=True).
    unit='paragraph' counts blank-line-separated blocks instead of
    single lines (RefinedWeb-style paragraph boilerplate)."""
    split_pat, _ = _unit_spec(unit)
    lines = pages.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), split_pat)).alias("line"),
    ).where(F.trim("line") != "")
    key = F.col("line") if exact else F.xxhash64("line")
    return (
        lines.select(id_col, key.alias("line_key"))
        .groupBy("line_key")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def dedup_lines(
    pages: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    min_docs: int = 2,
    exact: bool = False,
    out_col: str | None = None,
    unit: str = "line",
) -> DataFrame:
    """pages -> pages with ``text`` (or ``out_col``) rewritten to only the
    units NOT repeated across >= min_docs documents, original order
    preserved. Rows whose every unit was boilerplate keep an empty string
    (they are then dropped by the extract/signature empty-text rules).
    unit='paragraph' removes whole repeated paragraphs and rebuilds with
    single blank lines between survivors (see _UNITS note)."""
    out_col = out_col or text_col
    split_pat, join_sep = _unit_spec(unit)
    rep = repeated_lines(
        pages, id_col=id_col, text_col=text_col, min_docs=min_docs,
        exact=exact, unit=unit,
    ).select("line_key")
    # NOTE no blank-line filter here: blank lines are excluded from the
    # repeated-lines TABLE (so they are never "boilerplate") but kept in
    # the document stream, preserving paragraph boundaries of documents
    # the operator does not touch.
    lines = pages.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), split_pat)).alias("pos", "line"),
    )
    key = F.col("line") if exact else F.xxhash64("line")
    kept = lines.withColumn("line_key", key).join(rep, "line_key", "left_anti")
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                join_sep,
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("line")))
                    ),
                    lambda s: s["line"],
                ),
            ).alias("_deduped")
        )
    )
    others = [c for c in pages.columns if c != out_col]
    return (
        pages.join(rebuilt, id_col, "left")
        .select(
            *others,
            F.coalesce("_deduped", F.lit("")).alias(out_col),
        )
    )

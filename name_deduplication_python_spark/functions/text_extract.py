"""Deterministic HTML -> text extraction (byte-identical per url).

This is the engine's analog of the reference's normalizer chain
(/root/reference/data_utils.py:54-273 normalize_name/city/date applied
once per row before matching): a per-row deterministic canonicalization
that everything downstream keys on. BASELINE.json's input_hint makes the
invariant explicit: *byte-identical extracted text per url*.

Extraction spec (THE contract, mirrored by the pure-python oracle in
``extract_text_oracle`` and tested byte-for-byte):

  1. decode bytes as UTF-8 with errors='replace'
  2. replace <script>...</script> / <style>...</style> /
     <title>...</title> blocks with a space — ONE leftmost-first
     alternation pass (case-insensitive, dot-matches-newline, non-greedy;
     on pathological cross-nested blocks the leftmost opening tag wins)
  3. replace every remaining tag ``<...>`` with a space
  4. unescape the closed entity set, in this order:
     &lt; -> <   &gt; -> >   &quot; -> "   &#39; -> '   &nbsp; -> space
     and finally &amp; -> &   (last, so &amp;lt; -> &lt; stays literal)
  5. collapse runs of [ \\t\\r\\n] to one space and strip ends

One implementation plus its oracle: ``extract_text_expr`` (native
Catalyst expressions — codegen, no Python worker — used by the stage) and
``extract_text_oracle`` (plain Python, the tests' byte-identity reference).

The Java patterns spell out Python's meaning where the dialects differ:
  * decode: ``make_valid_utf8`` gives one U+FFFD per maximal invalid
    subpart, as Python does (legacy ``decode``: one for \\xed\\xa0\\x80);
  * Python's ``\\s`` and ``str.strip`` use the ``str.isspace`` set
    (White_Space plus \\x1c-\\x1f): the Java forms list it, as a class in
    the closing tag and as ``btrim``'s set (``trim`` strips spaces only;
    a regex strip would scan the whole text, ``btrim`` reads the ends);
  * ``\\b`` after a tag name: Python's word class is exactly
    [\\p{L}\\p{N}_]; Java's also holds combining marks and connector
    punctuation and lacks No digits such as U+00B2;
  * an IGNORECASE back-reference compares simple lowercases in Python
    (U+017F long s closes only U+017F, U+0131 dotless i only U+0131)
    but folds through uppercase in Java, so the Java pattern is
    case-sensitive and lists every lowercase-class spelling of each tag
    name (8 in all) instead of ``\\1``.
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# one leftmost-first alternation pass for all three block kinds (spec
# step 2): a third of the full-document regex scans of three sequential
# passes
_BLOCK_RE = re.compile(
    r"<(script|style|title)\b.*?</\1\s*>", re.IGNORECASE | re.DOTALL
)
_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"[ \t\r\n]+")

# (pattern, replacement) — &amp; MUST be last (step 4 of the spec).
_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

# Java forms of _BLOCK_RE and str.strip (module docstring). _SPACES: the
# str.isspace characters. _FOLDS: the letters a tag-name letter matches
# under IGNORECASE, by lowercase class
_SPACES = "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2028\u2029\u202f\u205f\u3000" + "".join(
    map(chr, range(0x2000, 0x200B))
)
_FOLDS = {"s": ("[sS]", "ſ"), "i": ("[iIİ]", "ı")}


def _spellings(tag: str) -> list[str]:
    letters = (_FOLDS.get(c, (f"[{c}{c.upper()}]",)) for c in tag)
    return ["".join(p) for p in itertools.product(*letters)]


_JAVA_BLOCK = (
    "(?s)<(?:"
    + "|".join(
        rf"{n}(?![\p{{L}}\p{{N}}_]).*?</{n}"
        for tag in ("script", "style", "title")
        for n in _spellings(tag)
    )
    + f")[{_SPACES}]*>"
)


def extract_text_oracle(html: bytes | None) -> str | None:
    """Plain-Python oracle for the extraction spec (tests only)."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    s = _BLOCK_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    for pat, rep in _ENTITIES:
        s = s.replace(pat, rep)
    s = _WS_RE.sub(" ", s).strip()
    return s


def extract_text_expr(html: Column) -> Column:
    """The extraction spec as one native expression over binary html
    (null stays null)."""
    s = F.make_valid_utf8(html.cast("string"))
    s = F.regexp_replace(s, _JAVA_BLOCK, " ")
    s = F.regexp_replace(s, _TAG_RE.pattern, " ")
    for pat, rep in _ENTITIES:
        s = F.replace(s, F.lit(pat), F.lit(rep))
    s = F.regexp_replace(s, _WS_RE.pattern, " ")
    return F.btrim(s, F.lit(_SPACES))


def wrap_html(text: str, title: str = "", lang: str = "en") -> bytes:
    """Inverse-ish of the spec used by the synthetic corpus generator:
    extract_text_oracle(wrap_html(t)) == t for single-spaced t."""
    esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    # split into paragraph-ish chunks so tags appear mid-document
    words = esc.split(" ")
    paras, step = [], 40
    for i in range(0, len(words), step):
        paras.append("<p>" + " ".join(words[i : i + step]) + "</p>")
    body = "\n".join(paras)
    doc = (
        f'<html lang="{lang}"><head><title>{title}</title>'
        f"<style>body {{ color: #000; }}</style>"
        f'<script type="text/javascript">var x = 1 < 2; console.log("junk");</script>'
        f"</head><body>\n{body}\n</body></html>"
    )
    return doc.encode("utf-8")

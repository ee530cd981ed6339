"""Public Suffix List: loader + native registrable-domain expression.

Upgrades functions/urlfilter.py's public-suffix-LITE (18 hard-coded
multi-part TLDs) to the real PSL algorithm (publicsuffix.org/list — the
registry-policy data every browser uses for cookie scoping): longest
matching rule wins; ``*`` wildcard labels; ``!`` exception rules whose
public suffix is the rule minus its leftmost label; implicit default
rule ``*`` (unlisted TLD -> last label is the suffix). Registrable
domain = public suffix + one more label; a host that IS a public suffix
maps to itself (grouping-safe for curation stats; libraries typically
return None there, which a stats groupBy cannot use).

The shipped snapshot (``data/public_suffix_snapshot.dat``) is a curated
subset of the upstream list — the high-traffic ccTLD registry families,
the classic wildcard/exception cases (``*.ck``/``!www.ck``, the five
Japanese city families), and a small private-domains section — in the
UPSTREAM FILE FORMAT, so ``load_psl(path=...)`` consumes a full
~15k-rule upstream ``public_suffix_list.dat`` unchanged in production.

Scale shape: the rule table compiles into literal ``isin`` predicates
(Catalyst turns >10-element In into an O(1) hash-set InSet — a full
15k-rule list is a ~1 MB broadcast-as-constants, far cheaper than a
join), so registrable-domain extraction stays a map-only projection
fused into the scan: no shuffle, no Python, no side DataFrame. The
same rule sets generate the DuckDB mirror (``registered_domain_sql``)
so driver queries stay value-auditable end-to-end.

Reference analog: the reference ships curated registry-policy data as
a code asset the same way (/root/reference/data_utils.py:108-273, the
special-case city map); SURVEY §2 S5 side-table discipline.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

_SNAPSHOT_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffix_snapshot.dat",
)

_PRIVATE_MARKER = "===BEGIN PRIVATE DOMAINS==="


@dataclass(frozen=True)
class PslRules:
    """Parsed PSL rule sets, each suffix lowercase and dot-joined.

    exact       plain rules ('co.uk', 'github.io')
    wildcards   PARENTS of '*.'-rules ('ck' for '*.ck')
    exceptions  '!'-rules minus the '!' ('www.ck')
    """

    exact: frozenset = field(default_factory=frozenset)
    wildcards: frozenset = field(default_factory=frozenset)
    exceptions: frozenset = field(default_factory=frozenset)
    source: str = ""

    @property
    def max_ps_labels(self) -> int:
        """Deepest public suffix any rule can produce (wildcard parents
        add one matched label)."""
        depths = [1]
        depths += [r.count(".") + 1 for r in self.exact]
        depths += [p.count(".") + 2 for p in self.wildcards]
        # an exception's ps is SHORTER than the rule, but the rule must
        # still be *tested* at its own depth
        depths += [e.count(".") + 1 for e in self.exceptions]
        return max(depths)


def parse_psl(text: str, include_private: bool = True) -> PslRules:
    """Parse upstream-format PSL text into rule sets. Comment ('//') and
    blank lines skipped; anything after whitespace on a rule line is
    ignored (upstream allows trailing comments)."""
    if not include_private and _PRIVATE_MARKER in text:
        text = text.split(_PRIVATE_MARKER, 1)[0]
    exact, wild, exc = set(), set(), set()
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower().strip(".")
        if rule.startswith("!"):
            exc.add(rule[1:])
        elif rule.startswith("*."):
            wild.add(rule[2:])
        elif rule == "*":
            pass  # the implicit default rule; always in effect
        else:
            exact.add(rule)
    return PslRules(frozenset(exact), frozenset(wild), frozenset(exc))


@lru_cache(maxsize=8)
def load_psl(path: str | None = None, include_private: bool = True) -> PslRules:
    """Load PSL rules from `path` (upstream format) or the shipped
    curated snapshot. Cached per (path, include_private)."""
    p = path or _SNAPSHOT_PATH
    with open(p, encoding="utf-8") as f:
        rules = parse_psl(f.read(), include_private=include_private)
    object.__setattr__(rules, "source", p)
    return rules


def _by_depth(suffixes, k: int) -> list[str]:
    return sorted(s for s in suffixes if s.count(".") + 1 == k)


def _psl_arms(rules: PslRules):
    """The public-suffix CASE arms in evaluation order, as (min label
    count k, rule suffixes, probe depth, ps). Every exception arm comes
    first, longest first: per the PSL spec a matching exception prevails
    over any exact or wildcard rule, even a longer one. Then per depth
    k, longest first: exact (probe depth k) before wildcard (probe the
    k-1 PARENT); both give ps = k."""
    out = []
    top = rules.max_ps_labels
    for k in range(top, 1, -1):
        vals = _by_depth(rules.exceptions, k)
        if vals:
            out.append((k, vals, k, k - 1))
    for k in range(top, 0, -1):
        for vals, probe_depth in (
            (_by_depth(rules.exact, k), k),
            (_by_depth(rules.wildcards, k - 1), k - 1),
        ):
            if vals and probe_depth >= 1:
                out.append((k, vals, probe_depth, k))
    return out


def public_suffix_len_expr(host: Column, rules: PslRules) -> Column:
    """Label count of `host`'s public suffix under `rules` (int column).

    PSL algorithm as ONE CaseWhen (_psl_arms): any matching exception
    prevails (ps = depth - 1, longest exception first), then per depth
    k, longest first, exact (ps = k) > wildcard-parent (ps = k); default
    rule '*' -> 1. Labels are fetched with F.get (0-based, NULL out of
    range — ANSI-safe where element_at with an out-of-range negative
    index would abort the stage); a too-short host's concat_ws skips the
    NULLs and produces a string with fewer dots, which can never equal a
    depth-k rule, and the n >= k conjunct guards the semantics besides."""
    labels = F.split(host, r"\.")
    n = F.size(labels)

    def suffix(k: int) -> Column:
        return F.concat_ws(
            ".", *[F.get(labels, n - i) for i in range(k, 0, -1)]
        )

    expr = None
    for k, vals, probe_depth, ps in _psl_arms(rules):
        cond = (n >= k) & suffix(probe_depth).isin(*vals)
        expr = (
            F.when(cond, F.lit(ps))
            if expr is None
            else expr.when(cond, F.lit(ps))
        )
    base = F.lit(1)
    return (expr.otherwise(base) if expr is not None else base).cast("int")


def registered_domain_expr(host: Column, rules: PslRules) -> Column:
    """Registrable domain of `host` under `rules`: public suffix + one
    label; the host itself when it IS a public suffix (or has no extra
    label). Map-only native expression."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    ps = public_suffix_len_expr(host, rules)
    # ONE embedding of the (large) public-suffix CASE instead of two
    # (round 7 — the condition+slice form doubled the expression tree,
    # and analyzer/codegen time scales with it; ~2 s of per-execution
    # fixed cost at the shipped 554-rule snapshot). Value-identical:
    # n > ps  -> start n-ps, slice to array end == the old ps+1 window;
    # n <= ps -> start 1, all labels — and join(split(host,'.'),'.')
    # reconstructs host exactly (split on the literal dot is lossless).
    return F.array_join(
        F.slice(labels, F.greatest(n - ps, F.lit(1)), n), "."
    )


# ---------------------------------------------------------------------------
# DuckDB mirror: the SAME rule sets rendered as SQL, so driver oracles
# replay the lookup value-exactly.
# ---------------------------------------------------------------------------


def _sql_in(vals: list[str]) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in vals)


def _sql_suffix(parts: str, k: int) -> str:
    return " || '.' || ".join(f"{parts}[-{i}]" for i in range(k, 0, -1))


def public_suffix_len_sql(parts: str, rules: PslRules) -> str:
    """DuckDB CASE expression for the public-suffix label count, over a
    `parts` list expression (string_split(host, '.')). Mirrors
    public_suffix_len_expr arm-for-arm (_psl_arms)."""
    arms = [
        f"WHEN len({parts}) >= {k} AND "
        f"({_sql_suffix(parts, depth)}) IN ({_sql_in(vals)}) "
        f"THEN {ps}"
        for k, vals, depth, ps in _psl_arms(rules)
    ]
    return "CASE " + " ".join(arms) + " ELSE 1 END"


def registered_domain_sql(host: str, rules: PslRules) -> str:
    """DuckDB expression for the registrable domain of a host-valued SQL
    expression `host` (mirrors registered_domain_expr)."""
    parts = f"string_split({host}, '.')"
    ps = public_suffix_len_sql(parts, rules)
    return (
        f"(CASE WHEN len({parts}) > ({ps}) "
        f"THEN array_to_string({parts}[len({parts}) - ({ps}):], '.') "
        f"ELSE {host} END)"
    )

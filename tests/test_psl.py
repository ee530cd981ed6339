"""Public Suffix List (functions/psl.py): parser, the native Spark
expression, and the DuckDB SQL mirror — all three checked against an
independent pure-python implementation of the published PSL algorithm
(https://publicsuffix.org/list/ semantics)."""

from __future__ import annotations

import duckdb
import pytest

from name_deduplication_python_spark.functions.psl import (
    PslRules,
    load_psl,
    parse_psl,
    public_suffix_len_sql,
    registered_domain_expr,
    registered_domain_sql,
)


def _ref_public_suffix_len(host: str, rules: PslRules) -> int:
    """Independent reference: the PSL algorithm as published — find all
    matching rules, exceptions win, else longest; default rule '*'."""
    labels = host.split(".")
    n = len(labels)
    best = 1  # the implicit default rule
    for i in range(n):
        sfx_labels = labels[i:]
        sfx = ".".join(sfx_labels)
        k = len(sfx_labels)
        if sfx in rules.exceptions:
            return k - 1  # exception prevails immediately
        if sfx in rules.exact:
            best = max(best, k)
        if k >= 2 and ".".join(sfx_labels[1:]) in rules.wildcards:
            best = max(best, k)
    return best


def _ref_registered_domain(host: str, rules: PslRules) -> str:
    ps = _ref_public_suffix_len(host, rules)
    labels = host.split(".")
    if len(labels) > ps:
        return ".".join(labels[-(ps + 1):])
    return host


_FIXTURE_HOSTS = [
    # plain 2-level rules the lite path got WRONG (co.nz / com.sg were
    # not in MULTIPART_TLDS)
    "www.example.co.nz",
    "a.b.foo.com.sg",
    "foo.com.sg",
    "example.co.uk",
    "deep.www.example.co.uk",
    # host IS a public suffix -> maps to itself (grouping-safe)
    "com.sg",
    "co.uk",
    "uk",
    # default '*' rule
    "example.com",
    "deep.sub.example.com",
    "www.example.fictitioustld",
    "singlelabel",
    # wildcard registry + the canonical exception
    "www.ck",          # !www.ck -> ps=ck, reg=www.ck
    "shop.ck",         # *.ck -> shop.ck IS the ps -> itself
    "x.shop.ck",       # reg = x.shop.ck
    "deep.x.shop.ck",  # reg = x.shop.ck
    # Japanese city wildcard + exception family
    "city.kawasaki.jp",
    "sub.city.kawasaki.jp",
    "foo.bar.kawasaki.jp",   # ps = bar.kawasaki.jp -> reg is the host
    "a.foo.bar.kawasaki.jp", # reg = foo.bar.kawasaki.jp
    "example.co.jp",
    # private-domains section
    "user.github.io",
    "b.user.github.io",
    "src4.blogspot.com",
    "a.src4.blogspot.com",
    "x.s3.amazonaws.com",
    "vm.us-west-2.compute.amazonaws.com",
    # wildcard-only registries
    "example.com.bd",
    "x.example.com.bd",
]


def test_parse_psl_sections_and_rule_kinds():
    text = """// comment
ck
*.ck
!www.ck
co.uk
// ===BEGIN PRIVATE DOMAINS===
github.io
"""
    r = parse_psl(text)
    assert "co.uk" in r.exact and "github.io" in r.exact
    assert "ck" in r.wildcards and "ck" in r.exact
    assert "www.ck" in r.exceptions
    icann = parse_psl(text, include_private=False)
    assert "github.io" not in icann.exact
    assert "co.uk" in icann.exact and "www.ck" in icann.exceptions


def test_snapshot_loads_and_has_the_canonical_rules():
    rules = load_psl()
    for s in ("co.uk", "co.nz", "com.sg", "com.au", "github.io"):
        assert s in rules.exact, s
    assert "ck" in rules.wildcards and "kawasaki.jp" in rules.wildcards
    assert "www.ck" in rules.exceptions
    assert "city.kawasaki.jp" in rules.exceptions
    assert rules.max_ps_labels == 4  # *.compute.amazonaws.com
    icann_only = load_psl(include_private=False)
    assert "github.io" not in icann_only.exact
    assert "co.uk" in icann_only.exact


def test_duckdb_mirror_matches_reference_algorithm():
    rules = load_psl()
    want = {h: _ref_registered_domain(h, rules) for h in _FIXTURE_HOSTS}
    con = duckdb.connect()
    con.execute("CREATE TABLE hosts(host VARCHAR)")
    con.executemany(
        "INSERT INTO hosts VALUES (?)", [(h,) for h in _FIXTURE_HOSTS]
    )
    sql = f"SELECT host, {registered_domain_sql('host', rules)} AS dom FROM hosts"
    got = dict(con.execute(sql).fetchall())
    assert got == want


def test_spark_expression_matches_reference_algorithm(spark):
    rules = load_psl()
    df = spark.createDataFrame([(h,) for h in _FIXTURE_HOSTS], ["host"])
    got = {
        r["host"]: r["dom"]
        for r in df.select(
            "host", registered_domain_expr(F_col("host"), rules).alias("dom")
        ).collect()
    }
    want = {h: _ref_registered_domain(h, rules) for h in _FIXTURE_HOSTS}
    assert got == want


def test_spark_expression_is_native_and_map_only(spark):
    rules = load_psl()
    df = spark.createDataFrame([("www.example.co.nz",)], ["host"])
    plan = (
        df.select(registered_domain_expr(F_col("host"), rules).alias("d"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # map-only projection
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_urlfilter_psl_mode_vs_lite(spark):
    """filter_urls(psl=...) must block a com.sg registrable domain that
    the lite rules can never match (the VERDICT r5 #3 acceptance)."""
    from name_deduplication_python_spark.functions.urlfilter import filter_urls

    docs = spark.createDataFrame(
        [
            (1, "https://src2.com.sg/p/1"),
            (2, "https://other.com.sg/p/2"),
            (3, "https://src2.com/p/3"),
        ],
        ["doc_id", "url"],
    )
    psl_kept = {
        r.doc_id
        for r in filter_urls(
            docs, blocklist=["src2.com.sg"], psl=load_psl()
        ).collect()
    }
    assert psl_kept == {2, 3}
    # lite: domain('src2.com.sg') == 'com.sg' -> blocklist never matches
    lite_kept = {
        r.doc_id
        for r in filter_urls(docs, blocklist=["src2.com.sg"]).collect()
    }
    assert lite_kept == {1, 2, 3}


def F_col(name):
    from pyspark.sql import functions as F

    return F.col(name)


def test_randomized_hosts_duckdb_matches_reference():
    """Property check: random hosts synthesized AROUND the snapshot's own
    rules (rule suffixes with 0-3 random prefix labels, plus rule-free
    hosts) — the DuckDB rendering must agree with the independent
    reference algorithm on every one."""
    import random

    rules = load_psl()
    rng = random.Random(20260818)
    pool = sorted(rules.exact) + sorted(
        "w." + p for p in rules.wildcards
    ) + sorted(rules.exceptions)
    hosts = []
    for _ in range(300):
        base = rng.choice(pool)
        labels = [
            "".join(rng.choice("abcxyz") for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(0, 3))
        ]
        hosts.append(".".join(labels + [base]))
    hosts += ["plainhost", "a.b.c.d.e.nosuchtld"]
    hosts = sorted(set(hosts))

    con = duckdb.connect()
    con.execute("CREATE TABLE hosts(host VARCHAR)")
    con.executemany("INSERT INTO hosts VALUES (?)", [(h,) for h in hosts])
    sql = f"SELECT host, {registered_domain_sql('host', rules)} AS dom FROM hosts"
    got = dict(con.execute(sql).fetchall())
    for h in hosts:
        assert got[h] == _ref_registered_domain(h, rules), h


def test_exception_prevails_over_a_longer_exact_rule(spark):
    """PSL spec: if any matching rule is an exception, it prevails — even
    over a longer exact rule. With {a.www.ck, !www.ck, *.ck} the host
    x.a.www.ck has public suffix ck (ps = 1, registrable www.ck), not
    a.www.ck; both the Spark expression and the DuckDB mirror agree with
    the reference."""
    rules = parse_psl("a.www.ck\n!www.ck\n*.ck\n")
    hosts = ["x.a.www.ck", "a.www.ck", "www.ck", "x.www.ck", "shop.ck", "x.shop.ck"]
    want = {h: _ref_registered_domain(h, rules) for h in hosts}
    assert _ref_public_suffix_len("x.a.www.ck", rules) == 1
    assert want["x.a.www.ck"] == "www.ck"

    con = duckdb.connect()
    con.execute("CREATE TABLE hosts(host VARCHAR)")
    con.executemany("INSERT INTO hosts VALUES (?)", [(h,) for h in hosts])
    sql = f"SELECT host, {registered_domain_sql('host', rules)} AS dom FROM hosts"
    assert dict(con.execute(sql).fetchall()) == want

    df = spark.createDataFrame([(h,) for h in hosts], ["host"])
    got = {
        r["host"]: r["dom"]
        for r in df.select(
            "host", registered_domain_expr(F_col("host"), rules).alias("dom")
        ).collect()
    }
    assert got == want

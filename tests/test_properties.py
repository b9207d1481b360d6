"""Property-based hardening (hypothesis): the ragged-TSV parser
round-trips arbitrary field content, canonicalization is idempotent, the
envelope is always valid JSON. The reference has no property tests
(SURVEY.md §5.8) — these strengthen the parsing surface beyond its
golden matrix.
"""

from __future__ import annotations

import json

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from ganda_spark.functions.transforms import go_json_escape, json_envelope
from ganda_spark.functions.urls import canonicalize_url
from ganda_spark.sources.url_lines import parse_url_lines

# printable text incl. tabs/quotes/newlines-free (line-based protocol)
field_text = st.text(
    alphabet=st.characters(
        codec="ascii", exclude_characters="\n\r", min_codepoint=32
    ),
    min_size=0,
    max_size=40,
)


def _rfc4180_quote(field: str) -> str:
    if "\t" in field or '"' in field:
        return '"' + field.replace('"', '""') + '"'
    return field


_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from ganda_spark.session import get_spark

        _spark = get_spark("props", cores=4)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


@settings(max_examples=20, deadline=None)
@given(st.lists(field_text, min_size=0, max_size=4))
def test_tsv_roundtrip(ctx_fields):
    """serialize(url, fields) → parse == (url, fields)."""
    spark = _get_spark()
    url = "http://prop.test/x"
    line = "\t".join([url] + [_rfc4180_quote(f) for f in ctx_fields])
    df = spark.createDataFrame([(line,)], "value string")
    row = parse_url_lines(spark, df).collect()[0]
    assert row["url"] == url
    expected = ctx_fields if ctx_fields else None
    assert (list(row["context"]) if row["context"] is not None else None) == expected


@settings(max_examples=20, deadline=None)
@given(
    st.integers(0, 36),
    st.sampled_from(["http", "HTTP", "https"]),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    st.sampled_from(["", "#frag", "?", "?a=1"]),
)
def test_canonicalize_idempotent(host_id, scheme, port, tail):
    spark = _get_spark()
    url = f"{scheme}://Host-{host_id}.TEST{port}/p/x{tail}"
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonicalize_url(F.col("url")).alias("c"))
    twice = once.select(canonicalize_url(F.col("c")).alias("c"))
    a, b = once.collect()[0]["c"], twice.collect()[0]["c"]
    assert a == b  # idempotent
    assert a.split("://")[0] in ("http", "https")
    host = a.split("://")[1].split("/")[0]
    assert host == host.lower()
    if (scheme.lower(), port) in (("http", ":80"), ("https", ":443")):
        assert ":" not in host  # default port stripped


@settings(max_examples=20, deadline=None)
@given(field_text)
def test_envelope_is_valid_json_for_quoted_modes(body):
    """For sha256/base64 the envelope must parse as JSON for ANY body."""
    spark = _get_spark()
    df = spark.createDataFrame(
        [("http://a.test/1", 200, body)], "url string, code int, body string"
    )
    for mode in ("sha256", "base64", "discard"):
        line = df.select(
            json_envelope(F.col("url"), F.col("code"), F.col("body"), mode).alias("l")
        ).collect()[0]["l"]
        payload = json.loads(line)
        assert payload["url"] == "http://a.test/1" and payload["code"] == 200


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=0, max_size=60))
def test_go_escape_matches_python_json(s):
    """go_json_escape == python json.dumps with Go's HTML escaping, for
    strings without control chars (those take the exact-UDF path)."""
    if any(ord(c) < 32 and c not in "\n\t\r" for c in s):
        return
    spark = _get_spark()
    df = spark.createDataFrame([(s,)], "s string")
    got = df.select(go_json_escape(F.col("s")).alias("e")).collect()[0]["e"]
    expected = json.dumps(s, ensure_ascii=False)[1:-1]
    for ch, repl in (("<", "\\u003c"), (">", "\\u003e"), ("&", "\\u0026")):
        expected = expected.replace(ch, repl)
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 10**6)),
        min_size=1, max_size=150, unique_by=lambda t: t[1],
    ),
    st.integers(1, 8),
)
def test_global_rank_equals_single_task_reference(rows, parts):
    """with_global_rank == row_number() OVER (ORDER BY priority, seq) for
    arbitrary data and partition counts (the scale-safe rank must be
    indistinguishable from the single-task form it replaces)."""
    from ganda_spark import cache
    from ganda_spark.operators.ranking import with_global_rank

    spark = _get_spark()
    df = spark.createDataFrame(list(rows), "priority int, seq long")
    with cache.scope():
        ranked = with_global_rank(df.repartition(3), ["priority", "seq"], parts, "rk")
        got = {r["seq"]: r["rk"] for r in ranked.collect()}
    expect = {
        s: i + 1
        for i, (_, s) in enumerate(sorted(rows, key=lambda t: (t[0], t[1])))
    }
    assert got == expect

"""Property-based tests (hypothesis) for pure-Python engine pieces.

The reference has no fuzzing (SURVEY §5.7); these go beyond it for the
components where property testing is cheap and valuable: the dialect
rewriter (pure string → string) and the distribution-layer invariants.
Spark-dependent properties use small bounded examples to keep runtime
sane.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from presto_spark.functions.dialect import translate
from presto_spark.session_properties import _duration_to_seconds

IDENT = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True)


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
@settings(max_examples=300, deadline=None)
def test_translate_idempotent(sql):
    """Applying the dialect rewrite twice == once (documented contract)."""
    once = translate(sql)
    assert translate(once) == once


# Text for the inside of a literal or a comment: dialect spellings mixed
# with the characters that open or close lexical tokens.
_FRAGMENTS = st.sampled_from([
    "bitwise_and(1, 2)", "cardinality(x)", "ARRAY[1][1]", "ORDER BY a",
    "TRY(1 / 0)", "x AT TIME ZONE 'UTC'", "it's", "'", '"', "`", "--",
    "/*", "*/", "(", ")", "[", "]", ",", "?", " "])
_LEXICAL_TEXT = st.lists(_FRAGMENTS | st.text(max_size=8), max_size=12).map(
    "".join)


@given(_LEXICAL_TEXT)
@example("bitwise_and(1, 2)")
@settings(max_examples=300, deadline=None)
def test_translate_keeps_string_literals(s):
    """A Presto-escaped string literal is never rewritten."""
    sql = "SELECT '" + s.replace("'", "''") + "' AS x"
    assert translate(sql) == sql


_DIALECT_QUERIES = [
    "SELECT a FROM t ORDER BY a",
    "SELECT a FROM t ORDER BY a DESC LIMIT 3",
    "SELECT cardinality(ARRAY[1, 2]), ARRAY[10, 20][1] FROM t",
    "SELECT approx_distinct(x), bitwise_and(a, b) FROM t GROUP BY g",
    "SELECT rank() OVER (PARTITION BY a ORDER BY b "
    "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t",
    "SELECT sum(x) OVER (ORDER BY y "
    "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t",
    "SELECT TRY(a / b), date_format(ts, '%Y-%m-%d') FROM t "
    "WHERE x = ANY (SELECT y FROM u)",
    "SELECT x FROM t WHERE ts AT TIME ZONE 'UTC' IS NOT NULL",
    "SELECT * FROM t CROSS JOIN UNNEST(arr) AS u(x)",
    "SELECT * FROM t OFFSET 2 ROWS FETCH FIRST 3 ROWS ONLY",
    "SELECT a FROM t WHERE c IN (VALUES 1, 2)",
    'SELECT "sum"("x") "y" FROM t',
    "SELECT CAST(x AS MAP(VARCHAR, ARRAY(BIGINT))), DECIMAL '1.5' FROM t",
    "SELECT array_agg(x) FILTER (WHERE x > 0), strpos(s, 'a', 2) FROM t",
    "SELECT x > ALL (SELECT y FROM u) FROM t",
]


@given(st.sampled_from(_DIALECT_QUERIES),
       _LEXICAL_TEXT.map(lambda c: c.replace("\r", "").replace("\n", "")))
@example(_DIALECT_QUERIES[0], "it's bitwise_and(1, 2)")
@settings(max_examples=300, deadline=None)
def test_translate_ignores_trailing_comment(q, c):
    """A comment is not code: appending one changes nothing else."""
    assert translate(q + "\n-- " + c) == translate(q) + "\n-- " + c


# Presto-only spellings, and call-table entries to nest them in: the
# datetime and JSON entries, an aggregate expansion and macros.
_PRESTO_ONLY = st.sampled_from([
    "date_parse(s, '%Y-%m-%d')", "cardinality(a)", "bitwise_and(x, 3)",
    "approx_distinct(x)", "regexp_split(s, ',')", "parse_datetime(s, 'YYYY')",
    "json_extract(j, '$..a')", "ngrams(a, 2)", "TRY(x / y)"])
_OUTER_CALLS = st.sampled_from([
    "date_format({}, '%Y')", "format_datetime({}, 'YYYY-MM')",
    "json_extract({}, '$.b')", "json_size({}, '$[*]')", "kurtosis({})",
    "remove_nulls({})", "array_top_n({}, 2)", "typeof({})",
    "approx_percentile({}, 0.5)", "features({})", "substr({}, n)",
    "no_keys_match({}, k -> k > 1)"])


@given(_PRESTO_ONLY, st.lists(_OUTER_CALLS, min_size=1, max_size=3))
@example("date_parse(s, '%Y-%m-%d')", ["date_format({}, '%Y')"])
@example("json_extract(j, '$..a')", ["json_extract({}, '$.b')"])
@settings(max_examples=300, deadline=None)
def test_translate_rewrites_calls_nested_in_table_entries(inner, outers):
    """A Presto-only spelling nested in the arguments of other call
    table entries never survives translate, and the result is a fixed
    point."""
    expr = inner
    for outer in outers:
        expr = outer.format(expr)
    once = translate(f"SELECT {expr} FROM t")
    assert inner not in once
    assert translate(once) == once


@given(IDENT)
@settings(max_examples=100, deadline=None)
def test_translate_leaves_unknown_functions_alone(name):
    """Only the mapped spellings are rewritten.  The exemption set
    derives from the live call table (a hardcoded list missed 1-arg
    macro names like normalize — only low generation probability kept
    it green)."""
    from presto_spark.functions import dialect as _d

    exempt = set(_d._CALLS) | {"array_agg"}
    if name in exempt:
        return
    sql = f"SELECT {name}(x) FROM t"
    assert translate(sql) == sql


@given(st.sampled_from(["day", "hour", "month", "year", "second", "minute"]),
       st.integers(min_value=-1000, max_value=1000))
@settings(max_examples=50, deadline=None)
def test_date_add_rewrite_shape(unit, n):
    out = translate(f"SELECT date_add('{unit}', {n}, ts) FROM t")
    assert f"timestampadd({unit.upper()}, {n}, ts)" in out
    # Spark's own 2-arg date_add must never be touched.
    assert translate("SELECT date_add(d, 3) FROM t") == "SELECT date_add(d, 3) FROM t"


@given(st.integers(min_value=0, max_value=10_000),
       st.sampled_from(["s", "m", "h", "d"]))
@settings(max_examples=50, deadline=None)
def test_duration_parse(n, unit):
    mult = {"s": 1, "m": 60, "h": 3600, "d": 86400}[unit]
    assert _duration_to_seconds(f"{n}{unit}") == n * mult


# ---- round-15 operator properties (pure-Python pieces — no Spark) ----

@given(st.lists(
    st.binary(min_size=0, max_size=200), min_size=0, max_size=6),
    st.integers(min_value=0, max_value=2))
@settings(max_examples=60, deadline=None)
def test_warc_record_walker_roundtrip(bodies, layout):
    """llm/warc.py: arbitrary binary content blocks survive the
    build -> (plain | whole-gzip | member-gzip) -> parse roundtrip
    byte-for-byte, in order — the walker's framing never depends on
    body contents."""
    import gzip

    from presto_spark.llm import warc

    members = []
    for i, body in enumerate(bodies):
        head = (f"WARC/1.0\r\nWARC-Type: metadata\r\n"
                f"WARC-Record-ID: <urn:uuid:p-{i}>\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode()
        members.append(head + body + b"\r\n\r\n")
    raw = b"".join(members)
    payload = (raw if layout == 0
               else gzip.compress(raw) if layout == 1
               else b"".join(gzip.compress(m) for m in members))
    if not payload:
        return  # empty archive: nothing to parse
    recs = warc.parse_warc(payload)
    assert [r["body"] for r in recs] == list(bodies)
    assert all(r["warc_type"] == "metadata" for r in recs)


@given(st.text(alphabet=st.characters(codec="ascii",
                                      exclude_categories=("Cc", "Zs")),
               min_size=1, max_size=24),
       st.lists(st.tuples(st.text(alphabet="abc", min_size=1, max_size=2),
                          st.text(alphabet="abc", min_size=1, max_size=2)),
                max_size=12))
@settings(max_examples=80, deadline=None)
def test_bpe_encode_reconstructs_any_word(word, merges):
    """llm/bpe.py _encode_word: for ANY word and ANY merge table,
    concatenating the output symbols reproduces word + the end marker
    (lossless), and output length never exceeds the symbol count."""
    from presto_spark.llm import bpe

    ranks = {}
    for pair in merges:
        ranks.setdefault(pair, len(ranks))
    out = bpe._encode_word(word, ranks)
    assert "".join(out) == word + bpe.EOW
    assert 1 <= len(out) <= len(word) + 1
# To append to tests/test_properties.py after the suite finishes.


@given(st.lists(st.integers(min_value=0, max_value=50),
                min_size=64, max_size=64),
       st.integers(min_value=1, max_value=5))
@settings(max_examples=60, deadline=None)
def test_ahash_invariant_under_brightness_scaling(pixels, c):
    """llm/multimodal.py ahash_bands: the integer 64*cell > total
    threshold is invariant under uniform multiplicative brightness
    change (both sides scale by c) — the property that makes aHash a
    perceptual hash rather than an exposure hash."""
    from presto_spark.llm import multimodal

    img = {"width": 8, "height": 8, "channels": 1, "pixels": pixels}
    scaled = {"width": 8, "height": 8, "channels": 1,
              "pixels": [p * c for p in pixels]}
    assert multimodal.ahash_bands(img) == multimodal.ahash_bands(scaled)


@given(st.lists(st.integers(min_value=-100, max_value=100),
                min_size=0, max_size=300),
       st.integers(min_value=1, max_value=8))
@settings(max_examples=60, deadline=None)
def test_audio_fingerprint_invariant_under_amplitude_scaling(samples, c):
    """llm/multimodal.py audio_fingerprint_bits: exact amplitude
    scaling multiplies every window energy by c^2, so the sign
    contour — hence the fingerprint — is unchanged."""
    from presto_spark.llm import multimodal

    a = {"sample_width": 2, "samples": samples}
    b = {"sample_width": 2, "samples": [s * c for s in samples]}
    assert (multimodal.audio_fingerprint_bits(a)
            == multimodal.audio_fingerprint_bits(b))

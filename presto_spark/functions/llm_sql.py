"""SQL spellings for the LLM scalar tier (round 14, VERDICT r13
next-round #3).

The engine's primary user surface is ``engine.sql(...)`` in the Presto
dialect, but the north-star LLM operators were DataFrame-only — a data
engineer who lives in SQL could not reach simhash16 / html_to_text /
split_bucket / poly_hash / the quality-score expression without
Python.  Same recipe as the geo tier's SQL surface
(functions/geo_sql_measures.py): pure-expression SQL temp-function
bodies in the registry's one shim table, registered only for queries
that call them.

Drift control: everything derivable from a Python table IS derived
from it — the html_to_text chain is generated from
``llm.text._HTML_STEPS`` and the stopword list from
``llm.text.STOPWORDS`` (the verify skill's generated-oracle rule) —
and the hand-transliterated bodies (poly fold, simhash, quality
score) are bit-parity-pinned against the Column builders by
tests/test_llm_sql_spellings.py.

Citations: the scalar semantics mirror llm/text.py poly_hash /
quality_score / html_to_text, llm/dedup.py simhash16, and llm/mix.py
split_bucket — see those docstrings for the reference analogs
(e.g. operator/scalar/VarbinaryFunctions.java xxhash64 for the
fingerprint role).
"""

from __future__ import annotations

from presto_spark.llm.mix import _BUCKETS
from presto_spark.llm.text import _HTML_STEPS, STOPWORDS

# 31-base char fold mod 1e9+7 over {s} — the SQL twin of
# llm/text.py poly_hash (same recurrence the DuckDB oracles replay).
_POLY = ("aggregate(transform(split({s}, ''), "
         "_ps_c -> CAST(ascii(_ps_c) AS BIGINT)), CAST(0 AS BIGINT), "
         "(_ps_ac, _ps_x) -> (_ps_ac * 31 + _ps_x) % 1000000007)")

# whitespace tokens, lowercased (llm/text.py tokens) — '\\\\s+' in this
# Python source is \\s+ in the SQL text, which the Spark lexer's
# escape processing turns into the \s+ regex.
_TOKS = "split(lower(trim(s)), '\\\\s+')"


def _sql_lit(text: str) -> str:
    """A Spark SQL single-quoted literal for ``text`` — backslashes
    and quotes escaped so regex patterns survive the lexer's escape
    processing; newlines become the recognized \\n escape."""
    return ("'" + text.replace("\\", "\\\\").replace("'", "\\'")
            .replace("\n", "\\n") + "'")


def _simhash_body() -> str:
    """llm/dedup.py simhash16 transliterated: per-token poly hashes,
    then for each of the 16 bits a majority vote via div/mod (no
    engine bitops — same arithmetic the oracle replays), summed."""
    th = ("transform(" + _TOKS + ", _ps_t -> "
          + _POLY.format(s="_ps_t") + ")")
    bits = []
    for b in range(16):
        vote = ("aggregate(_ps_th, CAST(0 AS BIGINT), (_ps_ac, _ps_h) "
                f"-> _ps_ac + CAST(floor(_ps_h / {2 ** b}) % 2 * 2 - 1 "
                "AS BIGINT))")
        bits.append(f"CASE WHEN {vote} > 0 THEN CAST({2 ** b} AS BIGINT) "
                    "ELSE CAST(0 AS BIGINT) END")
    return ("element_at(transform(array(" + th + "), _ps_th -> "
            + " + ".join(bits) + "), 1)")


def _html_body() -> str:
    """Generated FROM llm/text.py's _HTML_STEPS step table (never
    hand-copied), so the SQL spelling cannot drift from the Column
    builder or the DuckDB oracle chain."""
    out = "s"
    for pat, rep in _HTML_STEPS:
        out = f"regexp_replace({out}, {_sql_lit(pat)}, {_sql_lit(rep)})"
    return f"trim({out})"


def _quality_body() -> str:
    """llm/text.py quality_score transliterated — the same two-stage
    rounding (avg_token_len and stopword_ratio round to 6 BEFORE the
    composite, which rounds again) so the SQL spelling is bit-equal
    to the Column tier."""
    stop_list = ", ".join(_sql_lit(w) for w in STOPWORDS)
    stats = (
        "named_struct("
        "'n', size(_ps_tk), "
        "'avg', round(CAST(aggregate(_ps_tk, CAST(0 AS BIGINT), "
        "(_ps_ac, _ps_x) -> _ps_ac + length(_ps_x)) AS DOUBLE) "
        "/ size(_ps_tk), 6), "
        "'sw', round(CAST(size(filter(_ps_tk, "
        f"_ps_x -> _ps_x IN ({stop_list}))) AS DOUBLE) "
        "/ size(_ps_tk), 6))")
    score = (
        "CASE WHEN _ps_q.n < 5 THEN CAST(0.0 AS DOUBLE) "
        "ELSE round("
        "least(_ps_q.n / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) "
        "* CAST(0.4 AS DOUBLE) "
        "+ least(_ps_q.avg / CAST(8.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) "
        "* CAST(0.3 AS DOUBLE) "
        "+ least(_ps_q.sw * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) "
        "* CAST(0.3 AS DOUBLE), 6) END")
    return ("element_at(transform(array(" + _TOKS + "), _ps_tk -> "
            "element_at(transform(array(" + stats + "), _ps_q -> "
            + score + "), 1)), 1)")


def llm_sql_udfs() -> dict[str, tuple[str, str, str]]:
    """name -> (args, return type, body) for the LLM scalar tier."""
    poly = _POLY.format(s="s")
    bucket = (
        "("
        + _POLY.format(
            s="md5(concat(id, ':', CAST(seed AS STRING)))")
        + f" % {_BUCKETS}) / CAST({_BUCKETS} AS DOUBLE)")
    return {
        # rolling-hash fingerprint (llm/text.py poly_hash; fingerprint
        # is the with_fingerprint spelling of the same fold)
        "poly_hash": ("s STRING", "BIGINT", poly),
        "fingerprint": ("s STRING", "BIGINT", poly),
        # 16-bit SimHash (llm/dedup.py simhash16)
        "simhash16": ("s STRING", "BIGINT", _simhash_body()),
        # deterministic unit-interval split bucket (llm/mix.py
        # split_bucket; md5 of "<id>:<seed>" -> 31-base fold -> [0,1))
        "split_bucket": ("id STRING, seed BIGINT", "DOUBLE", bucket),
        # HTML -> visible text (llm/text.py html_to_text)
        "html_to_text": ("s STRING", "STRING", _html_body()),
        # Gopher/C4-style composite quality score (llm/text.py
        # quality_score)
        "quality_score": ("s STRING", "DOUBLE", _quality_body()),
    }

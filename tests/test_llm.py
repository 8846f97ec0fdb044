"""Differential + behavioral tests for the LLM-data operators."""

import pytest
from pyspark.sql import functions as F

from presto_spark.llm import dedup, multimodal, similarity, text
from presto_spark.queries import REGISTRY
from tests.conftest import SF_DIR, assert_same

LLM = [n for n, q in REGISTRY.items() if "llm" in q.tags]


@pytest.mark.parametrize("name", LLM)
def test_llm_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    sdf = q.spark(spark, SF_DIR)
    if q.oracle is None:
        assert sdf.count() >= 0
    else:
        assert_same(sdf, duck, q.oracle)


def test_minhash_similar_docs_share_signature_entries(spark):
    """Two near-identical texts must agree on most signature positions —
    the property LSH banding depends on."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "the quick brown fox jumps over the lazy dog again and often"),
         (3, "completely different words appear in this unrelated sentence")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.minhash for r in dedup.with_minhash(df).collect()}
    agree_12 = sum(a == b for a, b in zip(rows[1], rows[2]))
    agree_13 = sum(a == b for a, b in zip(rows[1], rows[3]))
    assert agree_12 > agree_13
    assert agree_12 >= len(rows[1]) // 2


def test_exact_dedup_drops_copies(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other text")],
        "doc_id long, text string",
    )
    out = {r.keep_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_cosine_topk_identical_vector_ranks_first(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = similarity.cosine_topk(df, df.where(F.col("vec_id") == 1), k=2).collect()
    assert out[0].neighbor_id == 2 and abs(out[0].sim - 1.0) < 1e-9


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_quality_score_bounds(spark):
    docs = spark.table("documents")
    from presto_spark.queries.base import prepare
    prepare(spark, SF_DIR)
    qs = text.quality_score(spark.table("documents"))
    row = qs.agg(F.min("quality").alias("lo"), F.max("quality").alias("hi")).collect()[0]
    assert 0.0 <= row.lo <= row.hi <= 1.0


def test_with_text_stats_python_matches_column_path(spark):
    """r15 optimization round: with_text_stats computes the integer
    token stats (count, summed length, stopword hits) in one Arrow
    pass; every derived column must be VALUE-EXACT against the original
    Column-expression chain — including the Java-vs-Python divergence
    traps (Unicode \\s vs Java's ASCII class, trim-is-spaces-only,
    Unicode lowercasing, kept empty edge tokens) and the NULL-text
    legacy size(NULL) = -1 artifacts (n_tokens = -1,
    stopword_ratio = 1.0, avg_token_len = NULL)."""
    cases = [
        None, "", " ", "   ", "a", "a b", "\ta b\t", "a\tb\nc\x0bd\fe\rf",
        "the the the the the", "MiXeD CaSe TeXt here ok",
        "Über straße İstanbul", "a\xa0b c d", "a 😀 b c",
        "one 22 three 4,4 five-six", "word " * 40,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string")
    cols = ["doc_id", "n_chars_calc", "n_tokens", "avg_token_len",
            "stopword_ratio", "digit_ratio", "space_ratio"]
    want = text._with_text_stats_column(df).select(*cols).orderBy("doc_id")
    got = text.with_text_stats(df).select(*cols).orderBy("doc_id")
    assert repr(got.collect()) == repr(want.collect())


def test_dedup_clusters_transitive(spark):
    """a-b and b-c near-dup edges must land a, b, c in ONE cluster —
    the transitivity single-pair dedup misses."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    # a long chain, a star with mixed edge directions, an isolated pair
    edges = ([(i, i + 1) for i in range(1, 9)]
             + [(20, 21), (22, 21), (23, 20)]
             + [(30, 31)])
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    out = {r.doc_id: r.cluster_id for r in dedup.dedup_clusters(pairs).collect()}
    assert out == {**{i: 1 for i in range(1, 10)},
                   20: 20, 21: 20, 22: 20, 23: 20, 30: 30, 31: 30}


def test_with_shingles_python_matches_column_path(spark):
    """r15 optimization round: with_shingles now computes the
    tokenize→char-hash→shingle chain in an Arrow pass; it must be
    VALUE-EXACT against the original Column-expression chain —
    including the Java-vs-Python divergence traps: Unicode \\s (NBSP
    is NOT a Java \\s separator), trim-is-spaces-only, codepoint-level
    chars (emoji), Unicode lowercasing, the NULL-text [NULL] artifact,
    and empty/whitespace-only strings."""
    from presto_spark.llm.dedup import (shingles_from_token_hashes,
                                        token_hashes)

    cases = [
        None, "", " ", "   ", "a", "a b", "a b c", "a  b   c",
        " a b c ", "\ta b", "a b\t", "a\tb\nc\x0bd\fe\rf",
        "A MiXeD Case LINE", "one two three four five six",
        "ß İ é ñ", "a\xa0b c d", "a 😀 b c", "word " * 40,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string")
    column_path = {
        r.doc_id: r.sh
        for r in df.select(
            "doc_id",
            shingles_from_token_hashes(
                token_hashes(F.col("text"))).alias("sh")).collect()
    }
    arrow_path = {
        r.doc_id: r.shingles
        for r in dedup.with_shingles(df).collect()
    }
    assert arrow_path == column_path
    # null_text_as_null mode: identical on non-NULL text, NULL shingles
    # (not the legacy [NULL] artifact) for NULL text.
    null_mode = {
        r.doc_id: r.shingles
        for r in dedup.with_shingles(df, null_text_as_null=True).collect()
    }
    assert null_mode == {
        k: (None if cases[k] is None else v) for k, v in column_path.items()
    }


def test_dedup_clusters_rejects_edges_over_bound(spark, monkeypatch):
    """More than MAX_EDGE_ROWS pairs raise instead of collecting an
    unbounded edge list; exactly MAX_EDGE_ROWS still clusters."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    monkeypatch.setattr(dedup, "MAX_EDGE_ROWS", 2)
    with pytest.raises(ValueError, match="MAX_EDGE_ROWS"):
        dedup.dedup_clusters(pairs)
    monkeypatch.setattr(dedup, "MAX_EDGE_ROWS", 3)
    assert dedup.dedup_clusters(pairs).count() == 5


# ---- repetition filters + PII redaction (llm/text.py round-6) ----

def test_repetition_stats_known_document(spark):
    from presto_spark.llm import text as T

    doc = "a b a b a b\nline one\nline one\nunique line"
    df = spark.createDataFrame([(1, doc)], "doc_id int, text string")
    row = T.repetition_stats(df, "text", "doc_id").collect()[0]
    # words: a b a b a b line one line one unique line -> 12 words,
    # 5 distinct -> dup_word = 1 - 5/12
    assert row.dup_word_frac == pytest.approx(1 - 5 / 12, rel=1e-12)
    # 4 lines, 3 distinct
    assert row.dup_line_frac == pytest.approx(0.25, rel=1e-12)
    # bigrams: 11 total; 'a b' appears 3x ('b a' 2x, 'line one' 2x...)
    assert row.top_bigram_frac == pytest.approx(3 / 11, rel=1e-12)


def test_repetition_stats_degenerate_docs(spark):
    from presto_spark.llm import text as T

    df = spark.createDataFrame(
        [(1, "single"), (2, "x x x x")], "doc_id int, text string")
    rows = {r.doc_id: r for r in
            T.repetition_stats(df, "text", "doc_id").collect()}
    assert rows[1].top_bigram_frac == 0.0  # no bigrams
    assert rows[2].dup_word_frac == pytest.approx(0.75)
    assert rows[2].top_bigram_frac == 1.0  # 'x x' covers all bigrams


def test_redact_pii_all_categories(spark):
    from pyspark.sql import functions as F
    from presto_spark.llm import text as T

    s = ("mail bob.smith+x@corp.example.org call (415) 555-2671 or "
         "415-555-2671 ssn 123-45-6789 host 192.168.0.1 done")
    df = spark.createDataFrame([(s,)], "text string")
    out = df.select(T.redact_pii(F.col("text")).alias("r")).collect()[0].r
    assert out == ("mail [EMAIL] call [PHONE] or [PHONE] ssn [SSN] "
                   "host [IP] done")


def test_c4_line_filters_rules(spark):
    """C4 hygiene rules (Raffel et al. 2020 §2.2): terminal-punctuation
    + word-count line keep, lorem-ipsum / brace / javascript page
    flags, and the min-kept-lines document verdict."""
    from presto_spark.llm import text as T

    docs = [
        # 3 kept lines -> keep
        (1, "This is a good long sentence one.\n"
            "Here is another proper sentence two!\n"
            "And a third full sentence right here?\n"
            "short line\nno terminal punctuation here at all"),
        # lorem ipsum page -> drop
        (2, "This is a good long sentence one.\n"
            "Here is another proper sentence two.\n"
            "Lorem Ipsum dolor sit amet consectetur."),
        # brace page -> drop
        (3, "This is a good long sentence one.\n"
            "function f() { return 1; }\n"
            "Here is another proper sentence two.\n"
            "And a third full sentence right here."),
        # javascript LINE removed, 3 kept lines remain -> keep
        # (C4 drops the offending line, not the page; ADVICE r7)
        (4, "Please enable javascript to view this.\n"
            "This is a good long sentence one.\n"
            "Here is another proper sentence two.\n"
            "And a third full sentence right here."),
        # only 2 kept lines -> drop
        (5, "This is a good long sentence one.\n"
            "Here is another proper sentence two."),
        # javascript line removal leaves only 2 kept lines -> drop
        (6, "Please enable javascript to view this.\n"
            "This is a good long sentence one.\n"
            "Here is another proper sentence two."),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    rows = {r.doc_id: r for r in T.c4_line_filters(df).collect()}
    assert rows[1].keep_document and rows[1].n_kept_lines == 3
    assert rows[1].n_lines == 5
    assert not rows[2].keep_document and rows[2].has_lorem_ipsum
    assert not rows[3].keep_document and rows[3].has_brace
    assert rows[4].keep_document and rows[4].has_javascript_line
    assert rows[4].n_kept_lines == 3
    assert not rows[5].keep_document and rows[5].n_kept_lines == 2
    assert not rows[6].keep_document and rows[6].has_javascript_line
    assert rows[6].n_kept_lines == 2


def test_exact_dedup_against_reference(spark):
    """Cross-corpus exact dedup: in-batch duplicates collapse to the
    minimum id, and any digest already in the reference corpus drops
    (llm/dedup.py exact_dedup_against — the incremental-ingest pass)."""
    from presto_spark.llm import dedup as D

    batch = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta"), (4, "gamma")],
        "doc_id int, text string")
    reference = spark.createDataFrame(
        [(100, "beta"), (101, "delta")], "doc_id int, text string")
    rows = {r.keep_id: r for r in
            D.exact_dedup_against(batch, reference).collect()}
    # "alpha" keeps id 1 with 2 copies; "beta" dropped (in reference);
    # "gamma" survives alone
    assert set(rows) == {1, 4}
    assert rows[1].n_copies == 2
    assert rows[4].n_copies == 1


def test_contamination_report_known_overlap(spark):
    """Decontamination: a training doc sharing a word 3-gram with a
    benchmark doc reports the contaminated shingle count and the
    number of benchmark docs hit; a clean doc reports zeros
    (llm/dedup.py contamination_report)."""
    from presto_spark.llm import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),   # shares "the quick brown"
                                             # + "quick brown fox" with b1
         (2, "completely different words entirely here")],
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [(10, "the quick brown fox"),
         (11, "the quick brown cat")],
        "doc_id int, text string")
    rows = {r.doc_id: r for r in
            D.contamination_report(docs, bench).collect()}
    # doc 1: shingles of 5 tokens → 3 distinct 3-grams; "the quick
    # brown" hits BOTH benchmarks, "quick brown fox" hits b10 only
    assert rows[1].n_shingles == 3
    assert rows[1].n_contaminated == 2
    assert rows[1].n_benchmarks_hit == 2
    assert abs(rows[1].contamination_ratio - round(2 / 3, 6)) < 1e-9
    assert rows[2].n_contaminated == 0
    assert rows[2].n_benchmarks_hit == 0
    assert rows[2].contamination_ratio == 0.0


def test_deterministic_split_stable_and_proportional(spark):
    """llm/mix.py deterministic_split: the label is a pure function of
    the id (same assignment on re-run and under different partition
    layouts), proportions track the weights, and bad weights raise."""
    import pytest

    from presto_spark.llm import mix

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = {r.doc_id: r.split
          for r in mix.deterministic_split(df, id_col="doc_id").collect()}
    s2 = {r.doc_id: r.split
          for r in mix.deterministic_split(
              df.repartition(7), id_col="doc_id").collect()}
    assert s1 == s2
    n = len(s1)
    train = sum(1 for v in s1.values() if v == "train") / n
    val = sum(1 for v in s1.values() if v == "validation") / n
    assert 0.75 < train < 0.85
    assert 0.07 < val < 0.13
    # different seed → different assignment (hash actually keyed)
    s3 = {r.doc_id: r.split
          for r in mix.deterministic_split(
              df, id_col="doc_id", seed=7).collect()}
    assert s3 != s1
    with pytest.raises(ValueError, match="positive"):
        mix.deterministic_split(df, weights={"a": 0.0, "b": 1.0})


def test_pack_token_budget_known_case(spark):
    """llm/mix.py pack_token_budget: documents enter in id order until
    the running token total would exceed the budget; later groups
    are independent."""
    import pytest

    from presto_spark.llm import mix

    df = spark.createDataFrame(
        [(1, "a", "one two three"),        # 3 tokens, cum 3 → kept
         (2, "a", "four five six seven"),  # 4 tokens, cum 7 → kept
         (3, "a", "eight nine"),           # 2 tokens, cum 9 > 8 → out
         (4, "b", "x y z")],               # separate group, cum 3 → kept
        "doc_id int, source string, text string")
    rows = {r.doc_id: r for r in
            mix.pack_token_budget(df, budget=8).collect()}
    assert [rows[i].kept for i in (1, 2, 3, 4)] == [True, True, False,
                                                    True]
    assert rows[3].cum_tokens == 9
    assert rows[4].cum_tokens == 3
    with pytest.raises(ValueError, match="positive"):
        mix.pack_token_budget(df, budget=0)


def test_stdlib_image_decoders_and_resize():
    """Round 13: decode_image really parses NetPBM (incl. header
    comments) and uncompressed 24-bit BMP (bottom-up rows, BGR order,
    4-byte padding); resize_image nearest-neighbor samples match the
    index map; codec formats still raise (the PIL slot)."""
    import struct

    from presto_spark.llm import multimodal as M

    img = M.decode_image(M.synth_pgm(3, 8, 6))
    assert (img["width"], img["height"], img["channels"]) == (8, 6, 1)
    assert img["pixels"] == [(3 * 31 + k) % 256 for k in range(48)]
    # PPM with a header comment
    ppm = b"P6\n# comment\n2 2 255\n" + bytes(range(12))
    p = M.decode_image(ppm)
    assert (p["width"], p["height"], p["channels"]) == (2, 2, 3)
    assert p["pixels"] == list(range(12))
    # nearest-neighbor resize: target (x, y) reads src (2x, 2y)
    r = M.decode_image(M.resize_image(M.synth_pgm(3, 8, 6), 4, 3))
    assert r["pixels"] == [
        (3 * 31 + (2 * y) * 8 + 2 * x) % 256
        for y in range(3) for x in range(4)]
    # 2x2 24-bit BMP, bottom-up + BGR + row padding
    rows = [bytes([0, 0, 255, 128, 128, 128]) + b"\x00\x00",   # top
            bytes([255, 0, 0, 0, 255, 0]) + b"\x00\x00"]       # bottom
    stored = rows[1] + rows[0]
    hdr = b"BM" + struct.pack("<IHHI", 54 + len(stored), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                      len(stored), 2835, 2835, 0, 0)
    b = M.decode_image(hdr + dib + stored)
    assert b["pixels"][:6] == [255, 0, 0, 128, 128, 128]   # top, RGB
    assert b["pixels"][6:] == [0, 0, 255, 0, 255, 0]
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\xff\xd8\xff jpeg")


def test_stdlib_wav_decode():
    """Round 13: decode_audio parses the RIFF/WAVE container through
    the stdlib wave module; non-WAV payloads raise (the
    torchaudio/ffmpeg slot)."""
    from presto_spark.llm import multimodal as M

    a = M.decode_audio(M.synth_wav(5, 64, 8000))
    assert (a["n_channels"], a["framerate"], a["n_frames"]) == (1, 8000,
                                                                64)
    assert a["samples"] == [(5 * 17 + 3 * k) % 256 for k in range(64)]
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"OggS....")


def test_stdlib_wav_decode_16bit_stereo():
    """decode_audio handles 16-bit signed stereo PCM (struct-unpacked,
    channel-interleaved)."""
    import io
    import struct
    import wave

    from presto_spark.llm import multimodal as M

    buf = io.BytesIO()
    samples = [100, -200, 32767, -32768, 0, 5]
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(struct.pack("<6h", *samples))
    a = M.decode_audio(buf.getvalue())
    assert (a["n_channels"], a["framerate"], a["n_frames"]) == (2, 16000,
                                                                3)
    assert a["samples"] == samples


def test_html_to_text_extraction(spark):
    """llm/text.py html_to_text: script/style/comment content drops,
    block closers become line breaks, entities decode, whitespace
    collapses."""
    from presto_spark.llm import text as T

    html = ("<html><head><style>p {color: red}</style>"
            "<script>var hidden = 'secret';</script></head>"
            "<body><h1>Title  here</h1><p>First &amp; second "
            "&lt;x&gt;&nbsp;done.</p><!-- invisible -->"
            "<div>tail</div></body></html>")
    df = spark.createDataFrame([(1, html)], "doc_id int, html string")
    got = df.select(T.html_to_text(F.col("html")).alias("v")
                    ).collect()[0].v
    assert got == "Title here\nFirst & second <x> done.\ntail"
    assert "secret" not in got and "color" not in got
    assert "invisible" not in got


def test_audio_features_width_matched_center(spark):
    """ADVICE r13: audio_features must center 16-bit signed PCM on 0
    (8-bit unsigned on 128) — RMS and zero-crossings of a signed
    square wave come out right only under the width-matched
    convention."""
    import pandas as pd

    from presto_spark.llm import multimodal as M

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [M.synth_wav(0, 64, 8000) if d == 0
                            else M.synth_wav16(1, 64, 8000)
                            for d in pdf.doc_id],
            })

    payloads = (spark.range(2).withColumnRenamed("id", "doc_id")
                .mapInPandas(synth, "doc_id long, payload binary"))
    rows = {r.doc_id: r
            for r in M.audio_features(payloads).collect()}
    for did, synth_fn, center in ((0, M.synth_wav, 128),
                                  (1, M.synth_wav16, 0)):
        s = M.decode_audio(synth_fn(did, 64, 8000))["samples"]
        rms = (sum((v - center) ** 2 for v in s) / 64) ** 0.5
        zc = sum(1 for i in range(63)
                 if (s[i] >= center) != (s[i + 1] >= center))
        assert abs(rows[did].rms - rms) < 1e-9
        assert rows[did].zero_crossings == zc
    assert rows[0].sample_width == 1
    assert rows[1].sample_width == 2


def test_resample_shares_decode_with_features():
    """ADVICE r13 / VERDICT r13 nit: resize decomposes into
    decode -> resample_pixels -> encode_netpbm, so image_features can
    resample the already-decoded pixel buffer instead of re-decoding
    through a byte round-trip."""
    from presto_spark.llm import multimodal as M

    payload = M.synth_pgm(7, 8, 6)
    img = M.decode_image(payload)
    resampled = M.resample_pixels(img, 4, 3)
    # the byte-level resize is exactly encode(resample(decode))
    assert M.resize_image(payload, 4, 3) == M.encode_netpbm(
        resampled, 4, 3, img["channels"])
    # nearest-neighbor index map: target (x, y) reads src (2x, 2y)
    assert resampled == [img["pixels"][(2 * y) * 8 + 2 * x]
                         for y in range(3) for x in range(4)]


def test_html_escaped_entities_single_decode(spark):
    """ADVICE r13: '&amp;lt;' is ESCAPED entity text and must decode
    once (to '&lt;'), not twice (to '<') — &amp; decodes last."""
    from presto_spark.llm import text as T

    df = spark.createDataFrame(
        [(1, "<p>use &amp;lt;b&amp;gt; for bold &amp;amp; more</p>")],
        "doc_id int, html string")
    got = df.select(T.html_to_text(F.col("html")).alias("v")
                    ).collect()[0].v
    assert got == "use &lt;b&gt; for bold &amp; more"


def test_contamination_report_null_text_and_df_cap(spark):
    """ADVICE r13: a NULL-text document must appear in the report
    (NULL n_shingles/ratio, zero match counts) instead of vanishing;
    VERDICT r13: max_shingle_bench_df drops hot boilerplate shingles
    before the corpus join."""
    from presto_spark.llm import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None)],
        "doc_id int, text string")
    bench = spark.createDataFrame(
        [(10, "the quick brown fox"), (11, "the quick brown cat")],
        "doc_id int, text string")
    rows = {r.doc_id: r for r in
            D.contamination_report(docs, bench).collect()}
    assert set(rows) == {1, 2}
    assert rows[2].n_shingles is None
    assert rows[2].contamination_ratio is None
    assert rows[2].n_contaminated == 0 and rows[2].n_benchmarks_hit == 0
    # df cap: "the quick brown" occurs in BOTH bench docs (df 2) and
    # is dropped at cap 1; "quick brown fox" (df 1) survives
    capped = {r.doc_id: r for r in
              D.contamination_report(
                  docs, bench, max_shingle_bench_df=1).collect()}
    assert capped[1].n_contaminated == 1
    assert capped[1].n_benchmarks_hit == 1
    assert rows[1].n_contaminated == 2  # uncapped baseline unchanged


def test_near_dedup_against_known_cross_pairs(spark):
    """near_dedup_against flags a new-batch doc that near-matches a
    reference doc (and an exact cross-corpus copy at jaccard 1.0), and
    never reports in-batch or in-reference pairs."""
    from presto_spark.llm import dedup as D

    ref = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta"),
         (4, "totally unrelated reference content here now")],
        "doc_id int, text string")
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),       # exact copy
         (3, "alpha beta gamma delta epsilon eta"),        # near (4/6 3-grams... )
         (5, "nothing in common with anything else at all")],
        "doc_id int, text string")
    rows = {(r.new_id, r.ref_id): r.jaccard
            for r in D.near_dedup_against(batch, ref,
                                          threshold=0.4).collect()}
    assert rows[(1, 2)] == 1.0
    assert (3, 2) in rows and 0.4 <= rows[(3, 2)] < 1.0
    assert all(nid in (1, 3) and rid == 2 for nid, rid in rows)


def test_pack_sequences_spill_and_boundaries(spark):
    """pack_sequences: docs lay end-to-end per group, cut every L
    tokens; a doc spanning a cut spills with correct per-segment
    offsets/flags, and every sequence except the group's last is
    exactly full."""
    from presto_spark.llm import mix

    # group g: docs of 6, 4, 5 tokens; L=8 →
    #   doc1 [0,6) seq0 off0 len6 (start+end)
    #   doc2 [6,10) seq0 off6 len2 (start), seq1 off0 len2 (end)
    #   doc3 [10,15) seq1 off2 len5 (start+end)
    rows = spark.createDataFrame(
        [(1, "g", "a b c d e f"), (2, "g", "a b c d"),
         (3, "g", "a b c d e")],
        "doc_id int, source string, text string")
    segs = [(r.doc_id, r.seq_id, r.seq_offset, r.seg_tokens,
             r.seg_start, r.is_doc_start, r.is_doc_end)
            for r in mix.pack_sequences(rows, context_len=8)
            .orderBy("doc_id", "seq_id").collect()]
    assert segs == [
        (1, 0, 0, 6, 0, True, True),
        (2, 0, 6, 2, 0, True, False),
        (2, 1, 0, 2, 2, False, True),
        (3, 1, 2, 5, 0, True, True),
    ]
    # full-sequence invariant: seq 0 carries exactly 8 tokens
    per_seq = {}
    for _, sq, _, n, _, _, _ in segs:
        per_seq[sq] = per_seq.get(sq, 0) + n
    assert per_seq == {0: 8, 1: 7}
    with pytest.raises(ValueError, match="context_len"):
        mix.pack_sequences(rows, context_len=0)


def test_deterministic_split_stable_across_partitionings(spark):
    """The split label is a pure function of the id: the assignment is
    identical under different partition layouts and row orders (the
    engine-stability claim a no-RNG split exists to make)."""
    from presto_spark.llm import mix

    docs = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split
         for r in mix.deterministic_split(docs).collect()}
    shuffled = docs.repartition(13).sortWithinPartitions(
        F.col("doc_id").desc())
    b = {r.doc_id: r.split
         for r in mix.deterministic_split(shuffled).collect()}
    assert a == b
    assert 0.7 < sum(1 for v in a.values() if v == "train") / 500 < 0.9


def test_bigram_lm_scores_match_hand_computation(spark):
    """llm/lm.py: train on a two-document corpus, score by hand.
    Corpus: "a b a" and "a b" → V = 2 + 1 = 3.
    Pair counts: (<s>,a)=2, (a,b)=2, (b,a)=1; ctx: <s>=2, a=2, b=2."""
    import math

    from presto_spark.llm import lm

    train = spark.createDataFrame(
        [(1, "a b a"), (2, "a b")], "doc_id int, text string")
    model = lm.train_bigram_model(train)
    assert model.vocab_size == 3
    pairs = {(r.ctx, r.tok): r.pair_count
             for r in model.pair_counts.collect()}
    assert pairs == {("<s>", "a"): 2, ("a", "b"): 2, ("b", "a"): 1}

    docs = spark.createDataFrame(
        [(10, "a b"),      # P(a|<s>)=(2+1)/(2+3), P(b|a)=(2+1)/(2+3)
         (11, "c c")],     # all-OOV: P(c|<s>)=1/5, P(c|c)=1/3
        "doc_id int, text string")
    got = {r.doc_id: r for r in
           lm.score_documents(docs, model).collect()}
    exp10 = (math.log2(3 / 5) + math.log2(3 / 5)) / 2
    exp11 = (math.log2(1 / 5) + math.log2(1 / 3)) / 2
    assert got[10].n_grams == 2 and got[11].n_grams == 2
    assert abs(got[10].avg_log2p - round(exp10, 6)) < 1e-9
    assert abs(got[11].avg_log2p - round(exp11, 6)) < 1e-9
    assert got[10].ppl_bits == -got[10].avg_log2p
    # the in-domain doc scores strictly better (fewer bits/token)
    assert got[10].ppl_bits < got[11].ppl_bits


def _ref_bpe(word_counts, n_merges, min_count=2):
    """Independent pure-Python Sennrich BPE trainer (test oracle)."""
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in word_counts.items()}
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get(
                    (syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        maxc = max(pairs.values())
        if maxc < min_count:
            break
        a, b = min(p for p, c in pairs.items() if c == maxc)
        merges.append((a, b))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_train_bpe_matches_reference_algorithm(spark):
    """llm/bpe.py train_bpe vs an independent in-test Sennrich
    implementation on the classic corpus — merge list identical
    (count argmax + lexicographic tie-break both replayed)."""
    from collections import Counter

    from presto_spark.llm import bpe

    texts = ["low low low low low",
             "lower lower newest newest newest",
             "newest newest newest widest widest"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    words = Counter(w for t in texts for w in t.split())
    expected = _ref_bpe(words, 8)
    got = bpe.train_bpe(df, n_merges=8)
    assert got == expected
    assert len(got) == 8

    # a min_pair_count floor that stops training early
    texts.append("a bb a bb ccc ccc d")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    words = Counter(w for t in texts for w in t.split())
    got = bpe.train_bpe(df, n_merges=12, min_pair_count=3)
    assert got == _ref_bpe(words, 12, min_count=3)
    assert len(got) == 10


def test_apply_bpe_roundtrip_and_compression(spark):
    """Encoding with learned merges: concatenating a word's BPE tokens
    reproduces the word (+ the end marker), learned words compress to
    fewer symbols than characters, and unseen words fall back to
    characters."""
    from presto_spark.llm import bpe

    train = spark.createDataFrame(
        [(0, "banana banana banana banana band band")],
        "doc_id int, text string")
    merges = bpe.train_bpe(train, n_merges=6)
    docs = spark.createDataFrame(
        [(1, "banana band"), (2, "xyzzy"), (3, None)],
        "doc_id int, text string")
    rows = {r.doc_id: r for r in bpe.apply_bpe(docs, merges).collect()}
    joined = "".join(rows[1].bpe_tokens)
    assert joined == "banana" + bpe.EOW + "band" + bpe.EOW
    assert rows[1].n_bpe_tokens < len("bananaband") + 2
    # unseen word: no merge applies beyond any learned char pairs that
    # happen to occur; it still reconstructs exactly
    assert "".join(rows[2].bpe_tokens) == "xyzzy" + bpe.EOW
    assert rows[3].bpe_tokens is None and rows[3].n_bpe_tokens is None


def test_train_bpe_batched_mode_guarantees(spark):
    """batch_merges > 1 (the production round-count bound, VERDICT r14
    What's-wrong #2).  Batched schedules are NOT a reordering of the
    sequential merge list (chain merges serialize — documented), so
    the pins are what the algorithm guarantees: the first merge (the
    true global argmax) matches sequential; the list is deterministic
    across partition layouts; encoding with the batched merges
    reconstructs text exactly; and compression at equal n_merges is
    comparable to sequential (here: within 25% on a held-out doc)."""
    from presto_spark.llm import bpe

    texts = ["low low low low low",
             "lower lower newest newest newest",
             "newest newest newest widest widest"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    seq = bpe.train_bpe(df, n_merges=8)
    batched = bpe.train_bpe(df, n_merges=8, batch_merges=4)
    assert len(batched) == 8
    assert batched[0] == seq[0]  # round-1 argmax is exact
    assert len(set(batched)) == 8  # no pair learned twice
    assert batched == bpe.train_bpe(
        df.repartition(7), n_merges=8, batch_merges=4)
    docs = spark.createDataFrame(
        [(1, "low lower newest widest")], "doc_id int, text string")
    rows_s = bpe.apply_bpe(docs, seq).collect()[0]
    rows_b = bpe.apply_bpe(docs, batched).collect()[0]
    expect = "".join(w + bpe.EOW for w in "low lower newest widest".split())
    assert "".join(rows_b.bpe_tokens) == expect
    assert rows_b.n_bpe_tokens <= round(rows_s.n_bpe_tokens * 1.25)
    with pytest.raises(ValueError, match="batch_merges"):
        bpe.train_bpe(df, n_merges=2, batch_merges=0)

    # a second corpus: single-letter and repeated-letter words
    texts = texts + ["a bb a bb ccc ccc d"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    seq = bpe.train_bpe(df, n_merges=8)
    batched = bpe.train_bpe(df, n_merges=8, batch_merges=4)
    assert batched[0] == seq[0]
    assert len(set(batched)) == len(batched) == 8
    assert batched == bpe.train_bpe(
        df.repartition(3), n_merges=8, batch_merges=4)


def test_train_bpe_rejects_vocab_over_bound(spark, monkeypatch):
    """A vocabulary of more than MAX_VOCAB_ROWS distinct words raises
    instead of collecting an unbounded vocabulary."""
    from presto_spark.llm import bpe

    df = spark.createDataFrame(
        [(0, "low lower newest widest")], "doc_id int, text string")
    monkeypatch.setattr(bpe, "MAX_VOCAB_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_VOCAB_ROWS"):
        bpe.train_bpe(df, n_merges=2)
    monkeypatch.setattr(bpe, "MAX_VOCAB_ROWS", 4)
    assert len(bpe.train_bpe(df, n_merges=2, min_pair_count=1)) == 2


def test_bigram_lm_lazy_vocab_matches_eager(spark):
    """lazy_vocab=True (V as a broadcast 1-row relation riding the
    scoring plan) must be value-identical to the eager collected-int
    form — the r16 one-plan optimization must not change a score."""
    from presto_spark.llm import lm

    train = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "x y z z y")],
        "doc_id int, text string")
    docs = spark.createDataFrame(
        [(10, "a b"), (11, "c c"), (12, "z y x w")],
        "doc_id int, text string")
    eager = lm.train_bigram_model(train)
    lazy = lm.train_bigram_model(train, lazy_vocab=True)
    assert lazy.vocab_size.collect()[0][0] == eager.vocab_size
    a = sorted(lm.score_documents(docs, eager).collect())
    b = sorted(lm.score_documents(docs, lazy).collect())
    assert a == b


def test_bigram_lm_matches_duckdb_replay(spark, duck):
    """Differential check for llm/lm.py on real corpus text — the
    DuckDB replay that becomes the r15 registry oracle: train on even
    docs, score odd docs, compare per-doc (n_grams, avg_log2p,
    ppl_bits) to 6 decimals."""
    from presto_spark.llm import lm
    from tests.conftest import SF_DIR, assert_same

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    model = lm.train_bigram_model(docs.where(F.col("doc_id") % 2 == 0))
    got = lm.score_documents(
        docs.where(F.col("doc_id") % 2 == 1), model).orderBy("doc_id")
    oracle = """
    WITH toked AS (
      SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_zip(
               list_concat(['<s>'], list_slice(toks, 1, len(toks) - 1)),
               toks)) AS g
      FROM toked
    ),
    flat AS (
      SELECT doc_id, g[1] AS ctx, g[2] AS tok FROM grams
    ),
    pair AS (
      SELECT ctx, tok, count(*) AS pc FROM flat
      WHERE doc_id % 2 = 0 GROUP BY 1, 2
    ),
    ctxc AS (
      SELECT ctx, count(*) AS cc FROM flat
      WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    v AS (
      SELECT count(DISTINCT t) + 1 AS vs
      FROM (SELECT unnest(toks) AS t FROM toked WHERE doc_id % 2 = 0)
    )
    SELECT f.doc_id,
           count(*) AS n_grams,
           round(avg(log2((coalesce(pc, 0) + 1)::DOUBLE
                          / (coalesce(cc, 0) + (SELECT vs FROM v)))), 6)
             AS avg_log2p,
           round(-avg(log2((coalesce(pc, 0) + 1)::DOUBLE
                           / (coalesce(cc, 0) + (SELECT vs FROM v)))), 6)
             AS ppl_bits
    FROM flat f
    LEFT JOIN pair USING (ctx, tok)
    LEFT JOIN ctxc USING (ctx)
    WHERE f.doc_id % 2 = 1
    GROUP BY f.doc_id ORDER BY f.doc_id
    """
    assert_same(got, duck, oracle)


def test_kmeans_two_obvious_clusters(spark):
    """llm/clustering.py: two well-separated groups recover their
    means exactly (exact-decimal sums ⇒ exact averages), every point
    lands with its group, and training is deterministic across
    partition layouts."""
    from presto_spark.llm import clustering

    pts = ([(i, [0.0 + i * 0.01, 0.0]) for i in range(4)]
           + [(10 + i, [10.0 + i * 0.01, 5.0]) for i in range(4)])
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    cents = clustering.kmeans_train(df, k=2, n_iters=4)
    # group means: x = mean(0.00,0.01,0.02,0.03) = 0.015 etc.
    assert cents[0] == [0.015, 0.0]
    assert cents[1] == [10.015, 5.0]
    assigned = {r.vec_id: r.cluster_id
                for r in clustering.kmeans_fit_assign(
                    df, k=2, n_iters=4).collect()}
    assert all(assigned[i] == 0 for i in range(4))
    assert all(assigned[10 + i] == 1 for i in range(4))
    # partition-layout determinism (the DECIMAL-sum discipline)
    cents2 = clustering.kmeans_train(
        df.repartition(7), k=2, n_iters=4)
    assert cents2 == cents


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """A centroid that captures no points keeps its previous value
    (deterministic Lloyd fallback) instead of going NaN."""
    from presto_spark.llm import clustering

    # k=3 but only two real groups; centroid 1 (init at [0.1, 0]) is
    # strictly dominated by centroid 0 after the first update pulls 0
    # onto the group mean... construct so one centroid starves:
    pts = [(0, [0.0, 0.0]), (1, [0.2, 0.0]),
           (2, [50.0, 0.0]), (3, [50.2, 0.0])]
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    cents = clustering.kmeans_train(df, k=3, n_iters=3)
    assert len(cents) == 3
    assert all(all(c == c for c in cent) for cent in cents)  # no NaN
    assigned = clustering.kmeans_fit_assign(df, k=3, n_iters=3)
    assert assigned.where(F.col("dist") > 1.0).count() == 0


def test_kmeans_matches_duckdb_unrolled_replay(spark, duck):
    """Differential check for llm/clustering.py on the real embeddings
    table: the generated unrolled SQL replay (shared with the
    llm_kmeans_semdedup registry oracle — queries/llm.py
    duck_kmeans_replay_sql, min-md5 seeding included) reproduces the
    exact (cluster_id, dist) assignment — the determinism the
    DECIMAL-sum discipline exists to buy."""
    from presto_spark.llm import clustering
    from presto_spark.queries.llm import duck_kmeans_replay_sql
    from tests.conftest import SF_DIR, assert_same

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first().embedding)
    got = clustering.kmeans_fit_assign(
        emb, k=4, n_iters=3).orderBy("vec_id")
    assert_same(got, duck, duck_kmeans_replay_sql(4, 3, dim))


_SUM_DEC = "decimal(30,10)"


def _assign_components(df, centroids, vec_col):
    """(cluster_id, embedding ARRAY<DOUBLE>) rows for one Lloyd update:
    argmin assignment in an Arrow-batched numpy pass (bit-equal to the
    Column-fold form, see _np_dists; np.argmin's first-min matches the
    array_min struct tie-break of lowest cid).  Map-side, one Python
    crossing; only the vector column ships (guide §4.1)."""
    import numpy as np

    from presto_spark.llm.clustering import _np_dists, _np_mat

    bank = [list(map(float, c)) for c in centroids]

    def run(batches):
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            cid = np.argmin(_np_dists(X, C), axis=1).astype("int32")
            yield pd.DataFrame({
                "cluster_id": cid,
                "embedding": list(X),
            })

    return df.select(vec_col).mapInPandas(
        run, schema="cluster_id int, embedding array<double>")


def _kmeans_reference(df, k, vec_col="embedding", id_col="vec_id",
                      n_iters=5):
    """Reference Lloyd loop for kmeans_train: every round is Spark jobs
    — the init orders by (md5(id-as-string), id) in the engine, the
    update sums the engine's CAST(val AS DECIMAL(30,10)) per (cluster,
    pos) in a groupBy.  The engine's own cast and DECIMAL sums are what
    kmeans_train's exact integer units must reproduce."""
    init_rows = (
        df.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(k)
        .select(F.transform(F.col(vec_col),
                            lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    centroids = [list(r.v) for r in init_rows]
    if len(centroids) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(centroids)}")
    dim = len(centroids[0])
    for _ in range(n_iters):
        comp = _assign_components(df, centroids, vec_col).select(
            "cluster_id",
            F.posexplode(F.col("embedding")).alias("pos", "val"),
        )
        sums = (
            comp.groupBy("cluster_id", "pos")
            .agg(
                F.sum(F.col("val").cast(_SUM_DEC)).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = [list(c) for c in centroids]  # empty clusters keep old
        acc: dict[int, list] = {}
        for r in sums:
            acc.setdefault(r.cluster_id, [None] * dim)[r.pos] = (r.s, r.n)
        for cid, cells in acc.items():
            new[cid] = [
                round(float(s) / int(n), 9) for (s, n) in cells
            ]
        centroids = new
    return centroids


# Values whose HALF_UP rounding at the 10th decimal the exact Python
# tier cannot prove: their units come from the engine's cast.
_STRADDLE = [1.00000000005, 3.00000000005, 1234.00000000005, 5e-11]

_KMEANS_CASES = {
    # |x| >= 8: the inputs of the two-cluster and empty-cluster tests
    "two_clusters": (
        [(i, [0.0 + i * 0.01, 0.0]) for i in range(4)]
        + [(10 + i, [10.0 + i * 0.01, 5.0]) for i in range(4)],
        "int", 2, 4),
    "empty_cluster": (
        [(0, [0.0, 0.0]), (1, [0.2, 0.0]),
         (2, [50.0, 0.0]), (3, [50.2, 0.0])],
        "int", 3, 3),
    "half_band": (
        [(0, [5e-11, 0.0]), (1, [1.0, 0.0]),
         (2, [2.0, 3.0]), (3, [2.2, 3.0])],
        "int", 2, 2),
    "straddle": (
        [(0, [1.00000000005, 0.0]), (1, [3.00000000005, 1.0]),
         (2, [1234.00000000005, 2.0]), (3, [1.0, 0.00000000015]),
         (4, [3.0, 1.00000000025]), (5, [1234.0, 2.0])],
        "int", 3, 3),
    # ids 6, 7, 4 sort first by md5: the init never reaches a tie, so
    # the reference's unordered tie cannot change its bank
    "duplicate_ids": (
        [(6, [0.0, 0.0]), (7, [4.0, 4.0]), (4, [9.0, 0.0]),
         (1, [0.5, 0.5]), (1, [0.5, 0.5]),
         (3, [4.5, 3.5]), (3, [8.5, 0.25])],
        "int", 3, 3),
    "string_ids": (
        [("a", [0.0, 0.0]), ("b", [0.1, 0.0]),
         ("x", [9.0, 9.0]), ("y", [9.1, 9.0])],
        "string", 2, 2),
}


@pytest.mark.parametrize("case", sorted(_KMEANS_CASES))
def test_kmeans_train_matches_reference(spark, case):
    """kmeans_train (one bounded collect, then the driver loop) gives
    the reference loop's centroids bit-for-bit — same seeding order,
    same DECIMAL(30,10) HALF_UP component sums, same rounding."""
    from presto_spark.llm import clustering

    pts, id_type, k, n_iters = _KMEANS_CASES[case]
    df = spark.createDataFrame(
        pts, f"vec_id {id_type}, embedding array<double>")
    assert (clustering.kmeans_train(df, k=k, n_iters=n_iters)
            == _kmeans_reference(df, k=k, n_iters=n_iters))


@pytest.mark.parametrize("sf_dir", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("k,n_iters", [(4, 3), (8, 5)])
def test_kmeans_train_matches_reference_on_embeddings(
        spark, sf_dir, k, n_iters):
    from presto_spark.llm import clustering
    from tests.conftest import SF_DIR, SF_DIR_MID

    path = {"sf0.001": SF_DIR, "sf0.01": SF_DIR_MID}[sf_dir]
    emb = spark.read.parquet(f"{path}/embeddings.parquet")
    assert (clustering.kmeans_train(emb, k=k, n_iters=n_iters)
            == _kmeans_reference(emb, k=k, n_iters=n_iters))


def test_kmeans_units_equal_engine_cast(spark):
    """_quantized_units gives the units of the engine's
    CAST(x AS DECIMAL(30,10)) on all three tiers: vectorized, the
    exact Python tier near a .5 boundary (widened with |x|), and the
    engine query for what neither proves (NaN: NULL, counted as 0)."""
    import numpy as np

    from presto_spark.llm import clustering

    for x in _STRADDLE:
        assert clustering._quantize_one_exact(x) is None
    vals = _STRADDLE + [-v for v in _STRADDLE] + [
        0.0, -0.0, 0.1, -0.58, 7.99999999995, 8.00000000005, 12.3,
        -12345.6789012345, 98765.00000000005, 1e-10, 2.5e-10, 3.5e-10,
        float(np.float32(0.3)), float(np.float32(-0.123456)),
        # off .5 by more than _HALF_GUARD but inside the widened band:
        # floor(|x|*1e10 + 0.5) gets each of these wrong
        97.87146638155, 6200.01701675515, -33536.33337921985,
        714190.7548059995, float("nan")]
    X = np.array([vals], dtype=np.float64)
    got = clustering._quantized_units(spark, X)[0].tolist()
    cast = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x").cast("decimal(30,10)").alias("d")).collect()
    want = [0 if r.d is None else int(r.d.scaleb(10)) for r in cast]
    assert got == want


def test_kmeans_duplicate_id_tie_is_deterministic(spark):
    """Duplicate ids tie on the init key; the vector breaks the tie, so
    the bank does not depend on input order."""
    from presto_spark.llm import clustering

    pts = [(6, [5.0, 1.0]), (6, [1.0, 2.0]), (7, [3.0, 3.0])]
    schema = "vec_id int, embedding array<double>"
    fwd = clustering.kmeans_train(
        spark.createDataFrame(pts, schema), k=2, n_iters=1)
    rev = clustering.kmeans_train(
        spark.createDataFrame(pts[::-1], schema), k=2, n_iters=1)
    # both id-6 rows seed, [1, 2] first; [3, 3] joins it
    assert fwd == rev == [[2.0, 2.5], [5.0, 1.0]]


@pytest.mark.parametrize("pts,match", [
    ([(None, [0.0, 0.0]), (1, [1.0, 0.0])], "NULL vec_id"),
    ([(0, [0.0, 0.0]), (1, None)], "NULL, empty or ragged"),
    ([(0, []), (1, [])], "NULL, empty or ragged"),
    ([(0, [0.0, 0.0]), (1, [1.0])], "NULL, empty or ragged"),
    ([(0, [3e8]), (1, [3e8])], "int64 headroom"),
], ids=["null_id", "null_vector", "empty_vector", "ragged_vector",
        "headroom"])
def test_kmeans_train_rejects_invalid_input(spark, pts, match):
    from presto_spark.llm import clustering

    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    with pytest.raises(ValueError, match=match):
        clustering.kmeans_train(df, k=1, n_iters=1)


def test_kmeans_train_rejects_rows_over_bound(spark, monkeypatch):
    from presto_spark.llm import clustering

    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(4)],
        "vec_id int, embedding array<double>")
    monkeypatch.setattr(clustering, "MAX_TRAIN_ROWS", 4)
    assert len(clustering.kmeans_train(df, k=2, n_iters=1)) == 2
    monkeypatch.setattr(clustering, "MAX_TRAIN_ROWS", 3)
    with pytest.raises(ValueError, match="MAX_TRAIN_ROWS"):
        clustering.kmeans_train(df, k=2, n_iters=1)


def test_kmeans_fit_assign_preserves_id_type(spark):
    """ADVICE r15: the mapInPandas schemas must carry the input id
    type — string ids used to fail at runtime and int ids silently
    widened to bigint."""
    from presto_spark.llm import clustering

    pts = [("a", [0.0, 0.0]), ("b", [0.1, 0.0]),
           ("x", [9.0, 9.0]), ("y", [9.1, 9.0])]
    df = spark.createDataFrame(pts, "vec_id string, embedding array<double>")
    out = clustering.kmeans_fit_assign(df, k=2, n_iters=2)
    assert dict(out.dtypes)["vec_id"] == "string"
    assert out.count() == 4
    pairs = clustering.semantic_dedup_pairs(df, k=2, threshold=0.5,
                                            n_iters=2)
    assert dict(pairs.dtypes)["id_a"] == "string"
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got and all(a != b for a, b in got)
    ints = clustering.kmeans_fit_assign(
        spark.createDataFrame([(1, [0.0]), (2, [5.0])],
                              "vec_id int, embedding array<double>"),
        k=2, n_iters=1)
    assert dict(ints.dtypes)["vec_id"] == "int"


def test_semantic_dedup_pairs_within_clusters(spark):
    """semantic_dedup_pairs: near-identical vectors co-cluster and
    report their cosine; dissimilar vectors in the same cluster stay
    below threshold; pairs never cross clusters."""
    from presto_spark.llm import clustering

    pts = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.01, 0.0]),   # near-dup
           (2, [0.0, 1.0, 0.0]),                            # same side?
           (10, [-1.0, 0.0, 0.0]), (11, [-0.999, -0.01, 0.0])]
    df = spark.createDataFrame(
        pts, "vec_id int, embedding array<double>")
    got = clustering.semantic_dedup_pairs(
        df, k=2, threshold=0.99, n_iters=3)
    rows = {(r.id_a, r.id_b): r.cosine for r in got.collect()}
    assert (0, 1) in rows and rows[(0, 1)] >= 0.99
    assert (10, 11) in rows and rows[(10, 11)] >= 0.99
    # no pair spans the two opposite-side clusters
    assert all(not (a < 10 <= b) for a, b in rows)
    # the plan is an equi-join on cluster_id — no cartesian
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_warc_parse_and_extract_end_to_end(spark):
    """llm/warc.py: synthetic WARC segments (plain and gzipped) parse
    through the stdlib record walker; extract_warc fans records out
    map-side; chaining html_to_text yields the clean text — the full
    crawl -> text entry chain in one pipeline."""
    import pandas as pd

    from presto_spark.llm import text as T_, warc

    # pure-python parse: record structure + http split + gzip
    recs = warc.parse_warc(warc.synth_warc(7, n_responses=2))
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "response", "response"]
    assert recs[1]["http_status"] == 200
    assert recs[1]["http_content_type"] == "text/html"
    assert recs[1]["target_uri"] == "https://example.com/7/0"
    assert b"<h1>Doc 7-0</h1>" in recs[1]["body"]
    assert warc.parse_warc(
        warc.synth_warc(7, 2, gzipped=True)) == recs
    # CommonCrawl layout: one gzip member per record, decompressed
    # incrementally — identical records, flat memory
    assert warc.parse_warc(
        warc.synth_warc(7, 2, member_gzip=True)) == recs
    with pytest.raises(ValueError, match="malformed"):
        warc.parse_warc(b"NOT A WARC")
    with pytest.raises(ValueError, match="truncated gzip"):
        warc.parse_warc(warc.synth_warc(7, 2, gzipped=True)[:-8])
    with pytest.raises(ValueError, match="truncated record"):
        warc.parse_warc(warc.synth_warc(7, 2)[:-20])

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "segment_id": pdf.segment_id,
                "payload": [warc.synth_warc(int(s), 3, gzipped=s % 2 == 1)
                            for s in pdf.segment_id],
            })

    segs = (spark.range(4).withColumnRenamed("id", "segment_id")
            .mapInPandas(synth, "segment_id long, payload binary"))
    out = warc.extract_warc(segs)
    assert out.count() == 4 * 4  # warcinfo + 3 responses per segment
    pages = (out.where(F.col("warc_type") == "response")
             .select("segment_id", "record_no", "target_uri",
                     F.decode("body", "UTF-8").alias("html")))
    cleaned = pages.select(
        "segment_id", "record_no",
        T_.html_to_text(F.col("html")).alias("clean"))
    # record_no 0 is the segment's warcinfo; response j sits at j+1
    row = cleaned.where(
        (F.col("segment_id") == 2) & (F.col("record_no") == 2)
    ).collect()[0]
    assert row.clean == (
        f"Doc 2-1\nword{(2 * 31 + 1) % 97} word{(2 * 17 + 3) % 89}")


def test_ann_ivf_trained_bank_improves_recall(spark):
    """VERDICT r14 next-round #4: clustering.kmeans_train's bank wired
    into ann_topk_ivf's cents contract.  Corpus: a near-duplicate block
    at ids 0..3 (one crawl batch — the first-k degeneracy) plus four
    diffuse true clusters.  The first-k quantizer puts every seed in
    the dup region, so cell assignment of the real clusters is decided
    by epsilon-scale noise and neighbors scatter; the trained bank
    tiles the true clusters.  Recall is measured against the exact
    brute-force baseline."""
    from presto_spark.llm import clustering

    dim = 8
    rows = []
    # dup block: cluster-0 center + epsilon on a distinct axis each
    for i in range(4):
        v = [0.0] * dim
        v[0] = 1.0
        v[4 + i % 4] = 0.001 * (i + 1)
        rows.append((i, v))
    # four diffuse clusters on axes 0..3, spread over axes 4..5
    vid = 8
    for c in range(4):
        for m in range(6):
            v = [0.0] * dim
            v[c] = 1.0
            v[4] = 0.3 * ((m * 7 + c) % 5) / 4
            v[5] = 0.3 * ((m * 3 + 2 * c) % 5) / 4
            rows.append((vid, v))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>")
    queries = corpus.where(F.col("vec_id").isin([9, 15, 21, 27]))

    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(corpus, queries, k=3).collect()
    }

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_firstk = recall(
        similarity.ann_topk_ivf(corpus, queries, k=3, n_centroids=4))
    trained = clustering.kmeans_train(corpus, k=4, n_iters=5)
    r_trained = recall(
        similarity.ann_topk_ivf(
            corpus, queries, k=3, n_centroids=4, centroids=trained))
    assert r_trained >= 0.9
    assert r_trained > r_firstk
    with pytest.raises(ValueError, match="non-empty"):
        similarity.kmeans_cents(spark, [])


def test_warc_streaming_buffer_trim(monkeypatch):
    """iter_warc_records trims consumed bytes once the parse cursor
    passes the feed quantum — with the quantum forced tiny, a
    many-record member-gzip segment must still parse identically
    (the trim/refeed path the memory bound depends on)."""
    from presto_spark.llm import warc

    seg = warc.synth_warc(3, n_responses=20, member_gzip=True)
    expect = warc.parse_warc(seg)
    monkeypatch.setattr(warc, "_GZIP_FEED", 64)
    got = list(warc.iter_warc_records(seg))
    assert got == expect
    assert len(got) == 21
# To append to tests/test_llm.py after the full suite finishes.


def test_duplication_report_known_spans(spark):
    """llm/dupspan.py on a hand-built corpus: an exact repeated
    5-token span is flagged in both documents, coverage counts
    overlapping gram windows once, unique text reports zero, and
    sub-k documents are safely empty (the Spark sequence()-descends
    guard)."""
    from presto_spark.llm import dupspan

    shared = "alpha beta gamma delta epsilon"
    docs = [
        (1, f"{shared} zeta eta theta iota kappa"),
        (2, f"prefix one two {shared}"),
        (3, "totally unique words here nothing repeats at all ok"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r.doc_id: r for r in
           dupspan.duplication_report(df, k=5).collect()}
    # doc 1: only the k-gram starting at pos 1 repeats -> 5 tokens
    assert got[1].n_tokens == 10
    assert got[1].n_dup_grams == 1
    assert got[1].dup_tokens == 5
    assert abs(got[1].dup_token_fraction - 0.5) < 1e-9
    # doc 2: shared span sits at the tail (pos 4 of 8 tokens)
    assert got[2].n_dup_grams == 1 and got[2].dup_tokens == 5
    # doc 3: nothing repeats
    assert got[3].n_dup_grams == 0 and got[3].dup_tokens == 0
    assert got[3].dup_token_fraction == 0.0
    # doc 4: shorter than k -> zero, not phantom positions
    assert got[4].n_tokens == 2 and got[4].n_dup_grams == 0


def test_duplication_report_within_doc_and_overlap(spark):
    """Within-document repetition counts too (Lee et al. count any
    recurrence), and overlapping duplicated grams union their
    coverage instead of double-counting."""
    from presto_spark.llm import dupspan

    # 'a b a b a b a b': with k=2, grams (a b) x4? positions 1..7
    # alternate (a,b) and (b,a), each occurring >= 2 times -> every
    # position duplicated, full coverage.
    df = spark.createDataFrame(
        [(1, "a b a b a b a b")], "doc_id int, text string")
    got = dupspan.duplication_report(df, k=2).collect()[0]
    assert got.n_tokens == 8
    assert got.n_dup_grams == 7
    assert got.dup_tokens == 8
    assert got.dup_token_fraction == 1.0


def test_duplication_report_matches_duckdb_replay(spark, duck):
    """Differential check for llm/dupspan.py on the real documents
    table — the DuckDB replay that becomes the r16 registry oracle."""
    from presto_spark.llm import dupspan
    from presto_spark.queries.llm import duck_duplication_report_sql
    from tests.conftest import SF_DIR, assert_same

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text"))
    got = dupspan.duplication_report(docs, k=5).orderBy("doc_id")
    assert_same(got, duck, duck_duplication_report_sql(5))


def test_temperature_mix_shares(spark):
    """llm/mix.py temperature_mix: alpha=1 reproduces raw shares,
    alpha<1 upsamples the smaller source (up_factor > 1) and shares
    sum to 1."""
    from presto_spark.llm import mix

    docs = ([(i, "big " * 10, "web") for i in range(9)]
            + [(100, "small tokens here now", "books")])
    df = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in docs],
        "doc_id int, text string, source string")
    raw = {r.source: r for r in
           mix.temperature_mix(df, alpha=1.0).collect()}
    assert abs(raw["web"].temp_share - raw["web"].raw_share) < 1e-6
    t5 = {r.source: r for r in
          mix.temperature_mix(df, alpha=0.5).collect()}
    assert t5["books"].up_factor > 1.0 > t5["web"].up_factor
    assert abs(t5["web"].temp_share + t5["books"].temp_share - 1.0) < 1e-5
    assert t5["web"].n_tokens == 90 and t5["books"].n_tokens == 4


def test_temperature_mix_matches_duckdb_replay(spark, duck):
    """Differential check for temperature_mix on the real documents
    table (source column) — the r16 registry-oracle text."""
    from presto_spark.llm import mix
    from presto_spark.queries.llm import duck_temperature_mix_sql
    from tests.conftest import SF_DIR, assert_same

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "text", "source"))
    got = mix.temperature_mix(docs, alpha=0.5).orderBy("source")
    assert_same(got, duck, duck_temperature_mix_sql(0.5))


def test_image_ahash_bands_known_pattern():
    """llm/multimodal.py ahash_bands: a left-bright 8x8 image hashes
    to 0x0F0F per band (bits for x<4 set in both rows each band
    covers), and the integer 64*cell > total threshold is strict."""
    pixels = bytes(255 if x < 4 else 0
                   for y in range(8) for x in range(8))
    img = multimodal.decode_image(
        b"P5 8 8 255\n" + pixels)
    assert multimodal.ahash_bands(img) == [0x0F0F] * 4
    # uniform image: no cell is strictly brighter than the mean
    flat = multimodal.decode_image(b"P5 8 8 255\n" + bytes([7] * 64))
    assert multimodal.ahash_bands(flat) == [0, 0, 0, 0]


def test_image_near_dup_pairs_finds_perturbed_copies(spark):
    """image_near_dup_pairs: exact copies pair at hamming 0, a
    one-pixel perturbation stays within the threshold, unrelated
    images do not pair — and the band join is candidate-complete for
    hamming <= 3 (cross-checked against brute force over all pairs)."""
    import pandas as pd

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_pgm_pair(int(d))
                            for d in pdf.doc_id],
            })

    docs = (spark.range(10).withColumnRenamed("id", "doc_id")
            .mapInPandas(synth, "doc_id long, payload binary"))
    got = {(r.id_a, r.id_b): r.hamming
           for r in multimodal.image_near_dup_pairs(
               docs, max_hamming=3).collect()}
    # every synth pair (2m, 2m+1) shares its base image modulo one
    # bumped pixel -> must be found
    for m in range(5):
        assert (2 * m, 2 * m + 1) in got
        assert got[(2 * m, 2 * m + 1)] <= 3
    # brute-force completeness check at the pigeonhole bound
    bands = {r.doc_id: (r.band0, r.band1, r.band2, r.band3)
             for r in multimodal.image_ahash(docs).collect()}
    for a in range(10):
        for b in range(a + 1, 10):
            h = sum(bin(x ^ y).count("1")
                    for x, y in zip(bands[a], bands[b]))
            if h <= 3:
                assert (a, b) in got and got[(a, b)] == h
            else:
                assert (a, b) not in got


def test_image_near_dup_matches_duckdb_replay(spark, duck):
    """Differential check for the perceptual-hash tier — the DuckDB
    replay that becomes the r16 registry oracle (pixel synthesis,
    resample index map, integer threshold, bands, Hamming)."""
    import pandas as pd

    from presto_spark.queries.llm import duck_image_ahash_pairs_sql
    from tests.conftest import assert_same

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_pgm_pair(int(d))
                            for d in pdf.doc_id],
            })

    docs = (spark.range(24).withColumnRenamed("id", "doc_id")
            .mapInPandas(synth, "doc_id long, payload binary"))
    got = (multimodal.image_near_dup_pairs(docs, max_hamming=3)
           .select("id_a", "id_b",
                   F.col("hamming").cast("int").alias("hamming"))
           .orderBy("id_a", "id_b"))
    assert_same(got, duck, duck_image_ahash_pairs_sql(24, 3))


def test_audio_fingerprint_volume_invariant_and_dup_pairs(spark):
    """llm/multimodal.py audio fingerprint: the energy sign contour is
    invariant under exact amplitude scaling (half-volume clip pairs
    with its original), different clips separate, and only
    (id, fingerprint) ride the join."""
    import pandas as pd

    fp = {
        d: multimodal.audio_fingerprint_bits(
            multimodal.decode_audio(multimodal.synth_wav16_pair(d)))
        for d in range(6)
    }
    for m in range(3):
        assert fp[2 * m] == fp[2 * m + 1]  # volume invariance
    assert len({fp[0], fp[2], fp[4]}) == 3  # bases separate

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_wav16_pair(int(d))
                            for d in pdf.doc_id],
            })

    docs = (spark.range(6).withColumnRenamed("id", "doc_id")
            .mapInPandas(synth, "doc_id long, payload binary"))
    got = {(r.id_a, r.id_b) for r in
           multimodal.audio_dup_pairs(docs).collect()}
    assert got == {(0, 1), (2, 3), (4, 5)}
    # 8-bit path centers on 128 (the width-convention contract)
    fp8 = multimodal.audio_fingerprint_bits(
        multimodal.decode_audio(multimodal.synth_wav(3)))
    assert isinstance(fp8, int) and fp8 >= 0


def test_audio_dup_pairs_matches_duckdb_replay(spark, duck):
    """Differential check for the audio-fingerprint tier — the DuckDB
    replay that becomes the r16 registry oracle."""
    import pandas as pd

    from presto_spark.queries.llm import duck_audio_fingerprint_pairs_sql
    from tests.conftest import assert_same

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_wav16_pair(int(d))
                            for d in pdf.doc_id],
            })

    docs = (spark.range(20).withColumnRenamed("id", "doc_id")
            .mapInPandas(synth, "doc_id long, payload binary"))
    got = (multimodal.audio_dup_pairs(docs)
           .orderBy("id_a", "id_b"))
    assert_same(got, duck, duck_audio_fingerprint_pairs_sql(20))


def test_paragraph_dedup_removes_cross_doc_boilerplate(spark):
    """llm/dedup.py paragraph_dedup: a footer shared by 3 documents is
    removed from each, unique paragraphs survive in order, empty lines
    normalize away, and within-document repeats also count toward the
    corpus threshold."""
    footer = "subscribe to our newsletter today"
    docs = [
        (1, f"unique intro one\n{footer}\nunique body one"),
        (2, f"{footer}\nunique body two"),
        (3, f"unique intro three\n\n{footer}"),
        (4, "repeat me\nrepeat me\nkeeper line"),
        (5, "totally unique document"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r.doc_id: r for r in dedup.paragraph_dedup(df).collect()}
    assert got[1].clean_text == "unique intro one\nunique body one"
    assert got[1].n_paragraphs == 3 and got[1].n_removed == 1
    assert got[2].clean_text == "unique body two"
    assert got[3].clean_text == "unique intro three"
    assert got[3].n_paragraphs == 2  # the blank line never counts
    # within-doc repetition crosses the threshold on its own
    assert got[4].clean_text == "keeper line"
    assert got[4].n_removed == 2
    assert got[5].clean_text == "totally unique document"
    assert got[5].n_removed == 0


def test_paragraph_dedup_matches_duckdb_inline_replay(spark, duck):
    """Inline-VALUES DuckDB differential for paragraph_dedup — the
    synthetic documents table has no cross-document boilerplate at the
    driver SFs (probed: zero repeated lines/sentences), so the
    operator's differential runs on a hand-built corpus instead of a
    vacuous zero-removal registry row."""
    from tests.conftest import assert_same

    docs = [(i, "\n".join(
        ([f"unique {i} lead"] if i % 2 else [])
        + ["shared banner text", f"body {i} alpha", f"body {i} beta"]
        + (["shared footer line"] if i % 3 else [])))
        for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = dedup.paragraph_dedup(df).orderBy("doc_id")
    values = ", ".join(
        "({}, '{}')".format(i, t.replace("'", "''").replace("\n", "' || chr(10) || '"))
        for i, t in docs)
    oracle = f"""
    WITH corpus(doc_id, text) AS (VALUES {values}),
    p AS (
      SELECT doc_id, u['i'] AS idx, u['p'] AS para
      FROM (SELECT doc_id,
                   unnest(list_transform(string_split(text, chr(10)),
                          (s, i) -> {{'i': i, 'p': s}})) AS u
            FROM corpus) t
      WHERE trim(para) <> ''
    ),
    c AS (SELECT md5(para) AS d, count(*) AS n FROM p GROUP BY 1),
    f AS (SELECT p.*, (n >= 2) AS removed
          FROM p JOIN c ON md5(p.para) = c.d)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paragraphs,
           CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           coalesce(string_agg(para, chr(10) ORDER BY idx)
                    FILTER (WHERE NOT removed), '') AS clean_text
    FROM f GROUP BY doc_id ORDER BY doc_id
    """
    assert_same(got, duck, oracle)

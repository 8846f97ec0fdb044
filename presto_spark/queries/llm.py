"""LLM-data operator queries with DuckDB oracles.

The dedup/similarity/text operators use deterministic mod-arithmetic
hashes (llm/text.py poly_hash, llm/dedup.py HASH_PARAMS), so even
MinHash signatures and SimHash values are reproduced bit-exactly by the
oracle — the strongest correctness check available for these operators.
Spark side runs the real DataFrame transforms from presto_spark.llm.
"""

from pyspark.sql import functions as F

from presto_spark.llm import dedup, multimodal, similarity, text
from presto_spark.queries.base import prepare, register

# ---- shared DuckDB SQL fragments (mirror llm/text.py + llm/dedup.py) ----

D_CODES = ("list_transform(string_split({s}, ''), c -> ord(c)::BIGINT)")
D_POLY = ("list_reduce(list_prepend(0::BIGINT, " + D_CODES + "), "
          "(acc, x) -> (acc * 31 + x) % 1000000007)")
D_TOKENS = "string_split_regex(lower(trim({s})), '\\s+')"
# per-token poly hashes (each token hashed once — mirrors
# llm/dedup.py token_hashes)
D_TOKHASH = ("list_transform(" + D_TOKENS + ", t -> "
             + D_POLY.replace("{s}", "t") + ")")
# word 3-gram shingle hashes: fold the 3 member token hashes with the
# same 31-base recurrence (mirrors shingles_from_token_hashes)
_D_COMB = ("list_reduce(list_prepend(0::BIGINT, {arr}), "
           "(acc, x) -> (acc * 31 + x) % 1000000007)")
D_SHINGLES = (
    "list_distinct("
    "  CASE WHEN len(th) < 3"
    "       THEN [" + _D_COMB.format(arr="th") + "]"
    "       ELSE list_transform(range(1, len(th) - 1),"
    "                           i -> " + _D_COMB.format(arr="list_slice(th, i, i + 2)") + ")"
    "  END)"
)


def _shingle_src(table_filter: str, s: str = "text") -> str:
    """FROM-clause producing (doc_id, th) token-hash rows."""
    return ("(SELECT doc_id, " + D_TOKHASH.replace("{s}", s) + " AS th "
            "FROM " + table_filter + ")")
D_PARAMS = ("list_transform(range(0, 16), "
            "j -> {'a': 1000003 * (j + 1) + 17, 'b': 7919 * (j + 1) + 3})")
D_SIG = ("list_transform(" + D_PARAMS + ", "
         "p -> list_min(list_transform(sh, h -> (p.a * h + p.b) % 1000000007)))")


def _shingles_for(table_filter: str) -> str:
    """(doc_id, sh) shingle-hash rows for a documents subset."""
    return ("(SELECT doc_id, " + D_SHINGLES + " AS sh FROM "
            + _shingle_src(table_filter) + " tsrc)")


def _count(df, name: str):
    """One-row count of ``df`` as a plan: the envelope rows crossJoin
    several of these, so building them runs no Spark job."""
    return df.agg(F.count(F.lit(1)).alias(name))


# ---------------------------------------------------------------------------
# Exact dedup (hash groupBy; duplicates synthesized by unioning a shifted
# copy of every 10th doc — testdata has no exact dupes).
# ---------------------------------------------------------------------------

@register(
    "llm_exact_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    dd AS (
      SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM corpus GROUP BY md5(text)
    )
    SELECT
      count(*) AS n_unique,
      CAST(sum(n_copies) AS BIGINT) AS n_total,
      CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dropped,
      CAST(sum(keep_id) AS BIGINT) AS keeper_checksum
    FROM dd
    """,
    doc="Exact dedup via digest groupBy (llm/dedup.py exact_dedup). Only "
        "(digest,id) shuffles — at 100 TB the text never moves.",
    tags=("llm", "dedup", "bench"),
)
def llm_exact_dedup(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    dd = dedup.exact_dedup(corpus)
    return dd.agg(
        F.count("*").alias("n_unique"),
        F.sum("n_copies").cast("bigint").alias("n_total"),
        (F.sum("n_copies") - F.count("*")).cast("bigint").alias("n_dropped"),
        F.sum("keep_id").cast("bigint").alias("keeper_checksum"),
    )


# ---------------------------------------------------------------------------
# MinHash signature parity — bit-exact against the oracle.
# ---------------------------------------------------------------------------

@register(
    "llm_minhash_signature",
    oracle="""
    SELECT doc_id,
           array_to_string(""" + D_SIG + """, ',') AS signature
    FROM """ + _shingles_for("(SELECT * FROM documents WHERE doc_id < 20) d") + """ t
    ORDER BY doc_id
    """,
    doc="16-hash MinHash signatures over word 3-gram shingles "
        "(llm/dedup.py minhash_signature) — bit-exact parity with the "
        "oracle's mod-arithmetic implementation.",
    tags=("llm", "dedup", "bench"),
)
def llm_minhash_signature(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 20)
    return (
        dedup.with_minhash(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.array_join(F.transform("minhash", lambda x: x.cast("string")), ",")
            .alias("signature"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dedup: verified pairs.
# ---------------------------------------------------------------------------

@register(
    "llm_lsh_near_dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id, sh FROM """ + _shingles_for("documents") + """ t
    ),
    sig AS (SELECT doc_id, """ + D_SIG + """ AS sig FROM sh),
    banded AS (
      SELECT doc_id, b.band, b.bucket FROM (
        SELECT doc_id,
               unnest(list_transform(range(0, 4), b -> {
                 'band': b,
                 'bucket': list_reduce(
                    list_prepend(0::BIGINT, list_slice(sig, b * 4 + 1, b * 4 + 4)),
                    (acc, x) -> (acc * 31 + x % 1000003) % 1000000007)
               })) AS b
        FROM sig) t
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
    )
    SELECT id_a, id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM cands
    JOIN sh a ON cands.id_a = a.doc_id
    JOIN sh b ON cands.id_b = b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) >= 0.5
    ORDER BY id_a, id_b
    """,
    doc="Full MinHash-LSH near-dedup pipeline (llm/dedup.py "
        "near_dedup_pairs): 4 bands x 4 rows banding, bucket self-join, "
        "exact-Jaccard verification at 0.5 — one LSH shuffle + one "
        "candidate join at any scale.",
    tags=("llm", "dedup", "bench"),
)
def llm_lsh_near_dedup(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    return dedup.near_dedup_pairs(docs, threshold=0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# SimHash parity.
# ---------------------------------------------------------------------------

@register(
    "llm_simhash",
    oracle="""
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 16), b ->
             CASE WHEN list_reduce(list_prepend(0::BIGINT,
                    list_transform(toks, h -> ((h // (2 ** b)::BIGINT) % 2 * 2 - 1)::BIGINT)),
                    (acc, x) -> acc + x) > 0
                  THEN (2 ** b)::BIGINT ELSE 0::BIGINT END)),
             (acc, x) -> acc + x) AS simhash
    FROM (
      SELECT doc_id,
             list_transform(""" + D_TOKENS.replace("{s}", "text") + """,
                            t -> """ + D_POLY.replace("{s}", "t") + """) AS toks
      FROM documents WHERE doc_id < 20) t
    ORDER BY doc_id
    """,
    doc="16-bit SimHash (llm/dedup.py simhash16) — majority vote per bit "
        "over token hashes; div/mod arithmetic so the oracle reproduces "
        "it without engine-specific bitops.",
    tags=("llm", "dedup"),
)
def llm_simhash(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 20)
    return (
        docs.select("doc_id", dedup.simhash16(F.col("text")).alias("simhash"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard all-pairs (bounded window of the corpus).
# ---------------------------------------------------------------------------

@register(
    "llm_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, sh
      FROM """ + _shingles_for("(SELECT * FROM documents WHERE doc_id < 40) d") + """ t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.sh, b.sh)) > 0
    ORDER BY id_a, id_b
    """,
    doc="Exact n-gram Jaccard similarity, all-pairs over a bounded slice "
        "(llm/dedup.py jaccard). The unbounded version routes through "
        "LSH candidates (llm_lsh_near_dedup) — all-pairs is O(n^2) and "
        "exists as the verification primitive.",
    tags=("llm", "dedup"),
)
def llm_ngram_jaccard_pairs(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 40)
    sh = docs.select("doc_id", dedup.word_shingles(F.col("text")).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .where(F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh"))) > 0)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Text statistics / quality / language id / fingerprint / token count.
# ---------------------------------------------------------------------------

@register(
    "llm_text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(toks) AS n_tokens,
           round(list_reduce(list_prepend(0::BIGINT,
                   list_transform(toks, t -> length(t)::BIGINT)),
                 (acc, x) -> acc + x)::DOUBLE / len(toks), 6) AS avg_token_len,
           round(len(list_filter(toks, t -> list_contains(
                   ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
                 / len(toks), 6) AS stopword_ratio
    FROM (SELECT doc_id, text, """ + D_TOKENS.replace("{s}", "text") + """ AS toks
          FROM documents WHERE doc_id < 50) t
    ORDER BY doc_id
    """,
    doc="Per-document statistics (llm/text.py with_text_stats): token "
        "count, average token length, stopword ratio — map-side only.",
    tags=("llm", "text"),
)
def llm_text_stats(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 50)
    return (
        text.with_text_stats(docs)
        .select("doc_id", "n_chars_calc", "n_tokens", "avg_token_len",
                "stopword_ratio")
        .orderBy("doc_id")
    )


@register(
    "llm_language_id",
    oracle="""
    WITH marked AS (
      SELECT lang,
             list_sort(list_transform([
               {'code': 'de', 'marks': ['der','und','die','das','ist']},
               {'code': 'en', 'marks': ['the','and','of','to','is']},
               {'code': 'es', 'marks': ['el','la','de','que','los']},
               {'code': 'fr', 'marks': ['le','la','et','les','des']},
               {'code': 'zh', 'marks': ['de5','shi4','le5','zai4','he2']}
             ], m -> {'hits': len(list_filter(""" + D_TOKENS.replace("{s}", "text") + """,
                                              t -> list_contains(m.marks, t))),
                      'code': m.code}), 'DESC') AS ranked
      FROM documents
    )
    SELECT lang,
           CASE WHEN ranked[1].hits > 0 THEN ranked[1].code ELSE 'und' END AS lang_pred,
           count(*) AS n
    FROM marked
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Heuristic language ID (llm/text.py language_id): argmax of "
        "marker-token hits, deterministic tie-break; output is the "
        "(actual, predicted) confusion table.",
    tags=("llm", "text"),
)
def llm_language_id(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents")
    return (
        text.language_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_pred")
    )


@register(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id, """ + D_POLY.replace("{s}", "text") + """ AS fingerprint
    FROM documents WHERE doc_id < 30
    ORDER BY doc_id
    """,
    doc="Rolling-hash fingerprint (llm/text.py poly_hash) — bit-exact "
        "cross-engine.",
    tags=("llm", "text"),
)
def llm_fingerprint(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 30)
    return text.with_fingerprint(docs).select("doc_id", "fingerprint").orderBy("doc_id")


@register(
    "llm_token_count",
    oracle="""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
             AS total_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    doc="BPE-ish token counting (llm/text.py bpe_ish_tokens): letter "
        "runs / digit runs / punctuation as tokens, aggregated per "
        "language.",
    tags=("llm", "text"),
)
def llm_token_count(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents")
    return (
        docs.select("lang", F.size(text.bpe_ish_tokens(F.col("text"))).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("bigint").alias("total_tokens"),
             F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


@register(
    "llm_quality_filter",
    oracle="""
    WITH stats AS (
      SELECT lang,
             len(toks) AS n_tokens,
             round(list_reduce(list_prepend(0::BIGINT,
                     list_transform(toks, t -> length(t)::BIGINT)),
                   (acc, x) -> acc + x)::DOUBLE / len(toks), 6) AS avg_token_len,
             round(len(list_filter(toks, t -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it'], t)))::DOUBLE
                   / len(toks), 6) AS stopword_ratio
      FROM (SELECT lang, """ + D_TOKENS.replace("{s}", "text") + """ AS toks FROM documents) t
    )
    SELECT lang, count(*) AS n_kept
    FROM (
      SELECT lang,
             CASE WHEN n_tokens < 5 THEN 0.0
                  ELSE round(least(n_tokens / 100.0, 1.0) * 0.4
                           + least(avg_token_len / 8.0, 1.0) * 0.3
                           + least(stopword_ratio * 5.0, 1.0) * 0.3, 6) END AS quality
      FROM stats) q
    WHERE quality > 0.5
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Quality-score filter (llm/text.py quality_score): Gopher/"
        "C4-style composite heuristic, kept-docs count per language.",
    tags=("llm", "text", "bench"),
)
def llm_quality_filter(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents")
    return (
        text.quality_score(docs)
        .where(F.col("quality") > 0.5)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Embedding similarity search.
# ---------------------------------------------------------------------------

@register(
    "llm_cosine_topk",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             list_reduce(list_prepend(0.0, list_transform(list_zip(q.qv, v.vec),
                         z -> z[1] * z[2])), (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_prepend(0.0, list_transform(q.qv, x -> x * x)),
                     (acc, x) -> acc + x))
              * sqrt(list_reduce(list_prepend(0.0, list_transform(v.vec, x -> x * x)),
                     (acc, x) -> acc + x))) AS sim_raw
      FROM v CROSS JOIN q
      WHERE v.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, round(sim_raw, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= 3
    ORDER BY query_id, neighbor_id
    """,
    doc="Brute-force cosine top-k (llm/similarity.py cosine_topk): "
        "broadcast query set, JVM-side zip_with dot products, per-query "
        "window top-k. The exact ANN baseline.",
    tags=("llm", "similarity", "bench"),
)
def llm_cosine_topk(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings")
    return similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 5), k=3
    ).orderBy("query_id", "neighbor_id")


_D_COS = (
    "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
    "z -> z[1] * z[2])), (acc, x) -> acc + x) "
    "/ (sqrt(list_reduce(list_prepend(0.0, list_transform({a}, x -> x * x)), "
    "(acc, x) -> acc + x)) "
    "* sqrt(list_reduce(list_prepend(0.0, list_transform({b}, x -> x * x)), "
    "(acc, x) -> acc + x)))"
)


@register(
    "llm_ann_ivf_topk",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
               FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, vec AS cv FROM v WHERE vec_id < 8),
    casg AS (
      SELECT vec_id, vec, cent_id AS cell FROM (
        SELECT v.vec_id, v.vec, c.cent_id,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY """ + _D_COS.format(a="v.vec", b="c.cv") + """ DESC,
                                           c.cent_id) AS rn
        FROM v CROSS JOIN cents c) t
      WHERE rn = 1
    ),
    qasg AS (SELECT vec_id AS query_id, vec AS qv, cell
             FROM casg WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             """ + _D_COS.format(a="q.qv", b="c.vec") + """ AS sim_raw
      FROM casg c JOIN qasg q USING (cell)
      WHERE c.vec_id != q.query_id
    )
    SELECT query_id, neighbor_id, round(sim_raw, 6) AS sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim_raw DESC, neighbor_id) AS rn
          FROM scored) t
    WHERE rn <= 3
    ORDER BY query_id, neighbor_id
    """,
    doc="IVF ANN, nprobe=1 (llm/similarity.py ann_topk_ivf): "
        "deterministic coarse quantizer (first-8 vectors), broadcast "
        "cell assignment, exact cosine inside the probed cell. "
        "Bit-exact full-value oracle — the scale path beyond sign-LSH.",
    tags=("llm", "similarity", "bench"),
)
def llm_ann_ivf_topk(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings")
    return similarity.ann_topk_ivf(
        emb, emb.where(F.col("vec_id") < 5), k=3, n_centroids=8
    ).orderBy("query_id", "neighbor_id")


@register(
    "llm_ann_lsh_recall",
    oracle="SELECT true AS recall_ok",
    doc="Sign-LSH bucketed ANN (llm/similarity.py ann_topk_lsh) validated "
        "in-query: recall@3 against the brute-force baseline must clear "
        "the floor for 4-plane/16-bucket LSH. The envelope (not the "
        "neighbor set) is the contract, mirroring the approx-aggregate "
        "pattern.",
    tags=("llm", "similarity"),
)
def llm_ann_lsh_recall(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(emb, queries, k=3).select(
        "query_id", F.col("neighbor_id").alias("nb")
    )
    approx = similarity.ann_topk_lsh(emb, queries, k=3).select(
        "query_id", F.col("neighbor_id").alias("nb")
    )
    counts = _count(exact, "total").crossJoin(
        _count(exact.join(approx, ["query_id", "nb"]), "hits"))
    recall = (F.when(F.col("total") > 0, F.col("hits") / F.col("total"))
              .otherwise(0.0))
    return counts.select((recall >= 0.2).alias("recall_ok"))


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas) — features are deterministic byte
# arithmetic, so even the Arrow-batched Python path is oracle-checked.
# ---------------------------------------------------------------------------

@register(
    "llm_multimodal_features",
    oracle="""
    SELECT doc_id,
           array_to_string([length(text)::BIGINT,
            ord(substr(text, 1, 1))::BIGINT,
            ord(substr(text, -1, 1))::BIGINT,
            (list_reduce(list_prepend(0::BIGINT, """ + D_CODES.replace("{s}", "text") + """),
                         (acc, x) -> acc + x) % 1000000007)::BIGINT], ',')
             AS features
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
    doc="Multimodal payload pipeline (llm/multimodal.py): binary column "
        "+ metadata struct + Arrow-batched mapInPandas feature "
        "extraction. Decode is stubbed (no imaging libs in container); "
        "the deterministic byte-feature extractor proves the Spark "
        "plumbing end-to-end against the oracle.",
    tags=("llm", "multimodal"),
)
def llm_multimodal_features(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 50)
    with_payload = multimodal.attach_payload(docs)
    feats = multimodal.extract_features(with_payload)
    # Features are integer-valued doubles; serialize scalar so the
    # driver's canonicalizer (pandas sort) never sees a raw list cell.
    return feats.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform("features", lambda x: x.cast("bigint"))
        ).alias("features"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Training-data prep: chunking, vocabulary, unicode normalization.
# ---------------------------------------------------------------------------

@register(
    "llm_chunk_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents WHERE doc_id < 30
    ),
    chunks AS (
      SELECT doc_id,
             generate_subscripts(starts, 1) AS chunk_no,
             list_transform(starts,
               s -> array_to_string(list_slice(t, s, s + 63), ' ')) AS ctexts
      FROM (SELECT doc_id, t,
                   range(1, greatest(len(t) - 16, 1) + 1, 48) AS starts
            FROM toks) x
    )
    SELECT doc_id, chunk_no, ctexts[chunk_no] AS chunk_text,
           len(string_split_regex(ctexts[chunk_no], '\\s+')) AS n_tokens
    FROM chunks
    ORDER BY doc_id, chunk_no
    """,
    doc="Overlapping token-window chunking (llm/text.py chunk_documents: "
        "64-token windows, 16 overlap, stride 48) — the canonical "
        "LLM-corpus op; map-side only, no shuffle. Oracle rebuilds the "
        "same windows with list slices.",
    tags=("llm", "text", "bench"),
)
def llm_chunk_documents(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 30)
    return text.chunk_documents(docs).orderBy("doc_id", "chunk_no")


@register(
    "llm_vocabulary",
    oracle="""
    WITH toked AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    )
    SELECT token, count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM toked
    GROUP BY token
    HAVING count(*) >= 5
    ORDER BY token
    """,
    doc="Corpus vocabulary with document frequencies (llm/text.py "
        "vocabulary): explode + two-level count, shuffle carries only "
        "(token, partial counts) — BPE-training / frequency-filter "
        "foundation.",
    tags=("llm", "text", "bench"),
)
def llm_vocabulary(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents")
    return text.vocabulary(docs, min_count=5).orderBy("token")


@register(
    "llm_normalize_nfc",
    oracle="""
    SELECT doc_id, nfc_normalize(text) AS text_nfc,
           length(nfc_normalize(text)) AS n_chars_nfc
    FROM documents WHERE doc_id < 50
    ORDER BY doc_id
    """,
    doc="Unicode NFC normalization (StringFunctions.java normalize()): "
        "the one text op crossing into Python — Arrow-batched pandas "
        "UDF, never per-row; DuckDB nfc_normalize is the oracle.",
    tags=("llm", "text"),
)
def llm_normalize_nfc(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 50)
    out = text.normalize_nfc(docs)
    return out.select(
        "doc_id", "text_nfc", F.length("text_nfc").alias("n_chars_nfc")
    ).orderBy("doc_id")


@register(
    "llm_multimodal_frame_sample",
    oracle="""
    -- documents are ASCII (verified), so varchar slicing == byte slicing
    WITH f AS (
      SELECT doc_id,
             generate_subscripts(starts, 1) AS frame_no,
             list_transform(starts,
               i -> substring(text, CAST((i - 1) * 32 + 1 AS INT), 32)) AS frames,
             CAST(ceil(length(text) / 32.0) AS INT) AS n_frames_total
      FROM (SELECT doc_id, text,
                   range(1, greatest(CAST(ceil(length(text) / 32.0) AS INT),
                                     1) + 1, 2) AS starts
            FROM documents WHERE doc_id < 20) t
    )
    SELECT doc_id, frame_no, frames[frame_no] AS frame_text,
           length(frames[frame_no]) AS frame_len, n_frames_total
    FROM f
    ORDER BY doc_id, frame_no
    """,
    doc="Video-style frame sampling plumbing (llm/multimodal.py "
        "sample_frames): fixed-size frames from the binary payload, "
        "every 2nd sampled, posexplode to rows — map-side only. Real "
        "decoder slots (decode_image/resize_image) raise "
        "NotImplementedError; the byte-chunk stand-in proves the plan "
        "shape against the oracle.",
    tags=("llm", "multimodal"),
)
def llm_multimodal_frame_sample(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 20)
    with_payload = multimodal.attach_payload(docs)
    out = multimodal.sample_frames(with_payload, frame_bytes=32, stride=2)
    return out.select(
        "doc_id", "frame_no",
        F.decode("frame", "UTF-8").alias("frame_text"),
        F.length("frame").alias("frame_len"),
        "n_frames_total",
    ).orderBy("doc_id", "frame_no")


@register(
    "llm_dedup_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
      -- same LSH-verified near-dup pairs the engine clusters
      SELECT id_a, id_b FROM (
        WITH sh AS (
          SELECT doc_id, sh FROM """ + _shingles_for("documents") + """ t
        ),
        sig AS (SELECT doc_id, """ + D_SIG + """ AS sig FROM sh),
        banded AS (
          SELECT doc_id, b.band, b.bucket FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, 4), b -> {
                     'band': b,
                     'bucket': list_reduce(
                        list_prepend(0::BIGINT, list_slice(sig, b * 4 + 1, b * 4 + 4)),
                        (acc, x) -> (acc * 31 + x % 1000003) % 1000000007)
                   })) AS b
            FROM sig) t
        ),
        cands AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b
        FROM cands JOIN sh a ON cands.id_a = a.doc_id
                   JOIN sh b ON cands.id_b = b.doc_id
        WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
              (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
      ) v
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk AS (
      SELECT src AS doc_id, src AS reach FROM edges
      UNION
      SELECT w.doc_id, e.dst
      FROM walk w JOIN edges e ON w.reach = e.src
    )
    SELECT doc_id, min(reach) AS cluster_id
    FROM walk GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Near-duplicate cluster assignment: connected components over "
        "LSH-verified pairs (llm/dedup.py dedup_clusters — the pair "
        "list collects to the driver, bounded by MAX_EDGE_ROWS, and "
        "union-find labels each doc with the min id it reaches). The "
        "iterative-algorithm class the driver flags as non-SQL; "
        "DuckDB's recursive CTE reachability closure provides a "
        "full-value oracle anyway.",
    tags=("llm", "dedup", "bench"),
)
def llm_dedup_clusters(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    pairs = dedup.near_dedup_pairs(docs, threshold=0.5)
    return dedup.dedup_clusters(pairs.select("id_a", "id_b")).orderBy(
        "doc_id")


@register(
    "llm_embedding_normalize",
    oracle="""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS vec
               FROM embeddings WHERE vec_id < 50),
    n AS (SELECT vec_id, vec,
                 sqrt(list_reduce(list_prepend(0.0,
                      list_transform(vec, x -> x * x)), (acc, x) -> acc + x)) AS nrm
          FROM v)
    SELECT vec_id,
           round(CASE WHEN nrm = 0 THEN nrm ELSE
             sqrt(list_reduce(list_prepend(0.0,
               list_transform(list_transform(vec, x -> x / nrm), x -> x * x)),
               (acc, x) -> acc + x)) END, 6) AS unit_norm,
           round(vec[1] / nullif(nrm, 0), 6) AS first_component
    FROM n
    ORDER BY vec_id
    """,
    doc="L2 normalization (llm/similarity.py l2_normalize): unit-length "
        "check + first component — the pre-step that turns cosine "
        "search into plain dot products.",
    tags=("llm", "similarity"),
)
def llm_embedding_normalize(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings").where(F.col("vec_id") < 50)
    unit = emb.select(
        "vec_id",
        similarity.l2_normalize(
            similarity.as_double(F.col("embedding"))
        ).alias("u"),
        similarity.norm(similarity.as_double(F.col("embedding"))).alias("nrm"),
    )
    return unit.select(
        "vec_id",
        F.round(similarity.norm(F.col("u")), 6).alias("unit_norm"),
        F.round(F.element_at("u", 1) , 6).alias("first_component"),
    ).orderBy("vec_id")


@register(
    "llm_embedding_near_dup",
    oracle="""
    WITH v AS (SELECT vec_id,
                      list_transform(embedding, x -> x::DOUBLE) AS e
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
    ORDER BY id_a, id_b
    """,
    doc="Embedding-cosine near-dup pairs (llm/dedup.py "
        "embedding_near_dup_pairs method='exact' — the all-pairs "
        "verification tier; the default method='lsh' scale path is "
        "pinned by llm_embedding_near_dup_lsh's recall envelope): all "
        "pairs with cosine >= 0.4, bit-matched against DuckDB "
        "list_dot_product.",
    tags=("llm", "dedup"),
)
def llm_embedding_near_dup(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings")
    return dedup.embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        method="exact",
    ).orderBy("id_a", "id_b")


@register(
    "llm_embedding_near_dup_lsh",
    oracle="SELECT true AS recall_ok, true AS no_false_positives",
    doc="Sign-LSH bucketed embedding near-dup (llm/dedup.py "
        "embedding_near_dup_pairs method='lsh', the DEFAULT/scale "
        "path): multi-table OR-construction candidates via (table, "
        "bucket) equi-join, exact cosine verify in-bucket. Validated "
        "in-query against the exact tier: every emitted pair must be a "
        "true above-threshold pair (precision 1.0 — the verifier is "
        "exact), and recall must clear the floor for 8x4-plane LSH at "
        "the 0.4 threshold. Envelope, not pair set, is the contract "
        "(pattern of llm_ann_lsh_recall).",
    tags=("llm", "dedup"),
)
def llm_embedding_near_dup_lsh(spark, sf_dir):
    prepare(spark, sf_dir)
    emb = spark.table("embeddings")
    exact = dedup.embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        method="exact",
    ).select("id_a", "id_b")
    approx = dedup.embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.4,
        method="lsh",
    ).select("id_a", "id_b")
    # the all-pairs exact tier is evaluated once: both sides are
    # distinct pair sets (id_a < id_b; LSH pairs are deduplicated), so
    # the left join keeps one row per exact pair
    hits = exact.join(approx.withColumn("_hit", F.lit(1)),
                      ["id_a", "id_b"], "left")
    counts = hits.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("_hit").alias("n_hit"),
    ).crossJoin(_count(approx, "n_approx"))
    recall = (F.when(F.col("n_exact") > 0, F.col("n_hit") / F.col("n_exact"))
              .otherwise(1.0))
    return counts.select(
        (recall >= 0.35).alias("recall_ok"),
        (F.col("n_hit") == F.col("n_approx")).alias("no_false_positives"),
    )


_REPETITION_ORACLE = """
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100
),
w AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS words,
         list_filter(list_transform(string_split(text, chr(10)),
                                    s -> trim(s)), s -> s <> '') AS lines
  FROM src
),
base AS (
  SELECT doc_id,
         CASE WHEN len(lines) > 0
              THEN 1.0 - len(list_distinct(lines))::DOUBLE / len(lines)
              ELSE 0.0 END AS dup_line_frac,
         CASE WHEN len(words) > 0
              THEN 1.0 - len(list_distinct(words))::DOUBLE / len(words)
              ELSE 0.0 END AS dup_word_frac,
         greatest(len(words) - 1, 0) AS nbi,
         words
  FROM w
),
bg AS (
  SELECT b.doc_id,
         b.words[i.i] || ' ' || b.words[i.i + 1] AS g
  FROM base b, unnest(range(1, b.nbi + 1)) AS i(i)
),
top AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
  ) GROUP BY doc_id
)
SELECT b.doc_id,
       format('{:.6f}', b.dup_line_frac) AS dup_line_frac,
       format('{:.6f}', b.dup_word_frac) AS dup_word_frac,
       format('{:.6f}', CASE WHEN b.nbi > 0
              THEN coalesce(top.topc, 0)::DOUBLE / b.nbi
              ELSE 0.0 END) AS top_bigram_frac
FROM base b LEFT JOIN top ON top.doc_id = b.doc_id
ORDER BY b.doc_id
"""


@register(
    "llm_repetition_filters",
    oracle=_REPETITION_ORACLE,
    doc="Gopher-recipe repetition signals per document (Rae et al. "
        "2021 A1.1): duplicate-line fraction, duplicate-word fraction, "
        "top-bigram coverage. Line/word fractions are pure codegen "
        "expressions; the bigram mode explodes to (doc, bigram) rows "
        "and aggregates (map-side combine, doc-key shuffle) rather "
        "than an O(words²) per-row scan — DuckDB replays all three "
        "exactly.",
    tags=("llm", "text"),
)
def llm_repetition_filters(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    stats = text.repetition_stats(docs, "text", "doc_id")
    return stats.select(
        "doc_id",
        F.format_string("%.6f", "dup_line_frac").alias("dup_line_frac"),
        F.format_string("%.6f", "dup_word_frac").alias("dup_word_frac"),
        F.format_string("%.6f", "top_bigram_frac").alias("top_bigram_frac"),
    ).orderBy("doc_id")


_PII_SYNTH = (
    "substr({t}, 1, 40) || ' reach me at user' || CAST({i} AS VARCHAR)"
    " || '@example.com or (555) 867-' || CAST(1000 + {i} % 9000 AS VARCHAR)"
    " || CASE WHEN {i} % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
    " || CASE WHEN {i} % 4 = 0 THEN ' from 10.0.' || CAST({i} % 256 AS"
    " VARCHAR) || '.1' ELSE '' END"
)

_PII_ORACLE = f"""
WITH synth AS (
  SELECT doc_id,
         {_PII_SYNTH.format(t="text", i="doc_id")} AS s
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       len(regexp_extract_all(s,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))::BIGINT
         AS email_hits,
       len(regexp_extract_all(s, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))::BIGINT
         AS ssn_hits,
       len(regexp_extract_all(s,
           '(?:\\b(?:\\+?\\d{{1,2}}[ .-])?\\d{{3}}|\\(\\d{{3}}\\))[ .-]?\\d{{3}}[ .-]?\\d{{4}}\\b'))::BIGINT
         AS phone_hits,
       len(regexp_extract_all(s, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b'))::BIGINT
         AS ip_hits,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
           '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '[SSN]', 'g'),
           '(?:\\b(?:\\+?\\d{{1,2}}[ .-])?\\d{{3}}|\\(\\d{{3}}\\))[ .-]?\\d{{3}}[ .-]?\\d{{4}}\\b',
           '[PHONE]', 'g'),
           '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b', '[IP]', 'g'))
         AS redacted_md5
FROM synth ORDER BY doc_id
"""


@register(
    "llm_pii_redaction",
    oracle=_PII_ORACLE,
    doc="PII audit + scrub (corpus-hygiene pass): deterministic "
        "synthetic PII (email/phone/SSN/IPv4) appended to document "
        "prefixes in BOTH engines; per-category hit counts and the md5 "
        "of the redacted text must match byte-for-byte, proving the "
        "chained regexp_replace semantics line up across engines. "
        "Pure codegen expressions, zero shuffle.",
    tags=("llm", "text"),
)
def llm_pii_redaction(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 50)
    i = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" reach me at user"), i.cast("string"),
            F.lit("@example.com or (555) 867-"),
            (F.lit(1000) + i % 9000).cast("string"),
            F.when(i % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
            F.when(i % 4 == 0,
                   F.concat(F.lit(" from 10.0."), (i % 256).cast("string"),
                            F.lit(".1"))).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        text.pii_stats(synth, "text", "doc_id")
        .select(
            "doc_id", "email_hits", "ssn_hits", "phone_hits", "ip_hits",
            F.md5(F.col("redacted").cast("binary")).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


# Synthetic line structure for the C4 check: the corpus documents are
# single-line, so the query deterministically splits on a common word
# and plants the page-level flags on modular doc ids — the same
# construction strategy as the PII rows above.
_C4_SYNTH_DUCK = (
    "concat(replace(text, ' window ', '.' || chr(10)),"
    " CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END,"
    " CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'Lorem ipsum dolor.'"
    "      ELSE '' END,"
    " CASE WHEN doc_id % 19 = 0 THEN ' {' ELSE '' END,"
    " CASE WHEN doc_id % 23 = 0 THEN chr(10) ||"
    "      'please enable javascript to continue here.' ELSE '' END)"
)

_C4_ORACLE = f"""
WITH synth AS (
  SELECT doc_id, {_C4_SYNTH_DUCK} AS t
  FROM documents WHERE doc_id < 100
),
split AS (
  SELECT doc_id, t,
         list_filter(list_transform(string_split(t, chr(10)),
                                    l -> trim(l)),
                     l -> l <> '') AS lines
  FROM synth
),
sig AS (
  SELECT doc_id,
         len(lines) AS n_lines,
         len(list_filter(lines,
             l -> regexp_matches(l, '[.!?"]$')
                  AND len(string_split_regex(l, '\\s+')) >= 5
                  AND NOT contains(lower(l), 'javascript')))
           AS n_kept,
         contains(lower(t), 'lorem ipsum') AS has_lorem,
         contains(t, '{{') AS has_brace,
         len(list_filter(lines, l -> contains(lower(l), 'javascript')))
           > 0 AS has_js
  FROM split
)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_kept AS BIGINT) AS n_kept_lines,
       format('{{:.6f}}', CASE WHEN n_lines > 0
              THEN CAST(n_kept AS DOUBLE) / n_lines ELSE 0.0 END)
         AS kept_line_frac,
       has_lorem AS has_lorem_ipsum,
       has_brace,
       has_js AS has_javascript_line,
       (n_kept >= 3 AND NOT has_lorem AND NOT has_brace)
         AS keep_document
FROM sig ORDER BY doc_id
"""


@register(
    "llm_c4_line_filters",
    oracle=_C4_ORACLE,
    doc="C4 corpus hygiene per document (Raffel et al. 2020 §2.2): "
        "keep lines ending in terminal punctuation with >= 5 words "
        "and no 'javascript' (a LINE-level removal per the paper — "
        "ADVICE r7); page-level lorem-ipsum / brace flags; document "
        "verdict >= 3 kept lines and no page flags. Line structure is "
        "synthesized deterministically (split on a common word, flags "
        "planted on modular doc ids) since the corpus documents are "
        "single-line; DuckDB replays every signal exactly. Pure "
        "codegen expressions, zero shuffle.",
    tags=("llm", "text"),
)
def llm_c4_line_filters(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").filter(F.col("doc_id") < 100)
    i = F.col("doc_id")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.regexp_replace(F.col("text"), " window ", ".\n"),
            F.when(i % 2 == 0, F.lit(".")).otherwise(F.lit("")),
            F.when(i % 17 == 0, F.lit("\nLorem ipsum dolor."))
            .otherwise(F.lit("")),
            F.when(i % 19 == 0, F.lit(" {")).otherwise(F.lit("")),
            F.when(i % 23 == 0,
                   F.lit("\nplease enable javascript to continue here."))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    sig = text.c4_line_filters(synth, "text", "doc_id")
    return sig.select(
        "doc_id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept_lines").cast("bigint").alias("n_kept_lines"),
        F.format_string("%.6f", "kept_line_frac").alias("kept_line_frac"),
        "has_lorem_ipsum", "has_brace", "has_javascript_line",
        "keep_document",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Cross-corpus operators (round 13): incremental-ingest dedup against a
# reference corpus, and benchmark decontamination.
# ---------------------------------------------------------------------------

@register(
    "llm_cross_dedup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 10 = 0
    ),
    dd AS (
      SELECT md5(text) AS digest, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM corpus GROUP BY 1
    ),
    ref AS (
      SELECT DISTINCT md5(text) AS digest
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT digest, keep_id, n_copies
    FROM dd WHERE digest NOT IN (SELECT digest FROM ref)
    ORDER BY keep_id
    """,
    doc="Cross-corpus exact dedup (llm/dedup.py exact_dedup_against — "
        "the incremental-ingest pass: dedup the new batch internally, "
        "then anti-join its digests against the already-ingested "
        "reference corpus).  Batch = documents plus a shifted copy of "
        "every 10th doc (in-batch duplicates); reference = every 3rd "
        "doc.  Only (digest, id) shuffles; text never leaves the scan.",
    tags=("llm", "dedup", "bench"),
)
def llm_cross_dedup(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    batch = docs.unionAll(
        docs.where(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    reference = docs.where(F.col("doc_id") % 3 == 0)
    return dedup.exact_dedup_against(batch, reference).orderBy("keep_id")


_D_BANDED = (
    "SELECT doc_id, b.band, b.bucket FROM ("
    "  SELECT doc_id,"
    "         unnest(list_transform(range(0, 4), b -> {{"
    "           'band': b,"
    "           'bucket': list_reduce("
    "              list_prepend(0::BIGINT,"
    "                           list_slice(sig, b * 4 + 1, b * 4 + 4)),"
    "              (acc, x) -> (acc * 31 + x % 1000003) % 1000000007)"
    "         }})) AS b"
    "  FROM {sig_cte}) t")


@register(
    "llm_cross_near_dedup",
    oracle="""
    WITH nsh AS (
      SELECT doc_id, sh FROM """ + _shingles_for(
        "(SELECT doc_id + 1000000 AS doc_id, text FROM documents "
        "WHERE doc_id % 6 = 0 "
        "UNION ALL SELECT doc_id, text FROM documents "
        "WHERE doc_id % 2 = 1) d") + """ t
    ),
    rsh AS (
      SELECT doc_id, sh FROM """ + _shingles_for(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) d"
    ) + """ t
    ),
    nsig AS (SELECT doc_id, """ + D_SIG + """ AS sig FROM nsh),
    rsig AS (SELECT doc_id, """ + D_SIG + """ AS sig FROM rsh),
    nband AS (""" + _D_BANDED.format(sig_cte="nsig") + """),
    rband AS (""" + _D_BANDED.format(sig_cte="rsig") + """),
    cands AS (
      SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
      FROM nband n JOIN rband r
        ON n.band = r.band AND n.bucket = r.bucket
    )
    SELECT new_id, ref_id,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                 6) AS jaccard
    FROM cands
    JOIN nsh a ON cands.new_id = a.doc_id
    JOIN rsh b ON cands.ref_id = b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                6) >= 0.5
    ORDER BY new_id, ref_id
    """,
    doc="Cross-corpus NEAR-dedup (llm/dedup.py near_dedup_against — "
        "the FineWeb/RefinedWeb-style weekly pass, VERDICT r13 "
        "next-round #2: flag new-crawl documents that near-duplicate "
        "the already-ingested corpus).  New batch = odd docs plus "
        "id-shifted copies of every 6th doc (guaranteed cross-corpus "
        "exact matches); reference = even docs.  MinHash signatures "
        "band identically on both sides, candidates come from an "
        "equi-join of the two banded tables on (band, bucket) — no "
        "corpus broadcast, no all-pairs (plan-pinned in "
        "tests/test_plans.py) — and exact shingle Jaccard >= 0.5 "
        "verifies; the oracle replays signatures and banding "
        "bit-exactly.",
    tags=("llm", "dedup", "bench"),
)
def llm_cross_near_dedup(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    reference = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1).unionAll(
        docs.where(F.col("doc_id") % 6 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return dedup.near_dedup_against(
        batch, reference, threshold=0.5).orderBy("new_id", "ref_id")


@register(
    "llm_decontamination",
    oracle="""
    WITH dsh AS (
      SELECT doc_id, sh FROM """ + _shingles_for(
        "(SELECT * FROM documents "
        "WHERE doc_id % 4 <> 0 AND doc_id < 120) d") + """ t
    ),
    bsh AS (
      SELECT doc_id AS bench_id, sh FROM """ + _shingles_for(
        "(SELECT * FROM documents "
        "WHERE doc_id % 4 = 0 AND doc_id < 120) d") + """ t
    ),
    d AS (SELECT doc_id, u.h FROM dsh, unnest(sh) AS u(h)),
    bflat AS (SELECT bench_id, u.h FROM bsh, unnest(sh) AS u(h)),
    bad AS (
      SELECT doc_id, count(*) AS n_contaminated
      FROM d WHERE h IN (SELECT DISTINCT h FROM bflat)
      GROUP BY 1
    ),
    hit AS (
      SELECT d.doc_id, count(DISTINCT bflat.bench_id) AS n_benchmarks_hit
      FROM d JOIN bflat USING (h) GROUP BY 1
    )
    SELECT t.doc_id,
           len(t.sh) AS n_shingles,
           coalesce(bad.n_contaminated, 0) AS n_contaminated,
           round(coalesce(bad.n_contaminated, 0)::DOUBLE / len(t.sh), 6)
             AS contamination_ratio,
           coalesce(hit.n_benchmarks_hit, 0) AS n_benchmarks_hit
    FROM dsh t
    LEFT JOIN bad ON bad.doc_id = t.doc_id
    LEFT JOIN hit ON hit.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    doc="Benchmark decontamination report (llm/dedup.py "
        "contamination_report — the pre-ship pass flagging training "
        "documents that contain eval-set text at word 3-gram "
        "granularity): per document, distinct shingles, shingles found "
        "anywhere in the benchmark corpus, their ratio, and how many "
        "distinct benchmark docs are hit.  Benchmark = every 4th doc; "
        "training = the rest (bounded slice).  Both corpora reduce to "
        "(id, shingle-hash BIGINT) before any join — equi-joins on the "
        "8-byte hash, no all-pairs, text never shuffles.",
    tags=("llm", "dedup", "bench"),
)
def llm_decontamination(spark, sf_dir):
    prepare(spark, sf_dir)
    base = spark.table("documents").where(F.col("doc_id") < 120)
    docs = base.where(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    bench = base.where(F.col("doc_id") % 4 == 0).select("doc_id", "text")
    rep = dedup.contamination_report(docs, bench)
    return rep.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_contaminated",
        "contamination_ratio",
        "n_benchmarks_hit",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Training-mix assembly (round 13): deterministic splits + token-budget
# packing (llm/mix.py).
# ---------------------------------------------------------------------------

@register(
    "llm_dataset_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             (list_reduce(list_prepend(0::BIGINT,
                list_transform(string_split(
                  md5(doc_id::VARCHAR || ':42'), ''),
                  c -> ord(c)::BIGINT)),
                (acc, x) -> (acc * 31 + x) % 1000000007)
              % 1000003) / 1000003.0 AS bk
      FROM documents
    )
    SELECT CASE WHEN bk < 0.8 THEN 'train'
                WHEN bk < 0.8 + 0.1 THEN 'validation'
                ELSE 'test' END AS split,
           lang,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Deterministic train/validation/test split (llm/mix.py "
        "deterministic_split): the label is a pure function of the "
        "document id (md5 → 31-base char fold → unit interval → "
        "cumulative weight ranges), so the assignment is identical "
        "across runs, engines, partition layouts, and cluster sizes — "
        "no RNG.  Zero shuffle (map-only); checked by per-(split, "
        "lang) counts + id checksums, bit-exact vs DuckDB's replay of "
        "the same fold.",
    tags=("llm", "mix", "bench"),
)
def llm_dataset_split(spark, sf_dir):
    from presto_spark.llm import mix

    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang")
    return (
        mix.deterministic_split(docs)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("doc_id").cast("bigint").alias("id_checksum"))
        .orderBy("split", "lang")
    )


@register(
    "llm_token_budget_mix",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(lower(trim(text)), '\\s+'))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT source,
           count(*) FILTER (WHERE cum <= 500) AS n_kept,
           CAST(sum(n_tokens) FILTER (WHERE cum <= 500) AS BIGINT)
             AS tokens_kept,
           count(*) AS n_total
    FROM c GROUP BY source ORDER BY source
    """,
    doc="Per-source token-budget packing (llm/mix.py "
        "pack_token_budget — assemble a training mix whose sources "
        "each contribute up to a budget): documents enter in "
        "deterministic id order while the running whitespace-token "
        "total stays within 500; one window pass, a single hash "
        "shuffle keyed on the source.  Checked by per-source "
        "kept-count / kept-token / total aggregates.",
    tags=("llm", "mix", "bench"),
)
def llm_token_budget_mix(spark, sf_dir):
    from presto_spark.llm import mix

    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source", "text")
    packed = mix.pack_token_budget(docs, budget=500)
    return (
        packed.groupBy("source")
        .agg(
            F.count(F.when(F.col("kept"), F.lit(1))).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")))
            .cast("bigint").alias("tokens_kept"),
            F.count("*").alias("n_total"),
        )
        .orderBy("source")
    )


@register(
    "llm_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             len(string_split_regex(lower(trim(text)), '\\s+'))::BIGINT
               AS n_tokens
      FROM documents WHERE doc_id < 200
    ),
    c AS (
      SELECT *,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      FROM t
    ),
    iv AS (SELECT source, doc_id, n_tokens,
                  (e - n_tokens)::BIGINT AS s, e::BIGINT AS e
           FROM c WHERE n_tokens > 0),
    segs AS (
      SELECT source, doc_id, n_tokens, s, e, u.seq_id
      FROM iv, unnest(range(s // 128, (e - 1) // 128 + 1)) AS u(seq_id)
    )
    SELECT source, doc_id, n_tokens, seq_id,
           greatest(s, seq_id * 128) - seq_id * 128 AS seq_offset,
           least(e, (seq_id + 1) * 128) - greatest(s, seq_id * 128)
             AS seg_tokens,
           greatest(s, seq_id * 128) - s AS seg_start,
           greatest(s, seq_id * 128) = s AS is_doc_start,
           least(e, (seq_id + 1) * 128) = e AS is_doc_end
    FROM segs
    ORDER BY source, doc_id, seq_id
    """,
    doc="Fixed-length sequence packing (llm/mix.py pack_sequences — "
        "round 14, VERDICT r13 next-round #4: the standard pre-"
        "tokenizer assembly step): per source, documents in id order "
        "are laid end-to-end and cut every 128 tokens; documents "
        "spill across sequence boundaries with per-segment offsets "
        "and is_doc_start/is_doc_end flags so attention masks can "
        "reset at document edges.  One window shuffle on the group "
        "key + a map-side sequence/explode fan-out; the oracle "
        "replays the interval arithmetic segment-exactly.",
    tags=("llm", "mix", "bench"),
)
def llm_sequence_packing(spark, sf_dir):
    from presto_spark.llm import mix

    prepare(spark, sf_dir)
    docs = (spark.table("documents").where(F.col("doc_id") < 200)
            .select("doc_id", "source", "text"))
    return mix.pack_sequences(docs, context_len=128).orderBy(
        "source", "doc_id", "seq_id")


# ---------------------------------------------------------------------------
# Real multimodal decode (round 13): stdlib PGM/PPM/BMP image decode +
# nearest-neighbor resize, and stdlib PCM WAV audio decode — the
# previously-stubbed slots now run for the container-decodable formats.
# ---------------------------------------------------------------------------

@register(
    "llm_multimodal_image_decode",
    oracle="""
    WITH ids AS (SELECT range AS doc_id FROM range(40)),
    px AS (
      SELECT doc_id,
             list_transform(range(0, 48),
                            k -> (doc_id * 31 + k) % 256) AS p
      FROM ids
    ),
    rs AS (
      SELECT doc_id,
             list_transform(range(0, 12),
               i -> (doc_id * 31 + 16 * (i // 4) + 2 * (i % 4)) % 256)
               AS rp
      FROM ids
    )
    SELECT px.doc_id,
           CAST(8 AS BIGINT) AS width,
           CAST(6 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           round(list_aggregate(px.p, 'sum')::DOUBLE / 48, 6)
             AS mean_pixel,
           CAST(list_aggregate(px.p, 'min') AS BIGINT) AS min_pixel,
           CAST(list_aggregate(px.p, 'max') AS BIGINT) AS max_pixel,
           round(list_aggregate(rs.rp, 'sum')::DOUBLE / 12, 6)
             AS resized_mean
    FROM px JOIN rs ON rs.doc_id = px.doc_id
    ORDER BY px.doc_id
    """,
    doc="REAL image decode pipeline (llm/multimodal.py decode_image / "
        "resize_image / image_features — round 13 upgrade of the "
        "stubbed slots): deterministic 8x6 PGM payloads are decoded "
        "with the pure-stdlib NetPBM parser, statistics computed over "
        "the actual pixel buffer, and a 4x3 nearest-neighbor resize "
        "re-decoded — the oracle replays the synthesis arithmetic AND "
        "the resize index map, so a decoder bug cannot hash-match.  "
        "mapInPandas, whole Arrow batches, zero shuffle.",
    tags=("llm", "multimodal", "bench"),
)
def llm_multimodal_image_decode(spark, sf_dir):
    import pandas as pd

    prepare(spark, sf_dir)
    # 4 slices, not defaultParallelism (32): 40 synthetic rows through
    # two Python stages cost one worker launch per task — 64 task
    # launches for trivial per-row work dominated the row (r15, guide
    # §4.5/§2.6); partition count only shapes the generator, not values.
    ids = spark.range(0, 40, 1, 4).withColumnRenamed("id", "doc_id")

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [multimodal.synth_pgm(int(d), 8, 6)
                            for d in pdf.doc_id],
            })

    payloads = ids.mapInPandas(synth, "doc_id long, payload binary")
    feats = multimodal.image_features(payloads, resize_to=(4, 3))
    return feats.select(
        "doc_id", "width", "height", "channels",
        F.round("mean_pixel", 6).alias("mean_pixel"),
        "min_pixel", "max_pixel",
        F.round("resized_mean", 6).alias("resized_mean"),
    ).orderBy("doc_id")


@register(
    "llm_multimodal_audio_wav",
    oracle="""
    WITH ids AS (SELECT range AS doc_id FROM range(80)),
    s AS (
      SELECT doc_id,
             CASE WHEN doc_id < 40 THEN 1 ELSE 2 END AS sample_width,
             CASE WHEN doc_id < 40
                  THEN list_transform(range(0, 64),
                         k -> (doc_id * 17 + 3 * k) % 256)
                  ELSE list_transform(range(0, 64),
                         k -> (doc_id * 29 + 5 * k) % 4096 - 2048)
             END AS sm,
             CASE WHEN doc_id < 40 THEN 128 ELSE 0 END AS ctr
      FROM ids
    )
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(8000 AS BIGINT) AS framerate,
           CAST(64 AS BIGINT) AS n_frames,
           CAST(sample_width AS BIGINT) AS sample_width,
           round(64.0 / 8000, 6) AS duration_sec,
           round(sqrt(list_aggregate(
             list_transform(sm, v -> (v - ctr) * (v - ctr)),
             'sum')::DOUBLE / 64), 6) AS rms,
           CAST(len(list_filter(range(0, 63),
             k -> (sm[k + 1] >= ctr) <> (sm[k + 2] >= ctr)))
             AS BIGINT) AS zero_crossings
    FROM s ORDER BY doc_id
    """,
    doc="REAL audio decode pipeline (llm/multimodal.py decode_audio / "
        "audio_features — stdlib wave module, round 13; round 14 adds "
        "the 16-bit signed path per ADVICE r13): deterministic 8-bit "
        "unsigned AND 16-bit signed mono PCM WAV payloads are decoded "
        "through the actual RIFF/WAVE container, then duration, "
        "width-matched centered RMS (center 128 for 8-bit, 0 for "
        "16-bit), and zero-crossing count computed from the PCM "
        "samples; the oracle replays the synthesis arithmetic and the "
        "signal math for both widths.  mapInPandas, zero shuffle.",
    tags=("llm", "multimodal", "bench"),
)
def llm_multimodal_audio_wav(spark, sf_dir):
    import pandas as pd

    prepare(spark, sf_dir)
    # 8 slices, same rationale as llm_multimodal_image_decode (r15).
    ids = spark.range(0, 80, 1, 8).withColumnRenamed("id", "doc_id")

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf.doc_id,
                "payload": [
                    multimodal.synth_wav(int(d), 64, 8000) if d < 40
                    else multimodal.synth_wav16(int(d), 64, 8000)
                    for d in pdf.doc_id],
            })

    payloads = ids.mapInPandas(synth, "doc_id long, payload binary")
    feats = multimodal.audio_features(payloads)
    return feats.select(
        "doc_id", "n_channels", "framerate", "n_frames", "sample_width",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("rms", 6).alias("rms"),
        "zero_crossings",
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# HTML -> text extraction (round 13): the first stage of a web-crawl
# corpus pipeline, as a pure regexp chain.
# ---------------------------------------------------------------------------

def _duck_html_chain(expr: str) -> str:
    """DuckDB replay of llm/text.py's _HTML_STEPS — generated FROM the
    same table so the two chains cannot drift."""
    from presto_spark.llm.text import _HTML_STEPS

    out = expr
    for pat, rep in _HTML_STEPS:
        p = pat.replace("'", "''")
        r = "chr(10)" if rep == "\n" else "'" + rep.replace("'", "''") + "'"
        out = f"regexp_replace({out}, '{p}', {r}, 'g')"
    return f"trim({out})"


_HTML_WRAP_PREFIX = ("<html><head><style>p {color: red}</style>"
                     "<script>var x = 1 < 2;</script></head><body><h1>")
_HTML_WRAP_MID = "</h1>\n<p>"
_HTML_WRAP_SUFFIX = (" &amp; more&nbsp;here</p><!-- hidden comment -->"
                     "<div>tail</div></body></html>")


@register(
    "llm_html_extract",
    oracle="""
    SELECT doc_id, """ + _duck_html_chain(
        "'" + _HTML_WRAP_PREFIX.replace("'", "''") + "' || "
        "substr(text, 1, 20) || '" + _HTML_WRAP_MID.replace("\n", "' || chr(10) || '")
        + "' || text || '" + _HTML_WRAP_SUFFIX.replace("'", "''") + "'"
    ) + """ AS extracted
    FROM documents WHERE doc_id < 60 ORDER BY doc_id
    """,
    doc="HTML -> visible-text extraction (llm/text.py html_to_text — "
        "the first stage of a web-crawl pipeline): script/style/comment "
        "blocks drop with their content, block closers become line "
        "breaks, remaining tags strip, common entities decode, "
        "whitespace collapses.  Pure chained regexp_replace (codegen, "
        "zero shuffle); the oracle chain is GENERATED from the same "
        "step table, so the engines run identical regexes over "
        "identical synthesized HTML.  Checked on the full extracted "
        "strings.",
    tags=("llm", "text", "bench"),
)
def llm_html_extract(spark, sf_dir):
    prepare(spark, sf_dir)
    docs = spark.table("documents").where(F.col("doc_id") < 60)
    html = F.concat(
        F.lit(_HTML_WRAP_PREFIX),
        F.substring("text", 1, 20),
        F.lit(_HTML_WRAP_MID),
        F.col("text"),
        F.lit(_HTML_WRAP_SUFFIX),
    )
    return docs.select(
        "doc_id", text.html_to_text(html).alias("extracted")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# SQL spellings for the LLM scalar tier (round 14): the north-star
# operators reachable from engine.sql without Python.
# ---------------------------------------------------------------------------

@register(
    "llm_sql_spellings",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             """ + D_TOKENS.replace("{s}", "text") + """ AS toks
      FROM documents WHERE doc_id < 60
    ),
    stats AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             round(list_reduce(list_prepend(0::BIGINT,
                     list_transform(toks, tk -> length(tk)::BIGINT)),
                   (acc, x) -> acc + x)::DOUBLE / len(toks), 6)
               AS avg_token_len,
             round(len(list_filter(toks, tk -> list_contains(
                     ['the','a','an','and','or','of','to','in','is','it'],
                     tk)))::DOUBLE / len(toks), 6) AS stopword_ratio
      FROM t
    )
    SELECT doc_id,
           """ + D_POLY.replace("{s}", "text") + """ AS ph,
           """ + D_POLY.replace("{s}", "text") + """ AS fp,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(0, 16), b ->
               CASE WHEN list_reduce(list_prepend(0::BIGINT,
                      list_transform(list_transform(toks, tk -> """
    + D_POLY.replace("{s}", "tk") + """),
                        h -> ((h // (2 ** b)::BIGINT) % 2 * 2 - 1)::BIGINT)),
                      (acc, x) -> acc + x) > 0
                    THEN (2 ** b)::BIGINT ELSE 0::BIGINT END)),
             (acc, x) -> acc + x) AS sh,
           round((list_reduce(list_prepend(0::BIGINT,
                    list_transform(string_split(
                      md5(doc_id::VARCHAR || ':42'), ''),
                      c -> ord(c)::BIGINT)),
                    (acc, x) -> (acc * 31 + x) % 1000000007)
                  % 1000003) / 1000003.0, 6) AS bucket,
           CASE WHEN n_tokens < 5 THEN 0.0
                ELSE round(least(n_tokens / 100.0, 1.0) * 0.4
                         + least(avg_token_len / 8.0, 1.0) * 0.3
                         + least(stopword_ratio * 5.0, 1.0) * 0.3, 6)
           END AS quality,
           """ + _duck_html_chain(
        "'<p>lead &amp;amp; escaped&nbsp;entity</p><p>' || text || '</p>'"
    ) + """ AS extracted
    FROM stats ORDER BY doc_id
    """,
    doc="SQL spellings of the LLM scalar tier (functions/llm_sql.py, "
        "registered on demand by registry.register_functions — round "
        "14, VERDICT r13 next-round #3: the north-star operators were "
        "DataFrame-only, unreachable from engine.sql): ONE spark.sql "
        "text exercises poly_hash/fingerprint (31-base char fold), "
        "simhash16 (div/mod majority vote), split_bucket (md5 fold -> "
        "unit interval), quality_score (two-stage-rounded Gopher/C4 "
        "composite), and html_to_text (the chain GENERATED from the "
        "same _HTML_STEPS table the oracle replays).  Every value "
        "bit-exact vs DuckDB; the SQL bodies are parity-pinned "
        "against the Column builders by "
        "tests/test_llm_sql_spellings.py.  Pure map-side scalar work, "
        "zero shuffle.",
    tags=("llm", "text", "dialect", "bench"),
)
def llm_sql_spellings(spark, sf_dir):
    from presto_spark.functions.registry import run_sql

    prepare(spark, sf_dir)
    return run_sql(spark, """
        SELECT doc_id,
               poly_hash(text) AS ph,
               fingerprint(text) AS fp,
               simhash16(text) AS sh,
               round(split_bucket(CAST(doc_id AS STRING), 42), 6)
                 AS bucket,
               quality_score(text) AS quality,
               html_to_text(concat(
                 '<p>lead &amp;amp; escaped&nbsp;entity</p><p>',
                 text, '</p>')) AS extracted
        FROM documents WHERE doc_id < 60 ORDER BY doc_id
    """)


@register(
    "llm_lm_perplexity",
    oracle="""
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
    """,
    doc="Bigram-LM perplexity scoring (llm/lm.py — the KenLM/CCNet-"
        "style quality filter): train Laplace-smoothed bigram counts "
        "on the even-id half of the corpus, score every odd-id "
        "document by average log2 P(token|context) and bits-per-"
        "token.  Training is two map-side-combinable count "
        "aggregations; scoring is equi-joins on the count tables; "
        "only V reaches the driver.  The oracle replays the whole "
        "model — counts, V, smoothing, log2 — in SQL to 6 decimals "
        "(lifted from the r14-proven pytest differential).",
    tags=("llm", "lm", "bench"),
)
def llm_lm_perplexity(spark, sf_dir):
    from presto_spark.llm import lm

    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    model = lm.train_bigram_model(
        docs.where(F.col("doc_id") % 2 == 0), lazy_vocab=True)
    return lm.score_documents(
        docs.where(F.col("doc_id") % 2 == 1), model).orderBy("doc_id")


def _duck_kmeans_parts(k: int, n_iters: int, dim: int):
    """CTE list + distance fragment for the unrolled k-means replay —
    shared by the assignment and SemDeDup-pairs oracle texts."""
    d2 = ("list_reduce(list_prepend(0.0::DOUBLE, "
          "list_transform(list_zip(v.e, c.c), "
          "p -> (p[1] - p[2]) * (p[1] - p[2]))), "
          "(acc, d) -> acc + d)")
    seed_key = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    parts = [
        "WITH v AS (SELECT vec_id, "
        "list_transform(embedding, x -> x::DOUBLE) AS e "
        "FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY {seed_key}) - 1 "
        f"AS cid, e AS c FROM "
        f"(SELECT * FROM v ORDER BY {seed_key} LIMIT {k}) t)",
    ]
    for r in range(1, n_iters + 1):
        parts.append(
            f"a{r} AS (SELECT vec_id, e, cid FROM ("
            f"SELECT v.vec_id, v.e, c.cid, "
            f"row_number() OVER (PARTITION BY v.vec_id "
            f"ORDER BY {d2}, c.cid) AS rn "
            f"FROM v CROSS JOIN c{r - 1} c) t WHERE rn = 1)")
        parts.append(
            f"s{r} AS (SELECT cid, pv['pos'] AS pos, "
            f"sum(CAST(pv['val'] AS DECIMAL(30,10))) AS s, "
            f"count(*) AS n FROM ("
            f"SELECT cid, unnest(list_transform(range(1, {dim} + 1), "
            f"i -> {{'pos': i - 1, 'val': e[i]}})) AS pv "
            f"FROM a{r}) t GROUP BY 1, 2)")
        parts.append(
            f"c{r} AS (SELECT p.cid, coalesce(u.c, p.c) AS c "
            f"FROM c{r - 1} p LEFT JOIN ("
            f"SELECT cid, list(round(CAST(s AS DOUBLE) / n, 9) "
            f"ORDER BY pos) AS c FROM s{r} GROUP BY cid) u "
            f"ON u.cid = p.cid)")
    return parts, d2


def duck_kmeans_replay_sql(k: int, n_iters: int, dim: int) -> str:
    """Generated unrolled DuckDB replay of llm/clustering.py
    kmeans_fit_assign over the ``embeddings`` view — round by round:
    min-md5 hash-spread init (md5(id-as-string) then id, matching
    kmeans_train), per-round argmin assignment (dist then cid
    tie-break), exact DECIMAL(30,10) component sums rounded at 9
    back to DOUBLE, empty clusters keeping their previous centroid.
    Shared by the registry oracle texts and tests/test_llm.py —
    generated from one place so the engines cannot drift (the
    generated-oracle pattern, verify skill r13)."""
    parts, d2 = _duck_kmeans_parts(k, n_iters, dim)
    final = (
        f"SELECT vec_id, cid AS cluster_id, round(dist, 6) AS dist "
        f"FROM (SELECT v.vec_id, c.cid, {d2} AS dist, "
        f"row_number() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {d2}, c.cid) AS rn "
        f"FROM v CROSS JOIN c{n_iters} c) t "
        f"WHERE rn = 1 ORDER BY vec_id")
    return ",\n".join(parts) + "\n" + final


def duck_semdedup_replay_sql(
    k: int, n_iters: int, dim: int, threshold: float
) -> str:
    """Unrolled replay of llm/clustering.py semantic_dedup_pairs: the
    k-means rounds above, then each side L2-normalized ONCE (the
    engine's 3x saving on the quadratic stage — replayed so the
    per-component division rounding matches) and within-cluster
    pairwise dot (a < b) filtered at the ROUNDED 6-decimal value —
    exactly the engine's filter order, so the boundary pairs match
    bit-for-bit."""
    parts, d2 = _duck_kmeans_parts(k, n_iters, dim)
    parts.append(
        f"fin AS (SELECT vec_id, "
        f"list_transform(e, x -> x / sqrt(list_dot_product(e, e))) "
        f"AS en, cid FROM ("
        f"SELECT v.vec_id, v.e, c.cid, "
        f"row_number() OVER (PARTITION BY v.vec_id "
        f"ORDER BY {d2}, c.cid) AS rn "
        f"FROM v CROSS JOIN c{n_iters} c) t WHERE rn = 1)")
    final = (
        f"SELECT cluster_id, id_a, id_b, cosine FROM ("
        f"SELECT a.cid AS cluster_id, a.vec_id AS id_a, "
        f"b.vec_id AS id_b, "
        f"round(list_dot_product(a.en, b.en), 6) AS cosine "
        f"FROM fin a JOIN fin b "
        f"ON a.cid = b.cid AND a.vec_id < b.vec_id) p "
        f"WHERE cosine >= {threshold} "
        f"ORDER BY cluster_id, id_a, id_b")
    return ",\n".join(parts) + "\n" + final


@register(
    "llm_kmeans_semdedup",
    oracle=duck_semdedup_replay_sql(8, 3, 64, 0.3),
    doc="Deterministic embedding k-means + SemDeDup semantic dedup "
        "(llm/clustering.py; Abbas et al. 2023): 3 Lloyd rounds with "
        "min-md5 hash-spread seeding, DECIMAL(30,10) exact component "
        "sums (bit-identical centroids on any partition layout), then "
        "pairwise cosine ONLY inside each cluster — the paper's "
        "bound on all-pairs compare volume (sum of cluster sizes "
        "squared, controlled by k).  The generated unrolled SQL "
        "oracle replays the whole training run plus the within-"
        "cluster pair filter at the rounded 6-decimal value.  The "
        "0.3 threshold fits the synthetic embedding table's cosine "
        "range (max ~0.5-0.6) so the row carries real pair volume at "
        "every SF; production near-dup thresholds (~0.95) are the "
        "same plan.",
    tags=("llm", "dedup", "clustering", "bench"),
)
def llm_kmeans_semdedup(spark, sf_dir):
    from presto_spark.llm import clustering

    prepare(spark, sf_dir)
    emb = spark.table("embeddings").select("vec_id", "embedding")
    return clustering.semantic_dedup_pairs(
        emb, k=8, threshold=0.3, n_iters=3
    ).orderBy("cluster_id", "id_a", "id_b")


def duck_bpe_replay_sql(n_merges: int, min_pair_count: int = 2) -> str:
    """Generated unrolled DuckDB replay of llm/bpe.py train_bpe over
    the ``documents`` view — per round: weighted adjacent-pair count
    over the symbol vocabulary, (count desc, a, b) argmax with the
    min_pair_count floor, and the greedy left-to-right merge fold
    ((out, pend) state — the exact bpe._fold_local recurrence, with the
    accumulator encoded as out + [pend] in ONE list: DuckDB 1.0's
    list_reduce drops list fields nested inside a struct accumulator,
    and a plain VARCHAR[] accumulator carries correctly; '' marks an
    empty pend, unambiguous because symbols are never empty).  Every
    per-round CTE is MATERIALIZED — v{r} is referenced twice (pair
    counts + next fold), so un-materialized inlining re-evaluates the
    whole chain exponentially (measured: >3 min vs 0.2 s at 12
    rounds).  Early stop replays itself: an empty argmax CTE empties
    every later round, so the oracle emits exactly as many merges as
    the engine.  The iterative merge loop is the class the driver
    flags as non-SQL; unrolling a fixed round count makes it a
    full-value differential anyway (the kmeans-replay pattern)."""
    tok = D_TOKENS.format(s="text")
    parts = [
        f"WITH w AS (SELECT word, count(*) AS cnt FROM ("
        f"SELECT unnest({tok}) AS word FROM documents) GROUP BY word)",
        "v0 AS MATERIALIZED (SELECT list_append(string_split(word, ''), '</w>') "
        "AS syms, cnt FROM w)",
    ]
    for r in range(1, n_merges + 1):
        pv = f"v{r - 1}"
        parts.append(
            f"p{r} AS MATERIALIZED (SELECT pr['a'] AS a, pr['b'] AS b, "
            f"sum(cnt) AS c FROM ("
            f"SELECT unnest(list_transform(range(1, len(syms)), "
            f"i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS pr, cnt "
            f"FROM {pv}) t GROUP BY 1, 2)")
        parts.append(
            f"b{r} AS MATERIALIZED (SELECT a, b FROM p{r} "
            f"WHERE c >= {min_pair_count} "
            f"ORDER BY c DESC, a, b LIMIT 1)")
        parts.append(
            f"v{r} AS MATERIALIZED (SELECT "
            f"CASE WHEN fr[len(fr)] = '' "
            f"THEN list_slice(fr, 1, len(fr) - 1) ELSE fr END "
            f"AS syms, cnt FROM ("
            f"SELECT list_reduce("
            f"list_transform(syms, s -> [s]), "
            f"(acc, e) -> CASE "
            f"WHEN acc[len(acc)] = br.a AND e[1] = br.b THEN "
            f"list_append(list_append("
            f"list_slice(acc, 1, len(acc) - 1), br.a || br.b), '') "
            f"WHEN acc[len(acc)] = '' THEN "
            f"list_append(list_slice(acc, 1, len(acc) - 1), e[1]) "
            f"ELSE list_append(acc, e[1]) END"
            f") AS fr, cnt FROM {pv} CROSS JOIN b{r} br) t)")
    sel = " UNION ALL ".join(
        f"SELECT {r - 1} AS merge_rank, a, b FROM b{r}"
        for r in range(1, n_merges + 1))
    return (",\n".join(parts)
            + f"\nSELECT merge_rank, a, b FROM ({sel}) u "
            f"ORDER BY merge_rank")


@register(
    "llm_bpe_train",
    oracle=duck_bpe_replay_sql(12),
    doc="Sennrich BPE tokenizer training (llm/bpe.py train_bpe): the "
        "corpus collapses once to a (word, count) vocab that collects "
        "to the driver, bounded by MAX_VOCAB_ROWS; each round is one "
        "weighted pair count, a (count desc, lex) argmax, and a greedy "
        "left-to-right merge fold. "
        "The row reports the learned 12-merge table; the oracle "
        "replays the ENTIRE training loop — counts, argmax, fold, "
        "min-count early stop — as 12 unrolled materialized SQL "
        "rounds (the kmeans-replay pattern applied to the class of "
        "iterative operators usually stuck with rows-only checks). "
        "Encoding (apply_bpe, Arrow-batched lowest-rank-first) stays "
        "pytest-pinned: roundtrip, compression, and batched-trainer "
        "guarantees in tests/test_llm.py.",
    tags=("llm", "bpe", "bench"),
)
def llm_bpe_train(spark, sf_dir):
    from presto_spark.llm import bpe

    prepare(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    merges = bpe.train_bpe(docs, n_merges=12)
    from presto_spark.local_table import local_df
    return local_df(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_rank int, a string, b string",
    ).orderBy("merge_rank")


@register(
    "llm_warc_extract",
    oracle="""
    WITH rec AS (
      SELECT s, unnest(range(0, 4)) AS r
      FROM (SELECT unnest(range(0, 8)) AS s) seg
    ),
    shaped AS (
      SELECT s, r,
             '<html><body><h1>Doc ' || s || '-' || (r - 1)
             || '</h1><p>word' || ((s * 31 + (r - 1)) % 97)
             || ' word' || ((s * 17 + 3 * (r - 1)) % 89)
             || '</p></body></html>' AS html,
             'Doc ' || s || '-' || (r - 1) || chr(10)
             || 'word' || ((s * 31 + (r - 1)) % 97)
             || ' word' || ((s * 17 + 3 * (r - 1)) % 89) AS cleaned
      FROM rec
    )
    SELECT s AS segment_id, r AS record_no,
           CASE WHEN r = 0 THEN 'warcinfo' ELSE 'response' END
             AS warc_type,
           CASE WHEN r = 0 THEN NULL
                ELSE 'https://example.com/' || s || '/' || (r - 1) END
             AS target_uri,
           CAST(CASE WHEN r = 0 THEN NULL ELSE 200 END AS BIGINT)
             AS http_status,
           CASE WHEN r = 0 THEN NULL ELSE 'text/html' END
             AS http_content_type,
           CAST(CASE WHEN r = 0
                     THEN length('software: synth/' || s) + 2
                     ELSE length(html) END AS BIGINT) AS n_bytes,
           CASE WHEN r = 0 THEN NULL ELSE cleaned END AS clean
    FROM shaped ORDER BY segment_id, record_no
    """,
    doc="WARC (CommonCrawl-style) ingestion (llm/warc.py): 8 "
        "deterministic synth_warc segments — plain, whole-segment "
        "gzip, and per-record gzip members round-robin, so the row "
        "exercises all three transport layouts including the "
        "incremental multi-member decompressor — fan out map-side "
        "through extract_warc, and response bodies chain into "
        "html_to_text: the full crawl -> clean-text entry pipeline. "
        "synth_warc bodies are pure arithmetic of (segment, record), "
        "so the oracle replays every extracted field and the cleaned "
        "text in SQL (the synth_pgm contract).",
    tags=("llm", "warc", "bench"),
)
def llm_warc_extract(spark, sf_dir):
    import pandas as pd

    from presto_spark.llm import text as llm_text
    from presto_spark.llm import warc

    prepare(spark, sf_dir)

    def synth(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "segment_id": pdf.segment_id,
                "payload": [
                    warc.synth_warc(int(s), 3, gzipped=s % 3 == 1,
                                    member_gzip=s % 3 == 2)
                    for s in pdf.segment_id
                ],
            })

    segs = (
        spark.range(8).withColumnRenamed("id", "segment_id")
        .repartition(4)
        .mapInPandas(synth, "segment_id long, payload binary")
    )
    out = warc.extract_warc(segs)
    return out.select(
        "segment_id", "record_no", "warc_type", "target_uri",
        "http_status", "http_content_type", "n_bytes",
        F.when(
            F.col("warc_type") == "response",
            llm_text.html_to_text(F.decode("body", "UTF-8")),
        ).alias("clean"),
    ).orderBy("segment_id", "record_no")


def duck_duplication_report_sql(k: int) -> str:
    """Generated DuckDB replay of llm/dupspan.py duplication_report
    over the ``documents`` view (Lee et al. 2022 exact-substring
    audit): positional k-gram poly-hash fingerprints, corpus-wide
    duplicate counts, and interval-union token coverage — all shared
    integer arithmetic, so values match bit-for-bit.  Built in r15 as
    the r16 registry-oracle text (proven by the pytest differential
    in tests/test_llm.py)."""
    th = D_TOKHASH.format(s="text")
    return f"""
    WITH th AS (SELECT doc_id, {th} AS th FROM documents),
    g AS (
      SELECT doc_id, u['pos'] AS pos, u['h'] AS gram_hash FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(th) - {k - 1}, 0) + 1),
                 i -> {{'pos': i,
                        'h': list_reduce(list_prepend(0::BIGINT,
                               list_slice(th, i, i + {k - 1})),
                             (acc, x) -> (acc * 31 + x) % 1000000007)}}))
                 AS u
        FROM th) t
    ),
    c AS (SELECT gram_hash, count(*) AS cnt FROM g GROUP BY 1),
    d AS (SELECT doc_id, pos FROM g JOIN c USING (gram_hash)
          WHERE cnt >= 2),
    cov AS (
      SELECT doc_id, count(DISTINCT ti) AS dup_tokens FROM (
        SELECT doc_id, unnest(range(pos, pos + {k})) AS ti FROM d) t
      GROUP BY 1
    ),
    nd AS (SELECT doc_id, count(*) AS n_dup_grams FROM d GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(th) AS INT) AS n_tokens,
           CAST(coalesce(n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
           round(coalesce(dup_tokens, 0)::DOUBLE
                 / greatest(len(th), 1), 6) AS dup_token_fraction
    FROM th t
    LEFT JOIN nd USING (doc_id)
    LEFT JOIN cov USING (doc_id)
    ORDER BY doc_id
    """


def duck_temperature_mix_sql(alpha: float) -> str:
    """Generated DuckDB replay of llm/mix.py temperature_mix over the
    ``documents`` view — token counts per source, then the alpha-
    tempered shares with the engine's exact division order.  Built in
    r15 as the r16 registry-oracle text."""
    toks = D_TOKENS.format(s="text")
    t = f"pow(n_tokens::DOUBLE, {alpha})"
    raw = "n_tokens::DOUBLE / CAST(sum(n_tokens) OVER () AS DOUBLE)"
    temp = f"{t} / sum({t}) OVER ()"
    return f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({toks})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           round({raw}, 6) AS raw_share,
           round({temp}, 6) AS temp_share,
           round(({temp}) / ({raw}), 6) AS up_factor
    FROM per ORDER BY source
    """


def duck_image_ahash_pairs_sql(n_docs: int, max_hamming: int) -> str:
    """Generated DuckDB replay of the perceptual-hash image near-dup
    tier (llm/multimodal.py image_near_dup_pairs over synth_pgm_pair
    payloads): pixel synthesis arithmetic, the 8x6 -> 8x8 nearest-
    neighbor index map, the integer 64*cell > total threshold, the
    four 16-bit bands, band-equality candidates, and bit_count(xor)
    Hamming verify.  Built in r15 as the r16 registry-oracle text."""
    # source pixel index for 8x8 cell j of an 8x6 image:
    # y = j // 8 -> sy = y * 6 // 8, sx = j % 8
    idx = "(((j // 8) * 6) // 8) * 8 + (j % 8)"
    val = (f"((d // 2) * 31 + {idx} + "
           f"CASE WHEN {idx} = 0 AND d % 2 = 1 THEN 9 ELSE 0 END) % 256")
    return f"""
    WITH pix AS (
      SELECT d, u['j'] AS j, u['v'] AS cell FROM (
        SELECT d, unnest(list_transform(range(0, 64),
          j -> {{'j': j, 'v': {val}}})) AS u
        FROM (SELECT unnest(range(0, {n_docs})) AS d) t) t2
    ),
    tot AS (SELECT d, sum(cell) AS total FROM pix GROUP BY d),
    bands AS (
      SELECT d, j // 16 AS band,
             sum(CASE WHEN 64 * cell > total
                      THEN 1 << (j % 16) ELSE 0 END) AS key
      FROM pix JOIN tot USING (d) GROUP BY d, j // 16
    ),
    ham AS (
      SELECT a.d AS id_a, b.d AS id_b,
             sum(bit_count(xor(CAST(a.key AS BIGINT),
                               CAST(b.key AS BIGINT)))) AS hamming
      FROM bands a JOIN bands b ON a.band = b.band AND a.d < b.d
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.d AS id_a, b.d AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.d < b.d
    )
    SELECT h.id_a, h.id_b, CAST(h.hamming AS INT) AS hamming
    FROM ham h JOIN cand USING (id_a, id_b)
    WHERE h.hamming <= {max_hamming}
    ORDER BY id_a, id_b
    """


def duck_audio_fingerprint_pairs_sql(n_docs: int) -> str:
    """Generated DuckDB replay of the audio-fingerprint dup tier
    (llm/multimodal.py audio_dup_pairs over synth_wav16_pair
    payloads): sample synthesis arithmetic, 32-window integer energy
    sums (n=256 -> q=8), the strict energy_w > energy_{w+1} sign
    contour, and fingerprint-equality pairs.  Built in r15 as the r16
    registry-oracle text."""
    s = ("(((d // 2) * 37 + 5 * k) % 200 - 100) * "
         "(CASE WHEN d % 2 = 1 THEN 50 ELSE 100 END)")
    return f"""
    WITH e AS (
      SELECT d, w, sum(s * s) AS energy FROM (
        SELECT d, k // 8 AS w, {s} AS s
        FROM (SELECT unnest(range(0, {n_docs})) AS d) dd,
             (SELECT unnest(range(0, 256)) AS k) kk) t
      GROUP BY d, w
    ),
    fp AS (
      SELECT a.d,
             sum(CASE WHEN a.energy > b.energy
                      THEN 1 << CAST(a.w AS INT) ELSE 0 END)
               AS fingerprint
      FROM e a JOIN e b ON a.d = b.d AND b.w = a.w + 1
      GROUP BY a.d
    )
    SELECT a.d AS id_a, b.d AS id_b,
           CAST(a.fingerprint AS BIGINT) AS fingerprint
    FROM fp a JOIN fp b
      ON a.fingerprint = b.fingerprint AND a.d < b.d
    ORDER BY id_a, id_b
    """

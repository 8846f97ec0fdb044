"""Byte-pair-encoding tokenizer training + encoding over a corpus.

The one tokenizer-pipeline stage the tier still lacked (round 14,
built ahead for the r15 driver window): learn BPE merges from the
corpus and encode documents with them — Sennrich-style word-internal
BPE (characters + an end-of-word marker, merges never cross word
boundaries), the algorithm under GPT-2/RoBERTa-class vocabularies.

Design:

* The corpus collapses ONCE to a (word, count) vocabulary — one
  map-side-combinable Spark aggregation, the only corpus-sized work
  in training.  Unique words are far fewer than corpus tokens, so the
  vocabulary collects to the driver (a LIMIT n+1 collect bounded by
  MAX_VOCAB_ROWS; a larger vocabulary raises) and the merge loop runs
  in-process, the way HF/Sennrich trainers hold the word-count table
  in memory.
* Each merge round is one weighted pair count over the vocab, one
  argmax (count desc, then lexicographic pair — deterministic), and
  one greedy left-to-right fold applying the merge inside each word.
* Encoding (apply_bpe) broadcasts the learned merge ranks (n_merges
  entries — KBs) and runs the standard lowest-rank-first merge loop
  per word in an Arrow-batched pandas iterator: Python is
  unavoidable for the rank-priority loop, so it crosses once per
  batch, never per row.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from presto_spark.llm.text import tokens

EOW = "</w>"  # end-of-word marker (Sennrich BPE)


def word_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) — the corpus collapsed to its word frequency
    table; the only corpus-sized aggregation in BPE training."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word").agg(F.count("*").alias("count"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character symbols + the end-of-word marker."""
    return F.concat(F.split(word, ""), F.array(F.lit(EOW)))


def _select_batch(
    head: list[tuple[str, str, int]],
    want: int,
    min_pair_count: int,
) -> list[tuple[str, str]]:
    """Candidate-selection walk over a (count desc, a, b)-ordered head:
    stop at the min-count floor or ``want`` picks, skip pairs touching
    an already-used symbol (symbol-disjointness, see train_bpe)."""
    used: set[str] = set()
    batch: list[tuple[str, str]] = []
    for a, b, c in head:
        if c < min_pair_count:
            break
        if len(batch) >= want:
            break
        if a in used or b in used:
            continue
        batch.append((a, b))
        used.update((a, b, a + b))
    return batch


def _fold_local(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right application of one merge (a, b) -> a+b
    inside a symbol list: the (out, pend) recurrence the registry
    row's SQL oracle replays (queries/llm.py duck_bpe_replay_sql);
    '' is impossible as a symbol, so the pend sentinel is
    unambiguous."""
    merged = a + b
    out: list[str] = []
    pend = ""
    for s in syms:
        if pend == a and s == b:
            out.append(merged)
            pend = ""
        else:
            if pend != "":
                out.append(pend)
            pend = s
    if pend != "":
        out.append(pend)
    return out


def _train_local(
    vocab: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_count: int,
    batch_merges: int,
) -> list[tuple[str, str]]:
    """The train_bpe merge loop over the collected vocabulary: weighted
    pair counts, the (count desc, a, b) argmax over a 4x-slack head
    (disjointness filtering skips some of it; selecting fewer than
    ``want`` only costs a round), then the greedy fold — pure
    integer/string work."""
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        want = min(batch_merges, n_merges - len(merges))
        head = sorted(
            ((a, b, c) for (a, b), c in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )[: want * 4]
        batch = _select_batch(head, want, min_pair_count)
        if not batch:
            break
        merges.extend(batch)
        for a, b in batch:
            vocab = [(_fold_local(syms, a, b), cnt) for syms, cnt in vocab]
    return merges


# The most (word, count) rows train_bpe collects to the driver.  The
# collect is LIMIT n+1, so the driver never holds more than n+1 rows
# of a web-scale vocabulary; a larger vocabulary raises ValueError.
MAX_VOCAB_ROWS = 200_000


def train_bpe(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 2,
    batch_merges: int = 1,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Deterministic: the winning pair each round maximizes weighted
    count with (pair_a, pair_b) lexicographic tie-break — stable
    across engines, partitionings, and cluster sizes.  Stops early
    when no pair reaches ``min_pair_count``.

    The (word, count) vocabulary is collected to the driver with a
    LIMIT n+1 bound; more than MAX_VOCAB_ROWS distinct words raise
    ValueError.

    ``batch_merges`` bounds the round count for production vocabulary
    sizes.  The default (1) is the exact sequential Sennrich algorithm
    — one full pass over the vocabulary per merge, fine for the
    hundreds of merges a test needs but tens of thousands of passes at
    a GPT-2-class 50k vocabulary.  With ``batch_merges = N`` each round
    selects up to N candidates in (count desc, lexicographic) order
    that are pairwise SYMBOL-DISJOINT and applies them in one pass, so
    training runs ceil(n_merges / batch) rounds, each still one pair
    count + one fold pass.  Symbol-disjointness makes the batch
    sound: applying (a, b) can only create pairs involving the new
    symbol ``ab`` and destroy pairs involving ``a`` or ``b``, so the
    counts the other selected pairs were ranked on are invariant
    under it.  The approximation relative to sequential training:
    a pair CREATED by an earlier merge in the batch (x, ab) could, in
    sequential order, outrank a later batch member, and chain merges
    (e → es → est → est</w>) inherently serialize — one chain link per
    round — so batched merge LISTS are corpus-dependent schedules, not
    a reordering of the sequential list.  What is preserved: every
    batch is ranked by the same (count desc, lex) key over true
    counts, encodings still reconstruct text exactly, and compression
    quality is comparable at equal n_merges (the trade parallel
    tokenizer trainers make).  Anything that must replay the
    reference algorithm bit-for-bit (the registry row's unrolled SQL
    oracle) uses the exact default.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive: {n_merges}")
    if batch_merges <= 0:
        raise ValueError(f"batch_merges must be positive: {batch_merges}")
    rows = (
        word_vocab(df, text_col)
        .select(_initial_symbols(F.col("word")).alias("syms"), "count")
        .limit(MAX_VOCAB_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_VOCAB_ROWS:
        raise ValueError(
            f"train_bpe: the vocabulary exceeds MAX_VOCAB_ROWS "
            f"({MAX_VOCAB_ROWS}) distinct words")
    return _train_local(
        [(list(r.syms), int(r["count"])) for r in rows],
        n_merges, min_pair_count, batch_merges)


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly apply the LOWEST-RANK adjacent
    merge (greedy left-to-right within a rank) until none applies."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        ranked = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not ranked:
            break
        rank = min(r for r, _ in ranked)
        out: list[str] = []
        i = 0
        while i < len(syms):
            if (i < len(syms) - 1
                    and ranks.get((syms[i], syms[i + 1])) == rank):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens ARRAY<STRING>, n_bpe_tokens) — encode each
    document with the learned merges.  The merge table broadcasts via
    closure capture (KBs); encoding runs in an Arrow-batched pandas
    iterator because the lowest-rank-first loop is inherently
    sequential per word — one Python crossing per batch."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            toks_out, counts = [], []
            for text in pdf[text_col]:
                if text is None:
                    toks_out.append(None)
                    counts.append(None)
                    continue
                out: list[str] = []
                for w in text.strip().lower().split():
                    out.extend(_encode_word(w, ranks))
                toks_out.append(out)
                counts.append(len(out))
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "bpe_tokens": toks_out,
                "n_bpe_tokens": counts,
            })

    return df.mapInPandas(
        run, schema=(f"{id_col} long, bpe_tokens array<string>, "
                     "n_bpe_tokens long"))

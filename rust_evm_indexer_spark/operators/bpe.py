"""Distributed BPE (byte-pair encoding) vocabulary induction + encode.

Token counting (textops) assumes a tokenizer exists; this trains one
FROM the corpus — the vocabulary-induction step of a training-data
pipeline (Sennrich et al. 2015, the GPT-2 tokenizer recipe).

Scale shape, in three honest tiers:

1. **Corpus → word-frequency table, once.**  BPE statistics only ever
   depend on (distinct word, count) — industrial trainers all reduce to
   this table first.  One corpus-wide shuffle; after it, everything
   operates on the VOCAB (≈10⁶ rows for 100 TB of text), not the corpus.
2. **~k/B merge rounds over the vocab table, distributed.**  Each
   round: explode adjacent symbol pairs weighted by word count → one
   hash aggregation → the top candidates to the driver (a handful of
   2-field rows, not data) → up to B symbol-DISJOINT merges accepted
   (:func:`select_batch`) and applied inside every word as B chained
   codegen'd SQL folds in ONE projection (``aggregate`` lambdas —
   left-to-right, standard BPE greedy semantics).  Some sequential
   round structure is inherent to BPE (later merges build on earlier
   ones — every implementation iterates); batching disjoint merges is
   the standard trainer optimization that divides the driver
   round-trips by B, and B=1 recovers exact classic greedy.  What the
   distribution buys is a vocab table that never has to fit one
   machine.  Lineage is checkpoint-truncated per round.
3. **Encode = vocab-sized Python, corpus-sized JVM.**  Applying k
   merges per word is classic dictionary BPE — done ONCE per distinct
   word in an Arrow-batched Pandas UDF (cost ∝ vocab), then
   broadcast-joined back to the corpus so the 100 TB side never leaves
   the JVM.  This is the documented-good-use category of Python UDF:
   bounded input, no per-corpus-row Python.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import ensure_package_shipped, python_task
from .dedup import normalize_text


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over the normalized corpus — the one corpus-wide
    pass; everything downstream is vocab-sized."""
    return (
        docs.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _merge_expr(a: str, b: str, inner: str = "syms") -> str:
    """SQL fold merging every left-to-right adjacent (a, b) → a||b.
    ``inner`` lets a batch round chain B folds into ONE projection
    (rank order preserved: merge k's fold wraps merge k-1's output)."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return f"""
    aggregate(
      {inner},
      cast(array() as array<string>),
      (acc, x) -> case
        when size(acc) > 0 and element_at(acc, -1) = '{qa}' and x = '{qb}'
          then concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}'))
        else concat(acc, array(x)) end)
    """


#: how many top pair candidates a batched round examines before giving
#: up on filling the batch — part of the DEFINED selection rule, so the
#: reference implementation (tests/test_bpe.py) replays it exactly
BATCH_CANDIDATE_FACTOR = 4


def select_batch(
    ranked: "list[tuple[str, str]]", batch: int
) -> "list[tuple[str, str]]":
    """The batched-greedy selection rule, shared verbatim with the test
    reference: scan candidates in (count desc, a, b) order, accept a
    pair iff its symbols are disjoint from every already-accepted
    pair's, stop at ``batch`` accepted or candidates exhausted.  Symbol
    disjointness makes every accepted pair's COUNT invariant under the
    other accepted merges (merging (a,b) only perturbs pairs touching
    a or b), so applying the batch in rank order is well-defined; what
    batching approximates is only the rank REFRESH a sequential trainer
    would do between picks (newly created pairs cannot enter until the
    next round) — the standard fast-trainer trade."""
    chosen: list[tuple[str, str]] = []
    used: set[str] = set()
    for a, b in ranked:
        if len(chosen) >= batch:
            break
        if a in used or b in used:
            continue
        chosen.append((a, b))
        used.update((a, b))
    return chosen


def train_bpe(
    docs: DataFrame,
    n_merges: int = 100,
    text_col: str = "text",
    *,
    freqs: DataFrame | None = None,
    batch: int = 1,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns them in
    rank order.  Ties break deterministically (count desc, then pair
    lexicographic) so the result is reproducible run-to-run and
    replayable by a single-machine reference implementation.

    ``batch=B`` learns up to B symbol-disjoint merges per round
    (:func:`select_batch` — the standard fast-trainer optimization),
    cutting the driver round-trips from k to ~k/B: one pair-count job
    and one chained-fold vocab rewrite per ROUND instead of per merge
    (measured ≥4× at n_merges=512, tools/bpe_batch_bench.py).  B=1 is
    exact classic greedy BPE; B>1 is the batched-greedy variant (the
    within-round rank refresh is skipped — same merges whenever the
    top-B are genuinely independent, which in natural-language corpora
    they overwhelmingly are)."""
    wf = word_freqs(docs, text_col) if freqs is None else freqs
    vocab = wf.select(
        F.split(F.col("word"), "(?!$)").alias("syms"), "freq"
    ).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        take = min(batch, n_merges - len(merges))
        pairs = vocab.select(
            F.explode(
                F.expr(
                    "transform(slice(syms, 1, size(syms) - 1),"
                    " (s, i) -> struct(s as a, element_at(syms, i + 2) as b))"
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(max(take * BATCH_CANDIDATE_FACTOR, 1))
            .collect()
        )
        if not top:
            break
        chosen = select_batch([(r["a"], r["b"]) for r in top], take)
        merges.extend(chosen)
        expr = "syms"
        for a, b in chosen:  # rank order: merge k's fold wraps k-1's
            expr = _merge_expr(a, b, inner=expr)
        vocab = vocab.select(
            F.expr(expr).alias("syms"), "freq"
        ).localCheckpoint(eager=True)  # truncate the round lineage
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic dictionary BPE encode: repeatedly merge the lowest-rank
    adjacent pair.  Pure Python — runs once per DISTINCT word."""
    syms = list(word)
    while len(syms) > 1:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        syms[best : best + 2] = [syms[best] + syms[best + 1]]
    return syms


def vocab_token_counts(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(word, n_toks) over the corpus vocabulary — the exportable form
    of a trained tokenizer: token counting then reduces to a corpus-side
    JVM join + sum against this table (see the ``bpe_token_counts``
    catalog entry, which the DuckDB oracle replays over the export)."""
    # the UDF closes over module-level _encode_word — pickled by module
    # REFERENCE, so workers outside the repo cwd need the package zip
    # (only bites when the export cache is cold; the drive script runs
    # from /tmp precisely to catch this)
    ensure_package_shipped(docs.sparkSession)
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("int")
    @python_task
    def enc_len(words: pd.Series) -> pd.Series:
        return words.map(lambda w: len(_encode_word(w, ranks)))

    return (
        word_freqs(docs, text_col)
        .select("word")
        .withColumn("n_toks", enc_len("word"))
    )


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, tokens array<string>, n_tokens) for every document.

    The Python encode runs over the DISTINCT words only (Arrow-batched
    pandas UDF, cost ∝ vocab); the corpus-sized side is a JVM explode +
    broadcast join + collect_list — no per-corpus-row Python."""
    ensure_package_shipped(docs.sparkSession)  # _encode_word by module ref
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    @python_task
    def enc(words: pd.Series) -> pd.Series:
        return words.map(lambda w: _encode_word(w, ranks))

    tokenized = docs.select(
        id_col,
        F.posexplode(F.split(normalize_text(text_col), " ")).alias("pos", "word"),
    ).where(F.col("word") != "")
    vocab = tokenized.select("word").distinct().withColumn("toks", enc("word"))
    return (
        tokenized.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "toks"))
                ).toks
            ).alias("tokens")
        )
        .select(
            id_col,
            "tokens",
            F.size("tokens").alias("n_tokens"),
        )
    )

"""Text analysis operators for LLM-data pipelines (X-4).

All pure built-in column expressions — language-ID, quality scoring,
token counting, and fingerprinting run under whole-stage codegen with no
Python in the loop, so they cost one narrow projection over the corpus at
any scale.  Every operator is SQL-expressible and carries a DuckDB oracle
in the catalog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# n-gram-heuristic language ID: tiny per-language marker lexicons.  (The
# driver corpus is synthetic; the *operator contract* is what matters —
# score = share of tokens found in each language's marker set, argmax with
# a deterministic tie-break on language code.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "value", "fast", "slow", "small", "big"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "eine"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que", "dans"),
    "zh": ("de5", "shi4", "he2", "zai4", "yi1", "ge4"),
}

#: BPE-ish tokenizer: word pieces, numbers, or single non-space symbols.
TOKEN_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _words(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), "\\s+")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document surface statistics: lengths, word counts, character
    class ratios.  The raw material for quality filters."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = _words(t)
    n_words = F.size(words)
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(t, "[^0-9]", ""))
    n_space = F.length(F.regexp_replace(t, "[^ ]", ""))
    n_punct = n_chars - n_alpha - n_digit - n_space
    return df.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        (n_chars.cast("double") / n_words).alias("avg_word_len"),
        (n_alpha.cast("double") / n_chars).alias("alpha_ratio"),
        (n_digit.cast("double") / n_chars).alias("digit_ratio"),
        (n_punct.cast("double") / n_chars).alias("punct_ratio"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens per document."""
    t = F.col(text_col)
    return df.select(
        "doc_id",
        F.size(_words(t)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0)).alias("re_tokens"),
    )


def lang_scores(text: Column) -> list[Column]:
    """Marker-hit count per language, in sorted-language order."""
    words = _words(text)
    return [
        F.size(
            F.array_intersect(
                F.array_distinct(words),
                F.array(*[F.lit(w) for w in LANG_MARKERS[lang]]),
            )
        ).alias(f"score_{lang}")
        for lang in sorted(LANG_MARKERS)
    ]


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Predicted language = argmax marker-hit count (ties → first language
    code alphabetically; zero hits → 'und')."""
    scored = df.select("doc_id", F.col(text_col).alias("_t"), *lang_scores(F.col(text_col)))
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties: apply last wins backwards
        pred = F.when(
            (F.col(f"score_{lg}") == best) & (best > 0), F.lit(lg)
        ).otherwise(pred)
    return scored.select(
        "doc_id", *[F.col(f"score_{lg}") for lg in langs], pred.alias("pred_lang")
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality score in [0,1]: length band + alpha ratio +
    stopword presence — the standard cheap pre-filter before expensive
    dedup/classification stages.  ``keep`` flags score ≥ 0.5."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = _words(t)
    n_words = F.size(words)
    alpha_ratio = (
        F.length(F.regexp_replace(t, "[^a-zA-Z ]", "")).cast("double") / n_chars
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(w) for w in LANG_MARKERS["en"]]),
        )
    )
    len_score = F.when((n_words >= 20) & (n_words <= 1000), 1.0).otherwise(0.4)
    stop_score = F.when(stop_hits >= 2, 1.0).otherwise(0.2)
    score = F.round(
        0.4 * len_score + 0.3 * F.least(alpha_ratio, F.lit(1.0)) + 0.3 * stop_score, 6
    )
    return df.select(
        "doc_id",
        score.alias("quality"),
        (score >= 0.5).alias("keep"),
    )


def doc_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: md5 of the normalized text
    (cross-engine stable) plus a 64-bit content hash of the word sequence
    (xxhash64 — engine-native, for join-key use)."""
    from .dedup import normalize_text

    norm = normalize_text(text_col)
    return df.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        F.xxhash64(norm).alias("fp_xx64"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 full-text ranking (Robertson et al., TREC-3; the idf
    variant is Lucene's ``ln(1 + (N - df + .5)/(df + .5))`` — always
    positive).  The log-search analog for the documents corpus: the
    reference serves filtered lookups over logs, a training-data engine
    serves relevance-ranked lookups over text.

    Shape at scale: one explode + per-doc length aggregate (shuffle on
    doc_id), a term-frequency aggregate FILTERED to the query terms
    before the shuffle (so the wide stage carries |terms| rows per doc,
    not the corpus), per-term document frequencies as a tiny broadcast,
    and a distributed top-k (TakeOrderedAndProject) — no global sort,
    no Python.

    Cross-engine determinism: per-(doc, term) scores are pure IEEE
    double expressions; the per-doc sum across terms goes through
    DECIMAL(27,15) (order-independent), and ranking uses the 6dp-rounded
    score with doc_id tiebreak — same policy as unigram_nll."""
    from ..util import persist_shared, spread_small_input
    from .dedup import normalize_text

    terms = [t.lower() for t in query_terms]
    words = (
        spread_small_input(df, "doc_id")
        .select("doc_id", F.split(normalize_text(text_col), " ").alias("ws"))
        .select("doc_id", F.explode("ws").alias("word"))
        .where(F.col("word") != "")
    )
    # ONE pass over the exploded corpus: doc length + per-term tf in the
    # same doc_id-keyed aggregation (a second scan for tf would re-run
    # normalize+explode — measured ~2× the entry).  The per-term columns
    # unpivot back to (doc_id, word, tf) rows for the scoring join.
    # per_doc feeds the tf unpivot AND the corpus stats aggregate (and
    # through tf, the df aggregate and the scoring join): persist the
    # one-row-per-doc rollup so the explode+aggregate runs once, not
    # once per consumer.
    per_doc = persist_shared(
        words.groupBy("doc_id").agg(
            F.count("*").alias("dl"),
            *[
                F.sum((F.col("word") == F.lit(t)).cast("long")).alias(f"_tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
    )
    # The scoring tail is ONE spark.sql parse over the pinned per-doc
    # rollup (r13, guide §1.2 plan-build cost — same treatment as the
    # backoff chain): identical stack unpivot, identical IEEE scalar
    # trees (literals via repr+D), same broadcast hints on the
    # Heaps-bounded sides, same DECIMAL(27,15) per-doc accumulation and
    # distributed top-k.  Oracle-verified at 3 SFs + hostile tz.
    from ..util import register_temp_view

    spark = df.sparkSession
    v_pd = register_temp_view(per_doc, "bm25_pd")
    esc = [t.replace("'", "''") for t in terms]
    stack_args = ", ".join(f"'{t}', _tf_{i}" for i, t in enumerate(esc))
    k1p1 = f"{float(k1 + 1.0)!r}D"
    one_minus_b = f"{float(1.0 - b)!r}D"
    b_lit = f"{float(b)!r}D"
    k1_lit = f"{float(k1)!r}D"
    # avgdl/N: exact integer sums/counts → identical double division
    return spark.sql(f"""
        WITH tf AS (
          SELECT doc_id, dl, word, tf
          FROM (SELECT doc_id, dl,
                       stack({len(terms)}, {stack_args}) AS (word, tf)
                FROM {v_pd})
          WHERE tf > 0),
        stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                         count(*) AS n_docs
                  FROM {v_pd}),
        dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
        SELECT /*+ BROADCAST(dfreq), BROADCAST(stats) */ doc_id,
               round(CAST(sum(CAST(
                 ln(1.0D + (n_docs - df + 0.5D) / (df + 0.5D))
                 * (tf * {k1p1})
                 / (tf + {k1_lit} * ({one_minus_b} + {b_lit} * dl / avgdl))
               AS DECIMAL(27,15))) AS DOUBLE), 6) AS score,
               count(*) AS n_terms_hit
        FROM tf
        JOIN dfreq USING (word)
        CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY score DESC, doc_id ASC
        LIMIT {int(k)}
    """)


def bm25_rerank(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    *,
    query_vec: list[float],
    n_vecs: int | None = None,
    vec_id=None,
    k_first: int = 20,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Two-stage retrieval (VERDICT r10 item 8): BM25 recall stage →
    exact embedding-cosine rescoring of the top-``k_first`` candidates
    — the standard retrieval-pipeline shape (lexical recall, semantic
    precision) a training-data curation stack runs next after
    :func:`bm25_topk`.

    The candidate set (``k_first`` rows, a TakeOrderedAndProject
    output) is BROADCAST into the embeddings scan and equi-joined on
    vector id, so the rescoring stage is one BroadcastHashJoin probe
    per embedding partition: no shuffle of the embedding table, no
    cartesian, and the expensive side scales only with the corpus
    scan.  The query vector enters as a LITERAL double array (no 1-row
    nested-loop join), and the cosine is one zip_with/aggregate fold
    per candidate — whole-stage codegen, no Python.

    Doc→vector LINKAGE (generalized, VERDICT r11 item 2 — the r11 form
    hard-coded the fixture's modular mapping into the operator):

    - ``vec_id`` as a string names a column on ``docs`` that carries
      each document's embedding-row id.  The k_first candidates are
      broadcast back into a two-column projection of ``docs`` to pick
      it up — one extra pruned scan of the cheap side, still zero
      embedding-side shuffle.
    - ``vec_id`` as a pyspark Column is an expression over the
      candidate rows (``doc_id``, ``bm25_score``) computed in place,
      e.g. ``F.col("doc_id") % 500`` or any deterministic remap.
    - ``n_vecs`` (with ``vec_id=None``) keeps the synthetic fixture's
      modular linkage ``doc_id % n_vecs`` as the convenience default.

    Cross-engine determinism: dot/norm folds run in array order as
    IEEE doubles on both engines (Spark ``aggregate``, DuckDB
    ``list_inner_product``); the final cosine rounds to 6dp and ranks
    with doc_id tiebreak, the same policy as the first stage's score.

    ``query_vec``/``n_vecs`` are passed resolved (one 1-row lookup +
    one metadata count by the caller) so this stays a pure plan
    builder."""
    from pyspark.sql import Column

    cands = bm25_topk(
        docs, query_terms, k=k_first, k1=k1, b=b, text_col=text_col
    ).withColumnRenamed("score", "bm25_score")
    if isinstance(vec_id, str):
        link = docs.select(
            "doc_id", F.col(vec_id).cast("long").alias("vec_id")
        )
        cands = link.join(F.broadcast(cands), "doc_id")
    elif isinstance(vec_id, Column):
        cands = cands.withColumn("vec_id", vec_id.cast("long"))
    elif vec_id is None and n_vecs is not None:
        cands = cands.withColumn(
            "vec_id", (F.col("doc_id") % F.lit(int(n_vecs))).cast("long")
        )
    else:
        raise ValueError(
            "bm25_rerank needs a doc→vector linkage: pass vec_id (a "
            "docs column name or a Column over doc_id) or n_vecs for "
            "the modular fixture default"
        )
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def _fold(arr):
        return F.aggregate(
            arr, F.lit(0.0), lambda acc, x: acc + x
        )

    dot = _fold(F.zip_with(v, qarr, lambda a, q: a * q))
    vv = _fold(F.zip_with(v, v, lambda a, c: a * c))
    qq = _fold(F.zip_with(qarr, qarr, lambda a, c: a * c))
    return (
        emb.join(F.broadcast(cands), "vec_id")
        .select(
            "doc_id",
            "bm25_score",
            F.round(dot / (F.sqrt(vv) * F.sqrt(qq)), 6).alias("rerank_cos"),
        )
        .orderBy(F.desc("rerank_cos"), F.asc("doc_id"))
        .limit(k)
    )


def unigram_nll(df: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality score: per-document mean
    negative log-likelihood under a unigram model fit on the corpus
    itself (low = stereotyped/common text, high = rare-token noise —
    both tails are what perplexity filtering prunes).

    Shape at scale: one (word) groupBy builds the vocabulary counts (a
    bounded table — vocabularies grow ~O(corpus^0.5) by Heaps' law, so
    it broadcasts even when the corpus doesn't), one 1-row total joined
    by broadcast, then a word-keyed equi-join back to the exploded
    corpus and a per-doc average.  No Python; all whole-stage codegen.

    Cross-engine determinism: a grouped AVG over doubles sums in
    partition order, which differs between Spark and DuckDB — a 6dp
    round can't fix a mean that straddles a rounding boundary (ADVICE
    r3).  The per-word NLLs are therefore accumulated through
    DECIMAL(27,15) — exact, order-independent integer arithmetic — and
    only the final sum/count division happens in double before the 6dp
    round, so both engines see bit-identical means by construction
    (same policy as the verify-skill decimal-aggregation rule).
    """
    from ..util import persist_shared, spread_small_input
    from .dedup import normalize_text

    # the exploded word stream feeds the vocabulary aggregate AND the
    # scoring join; the vocabulary feeds the total AND the broadcast —
    # persist the words once so the normalize/split/explode runs once
    words = persist_shared(
        spread_small_input(df, "doc_id")
        .select("doc_id", F.split(normalize_text(text_col), " ").alias("ws"))
        .select("doc_id", F.explode("ws").alias("word"))
        .where(F.col("word") != "")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    return (
        words.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.round(
                F.sum(
                    (-F.log(F.col("c") / F.col("t"))).cast("decimal(27,15)")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_nll"),
        )
    )


def _token_arrays(df: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, ws) with the normalized word array; drops docs that
    normalize to nothing (split('') yields [''])."""
    from ..util import spread_small_input
    from .dedup import normalize_text

    return spread_small_input(df, "doc_id").select(
        "doc_id", F.split(normalize_text(text_col), " ").alias("ws")
    ).where((F.size("ws") > 0) & (F.element_at("ws", 1) != ""))


def stupid_backoff_ngram_nll(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    alpha: float = 0.4,
    n: int = 4,
    min_count: float = 2,
) -> DataFrame:
    """Order-``n`` Stupid Backoff with count-cutoff pruning — the full
    Brants et al. 2007 scheme at arbitrary order (Google ran n=5); the
    one Stupid-Backoff operator, bigram (n=2) and trigram (n=3) scoring
    included.  Counts are fit on ``model_df`` (the reference corpus,
    default ``df`` itself) and every document in ``df`` is scored
    against them, so out-of-model grams exercise the backoff path:

        score(w_i) = α^hops · c_o(gram) / c_{o-1}(context)

    where ``o`` is the highest order whose (possibly pruned) count
    table retains the gram ending at position i, ``hops`` = available
    context − o, and the chain bottoms out at the unigram floor
    α^(avail−1) · max(c1, α)/T.  Orders ≥ 3 are pruned below
    ``min_count`` (a retained o-gram's (o−1)-context always survives
    the same cutoff, so the hit-branch denominator can never be NULL);
    orders 1–2 are kept whole — they are the backoff denominators.

    Plan shape: ONE position-exploded frame with NULL-padded context
    columns (p1..pn, built in-array — no window shuffle), left-joined
    to each order's count table by its key columns (key-partitioned —
    n-gram tables grow superlinearly and are never hint-broadcast) and
    to the broadcast unigram vocab/total; per-term NLLs accumulate in
    DECIMAL(27,15).  The α^hops multipliers are literal doubles
    selected by a CASE on the available context, so both engines
    evaluate the identical scalar tree."""
    if not 2 <= n <= 5:
        raise ValueError(f"n must be in [2, 5], got {n}")
    from ..util import persist_shared, register_temp_view

    # persist the token arrays (bounded: one row per doc) — they fan
    # into every n-gram extraction below; share one frame when the
    # model IS the corpus (the default)
    docs = persist_shared(_token_arrays(df, text_col))
    model = (
        docs
        if model_df is None
        else persist_shared(_token_arrays(model_df, text_col))
    )
    spark = df.sparkSession
    v_docs = register_temp_view(docs, "sbn_docs")
    v_model = (
        v_docs if model_df is None else register_temp_view(model, "sbn_model")
    )

    # The whole chain past the (pinned) token arrays is ONE spark.sql
    # parse, generated by the SAME loops that used to build the
    # DataFrame ops (r13, guide §1.2): at n=4 the incremental form cost
    # ~1.5 s of eager re-analysis per plan build (opt_profile).  Every
    # expression is identical — same IF/NULL context padding, same
    # left-join chain in the same order, broadcast hints only on the
    # Heaps-bounded unigram sides + 1-row total, literal α powers via
    # repr so the doubles are bit-identical to the F.lit form.
    a_lit = f"{float(alpha)!r}D"
    avail = f"least(pos.i, {n})"

    gram_ctes = []
    for o in range(2, n + 1):
        cols = ", ".join(
            f"element_at(ws, i + {j}) AS g{j + 1}" for j in range(o)
        )
        keys = ", ".join(f"g.g{j + 1} AS g{j + 1}" for j in range(o))
        gb = ", ".join(f"g.g{j + 1}" for j in range(o))
        having = (
            f"\n          HAVING count(*) >= {min_count!r}" if o >= 3 else ""
        )
        gram_ctes.append(
            f"t{o} AS (\n"
            f"          SELECT {keys}, count(*) AS c{o}\n"
            f"          FROM (SELECT explode(transform(sequence(1, size(ws) - {o - 1}),\n"
            f"                        i -> struct({cols}))) AS g\n"
            f"                FROM {v_model} WHERE size(ws) >= {o})\n"
            f"          GROUP BY {gb}{having})"
        )

    # position frame: p1..pn with p_n = the word at position i and
    # p_j NULL when the context doesn't reach back that far
    pcols = ", ".join(
        f"IF(i - {n - 1 - j} >= 1, element_at(ws, i - {n - 1 - j}), NULL)"
        f" AS p{j + 1}"
        for j in range(n)
    )
    psel = ", ".join(f"p.p{j + 1} AS p{j + 1}" for j in range(n))
    pos_cte = (
        f"pos AS (\n"
        f"          SELECT doc_id, n_words, p.i AS i, {psel}\n"
        f"          FROM (SELECT doc_id, size(ws) AS n_words,\n"
        f"                       explode(transform(sequence(1, size(ws)),\n"
        f"                         i -> struct(i AS i, {pcols}))) AS p\n"
        f"                FROM {v_docs}))"
    )

    joins = []
    for o in range(n, 1, -1):
        # next-table: the o-gram ENDING at the position
        proj = ", ".join(f"g{j + 1} AS p{n - o + j + 1}" for j in range(o))
        on = " AND ".join(
            f"pos.p{n - o + j + 1} = nx{o}.p{n - o + j + 1}" for j in range(o)
        )
        joins.append(
            f"LEFT JOIN (SELECT {proj}, c{o} AS c{o}n FROM t{o}) nx{o}"
            f" ON {on}"
        )
        if o >= 3:
            # ctx-table: the (o-1)-gram PRECEDING the position — the
            # hit-branch denominator of order o
            proj = ", ".join(
                f"g{j + 1} AS p{n - o + j + 1}" for j in range(o - 1)
            )
            on = " AND ".join(
                f"pos.p{n - o + j + 1} = cx{o}.p{n - o + j + 1}"
                for j in range(o - 1)
            )
            joins.append(
                f"LEFT JOIN (SELECT {proj}, c{o - 1} AS c{o - 1}ctx"
                f" FROM t{o - 1}) cx{o} ON {on}"
            )
    joins.append(
        f"LEFT JOIN (SELECT word AS p{n - 1}, c1 AS c1_prev FROM uni) up"
        f" ON pos.p{n - 1} = up.p{n - 1}"
    )
    joins.append(
        f"LEFT JOIN (SELECT word AS p{n}, c1 AS c1_cur FROM uni) uc"
        f" ON pos.p{n} = uc.p{n}"
    )
    joins.append("CROSS JOIN total")

    def mult(o: int) -> str:
        # alpha^(avail - o) as literal doubles picked by a CASE — the
        # identical scalar tree the SQL oracle spells out
        whens = " ".join(
            f"WHEN {avail} = {a} THEN {float(alpha ** (a - o))!r}D"
            for a in range(o, n + 1)
        )
        return f"CASE {whens} END"

    score_whens = []
    for o in range(n, 2, -1):
        score_whens.append(
            f"WHEN {avail} >= {o} AND nx{o}.c{o}n IS NOT NULL"
            f" THEN ({mult(o)}) * nx{o}.c{o}n / cx{o}.c{o - 1}ctx"
        )
    score_whens.append(
        f"WHEN {avail} >= 2 AND nx2.c2n IS NOT NULL"
        f" THEN ({mult(2)}) * nx2.c2n / up.c1_prev"
    )
    score = (
        "CASE "
        + " ".join(score_whens)
        + f" ELSE ({mult(1)}) * coalesce(CAST(uc.c1_cur AS DOUBLE), {a_lit})"
        f" / total.t END"
    )

    zero = "CAST(0 AS DECIMAL(27,15))"
    ctes = ",\n        ".join(
        [
            "uni AS (\n"
            "          SELECT word, count(*) AS c1\n"
            f"          FROM (SELECT explode(ws) AS word FROM {v_model})\n"
            "          GROUP BY word)",
            "total AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM uni)",
            *gram_ctes,
            pos_cte,
        ]
    )
    join_sql = "\n          ".join(joins)
    return spark.sql(f"""
        WITH {ctes}
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(CAST(coalesce(s, {zero}) AS DOUBLE) / n_words, 6)
                 AS avg_nll
        FROM (
          SELECT /*+ BROADCAST(up), BROADCAST(uc), BROADCAST(total) */
                 pos.doc_id, pos.n_words,
                 sum(CAST(-ln({score}) AS DECIMAL(27,15))) AS s
          FROM pos
          {join_sql}
          GROUP BY pos.doc_id, pos.n_words)
    """)


def zipf_slope(
    df: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    top_ranks: int = 1000,
) -> DataFrame:
    """Per-group Zipf fit: the least-squares slope of ln(freq) over
    ln(rank) across the ``top_ranks`` most frequent words — the classic
    corpus-health diagnostic (natural text sits near −1; templated or
    machine-generated slices drift shallow, OCR noise drifts steep), so
    a 100 TB mixer can score SOURCES before sampling from them.

    One shuffle for the (group, word) counts, one rank window inside
    each group (window input = the group's DISTINCT vocabulary, which
    is Heaps-law bounded — sublinear in corpus size — so the per-group
    sort stays tractable at any corpus scale; it is the corpus that
    grows 100×, not the vocabulary), then closed-form slope from four
    DECIMAL sums:
    ``slope = (n·Sxy − Sx·Sy) / (n·Sxx − Sx²)`` with every ln() term
    cast to DECIMAL(27,15) BEFORE summation — partial-aggregation order
    can't wobble bits, so the DuckDB oracle matches exactly (the same
    policy as unigram_nll; plain covar_pop/var_pop would be
    order-dependent in float).  Rank ties break by word for a
    deterministic cut at ``top_ranks``.  Output: (group, n_types,
    slope) with slope rounded to 6dp."""
    from .dedup import normalize_text

    # NOT scan-spread: A/B-measured in r12 — zipf's narrow stage is cheap
    # enough that the extra exchange costs more than the parallelism buys
    # (unlike the winnowing/spans carves, where spreading won 2-3×)
    toks = df.select(
        F.col(by).alias("_g"),
        F.split(normalize_text(text_col), " ").alias("ws"),
    ).where((F.size("ws") > 0) & (F.element_at("ws", 1) != ""))
    words = toks.select("_g", F.explode("ws").alias("word"))
    return _zipf_from_words(words, by, top_ranks)


def _zipf_from_words(words: DataFrame, by: str, top_ranks: int) -> DataFrame:
    """The rank/fit tail of :func:`zipf_slope` over an exploded
    ``(_g, word)`` stream (shared by the pre-tokenized entry point)."""
    freq = words.groupBy("_g", "word").agg(F.count("*").alias("freq"))
    from pyspark.sql import Window

    w = Window.partitionBy("_g").orderBy(F.desc("freq"), F.asc("word"))
    ranked = freq.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_ranks
    )
    dec = "decimal(27,15)"
    terms = ranked.select(
        "_g",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    ).select(
        "_g",
        F.col("x").cast(dec).alias("x"),
        F.col("y").cast(dec).alias("y"),
        (F.col("x") * F.col("x")).cast(dec).alias("xx"),
        (F.col("x") * F.col("y")).cast(dec).alias("xy"),
    )
    agg = terms.groupBy("_g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xx").alias("sxx"),
        F.sum("xy").alias("sxy"),
    )
    # the SUMS are the order-sensitive part and they are DECIMAL; the
    # closed-form itself is a fixed scalar expression tree, evaluated in
    # double on identical inputs by both engines (decimal×decimal
    # precision-clamp rules differ between engines, doubles do not)
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    sxy_d = F.col("sxy").cast("double")
    slope = (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d)
    # a single-rank group has zero x-variance: no fit, drop it (both
    # engines would otherwise hit a 0/0 with divergent null semantics)
    return agg.where(F.col("n") >= 2).select(
        F.col("_g").alias(by),
        F.col("n").cast("long").alias("n_types"),
        F.round(slope, 6).alias("slope"),
    )


def zipf_slope_from_tokens(
    tokens: DataFrame, by: str, top_ranks: int = 1000
) -> DataFrame:
    """:func:`zipf_slope` over a pre-tokenized ``(by, ws)`` frame — lets
    a multi-section report (corpus_report) share ONE normalize/split
    scan across its diagnostics instead of re-tokenizing the corpus per
    section.  ``tokens`` must already carry the materialized word array
    as ``ws`` with empty-normalization rows dropped (the same filter
    :func:`zipf_slope` applies)."""
    return _zipf_from_words(
        tokens.select(F.col(by).alias("_g"), F.explode("ws").alias("word")),
        by,
        top_ranks,
    )


def chunk_documents(
    df: DataFrame, text_col: str = "text", size: int = 32, stride: int = 24
) -> DataFrame:
    """RAG/embedding-prep chunking: overlapping ``size``-word windows
    every ``stride`` words over the normalized text, emitted as
    (doc_id, chunk_id, word_start, n_words, chunk_text).

    All in-array JVM expressions — the window starts are a per-doc
    ``sequence(1, n_words, stride)`` and each chunk is a ``slice`` +
    ``array_join``, so the whole operator is ONE narrow projection +
    explode under whole-stage codegen: no shuffle, no Python, and the
    output partitioning inherits the scan's (chunks of a document stay
    in its input partition).  Tail chunks shorter than ``size`` are kept
    (they hold the only copy of the final words).
    """
    if stride < 1 or size < 1:
        raise ValueError("size and stride must be >= 1")
    docs = _token_arrays(df, text_col)
    chunks = F.expr(
        f"transform(sequence(1, size(ws), {stride}), "
        f"s -> struct(s AS word_start, slice(ws, s, {size}) AS cw))"
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "ch"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("ch.word_start").cast("long").alias("word_start"),
            F.size("ch.cw").cast("long").alias("n_words"),
            F.array_join("ch.cw", " ").alias("chunk_text"),
        )
    )

"""Text-analysis operators for training-data pipelines (SURVEY §2.11):
language ID, quality scoring, token counting, document fingerprinting.

Everything is built-in column expressions (regexp_count/regexp_replace/md5)
— whole-stage codegen end to end, and each has an exact ANSI-SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ein"],
}


_ALPHA = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
_DIGITS = "0123456789"
_WS = " \t\n\x0b\f\r"


def _marker_count(low: Column, words: list[str]) -> Column:
    """Count of marker-word occurrences as a single alternation regex."""
    return F.regexp_count(low, F.lit(r"\b(" + "|".join(words) + r")\b"))


def token_count(text: Column) -> Column:
    """Whitespace-token count (0 for empty/blank strings)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish subword proxy: count of word/number/punctuation chunks —
    the standard pre-tokenizer regex family."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def quality_features(text: Column) -> dict[str, Column]:
    """Length/punctuation/stopword-ratio quality features, each rounded for
    engine-independent comparison."""
    n_chars = F.length(text)
    # Character-class COUNTS via translate (delete the class, diff lengths):
    # a table-lookup pass, measured 10x faster than regexp_replace and ~14x
    # faster than regexp_count over the corpus scan. _ALPHA/_DIGITS/_WS
    # enumerate exactly the [A-Za-z], [0-9], \s classes, so the counts are
    # value-identical to the regex forms.
    n_alpha = n_chars - F.length(F.translate(text, _ALPHA, ""))
    n_punct = F.length(F.translate(text, _ALPHA + _DIGITS + _WS, ""))
    n_tokens = token_count(text)
    # ONE alternation scan, not one scan per marker: \b-delimited word
    # matches cannot overlap, so count(union) == sum of per-word counts —
    # same value, 1/5th the regex passes over every document.
    n_stop = _marker_count(F.lower(text), LANG_MARKERS["en"])
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    safe_tokens = F.when(n_tokens > 0, n_tokens.cast("double"))
    return {
        "n_tokens": n_tokens,
        "alpha_ratio": F.round(n_alpha / safe_chars, 4),
        "punct_ratio": F.round(n_punct / safe_chars, 4),
        "stopword_ratio": F.round(n_stop / safe_tokens, 4),
        "avg_token_len": F.round(n_chars / safe_tokens, 4),
    }


def quality_score(
    text: Column, features: dict[str, Column] | None = None
) -> Column:
    """Composite [0,1] quality score: alpha-heavy, punctuation-light,
    some stopwords, sane token length.

    Pass precomputed ``quality_features`` when the projection already
    carries them — otherwise every regex subtree is duplicated in the plan.
    """
    f = features if features is not None else quality_features(text)
    score = (
        F.coalesce(f["alpha_ratio"], F.lit(0.0)) * 0.5
        + (1 - F.least(F.coalesce(f["punct_ratio"], F.lit(0.0)) * 5, F.lit(1.0))) * 0.2
        + F.least(F.coalesce(f["stopword_ratio"], F.lit(0.0)) * 5, F.lit(1.0)) * 0.3
    )
    return F.round(score, 4)


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID: argmax of per-language marker hits;
    deterministic tie-break by language code order; 'und' when nothing hits."""
    low = F.lower(text)
    # one alternation scan per language (see quality_features)
    scores = [
        (lang, _marker_count(low, words))
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so the FIRST language in sorted order wins ties
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(text: Column, length: int = 16) -> Column:
    """Document fingerprint: md5 of normalized text, truncated — a stable
    join key for dedup/provenance."""
    normalized = F.regexp_replace(F.lower(text), r"\s+", " ")
    return F.substring(F.md5(F.trim(normalized)), 1, length)


def unigram_logprob_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability — the CCNet-style
    perplexity proxy for corpus quality filtering (documents whose tokens
    are globally rare or garbled score low).

    p(w) = (freq(w) + 1) / (N + V) with add-one smoothing, frequencies
    from THIS corpus; score(doc) = mean over its (multiplicity-counted,
    lowercased) tokens of ln p(w). Blank documents are excluded (no
    tokens, no score).

    One tokenize pass feeds the frequency table, which is lazily
    checkpointed (vocab-sized) so BOTH its consumers — the (N + V)
    denominator and the token join — reuse one materialization instead of
    re-tokenizing the corpus per branch; the denominator rides along as a
    1-row broadcast rather than an eager driver fetch (a .first() at
    plan-BUILD time runs a full job before the caller even executes the
    returned frame).
    """
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")
    freq = tok.groupBy("w").agg(F.count("*").alias("f")).localCheckpoint(eager=False)  # lc-ok: pure compute; executor loss fails the query, rerun recomputes
    totals = freq.agg(
        (F.sum("f") + F.count("*")).cast("double").alias("denom")
    )
    scored = tok.join(freq, "w").join(F.broadcast(totals)).select(
        F.col(id_col), F.log((F.col("f") + 1) / F.col("denom")).alias("lp")
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 4).alias("logprob")
    )


def bpe_merge_steps(
    df: DataFrame, iters: int = 3, text_col: str = "text"
) -> DataFrame:
    """Byte-pair-encoding tokenizer training, the first ``iters`` merges:
    returns one row per iteration ``(it, sym_a, sym_b, pair_count)`` — the
    pair merged at that step and its corpus-weighted count.

    Classic BPE (Sennrich et al. 2016): start from characters, repeatedly
    merge the most frequent adjacent symbol pair. Tie-break is
    deterministic: count DESC, then (sym_a, sym_b) ASC.

    Distributed shape: the corpus is scanned ONCE to build the distinct-word
    frequency table (Heaps'-law bounded — millions of rows at 100 TB, not
    corpus-sized); every iteration after that is a map + hash-aggregate over
    that small table plus a TakeOrdered(1), with the winning pair riding
    back in as a broadcast 1-row join — no driver collect, no corpus
    re-scan. ``iters`` chained plans (the kmeans_fit unrolling pattern).

    Symbol sequences are carried as the spaced string ``' c1 c2 … '`` and a
    merge is ``replace(s, ' a b ', ' ab ')``: leftmost non-overlapping scan,
    which greedily merges left-to-right except that back-to-back
    occurrences sharing a separator space (``a b a b``) merge only once per
    pass. Spark's and DuckDB's ``replace`` share these exact semantics, so
    an unrolled SQL oracle reproduces every step bit-for-bit.
    """
    seqs = _bpe_word_seqs(df, text_col)
    out = None
    for it in range(1, iters + 1):
        top = _bpe_top_pair(seqs)
        row = top.select(
            F.lit(it).cast("long").alias("it"),
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            F.col("c").alias("pair_count"),
        )
        out = row if out is None else out.unionAll(row)
        if it < iters:
            seqs = _bpe_apply_merge(seqs, top)
    return out


def _bpe_tokens(df: DataFrame, text_col: str, id_col: str | None = None) -> DataFrame:
    keep = [F.col(id_col)] if id_col else []
    return df.select(
        *keep,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("w"),
    ).where(F.col("w") != "")


def _bpe_word_seqs(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct-word frequency table in spaced-character form
    ``(w, s=' c1 c2 … ', f)``; regexp_replace('(.)' -> '$1 ') emits a
    trailing space, so only the leading one is prepended."""
    words = _bpe_tokens(df, text_col).groupBy("w").agg(F.count("*").alias("f"))
    return words.select(
        F.col("w"),
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
        ).alias("s"),
        F.col("f"),
    ).localCheckpoint(eager=False)  # lc-ok: pure compute; executor loss fails the query, rerun recomputes


def _bpe_top_pair(seqs: DataFrame) -> DataFrame:
    """1-row frame: the most frequent adjacent symbol pair (ties broken by
    (a, b) ascending) with its corpus-weighted count."""
    t = F.split(F.trim(F.col("s")), " +")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i.cast("int")).alias("a"),
                F.element_at(t, (i + 1).cast("int")).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        seqs.select(F.explode(pairs).alias("p"), F.col("f"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("f").alias("c"))
        .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
        .limit(1)
    )


def _bpe_apply_merge(seqs: DataFrame, top: DataFrame) -> DataFrame:
    """Rewrite every sequence with the winning merge. LEFT join on TRUE,
    not a cross join: when no pair exists at all (top is empty) the
    replace's NULL args poison it and coalesce keeps the sequence as-is,
    instead of the cross join silently emptying the vocabulary."""
    merged = F.replace(
        F.col("s"),
        F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" ")),
        F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
    )
    return (
        seqs.join(F.broadcast(top), F.lit(True), "left")
        .select(
            F.col("w"),
            F.coalesce(merged, F.col("s")).alias("s"),
            F.col("f"),
        )
        .localCheckpoint(eager=False)  # lc-ok: pure compute; executor loss fails the query, rerun recomputes
    )


def bpe_apply_counts(
    df: DataFrame, iters: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Tokenize the corpus with a BPE tokenizer trained ON that corpus
    (:func:`bpe_merge_steps`'s merges, applied): per document, the word
    count and the total symbol count after ``iters`` merges —
    ``(id, n_words, n_bpe_tokens)``.

    Same distributed shape as training (all per-merge work on the
    Heaps'-bounded distinct-word table), plus ONE word-keyed join to carry
    each word's final symbol count back onto the token stream and one
    doc-keyed aggregate. The word side is broadcast-hinted: the vocabulary
    is Heaps-bounded (millions of rows at 100 TB — executor-memory-sized),
    and without the hint the join shuffles the ENTIRE token stream on the
    word key (measured at the 100x sweep: 12.8 s -> the hint removes the
    corpus-sized exchange; AQE can't infer it because the checkpointed
    seqs frame has no size estimate at plan time). If a vocabulary ever
    outgrew broadcast, drop the hint and the same plan degrades to the
    shuffle join.
    """
    seqs = _bpe_word_seqs(df, text_col)
    for _ in range(iters):
        seqs = _bpe_apply_merge(seqs, _bpe_top_pair(seqs))
    wl = seqs.select(
        F.col("w"),
        F.size(F.split(F.trim(F.col("s")), " +")).cast("long").alias("n_sym"),
    )
    return (
        _bpe_tokens(df, text_col, id_col)
        .join(F.broadcast(wl), "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag of query terms —
    the classic sparse-retrieval primitive (Lucene-style idf:
    ln(1 + (N - df + 0.5)/(df + 0.5)); tf saturation k1; length
    normalization b against the mean document length).

    Plan shape for 100 TB: the token stream is filtered to the QUERY TERMS
    before any shuffle (an isin over a handful of literals — the corpus
    never shuffles as tokens), per-(doc, term) tf is one hash aggregate on
    that pruned stream, document lengths are one corpus-pass aggregate,
    and N/avgdl/per-term df are tiny one-row/`|terms|`-row frames joined
    back broadcast-style. Per-doc scores fold the per-term contributions
    in SORTED term order (aggregate over sort_array) so the floating-point
    sum is order-pinned and reproducible cross-engine.

    Returns (id, score) rounded to 4, ordered by score desc then id.
    """
    terms = sorted(set(t.lower() for t in query_terms))
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
    ).where(F.col("w") != "")
    qtoks = toks.where(F.col("w").isin(terms))

    doclen = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = qtoks.groupBy(id_col, "w").agg(F.count("*").alias("tf"))
    dfreq = qtoks.groupBy("w").agg(
        F.count_distinct(id_col).cast("double").alias("dfq")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfq") + F.lit(0.5)) / (F.col("dfq") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(doclen, id_col)
        .join(dfreq, "w")
        .join(F.broadcast(stats))
        .select(id_col, F.struct(F.col("w"), contrib.alias("c")).alias("tc"))
        .groupBy(id_col)
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list("tc")),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("score")
        )
    )
    return (
        scored.select(id_col, F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def hashed_classifier_score(
    docs: DataFrame,
    n_buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """fastText-style linear text-classifier INFERENCE: hashed
    bag-of-words features scored against a weight table, the standard
    shape of web-corpus quality filters (a trained model ships its
    weights; here the table is a deterministic function of the bucket so
    both engines — and both sides of the oracle — agree bit-for-bit).

    Engine-neutral pipeline: lowercase, split on non-alphanumerics,
    bucket = int(first 8 hex chars of md5(token)) mod ``n_buckets``,
    integer weight w(b) = (b * 2654435761) mod 1000003 (Knuth
    multiplicative hashing). The per-doc score SUMS INTEGERS — exact
    under any aggregation order, so no floating-point order pinning is
    needed — and only the final normalization divides:
    score = sum(w)/n/1000003 - 0.5 in [-0.5, 0.5).

    SHUFFLE-FREE: the whole score is higher-order array functions over
    the doc's own tokens (filter/transform/aggregate on the split array)
    — a pure map stage. At 100 TB that beats the explode+groupBy
    alternative, which shuffles the entire TOKEN stream (~20x the doc
    rows) just to bring each doc's tokens back together; and because
    nothing aggregates across rows, the same function drops onto a
    STREAMING DataFrame unchanged (see the streaming quality-gate test).
    Swapping the deterministic w(b) for a broadcast weight table (join
    on bucket) turns this into real trained-model inference.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    wsum = F.aggregate(
        F.transform(
            toks,
            lambda t: (
                (
                    F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
                    % n_buckets
                )
                * F.lit(2654435761)
            )
            % F.lit(1000003),
        ),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )
    return (
        docs.select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            wsum.alias("wsum"),
        )
        .where(F.col("n_tokens") > 0)
        .select(
            id_col,
            "n_tokens",
            F.round(
                F.col("wsum") / F.col("n_tokens") / 1000003.0 - 0.5, 6
            ).alias("score"),
        )
        .withColumn(
            "label", F.when(F.col("score") > 0, "keep").otherwise("drop")
        )
    )


def bigram_logprob_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean CONDITIONAL log-probability ln P(w_i | w_{i-1})
    — the KenLM-style quality proxy one order up from
    unigram_logprob_scores (word-salad documents whose unigrams are all
    common still score low, because their transitions are rare).

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1,·) + V) with add-one smoothing:
    c(w1,w2) and the prefix count c(w1,·) come from THIS corpus's bigram
    stream, V is the corpus vocabulary size. Documents with fewer than 2
    tokens have no transitions and are excluded.

    Plan shape: one tokenize pass; the bigram stream feeds (a) the
    bigram-count table, (b) the prefix-count table — both vocab-bounded
    and pre-joined into ONE rate table so the corpus-sized stream
    shuffles once on the bigram key, not twice; V rides along as a 1-row
    broadcast. Output: (id, n_bigrams, logprob)."""
    ws = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    docs = df.select(F.col(id_col), ws.alias("ws"))
    bi = (
        docs.where(F.size("ws") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"
                )
            ).alias("b"),
        )
        .select(id_col, "b.w1", "b.w2")
        .localCheckpoint(eager=False)  # lc-ok: pure compute; executor loss fails the query, rerun recomputes (feeds counts AND the score join)
    )
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # c(w1, .) = sum over w2 of c(w1, w2): derive the prefix counts from
    # the vocab-bounded bigram table instead of re-aggregating the
    # corpus-sized stream a second time (round 14, guide §1.2 — one
    # fewer full pass; exact, both are plain integer counts)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    rates = c2.join(c1, "w1")  # distinct-bigram-sized
    vocab = (
        docs.select(F.explode("ws").alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("v"))
    )
    return (
        bi.join(rates, ["w1", "w2"])
        .join(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(F.log((F.col("c2") + 1) / (F.col("c1") + F.col("v")))),
                4,
            ).alias("logprob"),
        )
    )


def train_logreg_hashed(
    docs: DataFrame,
    label: Column,
    n_buckets: int = 64,
    iters: int = 3,
    lr: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TRAIN the fastText-style hashed linear quality filter in-engine —
    batch gradient descent on logistic loss over hashed bag-of-words
    counts (the companion of hashed_classifier_score, which is the
    inference half with a fixed weight table).

    Features: token bucket = int(first 8 md5 hex chars) mod n_buckets,
    x_{d,b} = integer token count — built once as a (doc, bucket, cnt)
    frame and checkpointed; every iteration reuses it. Per iteration:
    one doc-keyed aggregation computes z_d = sum_b w_b x_{d,b} against
    the current weights as a broadcast literal map (kmeans_fit's centroid
    pattern — no lineage growth), the sigmoid residuals feed one
    bucket-keyed gradient aggregation (n_buckets + 1 rows to the driver;
    a synthetic bucket -1 with cnt=1 per doc carries the intercept
    gradient in the same job), and the weight update happens on bounded
    driver state — one Spark job per iteration total. Determinism
    follows the suite's established recipe: every cross-engine float
    (z, p, gradient, weight) is rounded to 9 decimals at the same chain
    points the unrolled SQL oracle rounds.

    Returns the trained weights as a DataFrame (bucket, weight) with the
    intercept at bucket -1, weights rounded to 6 for reporting.
    """
    spark = docs.sparkSession
    toks = F.explode(
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    ).alias("t")

    def _build_feats() -> DataFrame:
        return (
            docs.select(F.col(id_col), toks)
            .select(
                id_col,
                (
                    F.conv(
                        F.substring(F.md5(F.col("t")), 1, 8), 16, 10
                    ).cast("long")
                    % n_buckets
                )
                .cast("int")
                .alias("bucket"),
            )
            .groupBy(id_col, "bucket")
            .agg(F.count("*").alias("cnt"))
            .localCheckpoint()  # lc-ok: pure compute; executor loss fails the query, rerun recomputes
        )

    def _build_labels() -> tuple:
        lab = docs.select(
            F.col(id_col), label.cast("int").alias("y")
        ).localCheckpoint()  # lc-ok: pure compute; executor loss fails the query, rerun recomputes
        return lab, lab.count()

    # The two eager build materializations (+ the label count) are
    # independent driver actions — overlap them on a thread pool (round
    # 14, same pattern and kill-switch as the recall rows, guide §2.6);
    # both frames are deterministic, so results are identical.
    if os.environ.get("SPARK_GRAFT_NO_THREAD_BUILD"):
        feats = _build_feats()
        labels, n_docs = _build_labels()
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_feats = pool.submit(_build_feats)
            f_labels = pool.submit(_build_labels)
            feats = f_feats.result()
            labels, n_docs = f_labels.result()
    # Synthetic bucket -1 with cnt=1 per labeled doc folds the intercept
    # gradient into the SAME bucket aggregate as the weight gradients
    # (sum(1 * r) over all docs == sum(r) == g0, rounded at the same
    # point), so each iteration runs ONE Spark job instead of two — the
    # second job recomputed the whole z aggregate just for g0 (round 13).
    # bucket -1 never collides with a feature (buckets are mod n_buckets
    # >= 0) and never reaches z (wmap has no -1 key; sum skips the NULL).
    feats_g = feats.unionByName(
        labels.select(
            F.col(id_col),
            F.lit(-1).alias("bucket"),
            F.lit(1).cast("long").alias("cnt"),
        )
    )

    w = {b: 0.0 for b in range(n_buckets)}
    b0 = 0.0
    for _ in range(max(1, iters)):
        wmap = F.create_map(
            *[F.lit(x) for b in range(n_buckets) for x in (b, w[b])]
        )
        z = feats.groupBy(id_col).agg(
            F.round(F.sum(F.col("cnt") * wmap[F.col("bucket")]), 9).alias(
                "z"
            )
        )
        resid = (
            labels.join(z, id_col, "left")
            .select(
                id_col,
                (
                    F.col("y")
                    - F.round(
                        F.lit(1.0)
                        / (
                            F.lit(1.0)
                            + F.exp(-(F.lit(b0) + F.coalesce("z", F.lit(0.0))))
                        ),
                        9,
                    )
                ).alias("r"),
            )
        )
        grads = {
            r["bucket"]: r["g"]
            for r in feats_g.join(resid, id_col)
            .groupBy("bucket")
            .agg(F.round(F.sum(F.col("cnt") * F.col("r")), 9).alias("g"))
            .collect()
        }
        g0 = grads.get(-1)
        for b in range(n_buckets):
            w[b] = round(w[b] + lr * grads.get(b, 0.0) / n_docs, 9)
        b0 = round(b0 + lr * (g0 or 0.0) / n_docs, 9)

    rows = [(-1, b0)] + [(b, w[b]) for b in range(n_buckets)]
    out = spark.createDataFrame(rows, "bucket int, weight double")
    return out.select("bucket", F.round("weight", 6).alias("weight"))


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    min_ttr: float = 0.2,
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021 repetition/
    length heuristics adapted to this corpus): word count bounds, mean
    word length bounds, and a type-token-ratio floor, plus the combined
    pass/fail decision a filtering pipeline actually branches on.

    All-columnar: word count and summed word length come from regex
    arithmetic on the raw string (``length`` of the whitespace-stripped
    text), which stays inside whole-stage codegen; only the distinct-word
    count needs the token array (``array_distinct`` on a split — per-row,
    no shuffle). The whole operator is a narrow projection: zero
    exchanges, scales linearly and embarrassingly at 100 TB.
    """
    low = F.trim(F.lower(F.col(text_col)))
    toks = F.filter(F.split(low, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(toks)
    # sum of word lengths == chars left after removing ALL whitespace
    sum_wlen = F.length(F.regexp_replace(low, r"\s+", ""))
    mean_wlen = sum_wlen / F.nullif(n_words, F.lit(0)).cast("double")
    ttr = F.size(F.array_distinct(toks)) / F.nullif(n_words, F.lit(0)).cast(
        "double"
    )
    passes = (
        n_words.between(min_words, max_words)
        & mean_wlen.between(min_mean_wlen, max_mean_wlen)
        & (ttr >= F.lit(min_ttr))
    )
    return df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_wlen"),
        F.round(ttr, 4).alias("ttr"),
        F.coalesce(passes, F.lit(False)).alias("passes"),
    )

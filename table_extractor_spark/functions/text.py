"""Text-analysis column functions for training-data pipelines.

All JVM-side built-ins (whole-stage codegen); nothing here crosses into
Python.  Ratios divide exact integer counts in double, so results are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in")

# a BPE-ish tokenizer regex: lowercase runs, digit runs, or single non-space
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def words(text_col) -> F.Column:
    return F.split(text_col, " ")


def token_count(text_col) -> F.Column:
    """Regex token count (TOKEN_RE) — the BPE-ish approximation."""
    return F.size(F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0))


def whitespace_token_count(text_col) -> F.Column:
    return F.size(words(text_col))


def stopword_ratio(text_col, stopwords=DEFAULT_STOPWORDS) -> F.Column:
    ws = words(F.lower(text_col))
    hits = F.size(F.filter(ws, lambda w: w.isin(*stopwords)))
    return hits.cast("double") / F.size(ws).cast("double")


def punct_ratio(text_col) -> F.Column:
    n = F.length(text_col)
    punct = n - F.length(F.regexp_replace(text_col, r"[!-/:-@\[-`{-~]", ""))
    return punct.cast("double") / F.greatest(n, F.lit(1)).cast("double")


def mean_word_len(text_col) -> F.Column:
    ws = words(text_col)
    total = F.aggregate(ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    return total.cast("double") / F.size(ws).cast("double")


# PII patterns shared verbatim with the SQL oracle (Java regex / RE2 common
# subset: no backrefs, no lookaround)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = (
    r"\b(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\b"
)
PII_PHONE_RE = r"\+?[0-9][0-9()\-\s]{7,}[0-9]"


def redact_pii(text_col) -> F.Column:
    """Training-data PII scrub: emails, IPv4 addresses, and phone-shaped
    number runs replaced with typed placeholder tokens (<EMAIL>/<IP>/<PHONE>
    — models learn the category, not the identifier).  Order matters: emails
    first (an email is never a phone), IPs before phones (dotted quads
    contain phone-length digit runs).  Pure JVM regexp chain; patterns in
    the RE2-compatible subset so the oracle replays them exactly.

    Scope note: this is the pattern layer every pipeline runs FIRST; names
    and addresses need NER models and belong in a model-scoring stage like
    the embedding stub, not in regex."""
    out = F.regexp_replace(text_col, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


def dup_word_ratio(text_col) -> F.Column:
    """Fraction of word OCCURRENCES that are repeats of an earlier word —
    the Gopher-style repetition signal (boilerplate and keyword-stuffed spam
    score high; natural prose low).  1 - distinct/total, exact int counts."""
    ws = words(F.lower(text_col))
    total = F.size(ws)
    return (
        1.0
        - F.size(F.array_distinct(ws)).cast("double")
        / F.greatest(total, F.lit(1)).cast("double")
    )


def dup_ngram_char_ratio(text_col, n: int = 2) -> F.Column:
    """Fraction of characters covered by repeated word n-grams (Gopher's
    dup_ngram filters): 1 - (chars in distinct n-grams / chars in all
    n-grams).  All JVM-side array ops; counts are exact ints."""
    ws = words(F.lower(text_col))
    grams = F.filter(
        F.transform(
            ws,
            lambda _, i: F.when(
                i <= F.size(ws) - n,
                F.array_join(F.slice(ws, i + 1, n), " "),
            ),
        ),
        lambda g: g.isNotNull(),
    )
    total_chars = F.aggregate(
        grams, F.lit(0).cast("long"), lambda acc, g: acc + F.length(g)
    )
    distinct_chars = F.aggregate(
        F.array_distinct(grams),
        F.lit(0).cast("long"),
        lambda acc, g: acc + F.length(g),
    )
    # no n-grams at all (doc shorter than n words) = no repetition, not 100%
    return F.when(total_chars == 0, F.lit(0.0)).otherwise(
        1.0
        - distinct_chars.cast("double") / total_chars.cast("double")
    )


def quality_score(text_col, stopwords=DEFAULT_STOPWORDS) -> F.Column:
    """Composite quality heuristic in [0, ~1]: rewards stopword presence and
    moderate word length, penalizes punctuation soup.  Deterministic double
    arithmetic over exact counts."""
    return F.round(
        stopword_ratio(text_col, stopwords) * 0.5
        + (1.0 - punct_ratio(text_col)) * 0.3
        + F.when(mean_word_len(text_col).between(3.0, 8.0), 0.2).otherwise(0.0),
        6,
    )


def linear_classifier_score(text_col, n_weights: int = 17) -> F.Column:
    """Hashing-trick linear text classifier score (feature hashing,
    Weinberger et al. ICML 2009 — the fastText-style model-based quality
    filter of the CCNet / GPT-3 data recipes).  Each lowercase whitespace
    token hashes to an integer weight in [-(n_weights//2), n_weights//2]
    via the engine-shared md5 hash, and the document score is the int64
    sum — a STUB model (weights are a hash, not learned) riding on the
    REAL scale plumbing: one map-side ``F.aggregate`` over the token
    array, pure JVM, zero shuffle, exact in any partitioning/order.  A
    learned model swaps the weight expression for a broadcast
    weight-table join; the plan shape is unchanged.  n_weights must be
    odd so the weight range is symmetric around 0."""
    if n_weights % 2 != 1:
        raise ValueError(f"n_weights must be odd, got {n_weights}")
    half = n_weights // 2

    def weight(w):
        from .hashing import hash60

        return (hash60(w) % n_weights) - half

    ws = words(F.lower(text_col))
    return F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + weight(w)
    )


def with_quality_score(
    df, text_col: str = "text", out_col: str = "quality",
    stopwords=DEFAULT_STOPWORDS,
):
    """``quality_score`` with the word arrays STAGED in their own projection.

    The single-expression ``quality_score`` re-splits the text once per term
    (split appears ~5x in the collapsed tree and higher-order functions get no
    CSE); here each row is split exactly twice (cased + lowercased) and every
    ratio reads the bound array columns.  Use this form in pipelines."""
    staged = df.withColumns(
        {
            "__w": words(F.col(text_col)),
            "__lw": words(F.lower(F.col(text_col))),
        }
    )
    stop_ratio = (
        F.size(F.filter(F.col("__lw"), lambda w: w.isin(*stopwords))).cast("double")
        / F.size(F.col("__lw")).cast("double")
    )
    mwl = (
        F.aggregate(F.col("__w"), F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w)).cast("double")
        / F.size(F.col("__w")).cast("double")
    )
    score = F.round(
        stop_ratio * 0.5
        + (1.0 - punct_ratio(F.col(text_col))) * 0.3
        + F.when(mwl.between(3.0, 8.0), 0.2).otherwise(0.0),
        6,
    )
    return staged.withColumn(out_col, score).drop("__w", "__lw")


def lang_id(text_col, en_stopwords=DEFAULT_STOPWORDS, threshold: float = 0.05) -> F.Column:
    """n-gram/stopword heuristic language id: 'en' when the English stopword
    ratio clears the threshold, else 'und' (undetermined)."""
    return F.when(stopword_ratio(text_col, en_stopwords) > threshold, "en").otherwise(
        "und"
    )


def with_lang_id(
    df, text_col: str = "text", out_col: str = "lang_guess",
    en_stopwords=DEFAULT_STOPWORDS, threshold: float = 0.05,
):
    """``lang_id`` with the lowered word array staged once per row (the
    single-expression form splits the text twice — hit count and size)."""
    staged = df.withColumn("__lw", words(F.lower(F.col(text_col))))
    ratio = (
        F.size(F.filter(F.col("__lw"), lambda w: w.isin(*en_stopwords))).cast("double")
        / F.size(F.col("__lw")).cast("double")
    )
    return staged.withColumn(
        out_col, F.when(ratio > threshold, "en").otherwise("und")
    ).drop("__lw")


def word_rank_table(docs, text_col: str = "text"):
    """Corpus-frequency word ranks: (word, n, rank), rank 1 = most frequent,
    ties broken by word — the vocabulary dimension for frequency-based
    quality scoring.

    The rank window has no partition key, so it funnels through one task —
    correct HERE because it runs on the VOCABULARY (dimension-sized: ~10^7
    rows even for web corpora, after the corpus-sized groupBy has already
    reduced), never on the corpus.  The corpus-side work is one explode +
    one groupBy shuffle."""
    from pyspark.sql import Window

    w = docs.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
    counts = w.groupBy("word").agg(F.count("*").alias("n"))
    return counts.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("n").desc(), F.col("word"))),
    )


def with_rare_word_score(docs, ranks, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, n_words, mean_rank): mean corpus-frequency rank of a doc's
    words — high mean = rare-word-heavy (OOV-ish / noisy / specialist), the
    integer-exact stand-in for unigram-LM surprisal (sum and count are
    int64, the single division is IEEE-exact, so any engine reproduces the
    double bit-for-bit — no transcendental in the pipeline).  Join is on
    the word; broadcast the vocab when it fits, else it is one shuffle."""
    wds = docs.select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
    )
    return (
        wds.join(ranks.select("word", "rank"), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            (F.sum("rank").cast("double") / F.count("*")).alias("mean_rank"),
        )
    )


def bm25_topk(
    docs,
    query_terms,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
):
    """(doc_id, n_terms, score): the top-k documents for a bag-of-words
    query under QUANTIZED BM25 (Robertson & Walker SIGIR 1994 weighting,
    k1 = 1.2, b = 0.75) — the retrieval layer a curation pipeline uses to
    pull topical slices or audit eval-set leakage by query.

    Integer-exact scoring (the transcendental-free engine-reproducibility
    policy of ``tfidf_top_terms`` / ``with_rare_word_score``): with
    avgdl = T/N (T total tokens, N docs), k1 = 6/5 and b = 3/4, the BM25
    term weight tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) reduces to the
    rational form  22*T*tf / (10*T*tf + 3*T + 9*dl*N), so

        idf_ppm    = 1_000_000 * N div df          (ppm idf, monotone in 1/df)
        ratio_ppm  = 22*T*tf*1_000_000 div (10*T*tf + 3*T + 9*dl*N)
        term_score = idf_ppm * ratio_ppm div 1_000_000

    stays in exact int64 end-to-end — bit-identical ranking on any engine.
    int64 budget: ratio_ppm's numerator 2.2e7*T*tf caps T*tf below ~4e11
    (e.g. a 4e9-token corpus at tf<=100); beyond that, downshift T and
    dl*N by a common power of two first — the ratio is scale-invariant in
    (T, dl*N) up to the quantization step, so ranking is preserved.

    100-TB shape: tf partial-aggregates map-side; the query-term join is a
    broadcast of a few literals, so df / dl / scoring touch only matching
    postings; N and T are a 1-row broadcast; the final top-k is
    TakeOrderedAndProject (per-partition heads + driver merge), never a
    global sort.  Ties break on doc_id, so the returned set is total.

    The persisted posting table is the session's inverted index; call
    ``df.sparkSession.catalog.clearCache()`` (or ``unpersist`` the
    returned plan's cached ancestor) between unrelated corpora to release
    it — repeated calls over the SAME docs reuse one cache entry.
    """
    if not query_terms:
        raise ValueError(
            "bm25_topk needs at least one query term "
            "(an empty query matches nothing)"
        )
    spark = docs.sparkSession
    wds = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    # the posting table feeds dl, corpus stats, and the query-term match:
    # persist so the corpus is scanned ONCE (at warehouse scale this is
    # the inverted index you WRITE once and serve many queries from)
    tf = wds.groupBy(id_col, "word").agg(F.count("*").alias("tf")).persist()
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    qt = spark.createDataFrame([(t,) for t in query_terms], ["word"])
    matched = tf.join(F.broadcast(qt), "word")
    dfq = matched.groupBy("word").agg(F.count("*").alias("df"))
    term = (
        matched.join(F.broadcast(dfq), "word")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.expr(
                "(((1000000 * n_docs) div df)"
                " * ((22 * total_tokens * tf * 1000000)"
                "    div (10 * total_tokens * tf + 3 * total_tokens"
                "         + 9 * dl * n_docs))) div 1000000"
            ),
        )
    )
    return (
        term.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum("term_score").cast("long").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def tfidf_top_terms(
    docs, text_col: str = "text", id_col: str = "doc_id", top_k: int = 3
):
    """(doc_id, word, tf, score, rk): each doc's top-k terms by QUANTIZED
    tf-idf — score = tf * (1_000_000 * n_docs div df), i.e. idf as an
    integer-division parts-per-million weight instead of ln(N/df).  The
    monotone-in-(1/df) integer idf keeps the whole score in exact int64
    arithmetic (no transcendental, no float sum), so any engine reproduces
    the ranking bit-for-bit — same policy as the rank-based surprisal
    stand-in in ``with_rare_word_score``.  Ties break on the word, so the
    per-doc ranking is total.

    100-TB shape: the (doc, word) tf groupBy partial-aggregates map-side;
    df derives from the tf table (one vocabulary-sized reshuffle, never a
    second corpus scan); n_docs is a 1-row broadcast; the only corpus-keyed
    shuffle after tf is the per-doc ranking window on ``doc_id``."""
    from pyspark.sql import Window

    wds = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"),
    ).filter(F.col("word") != "")
    tf = wds.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count_distinct(id_col).alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", F.expr("tf * ((1000000 * n_docs) div df)"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(id_col, "word", "tf", "score", "rk")
    )

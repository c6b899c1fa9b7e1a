"""Text-analysis operators over document tables (SURVEY §2.10 N4/N5).

Native replacements for the capability the reference delegates to
Elasticsearch: the ``edge_ngram`` + ``lowercase`` + ``asciifolding``
analyzer (/root/reference/spark_streaming/convert-to-elasticsearch.py:20-40)
becomes built-in array expressions (split → transform → explode), and the
search-side stats (lengths, term counts) become columns.

Everything here is pure built-in expressions — whole-stage codegen, no
Python in the hot path — and deterministic (exact integer arithmetic,
md5 hashing) so every operator is oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tiny stopword list used by the heuristics (deterministic, language-flavored).
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column | str, sep: str = " ") -> Column:
    """Whitespace tokenization (the analyzer's tokenizer stage)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), sep)


#: asciifolding fold table (1:1 accented-Latin → ASCII, lowercase side
#: only — applied after lower()).  ß→ss, the one 1:2 fold, is handled by
#: a replace() before the translate().  Kept deliberately explicit so the
#: DuckDB oracle can apply the IDENTICAL table (queries.sql_fold).
FOLD_SRC = "àáâãäåāèéêëēìíîïòóôõöøùúûüýÿñçšžćčđ"
FOLD_DST = "aaaaaaaeeeeeiiiioooooouuuuyyncszccd"


def ascii_fold(col: Column | str) -> Column:
    """asciifolding: fold accented Latin characters to their ASCII
    equivalents — the third stage of the reference's ES analyzer
    (convert-to-elasticsearch.py:32-39: edge_ngram + lowercase +
    asciifolding).  Pure translate/replace — codegen, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(F.regexp_replace(c, "ß", "ss"), FOLD_SRC, FOLD_DST)


def explode_edge_ngrams(
    df: DataFrame, id_col: str, text_col: str, min_gram: int = 2, max_gram: int = 10
) -> DataFrame:
    """(id, token, ngram) rows: tokenize → explode → edge-ngram → explode.

    This is the ES index-time analysis chain as a DataFrame op in the
    reference's exact filter ORDER — lowercase → edge_ngram →
    asciifolding (convert-to-elasticsearch.py:20-40): grams are cut from
    the lowercased-but-unfolded token, then each gram is folded.  The
    order is observable only for the 1:2 fold ß→ss ('groß' indexes
    {gr, gro, gross} — no 'gros' — exactly as the reference's ES index
    does); every 1:1 fold commutes with the substring.  `token` is the
    lowercased pre-fold token.  At 100 TB this is a narrow map+explode
    (no shuffle) feeding whatever index/agg consumes it.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).where(F.length("token") >= min_gram)
    # explode first, fold after: a generator cannot sit inside another
    # expression (UNSUPPORTED_GENERATOR.NESTED_IN_EXPRESSIONS)
    grams = tok.select(
        id_col,
        "token",
        F.explode(
            F.expr(
                f"transform(sequence({min_gram}, least({max_gram}, length(token))),"
                " i -> substring(token, 1, i))"
            )
        ).alias("_gram"),
    )
    return grams.select(id_col, "token", ascii_fold(F.col("_gram")).alias("ngram"))


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats: chars, words, distinct words, avg word length,
    stopword ratio — the quality-signal basics for a training-data
    pipeline.  All ratios are exact-int divisions (bit-reproducible).
    """
    # tokenize ONCE into a column; five expressions over `_toks` instead
    # of five independent split() calls per row
    with_toks = df.select(
        F.col(id_col), F.length(text_col).alias("n_chars"), tokens(text_col).alias("_toks")
    )
    toks = F.col("_toks")
    n_words = F.size(toks)
    sum_tok_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    # counts cast to long: Spark size()/length() return INT where the
    # SQL oracle's len()/length() return BIGINT — align the widths
    return with_toks.select(
        F.col(id_col),
        F.col("n_chars").cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_words"),
        (sum_tok_len.cast("double") / n_words.cast("double")).alias("avg_word_len"),
        (n_stop.cast("double") / n_words.cast("double")).alias("stopword_ratio"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic quality score in [0, 1]: rewards lexical diversity
    and a moderate stopword rate, penalizes very short docs.  The exact
    formula matters less than being cheap (one pass, built-ins only) and
    reproducible (exact-int ratios combined by one fixed expression tree).
    """
    stats = text_stats(df, id_col, text_col)
    diversity = F.col("n_distinct_words").cast("double") / F.col("n_words").cast("double")
    length_ok = F.when(F.col("n_words") >= 20, F.lit(1.0)).otherwise(
        F.col("n_words").cast("double") / F.lit(20.0)
    )
    stop_ok = F.lit(1.0) - F.col("stopword_ratio")
    return stats.select(
        id_col,
        "n_words",
        ((diversity * F.lit(0.5)) + (length_ok * F.lit(0.3)) + (stop_ok * F.lit(0.2))).alias(
            "quality"
        ),
    )


#: Characteristic character bigrams per language (tiny profiles — a real
#: pipeline swaps in learned n-gram frequency tables; the engine contract
#: is the SHAPE: one narrow pass, built-in array ops, no UDF).
LANG_BIGRAMS = {
    "en": ["th", "he", "an", "in", "er"],
    "fr": ["le", "es", "de", "en", "ou"],
    "de": ["ch", "ei", "de", "en", "er"],
    "es": ["os", "de", "la", "el", "en"],
}


def char_bigrams(col: Column | str) -> Column:
    """All character bigrams of the text (the n-gram basis for the
    language heuristic)."""
    c = F.col(col) if isinstance(col, str) else col
    # Column.substr accepts Column arguments, so this stays in the public
    # API (no py4j internals) and works on classic and connect sessions.
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c), F.lit(2)) - F.lit(1)),
        lambda i: c.substr(i, F.lit(2)),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-n-gram language ID: score each language by the fraction
    of the document's char bigrams that appear in that language's
    profile; CASE over the scores.  One narrow pass, exact-int ratios.
    """
    # spread rows first: the profile scan is ~|bigrams|·|profile| work
    # per row (compute-amplified far past the table's byte size), and a
    # single-split parquet input would otherwise run every document on
    # one task; explicit COUNT is AQE-coalesce-exempt (the same
    # rationale as minhash_signature_wide).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    with_bg = df.repartition(n_parts, F.col(id_col)).select(
        F.col(id_col), char_bigrams(F.lower(F.col(text_col))).alias("_bg")
    )
    n_bg = F.size(F.col("_bg"))

    def ratio(lang: str) -> Column:
        arr = F.array(*[F.lit(b) for b in LANG_BIGRAMS[lang]])
        return F.size(
            F.filter(F.col("_bg"), lambda b: F.array_contains(arr, b))
        ).cast("double") / n_bg.cast("double")

    # materialize each ratio ONCE in a projection before the CASE: the
    # when-chain references every score up to four times, and the array
    # scans are too big for codegen CSE to be guaranteed
    scored = with_bg.select(
        F.col(id_col),
        *[ratio(lang).alias(f"_{lang}") for lang in ("en", "fr", "de", "es")],
    )
    en, fr, de, es = (F.col(f"_{lang}") for lang in ("en", "fr", "de", "es"))
    return scored.select(
        F.col(id_col),
        F.when((en >= fr) & (en >= de) & (en >= es) & (en > 0), "en")
        .when((fr >= de) & (fr >= es) & (fr > 0), "fr")
        .when((de >= es) & (de > 0), "de")
        .when(es > 0, "es")
        .otherwise("unknown")
        .alias("lang_pred"),
        en.alias("en_ratio"),
    )


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace words, a whole-text chars/4 estimate,
    and a BPE-ish subword count (each word contributes ceil(len/4)
    pieces — word boundaries never merge into one token, like real BPE
    with end-of-word markers).  All exact integer math."""
    toks = tokens(text_col)
    subwords = F.aggregate(
        F.transform(toks, lambda t: F.floor((F.length(t) + F.lit(3)) / F.lit(4.0)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        # floor() explicitly: a bare cast truncates in Spark but ROUNDS in
        # DuckDB — floor pins identical semantics in both engines.
        F.floor((F.length(text_col) + F.lit(3)) / F.lit(4.0)).cast("long").alias("n_tokens_est"),
        subwords.alias("n_subtokens"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Document fingerprints: raw md5 plus an order-insensitive
    'bag fingerprint' (md5 of the sorted distinct token list) that is
    stable under token reordering — the cheap canonical form for
    exact-after-normalization dedup."""
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("md5"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias("bag_md5"),
    )


def build_search_index(df: DataFrame, id_col: str, text_col: str,
                       min_gram: int = 2, max_gram: int = 10) -> DataFrame:
    """Inverted edge-ngram index: (ngram, id, tf) — the native equivalent
    of what the reference delegates to Elasticsearch (index-time analysis
    chain, convert-to-elasticsearch.py:20-40 + the index itself).

    At scale this is the materialization you bucket/partition BY ngram so
    a prefix search is a partition-pruned point lookup, not a scan.
    """
    ngrams = explode_edge_ngrams(df, id_col, text_col, min_gram, max_gram)
    return ngrams.groupBy("ngram", id_col).agg(F.count(F.lit(1)).alias("tf"))


def bm25_score_expr(n_terms: int) -> str:
    """SQL text of the BM25-style score over columns ``tf{i}``, ``df{i}``,
    ``dl``, ``n``, ``sumdl`` (all BIGINT), with k1=1.2, b=0.75 folded to
    literals.  Two deliberate properties:

    - **log-free idf**: ``(N - df + 0.5) / (df + 0.5)`` — BM25's odds
      ratio WITHOUT the ln().  ln is the one piece of BM25 whose last
      ulp is not guaranteed identical across engines (Java Math.log vs
      libm); +,−,×,/ are IEEE-exact, so this variant is bit-identical
      everywhere while keeping the same per-term df damping direction.
    - **one shared string**: Spark and the DuckDB oracle parse THIS
      text, so the expression tree — and therefore every intermediate
      rounding — is identical by construction.
    """
    parts = []
    for i in range(n_terms):
        parts.append(
            f"((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5)"
            f" * (CAST(tf{i} AS DOUBLE) * 2.2)"
            f" / (CAST(tf{i} AS DOUBLE)"
            f" + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) * CAST(n AS DOUBLE)"
            f" / CAST(sumdl AS DOUBLE))))"
        )
    return " + ".join(parts)


def bm25_rank(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    top_n: int = 20,
) -> DataFrame:
    """Relevance-ranked document search: BM25-style scoring of every
    document against ``terms``, top ``top_n`` by (score DESC, id) —
    the ranking half of what the reference delegates to Elasticsearch
    (ES scores with BM25; convert-to-elasticsearch.py ships docs to it
    for exactly this).

    Physical shape at 100 TB: ONE tokenize pass computes dl and every
    per-term tf (narrow); corpus stats (N, Σdl, per-term df) are one
    map-side-partial aggregate broadcast back; the top-n is
    ``orderBy().limit()`` → TakeOrderedAndProject (per-partition k-heap,
    no global sort, no single-partition window over the corpus).
    """
    toks = tokens(text_col)

    def tf_of(term: str) -> Column:
        # single-arg lambda: a two-arg lambda would be read as the
        # (element, index) higher-order form and compare tokens to ints
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("long")

    cols = [F.col(id_col), F.size(toks).cast("long").alias("dl")]
    for i, t in enumerate(terms):
        cols.append(tf_of(t).alias(f"tf{i}"))
    d = df.select(*cols)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sumdl"),
    ]
    for i in range(len(terms)):
        aggs.append(F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long").alias(f"df{i}"))
    g = d.agg(*aggs)
    scored = d.crossJoin(F.broadcast(g)).withColumn(
        "score", F.expr(bm25_score_expr(len(terms)))
    )
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(top_n)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        id_col, "score", "rank"
    )


def search_prefix(index: DataFrame, id_col: str, prefix: str) -> DataFrame:
    """Prefix search against the inverted index: one equi-filter on the
    ngram key (what ES does with an edge-ngram analyzed field), scored by
    term frequency.  The query string goes through the same analyzer
    normalization as the index (lowercase + asciifolding) — ES applies
    the analyzer on both sides."""
    folded = prefix.lower().replace("ß", "ss").translate(str.maketrans(FOLD_SRC, FOLD_DST))
    return (
        index.where(F.col("ngram") == folded)
        .select(F.col(id_col), F.col("tf").alias("n_hits"))
    )


def build_vocab(df: DataFrame, text_col: str, sep: str = " ") -> DataFrame:
    """Corpus vocabulary with contiguous integer ids → ``(token_id,
    token, freq)``: tokens ranked by total occurrence count DESC, ties
    by token ASC (a total order — the same id assignment on every
    engine/partitioning), ids from 0.  This is the BPE-merge-table
    stand-in of the text→ids step: frequency-ordered ids put the most
    common tokens in the smallest id range, which is exactly what
    embedding-table layouts and id-compression want.

    Scale: token counting is a partial-aggregated shuffle on token
    (O(distinct tokens) exchanged, not O(corpus)); the ranking window
    runs over the VOCABULARY, which is bounded (≤ a few million rows
    for any real corpus) — the one deliberate single-partition sort in
    this module, sized to the vocab, never the corpus.
    """
    freq = (
        df.select(F.explode(tokens(text_col, sep)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    return freq.select(
        (F.row_number().over(w) - F.lit(1)).cast("long").alias("token_id"),
        "token",
        "freq",
    )


def tokens_to_ids(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    sep: str = " ",
    broadcast: bool = True,
) -> DataFrame:
    """Map every document to its token-id SEQUENCE (order- and
    duplicate-preserving) → ``(id_col, pos, token_id)`` exploded rows,
    ``pos`` from 0.  Unknown tokens (absent from ``vocab``) keep the
    row with ``token_id`` null — callers decide OOV policy (drop,
    sentinel id, or fail).

    The join key is the token string; with a frequency-built vocab this
    is a broadcast join in practice (vocab ≪ corpus), so the whole map
    is scan → posexplode → broadcast-hash lookup: no shuffle of the
    corpus at all.  Pass ``broadcast=False`` when the vocabulary is too
    large to ship to every executor (a web-scale word vocab can run to
    hundreds of millions of rows) — the lookup then falls back to a
    token-keyed shuffle join.  Downstream ``seq_pack`` takes these rows
    straight into fixed-length training shards.
    """
    pos_tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col, sep)).alias("pos", "token"),
    )
    v = vocab.select("token", "token_id")
    if broadcast:
        v = F.broadcast(v)
    return pos_tok.join(v, "token", "left").select(
        F.col(id_col), F.col("pos").cast("long").alias("pos"), "token_id"
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF — the
    classic keyword-extraction / topic-signal pass.

    ``score = tf · ln(N / df)`` from exact integer operands (tf, df, N
    are counts; one double expression), rounded to 6 dp, and the
    per-document RANKING is on that rounded score (DESC) so rank and
    score always agree — ADVICE r7 flagged the previous tf-primary
    ordering, under which a ubiquitous high-tf stopword (df=N, score 0)
    outranked a rare characteristic term.  Terms with ``df = N`` score
    exactly 0 (they distinguish nothing) and are excluded before
    ranking.  Ties on the rounded score break by (tf DESC, df ASC,
    token ASC), which totalizes the order; the 6-dp rounding keeps the
    sort key engine-portable — a last-ulp ln() divergence moves the
    6th decimal only within ~1e-15 of a rounding boundary.  ADVICE r8:
    that residual flip risk is ACCEPTED, not fixable exactly — a
    score-consistent ordering cannot be re-expressed over monotone
    integer keys (``tf·ln(N/df)`` compares products against a
    transcendental; no lexicographic (tf, df) order agrees with it),
    so the alternatives are this rounded-double key or the old integer
    key whose ranking disagreed with the published score.  Both the
    sf0.01 and sf0.1 gate corpora sit ≥1e-10 from every 6-dp boundary
    (measured min 3.0e-10, pinned in tests/test_operators.py) — ≥500×
    the worst-case cross-engine ulp of any score in those corpora.

    Scale: tokenize once, two partial-aggregated shuffles (per-(doc,
    token) tf, per-token df), the scalar N broadcast, one ranking
    window keyed by doc.  No UDFs.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).where(F.col("token") != "")
    tf = tok.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        tok.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("tf").desc(),
        F.col("df").asc(), F.col("token").asc(),
    )
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .where(F.col("df") < F.col("n_docs"))
        .withColumn(
            "score",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "rank", "score")
    )


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    the diversity signal quality filters pair with repetition gates:
    near-zero entropy is template spam / keyword stuffing, whatever the
    n-gram stats say.

    ``H = ln(n) − (Σ c·ln(c)) / n`` over per-token counts ``c``.  The
    engine-portability trick (same as the LM scorers): every ``ln`` is
    rounded to integer MICRO-NATS first, so both sums are exact integer
    arithmetic in any engine, and only the final two-step double
    expression crosses to float — bit-identical on Spark and DuckDB.

    Scale: one (doc, token) count aggregate and one per-doc aggregate,
    both map-side partial; no joins, no windows, no broadcast.
    """
    per_tok = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("_t"))
        .where(F.col("_t") != "")
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    micro_ln_c = F.round(
        F.log(F.col("_c").cast("double")) * F.lit(1000000.0), 0
    ).cast("long")
    agg = per_tok.groupBy(id_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("_c") * micro_ln_c).alias("_sum_c_ln_c"),
    )
    micro_ln_n = F.round(
        F.log(F.col("n_tokens").cast("double")) * F.lit(1000000.0), 0
    ).cast("long")
    entropy = F.round(
        (
            micro_ln_n.cast("double")
            - F.col("_sum_c_ln_c").cast("double") / F.col("n_tokens").cast("double")
        )
        / F.lit(1000000.0),
        6,
    )
    return agg.select(
        id_col, "n_tokens", "n_distinct", entropy.alias("entropy_nats")
    )


# ── BPE tokenizer training (round 9, VERDICT r8 #4) ─────────────────────
# Symbol sequences travel as a delimited string representation
# ``<s1><s2>...<sN>``: every symbol is wrapped in its own <> pair, so a
# merge of (a, b) is the plain substring replace ``<a><b>`` → ``<ab>``
# — left-to-right non-overlapping, exactly BPE's greedy application
# order, with no false matches (a symbol can only match whole, the
# delimiters are unambiguous) and no shared-boundary overlap (adjacent
# occurrences share no characters).  All built-ins, SQL-oracle-able.


def bpe_init(col: Column | str) -> Column:
    """Character-level starting segmentation of a word: ``hello`` →
    ``<h><e><l><l><o>``.  Callers must restrict words to an alphabet
    excluding ``<``/``>`` (the queries pin ``^[a-z]+$``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "(.)", "<$1>")


def bpe_symbols(col: Column | str) -> Column:
    """The symbol array of a representation string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit("<([^>]*)>"), 1)


def bpe_pair_counts(
    words: DataFrame, rep_col: str = "rep", freq_col: str = "freq"
) -> DataFrame:
    """Adjacent-symbol pair counts over the whole corpus — the hash
    aggregation at the heart of every BPE training iteration.

    Input is the word-frequency table (words deduped, ``freq`` = corpus
    occurrences): pair positions explode per DISTINCT word (bounded by
    vocabulary size × word length, NOT corpus token count) and weight
    by ``freq`` — the standard trick that makes BPE training linear in
    the vocabulary rather than the corpus.  One shuffle (the pair
    groupBy), partial-aggregated map-side.
    """
    syms = bpe_symbols(rep_col)
    # single-symbol words carry no pairs — and must be filtered BEFORE
    # the explode: Spark's sequence(1, 0) is the DESCENDING [1, 0],
    # not empty, so an unguarded explode indexes past the array
    pos = words.where(F.size(syms) >= 2).select(
        F.col(freq_col).alias("_f"),
        syms.alias("_s"),
        F.explode(F.sequence(F.lit(1), F.size(syms) - 1)).alias("_i"),
    )
    return (
        pos.select(
            F.element_at("_s", F.col("_i")).alias("l_sym"),
            F.element_at("_s", F.col("_i") + 1).alias("r_sym"),
            "_f",
        )
        .groupBy("l_sym", "r_sym")
        .agg(F.sum("_f").alias("pair_count"))
    )


def bpe_best_pair(pairs: DataFrame) -> DataFrame:
    """The merge winner: max count, ties broken (l_sym, r_sym) ASC —
    the deterministic tiebreak any engine reproduces.  One row."""
    return pairs.orderBy(
        F.col("pair_count").desc(), F.col("l_sym").asc(), F.col("r_sym").asc()
    ).limit(1)


def bpe_apply_merge(
    rep: Column | str, l_sym: Column | str, r_sym: Column | str
) -> Column:
    """Apply one merge to a representation: ``<l><r>`` → ``<lr>``.
    ``l_sym``/``r_sym`` may be literals (a published merge list) or
    columns (the in-plan winner broadcast from :func:`bpe_best_pair`)
    — ``F.replace`` takes both, so one data-driven training step stays
    a single declarative plan."""
    r = F.col(rep) if isinstance(rep, str) else rep
    ls = F.col(l_sym) if isinstance(l_sym, str) else l_sym
    rs = F.col(r_sym) if isinstance(r_sym, str) else r_sym
    pat = F.concat(F.lit("<"), ls, F.lit("><"), rs, F.lit(">"))
    new = F.concat(F.lit("<"), ls, rs, F.lit(">"))
    return F.replace(r, pat, new)


def bpe_symbol_counts(
    words: DataFrame, rep_col: str = "rep", freq_col: str = "freq"
) -> DataFrame:
    """Corpus symbol inventory of a segmentation state: (symbol,
    count), count weighted by word frequency — the vocabulary table a
    trained tokenizer ships with."""
    return (
        words.select(
            F.col(freq_col).alias("_f"),
            F.explode(bpe_symbols(rep_col)).alias("symbol"),
        )
        .groupBy("symbol")
        .agg(F.sum("_f").alias("count"))
    )


def bpe_train_driver(
    rows: list[tuple[str, int]], k: int
) -> list[tuple[str, int]]:
    """``k`` BPE merge levels over a COLLECTED word-frequency table,
    entirely on the driver (r15, VERDICT r14 #7 — the adjudicated
    bounded-collect pattern of ``connected_components``): BPE training
    state is vocabulary-sized by construction (distinct words, not
    corpus tokens), so once the vocabulary fits the driver bound the
    16-level merge chain is a few million list operations — versus ~29
    Spark jobs of vocabulary-sized aggregates whose cost is pure
    scheduling.  Callers guard with a count and fall back to the
    distributed chain (the 100 TB path and the parity witness).

    Bit-exact replication of the declarative chain's semantics:

    - pair counts weight adjacent symbol pairs by word ``freq``
      (``bpe_pair_counts``);
    - the winner is max count, ties to (l_sym, r_sym) ASC — Python and
      Spark order ASCII strings identically (``bpe_best_pair``);
    - a merge applies left-to-right non-overlapping (the symbol-list
      scan equals ``F.replace`` on the bracketed string: the
      ``<...>`` delimiters align every match to symbol boundaries);
    - an empty pair table empties the state (the declarative chain's
      crossJoin against an empty winner drops every row).

    Returns the final (symbol, count) inventory, ``bpe_symbol_counts``
    semantics."""
    words: list[tuple[list[str], int]] = [(list(w), f) for w, f in rows]
    for _ in range(k):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            words = []  # crossJoin with an empty winner drops all rows
            break
        maxc = max(counts.values())
        l_sym, r_sym = min(p for p, c in counts.items() if c == maxc)
        merged = l_sym + r_sym
        nxt: list[tuple[list[str], int]] = []
        for syms, f in words:
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i < n - 1 and syms[i] == l_sym and syms[i + 1] == r_sym:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, f))
        words = nxt
    agg: dict[str, int] = {}
    for syms, f in words:
        for s in syms:
            agg[s] = agg.get(s, 0) + f
    return sorted(agg.items())

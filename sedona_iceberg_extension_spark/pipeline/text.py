"""Text-analysis operators for large-scale training-data pipelines.

Tier E of the engine (SURVEY.md §2 Tier E — beyond the reference's spatial
surface): language-ID, quality scoring, token counting, fingerprinting.

Design rule for this whole module: **every operator is a native Catalyst
expression** — no Python UDFs anywhere.  At 100 TB these run inside
whole-stage codegen at scan speed, and each one has an exactly-equivalent
ANSI-SQL form for the DuckDB differential oracle.

Cross-engine portable 64-bit hash: ``conv(substr(md5(x),1,15),16,10)`` —
identical in Spark and DuckDB (both MD5), 60 bits, non-negative.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def portable_hash64(col: Column, seed: str = "") -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB SQL:
    Spark:  conv(substr(md5(concat(x,'#',seed)),1,15),16,10)::long
    DuckDB: ('0x' || substr(md5(x || '#' || seed),1,15))::BIGINT
    """
    payload = F.concat(col, F.lit("#" + seed)) if seed else col
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def tokens(col: Column) -> Column:
    """Whitespace tokenization, lowercased (native split)."""
    return F.split(F.lower(F.trim(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# A BPE-ish token estimate: words + punctuation marks + digit runs, the usual
# ~heuristic for LLM token budgeting when no tokenizer is available.
def token_count_bpe_ish(col: Column) -> Column:
    words = F.size(F.split(F.trim(col), r"\s+"))
    puncts = F.length(col) - F.length(F.regexp_replace(col, r"[\.,!\?;:]", ""))
    # long words cost extra tokens (~1 per 6 chars beyond the first 6)
    extra = F.aggregate(
        F.transform(tokens(col), lambda t: F.greatest(F.lit(0), (F.length(t) - 1) / 6)),
        F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long"))
    return (words + puncts + extra).cast("long")


# -- quality metrics ---------------------------------------------------------

_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "this", "that",
]


def stopword_ratio(col: Column, stopwords: Sequence[str] = tuple(_STOPWORDS)) -> Column:
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(col: Column) -> Column:
    removed = F.length(col) - F.length(F.regexp_replace(col, r"[\.,!\?;:]", ""))
    return removed.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def digit_ratio(col: Column) -> Column:
    removed = F.length(col) - F.length(F.regexp_replace(col, r"[0-9]", ""))
    return removed.cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(F.transform(toks, F.length),
                        F.lit(0).cast("long"), lambda a, v: a + v.cast("long"))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(col: Column) -> Column:
    """Composite quality in [0,1]: favors mid-length docs with low punct/digit
    noise and a healthy stopword ratio — the standard cheap pre-filter for
    LLM corpus curation (C4/Gopher-style heuristics, simplified)."""
    n_tok = F.size(tokens(col)).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    sw = stopword_ratio(col)
    sw_score = F.least(sw * F.lit(4.0), F.lit(1.0))
    noise = punct_ratio(col) + digit_ratio(col)
    noise_score = F.greatest(F.lit(0.0), F.lit(1.0) - noise * F.lit(4.0))
    mtl = mean_token_len(col)
    mtl_score = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score * F.lit(0.3) + sw_score * F.lit(0.2)
            + noise_score * F.lit(0.3) + mtl_score * F.lit(0.2))


# -- language identification -------------------------------------------------

# tiny per-language function-word lexicons (public linguistic knowledge)
LANG_LEXICONS: Dict[str, List[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "auf"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "with", "for"],
    "es": ["el", "la", "los", "las", "es", "y", "de", "que", "en", "por"],
    "fr": ["le", "la", "les", "est", "et", "de", "que", "en", "pour", "avec"],
}


def lang_scores(col: Column) -> Dict[str, Column]:
    toks = tokens(col)
    out = {}
    for lang, lex in LANG_LEXICONS.items():
        arr = F.array(*[F.lit(w) for w in lex])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(col: Column) -> Column:
    """Argmax language by lexicon hits; deterministic alphabetical tiebreak;
    'und' (undetermined) when no lexicon hits at all."""
    s = lang_scores(col)
    mx = F.greatest(*s.values())
    expr = F.when(mx <= 0, F.lit("und"))
    for lang in sorted(s):  # alphabetical tiebreak — mirror in oracle SQL
        expr = expr.when(s[lang] == mx, F.lit(lang))
    return expr


# -- fingerprinting ----------------------------------------------------------

def fingerprint(col: Column) -> Column:
    """Whole-document 60-bit content fingerprint (portable hash of the
    canonicalized text: lowercased, whitespace-collapsed)."""
    canon = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return portable_hash64(canon, "fp")


def simhash(col: Column, bits: int = 60) -> Column:
    """SimHash over token hashes — one native expression (no explode, no UDF).

    Single pass: one ``aggregate`` over the token-hash array carries a
    ``bits``-long vote vector (±1 per bit via ``zip_with`` against a literal
    mask array), so each token is md5-hashed exactly once regardless of
    width — the earlier per-bit-aggregate form paid ``bits`` md5 passes.
    Default 60 bits (the full width of the portable 60-bit hash; wide enough
    for 4×15-bit pigeonhole bands with real cardinality at corpus scale).
    Locality-sensitive: near-duplicate docs differ in few bits.
    """
    if not 1 <= bits <= 60:
        raise ValueError("simhash supports 1..60 bits (portable hash width)")
    toks = tokens(col)
    hashes = F.transform(toks, lambda t: portable_hash64(t, "sim"))
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    zeros = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        hashes, zeros,
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0,
                                    F.lit(1)).otherwise(F.lit(-1)).cast("long")))
    signed = F.zip_with(votes, masks,
                        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(signed, F.lit(0).cast("long"), lambda a, v: a + v)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


# -- heavy hitters -----------------------------------------------------------

def top_tokens(df: DataFrame, text_col: str = "text", k: int = 20,
               exclude_stopwords: bool = True) -> DataFrame:
    """Corpus-wide most frequent tokens — the classic heavy-hitter shape.

    Plan: tokenize → explode → hash-aggregate → global top-k.  The explode
    multiplies rows, but the aggregation is map-side partial (Spark's
    hash-agg combines within each task before the shuffle), so the exchange
    carries only distinct (token, partial-count) pairs per partition — at
    100 TB that's vocabulary-sized, not corpus-sized.
    """
    tok = F.explode(tokens(F.col(text_col))).alias("token")
    out = df.select(tok)
    if exclude_stopwords:
        out = out.filter(~F.col("token").isin(*_STOPWORDS))
    return (
        out.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


# -- chunking ----------------------------------------------------------------

def chunk_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    size: int = 64, stride: int = 48) -> DataFrame:
    """Split documents into overlapping token-window chunks — the standard
    context-window prep for embedding/training pipelines.

    Fully native: tokenize once, ``sequence``-generate the chunk starts,
    ``explode`` (one output row per chunk — the only row-count change), then
    ``slice``+``array_join`` rebuild each window.  No Python, no shuffle —
    a map-side operator that scales with output size.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + size)``; the last chunk
    may be shorter, and every token belongs to ≥1 chunk.
    """
    if size <= 0 or stride <= 0 or stride > size:
        raise ValueError("need 0 < stride <= size")
    toks = tokens(F.col(text_col))
    out = (
        df.select(F.col(id_col), toks.alias("_toks"),
                  F.size(toks).alias("_n"))
        .select(id_col, "_toks", "_n",
                F.explode(F.sequence(
                    F.lit(0),
                    F.floor((F.col("_n") - 1) / stride).cast("int")))
                .alias("chunk_id"))
    )
    start = F.col("chunk_id") * stride
    return (
        out.select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(size), F.col("_n") - start).cast("long")
            .alias("n_tokens"),
            F.array_join(F.slice(F.col("_toks"), start + 1, size), " ")
            .alias("chunk_text"))
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document — the standard keyword/feature
    extractor for corpus curation, fully native: tokenize → term frequency
    (one groupBy) → document frequency (one groupBy over the distinct
    (doc, term) pairs already in hand) → ``tf * ln(N / df)`` → windowed
    top-k.  The corpus size N is a single metadata-scale count; everything
    row-scale stays distributed.  Ties break on the term string, so the
    result is deterministic."""
    n_docs = df.count()
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("term")) \
        .filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(dfreq, "term")
              .withColumn("tfidf",
                          F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))))
    from pyspark.sql.window import Window
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col(id_col), "term", "tf",
                    F.round("tfidf", 6).alias("tfidf"), "rank"))


#: PII patterns chosen from the RE2-compatible subset (no lookaround) so
#: the identical regex runs on Spark (java.util.regex) and DuckDB (RE2)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3,4}-?\d{0,4}\b"


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII redaction — the standard pre-training scrub pass: emails and
    phone-shaped numbers replaced with typed redaction tokens, plus counts
    per document for audit.  100% native (regexp_replace /
    regexp_extract_all in codegen — no Python in the plan); at 100 TB this
    is a narrow map over the corpus, no shuffle at all."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    scrubbed = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(
        scrubbed, F.lit(PII_PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        scrubbed.alias("text_clean"),
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"))


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-distribution entropy (nats) — the classic
    perplexity-proxy quality score (gibberish and repeated-char boilerplate
    score low; natural text sits in a narrow band).

    Scale shape: one explode to (doc, char) rows, then TWO hash
    aggregations with map-side partial combine — the shuffle carries
    (doc, char) counts (≤ alphabet size per doc), never the raw characters.
    The algebraic form ``ln n − (Σ c·ln c)/n`` needs no per-char
    probabilities join."""
    # length > 0 guard: Spark's sequence(1, 0) yields the DESCENDING [1, 0]
    # (two bogus ''-char rows for an empty doc) where the oracle's
    # generate_series(1, 0) yields none — both engines must drop empty docs
    chars = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(sequence(1, length(`{text_col}`)), "
            f"i -> substr(`{text_col}`, i, 1))")).alias("_ch"))
    freq = chars.groupBy(id_col, "_ch") \
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    return freq.groupBy(id_col).agg(
        (F.log(F.sum("_c"))
         - F.sum(F.col("_c") * F.log("_c")) / F.sum("_c")).alias("entropy"))


def top_token_share(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document share of the single most frequent token — the cheap
    repetition/boilerplate detector (templated or looping text pushes the
    share toward 1).  Same two-level partial-agg shape as char_entropy."""
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("_t")) \
        .filter(F.col("_t") != "")
    cnt = toks.groupBy(id_col, "_t") \
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
    return cnt.groupBy(id_col).agg(
        (F.max("_c") / F.sum("_c")).alias("top_share"),
        F.sum("_c").cast("long").alias("n_tokens"))


def corpus_ngrams(df: DataFrame, text_col: str, n: int = 2,
                  k: int = 50) -> DataFrame:
    """Top-k corpus word n-grams with counts — the n-gram LM / boilerplate
    census over a training corpus.  Narrow explode (docs with fewer than
    ``n`` tokens emit nothing) into one count shuffle with map-side partial
    aggregation, then a global top-k (tie-broken on the gram text so the
    result is deterministic)."""
    toks = df.select(tokens(F.col(text_col)).alias("_t"))
    idx = F.explode(F.when(F.size("_t") >= n,
                           F.sequence(F.lit(1), F.size("_t") - (n - 1)))
                    .otherwise(F.array()))
    grams = (toks.select(idx.alias("_i"), F.col("_t"))
             .select(F.concat_ws(" ", F.slice(F.col("_t"), F.col("_i"), n))
                     .alias("ngram")))
    return (grams.groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
            .limit(k))


def source_mix_weights(df: DataFrame, group_col: str, text_col: str,
                       alpha: float = 0.7) -> DataFrame:
    """Per-source document/token tallies plus temperature-scaled sampling
    weights ``tokens^alpha / Σ tokens^alpha`` — the standard domain-mixing
    recipe for assembling a training corpus from heterogeneous sources.
    One aggregation over the corpus; the normalization runs over the tiny
    per-source result (an unpartitioned window over |sources| rows)."""
    from pyspark.sql.window import Window
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("double").alias("_toks"))
    w = Window.partitionBy()
    return per.select(
        F.col(group_col), F.col("n_docs"),
        F.col("_toks").cast("long").alias("n_tokens"),
        (F.pow("_toks", F.lit(alpha))
         / F.sum(F.pow("_toks", F.lit(alpha))).over(w)).alias("mix_weight"))


def zipf_slope(df: DataFrame, text_col: str, top_r: int = 1000) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the least-squares slope of
    ln(frequency) against ln(rank) over the top ``top_r`` terms (natural
    text sits near −1; templated/boilerplate corpora flatten, spam steepens
    — a one-number corpus-health gauge).

    Output: one row (n_terms, slope, intercept), rounded to 6 dp.

    Scale shape: term frequencies are ONE count shuffle with map-side
    combine; the rank window runs over only the top ``top_r`` rows (a
    global sort of the truncated table, not the vocabulary); the closed-form
    least-squares needs just four sums — a second tiny aggregation.  Rank
    ties break deterministically (count desc, term asc) on both engines."""
    from pyspark.sql.window import Window

    freq = (df.select(F.explode(tokens(F.col(text_col))).alias("term"))
            .groupBy("term").agg(F.count(F.lit(1)).alias("n")))
    ranked = (freq.orderBy(F.col("n").desc(), F.col("term").asc())
              .limit(top_r)
              .withColumn("rank", F.row_number().over(
                  Window.orderBy(F.col("n").desc(), F.col("term").asc()))))
    pt = ranked.select(F.log(F.col("rank").cast("double")).alias("x"),
                       F.log(F.col("n").cast("double")).alias("y"))
    agg = pt.agg(F.count(F.lit(1)).cast("double").alias("m"),
                 F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                 F.sum(F.col("x") * F.col("y")).alias("sxy"),
                 F.sum(F.col("x") * F.col("x")).alias("sxx"))
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return agg.select(
        F.col("m").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("m"), 6)
         .alias("intercept"))


# ---------------------------------------------------------------------------
# within-document n-gram repetition (Gopher-style quality rule) and
# token-budget shard packing (training-shard manifest)
# ---------------------------------------------------------------------------

def ngram_repetition(df: DataFrame, id_col: str, text_col: str,
                     n: int = 2) -> DataFrame:
    """Per-document duplicate n-gram fraction — the Gopher repetition
    signal ("fraction of n-grams that are repeats"; Rae et al. 2021 §A1.1
    filter family).  A doc whose text loops boilerplate shows a high
    fraction even when no other doc shares it, so this catches what
    cross-doc dedup cannot.

    Output: (id, n_grams, n_distinct, dup_fraction).

    Scale shape: two shuffles, both shrunk by map-side partial
    aggregation — (id, gram) counts first (near-distinct rows out of the
    combiner), then a per-doc rollup of |docs|·distinct rows down to
    |docs|.  No windows, no joins."""
    from .dedup import spread, token_shingles

    sh = token_shingles(spread(df), id_col, text_col, n, distinct=False)
    per = sh.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("_c"))
    return (per.groupBy(id_col)
            .agg(F.sum("_c").alias("n_grams"),
                 F.count(F.lit(1)).alias("n_distinct"))
            .select(F.col(id_col), "n_grams", "n_distinct",
                    ((F.col("n_grams") - F.col("n_distinct"))
                     / F.col("n_grams").cast("double"))
                    .alias("dup_fraction")))


def shard_packing(df: DataFrame, id_col: str, text_col: str,
                  budget_tokens: int, chunk: int = 4096) -> DataFrame:
    """Assign documents (in ``id_col`` order) to contiguous training
    shards of ``budget_tokens`` tokens: shard = floor(tokens-before / B).
    The manifest a training run shards its corpus with — deterministic,
    order-preserving, budget-balanced to one document.

    Scale shape: a global ordered cumsum WITHOUT a single-partition
    window.  Docs are coarse-bucketed by ``floor(id / chunk)``; the
    in-bucket cumsum is a window partitioned by bucket (parallel across
    buckets), bucket totals collapse to a |buckets|-row table whose
    running offset is the only single-partition window (tiny by
    construction), and the offsets broadcast-join back.  This is the
    classic two-level scan — the same plan works at 10^10 docs.

    Output: (shard_id, n_docs, shard_tokens, first_id, last_id)."""
    from pyspark.sql.window import Window as W

    t = df.select(F.col(id_col),
                  token_count(F.col(text_col)).alias("_nt"),
                  F.floor(F.col(id_col) / chunk).alias("_b"))
    w_in = W.partitionBy("_b").orderBy(id_col)
    local = t.withColumn("_cum_in", F.sum("_nt").over(w_in))
    offsets = (t.groupBy("_b").agg(F.sum("_nt").alias("_bt"))
               .withColumn("_off",
                           F.coalesce(F.sum("_bt").over(
                               W.orderBy("_b").rowsBetween(
                                   W.unboundedPreceding, -1)),
                               F.lit(0))))
    packed = (local.join(F.broadcast(offsets.select("_b", "_off")), "_b")
              .withColumn("_before", F.col("_off") + F.col("_cum_in")
                          - F.col("_nt"))
              .withColumn("shard_id",
                          F.floor(F.col("_before") / budget_tokens)))
    return (packed.groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_nt").alias("shard_tokens"),
                 F.min(id_col).alias("first_id"),
                 F.max(id_col).alias("last_id")))


def bpe_pair_counts(df: DataFrame, text_col: str, top_k: int = 20) -> DataFrame:
    """One round of byte-pair-encoding merge-candidate counting: the
    corpus-wide frequency of adjacent character pairs within words, the
    statistic a BPE tokenizer trainer maximizes at each merge step
    (Sennrich et al. 2016).

    Output: (pair, n, rank) — the ``top_k`` most frequent pairs.

    Scale shape — the classic BPE trick, which is also the right Spark
    plan: aggregate the corpus to a word-frequency table FIRST (vocab-
    sized, orders of magnitude smaller than the token stream), then
    explode character pairs over the distinct vocabulary only, weighting
    each pair by its word's corpus frequency.  The expensive per-word
    char work runs once per TYPE, not once per token occurrence."""
    vocab = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
             .filter(F.length("w") >= 2)
             .groupBy("w").agg(F.count(F.lit(1)).alias("wf")))
    idx = F.explode(F.sequence(F.lit(1), F.length("w") - 1))
    pairs = (vocab.select("wf", idx.alias("_i"), "w")
             .select(F.substring(F.col("w"), F.col("_i"), F.lit(2))
                     .alias("pair"), "wf"))
    counted = pairs.groupBy("pair").agg(F.sum("wf").alias("n"))
    from pyspark.sql.window import Window as W
    w = W.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (counted.orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(top_k)
            .withColumn("rank", F.row_number().over(w)))


def bpe_merge_rounds(v: DataFrame, rounds: int = 3) -> list:
    """Greedy BPE tokenizer-training merge rounds over a symbolized vocab
    table ``v`` = (ws: space-separated symbols, wf: corpus frequency).
    Returns ``[(round, pair, merged, n), ...]`` — the merge picked each
    round (argmax of frequency-weighted adjacent-pair count, ties to the
    lexicographically smallest pair) — mutating nothing: each round
    re-derives the vocab with the merge applied (non-overlapping
    left-to-right literal replace with sentinel-space padding, so
    multi-char symbols never match across symbol boundaries).

    Scale shape: the vocab table is the merge state (vocab-sized, not
    corpus-sized — real BPE trainers work exactly this way); each round's
    pair count is ONE map-side-combinable aggregation; the argmax collect
    is 1 row.

    Words already merged down to a SINGLE symbol are filtered out of pair
    counting: without the ``size >= 2`` guard, ``sequence(0, size-2)``
    becomes ``sequence(0, -1)`` = ``[0, -1]`` (Spark reverses direction
    when start > stop), emitting two NULL pairs per 1-symbol word whose
    summed weight can win the argmax — a crash (NULL merge pair) and a
    divergence from any engine whose range(1, len) is simply empty."""
    merges, cached = [], []
    for rnd in range(1, rounds + 1):
        arr = F.split("ws", " ")
        pairs = (v.filter(F.size(arr) >= 2)
                 .select(arr.alias("arr"), "wf",
                         F.explode(F.sequence(F.lit(0), F.size(arr) - 2))
                         .alias("i"))
                 .select(F.concat(F.get("arr", F.col("i")), F.lit(" "),
                                  F.get("arr", F.col("i") + 1)).alias("pair"),
                         "wf"))
        top = (pairs.groupBy("pair").agg(F.sum("wf").alias("s"))
               .orderBy(F.col("s").desc(), F.col("pair").asc())
               .limit(1).collect())
        if not top:          # vocabulary fully merged — nothing left to count
            break
        pair, s = top[0]["pair"], int(top[0]["s"])
        merged = pair.replace(" ", "")
        merges.append((rnd, pair, merged, s))
        v = v.select(
            F.trim(F.replace(
                F.concat(F.lit(" "), F.col("ws"), F.lit(" ")),
                F.lit(f" {pair} "), F.lit(f" {merged} "))).alias("ws"),
            "wf").persist()
        cached.append(v)
    for frame in cached:
        frame.unpersist()
    return merges

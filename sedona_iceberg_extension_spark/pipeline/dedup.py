"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY.md §2 Tier E).

All-native Catalyst plans (no Python UDFs).  Scale notes per operator:

- **exact**: hash-groupBy on md5(text) — one shuffle on a uniform key.
- **minhash**: shingle explode → per-(doc, seed) min — map-side partial
  aggregation shrinks the shuffle to |docs|×k rows; LSH banding turns the
  candidate join into an equi-join on (band, band_hash), never all-pairs.
- **simhash**: pigeonhole banding (distance ≤ d ⇒ some band of d+1 equal)
  makes near-dup search an equi-join too.
- **ngram-jaccard**: inverted-index equi-join on shared grams with
  count-based Jaccard — the exact verifier for the approximate methods.
- **embedding**: normalized dot products via zip_with/aggregate; the
  at-scale variant buckets by random-hyperplane LSH first (similarity.py).
"""

from __future__ import annotations

import logging
from typing import List, Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import portable_hash64, tokens

_LOG = logging.getLogger(__name__)


def _scan_supplies_parallelism(df: DataFrame, target: int) -> bool:
    """Whether the scan feeding ``df`` already yields >= ``target``
    parallel splits — the one engagement rule for `spread()` and the
    REPARTITION hints in the stmt dedup paths.  Driver-side metadata only:
    enough files (``inputFiles()``) means enough splits; with fewer, the
    parquet footers of local files (``file:`` URIs, percent-decoded) give
    their row-group count (one scan task each, so a few huge files need no
    repartition), read until the target is met.  A file on other storage,
    a non-parquet file or an unreadable footer reads as "not enough": a
    redundant repartition is correct and cheap, a missing one serializes
    the downstream map."""
    files = df.inputFiles()
    if len(files) >= target:
        return True
    if not files:
        return False
    import pyarrow.parquet as pq
    groups = 0
    for f in files:
        uri = urlparse(f)
        path = unquote(uri.path)
        if uri.scheme not in ("", "file") \
                or not path.endswith((".parquet", ".parq")):
            return False          # remote or non-parquet: file count only
        try:
            groups += pq.ParquetFile(path).metadata.num_row_groups
        except (OSError, ValueError):   # unreadable (ArrowInvalid) footer
            return False
        if groups >= target:
            return True
    return False


def spread(df: DataFrame, min_partitions: Optional[int] = None,
           by: Optional[str] = None) -> DataFrame:
    """Ensure a CPU-heavy narrow stage downstream has enough partitions to
    use every core.  At 100 TB the scan's input splits already provide
    parallelism and this is a no-op; on a small local table (one parquet
    split) the hash/shingle pipeline would otherwise run on a single core.
    The repartition shuffles only the raw rows — cheap relative to the
    per-row work it parallelizes.

    The check is `_scan_supplies_parallelism` (file and row-group
    counts), never ``df.rdd.getNumPartitions()``, which builds the
    physical RDD (~0.8 s cold, measured).

    ``by``: pipelines whose output feeds MORE THAN ONE downstream consumer
    (e.g. the exact-Jaccard posting lists read by both the pair count and
    the set sizes) must pass a key column here.  A ``repartition(N)``
    (round-robin, REPARTITION_BY_NUM) defeats AQE's stage cache — the
    bottom stage misses, and because every parent stage embeds its child
    stage object, the miss cascades so the whole heavy narrow stage
    re-executes once per consumer (measured: 2× the 32-task shingle
    stages on the exact-Jaccard query; a two-consumer toy goes 49 → 97
    tasks the moment a REPARTITION_BY_NUM appears below the shared
    exchange).  ``repartition(col)`` without an explicit count
    (REPARTITION_BY_COL) keeps the stage cache hitting, so the shared
    pipeline runs once."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if _scan_supplies_parallelism(df, target):
        return df
    if by is not None:
        return df.repartition(F.col(by))
    return df.repartition(target)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: (content md5, canonical keeper id, count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative of every exact-duplicate class."""
    keepers = exact_dedup_groups(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col))
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def token_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                   distinct: bool = True) -> DataFrame:
    """(id, shingle) — word n-grams, natively via sequence/explode.

    ``distinct=True`` gives set semantics (needed by Jaccard counting; costs
    a shuffle).  Duplicate-insensitive consumers (MinHash: ``min`` over a
    multiset equals ``min`` over its set) pass False and keep the whole
    shingling stage narrow — no shuffle at all."""
    tokd = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    idx = F.explode(F.sequence(
        F.lit(1), F.greatest(F.size(F.col("_toks")) - (n - 1), F.lit(1))))
    sh = (
        tokd.select(F.col(id_col), idx.alias("_i"), F.col("_toks"))
        .select(F.col(id_col),
                F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_i"), n)).alias("shingle"))
    )
    return sh.distinct() if distinct else sh


def char_ngrams(df: DataFrame, id_col: str, text_col: str, n: int = 5,
                distinct: bool = True) -> DataFrame:
    """(id, gram) — character n-grams (set semantics unless ``distinct``
    is False; dedup-after-hash consumers skip the string-keyed shuffle)."""
    idx = F.explode(F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)) - (n - 1), F.lit(1))))
    out = (
        df.select(F.col(id_col), F.col(text_col))
        .select(F.col(id_col), idx.alias("_i"), F.col(text_col))
        .select(F.col(id_col), F.expr(f"substr(`{text_col}`, _i, {n})").alias("gram"))
    )
    return out.distinct() if distinct else out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_mix_params(num_hashes: int) -> list:
    """Per-seed (xor-constant, rotation) pairs for the one-md5 MinHash
    family: seed i's hash is rot60(h, r_i) XOR c_i over the single 60-bit
    base hash h.  Deterministic, derived from md5 of the seed label, and
    expressible identically in Spark and DuckDB (shift/mask/multiply/xor
    only, everything bounded below 2^60 so no BIGINT overflow either side)."""
    import hashlib
    out = []
    for i in range(num_hashes):
        c = int(hashlib.md5(f"mh-mix:{i}".encode()).hexdigest()[:15], 16)
        r = (7 * i + 11) % 59 + 1
        out.append((c, r))
    return out


def _mix60(h: Column, c: int, r: int) -> Column:
    """rot60(h, r) XOR c — one rotation + xor per seed instead of one md5."""
    low = (1 << (60 - r)) - 1
    return ((h.bitwiseAND(F.lit(low)) * F.lit(1 << r))
            + F.shiftright(h, 60 - r)).bitwiseXOR(F.lit(c))


def minhash_signatures_wide(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """(id, mh_0 .. mh_{k-1}) — the k-permutation MinHash signature in wide
    form.  One narrow pass computes ONE md5 per shingle row plus k cheap
    rotate-xor mixes (no ×k row explosion, no ×k hashing), and the single
    ``groupBy(id)`` with k ``min`` aggregates partial-aggregates map-side,
    so the one shuffle carries |docs| rows of k longs — at 100 TB that is
    the difference between shuffling the corpus ×k and shuffling just the
    signature matrix."""
    # the explicit null-id filter is load-bearing for exchange/stage reuse
    # when the signature matrix is consumed by MORE THAN ONE branch
    # (minhash_estimate_pairs): downstream equi-joins infer isnotnull(id)
    # and push it to the scan in THEIR branches only, making the subtrees
    # canonicalize differently — the same round-12 finding as the overlap
    # core's membership relation.  Value-identical: a null id can never
    # survive any join or pairing.
    sh = token_shingles(spread(df.filter(F.col(id_col).isNotNull()),
                               by=id_col),
                        id_col, text_col, shingle_n, distinct=False)
    hashed = sh.select(F.col(id_col),
                       portable_hash64(F.col("shingle"), "mh").alias("_h"))
    mins = [
        F.min(_mix60(F.col("_h"), c, r)).alias(f"mh_{i}")
        for i, (c, r) in enumerate(minhash_mix_params(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*mins)


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16, shingle_n: int = 3) -> DataFrame:
    """(id, seed, minhash) — tall view of the wide signature (driver-contract
    output shape; ``stack`` is a narrow generate over |docs| rows)."""
    wide = minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(num_hashes))
    return wide.select(
        F.col(id_col),
        F.expr(f"stack({num_hashes}, {stack_args}) AS (seed, minhash)"))


def _capped_bucket_pairs(banded: DataFrame, id_col: str, keys: List[str],
                         max_bucket: Optional[int] = None,
                         log_dropped: bool = False) -> DataFrame:
    """Bucket-local candidate-pair generation (id_a < id_b) shared by the
    MinHash and embedding LSH paths, with an optional bucket-size cap.

    Uncapped, one pathological bucket — n near-identical docs surviving
    exact dedup (templated boilerplate with one varying token) — makes
    ``collect_list`` build a single n-element array on one executor (an
    unspillable value → OOM) and then explode into n²/2 pairs.  With
    ``max_bucket`` set, every row of an over-cap bucket is filtered out
    BEFORE the collect via a window count over the bucket key: the window's
    hash partitioning is exactly what the downstream groupBy needs, so the
    plan still has one exchange, and the oversized group only ever exists
    as spillable sorted rows, never as one in-memory array.

    Dropped buckets are never silent: ``log_dropped=True`` counts them (one
    extra job — off in declared queries) and `oversize_buckets` exposes
    them as a DataFrame for monitoring at scale.  Members of a dropped
    bucket still pair up through any other band whose bucket is under the
    cap, so the cap degrades recall only for mega-families — which exact
    dedup upstream already collapses (see `doc_dedup_pipeline`)."""
    if max_bucket is not None:
        sized = banded.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        if log_dropped:
            n_drop = (sized.filter(F.col("_n") > max_bucket)
                      .select(*keys).distinct().count())
            if n_drop:
                _LOG.warning(
                    "LSH cap: dropped %d buckets over max_bucket=%d from "
                    "candidate generation", n_drop, max_bucket)
        banded = sized.filter(F.col("_n") <= max_bucket).drop("_n")
    buckets = (
        banded.groupBy(*keys)
        .agg(F.collect_list(F.col(id_col)).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    return (
        buckets.select(F.explode("_ids").alias("id_a"), F.col("_ids"))
        .select(F.col("id_a"),
                F.explode(F.filter(F.col("_ids"), lambda x: x > F.col("id_a"))).alias("id_b"))
        .distinct()
    )


def oversize_buckets(banded: DataFrame, keys: List[str],
                     max_bucket: int) -> DataFrame:
    """(keys..., n_ids) for every LSH bucket over the cap — the monitoring
    companion to the ``max_bucket`` filter (no silent truncation: a scale
    run inspects/alerts on this before trusting the capped pair set)."""
    return (banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_ids"))
            .filter(F.col("n_ids") > max_bucket))


def band_key_cols(num_hashes: int, bands: int) -> List[str]:
    """The bucket-key column names `minhash_banded` emits alongside
    ``band`` — the RAW per-band signature rows (no band hash: the bucket
    key only gates equality, and tuple equality needs no hashing on either
    engine — the DuckDB oracle joins on the same columns verbatim)."""
    return [f"bk_{j}" for j in range(num_hashes // bands)]


def _band_projection(wide: DataFrame, id_col: str, num_hashes: int,
                     bands: int) -> DataFrame:
    """The banding ``stack`` over an already-built wide signature frame —
    shared by `minhash_banded` and `minhash_estimate_pairs` (which bands
    the SAME materialized wide frame its estimator reads, rather than
    rebuilding the signature pipeline)."""
    rows = num_hashes // bands
    stack_args = ", ".join(
        ", ".join([str(b)] + [f"mh_{b * rows + j}" for j in range(rows)])
        for b in range(bands))
    key_names = ", ".join(band_key_cols(num_hashes, bands))
    return wide.select(F.col(id_col),
                       F.expr(f"stack({bands}, {stack_args})"
                              f" AS (band, {key_names})"))


def minhash_banded(df: DataFrame, id_col: str, text_col: str,
                   num_hashes: int = 16, bands: int = 4,
                   shingle_n: int = 3) -> DataFrame:
    """(id, band, bk_0..bk_{r-1}) — each doc's LSH bucket per band, keyed
    by the band's raw signature rows (pure projection off the wide
    signature: no md5/format/sort band-hash chain — tuple equality is the
    same join semantics for free, and what the oracle can mirror exactly)."""
    wide = minhash_signatures_wide(df, id_col, text_col, num_hashes, shingle_n)
    return _band_projection(wide, id_col, num_hashes, bands)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3,
                      max_bucket: Optional[int] = None,
                      log_dropped: bool = False) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded LSH: docs sharing a
    band signature land in the same bucket; the pair join is an equi-join on
    (band, bk_0..bk_{r-1}) — the band's raw signature rows.  Bucket-local
    pair generation instead of a self-join: one pass over the signature
    pipeline (a self-join would recompute the whole shingle+md5 DAG for
    both sides).  ``max_bucket`` bounds the worst bucket (the same
    window-count cap as `_capped_bucket_pairs` — the at-scale default
    should set it); ``log_dropped=True`` logs the number of dropped buckets
    (one extra job over `oversize_buckets`) and `oversize_buckets` exposes
    them as a DataFrame.

    Constructed as ONE ``spark.sql`` statement (the overlap-core
    precedent: an ~12-op eager Dataset chain re-analyzes its subtree at
    each step — measured 0.18 s of pure driver-side construction per
    call): REPARTITION-hinted shingling, one md5 per shingle row + k
    rotate-xor mixes, k ``min`` aggregates, band ``stack``, the window
    bucket cap BEFORE ``collect_list``, bucket-local pair explode,
    DISTINCT — one parse, one analysis."""
    if max_bucket is not None and log_dropped:
        keys = ["band"] + band_key_cols(num_hashes, bands)
        n_drop = oversize_buckets(
            minhash_banded(df, id_col, text_col, num_hashes, bands,
                           shingle_n), keys, max_bucket).count()
        if n_drop:
            _LOG.warning(
                "LSH cap: dropped %d buckets over max_bucket=%d from "
                "candidate generation", n_drop, max_bucket)

    spark = df.sparkSession
    n, rows = int(shingle_n), num_hashes // bands
    src_df = df.select(F.col(id_col), F.col(text_col))
    # spread(by=id_col) equivalent (same rule/fallback as _overlap_pairs):
    # hint only when the scan can't already parallelize the shingle map
    hint = f"/*+ REPARTITION(`{id_col}`) */ "
    if _scan_supplies_parallelism(df, spark.sparkContext.defaultParallelism):
        hint = ""
    # one portable md5 hash per shingle row (the oracle reproduces it), then
    # k cheap rotate-xor mixes — identical literals to _mix60
    mixes = ", ".join(
        f"min((((_h & {(1 << (60 - r)) - 1}) * {1 << r})"
        f" + shiftright(_h, {60 - r})) ^ {c}) AS mh_{i}"
        for i, (c, r) in enumerate(minhash_mix_params(num_hashes)))
    stack_args = ", ".join(
        ", ".join([str(b)] + [f"mh_{b * rows + j}" for j in range(rows)])
        for b in range(bands))
    keys = ", ".join(band_key_cols(num_hashes, bands))
    if max_bucket is not None:
        capped = (f"capped AS (SELECT band, {keys}, `{id_col}` FROM"
                  f" (SELECT *, count(1) OVER"
                  f" (PARTITION BY band, {keys}) AS _n FROM banded)"
                  f" WHERE _n <= {int(max_bucket)}),\n")
        bucket_src = "capped"
    else:
        capped = ""
        bucket_src = "banded"
    # "{mh_src}" is a spark.sql DataFrame named-arg placeholder, not
    # f-string interpolation
    # raw text under the hint, split in a CTE above it (round 15, same
    # rationale as _membership_sql): the exchange carries raw text and the
    # tokenizer runs post-exchange at full parallelism instead of inside
    # the single-split scan stage
    return spark.sql(f"""
WITH src AS (SELECT {hint}`{id_col}`, `{text_col}` AS _txt
             FROM {{mh_src}} WHERE `{id_col}` IS NOT NULL),
toks AS (SELECT `{id_col}`,
                split(lower(trim(_txt)), '\\\\s+') AS _toks FROM src),
hashed AS (
  SELECT `{id_col}`,
         CAST(conv(substr(md5(concat(concat_ws(' ', slice(_toks, _i, {n})),
                                     '#mh')), 1, 15), 16, 10) AS BIGINT) AS _h
  FROM (SELECT `{id_col}`, _toks,
               explode(sequence(1, greatest(size(_toks) - {n - 1}, 1))) AS _i
        FROM toks)
),
wide AS (SELECT `{id_col}`, {mixes} FROM hashed GROUP BY `{id_col}`),
banded AS (SELECT `{id_col}`,
                  stack({bands}, {stack_args}) AS (band, {keys}) FROM wide),
{capped}buckets AS (
  SELECT band, {keys}, collect_list(`{id_col}`) AS _ids
  FROM {bucket_src} GROUP BY band, {keys}
  HAVING size(_ids) > 1
)
SELECT DISTINCT id_a, id_b
FROM (SELECT id_a, explode(filter(_ids, x -> x > id_a)) AS id_b
      FROM (SELECT explode(_ids) AS id_a, _ids FROM buckets))
""", mh_src=src_df)


def minhash_estimate_pairs(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 16, bands: int = 4,
                           shingle_n: int = 3,
                           max_bucket: Optional[int] = None) -> DataFrame:
    """LSH candidate pairs with their ESTIMATED Jaccard similarity — the
    fraction of agreeing MinHash components (the estimator LSH is built
    on).

    Round-12 shape: the banding rows carry each doc's FULL signature
    array alongside the bucket key, so the estimate is computed
    bucket-locally on the collected (id, signature) structs — the
    signature pipeline runs ONCE by construction.  The previous form
    joined a distinct pair table back against the wide signature frame
    twice; those two join branches inferred their own isnotnull(id)
    filters, no exchange subtree matched, and the CPU-dominant
    shingle+md5+k-min pipeline executed once per branch (3× the corpus
    hashing at scale), while an explicit repartition(id) barrier gets
    optimizer-elided as redundant.  Exchange cost of the carried
    signatures is |docs|×bands×(k+2) longs — bounded, and the
    ``max_bucket`` window cap still filters BEFORE the collect so no
    oversized bucket ever materializes an array.  Same pair set, same
    estimate values (an integer agree-count / k is exact in double, so
    the cross-band DISTINCT dedups identically)."""
    wide = minhash_signatures_wide(df, id_col, text_col, num_hashes,
                                   shingle_n)
    keys = band_key_cols(num_hashes, bands)
    rows = num_hashes // bands
    stack_args = ", ".join(
        ", ".join([str(b)] + [f"mh_{b * rows + j}" for j in range(rows)])
        for b in range(bands))
    banded = wide.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_sig"),
        F.expr(f"stack({bands}, {stack_args}) AS (band, {', '.join(keys)})"))
    if max_bucket is not None:
        banded = banded.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", *keys))) \
            .filter(F.col("_n") <= max_bucket).drop("_n")
    buckets = (
        banded.groupBy("band", *keys)
        .agg(F.collect_list(F.struct(F.col(id_col).alias("_id"),
                                     F.col("_sig"))).alias("_rows"))
        .filter(F.size("_rows") > 1)
    )
    pairs = (
        buckets.select(F.explode("_rows").alias("_a"), F.col("_rows"))
        .select(F.col("_a"),
                F.explode(F.filter(
                    F.col("_rows"),
                    lambda x: x["_id"] > F.col("_a")["_id"])).alias("_b"))
    )
    agree = F.aggregate(
        F.zip_with(F.col("_a")["_sig"], F.col("_b")["_sig"],
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (
        pairs.select(F.col("_a")["_id"].alias("id_a"),
                     F.col("_b")["_id"].alias("id_b"),
                     (agree.cast("double") / F.lit(float(num_hashes)))
                     .alias("jaccard_est"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verifier / refiner)
# ---------------------------------------------------------------------------

def _membership_sql(df: DataFrame, id_col: str, text_col: str,
                    shingle_n: int = 3, use_char_grams: bool = False,
                    char_n: int = 5) -> tuple:
    """(src, sh) SQL fragments of the overlap core's hashed-membership
    derivation — THE single builder both `_overlap_pairs` and the
    `overlap_stop_shingles` monitor consume (r11 ADVICE: two parallel
    spellings of the tokenization/hashing would silently desynchronize the
    monitor from the cap it audits; one builder makes that impossible, and
    a hypothesis property test additionally pins the derivation against an
    independent DataFrame-op mirror on random corpora).

    ``{overlap_src}`` inside the fragments is a ``spark.sql`` DataFrame
    named-arg placeholder (NOT f-string interpolation) — the caller passes
    ``overlap_src=df.select(id, text)``."""
    spark = df.sparkSession
    # spread(by=id_col) equivalent: repartition by id only when the scan
    # can't already parallelize the CPU-heavy shingle map (file-count
    # proxy, same rule and fallback as spread())
    hint = f"/*+ REPARTITION(`{id_col}`) */ "
    if _scan_supplies_parallelism(df, spark.sparkContext.defaultParallelism):
        hint = ""
    # The explicit null-id filter is load-bearing for STAGE REUSE (round
    # 12): `_overlap_pairs` references mem from two branches, and the
    # sizes branch's equi-join infers ``isnotnull(id)`` and pushes it
    # below the membership exchange — WITHOUT the same filter in the
    # posting branch the two subtrees canonicalize differently, exchange
    # reuse is impossible, and the CPU-heavy scan+shingle+hash+dedup
    # pipeline executes TWICE over the corpus (measured: duplicated
    # 1-task + 27-task stages on every ngram run; at 100 TB that is
    # hashing the corpus twice).  Writing ``id IS NOT NULL`` in the
    # shared source makes both branches identical → one ReusedExchange.
    # Value-identical: a null id can never reach any output —
    # collect_list drops nulls from postings (no pairs) and the sizes
    # equi-join drops null keys — it only leaves the internal doc-freq
    # accounting, where a null-id "document" arguably never belonged.
    # The REPARTITION hint applies to the RAW (id, text) projection and the
    # tokenization happens in a separate CTE ABOVE it (round 15, guide §2.3
    # / §2.5): with the split inlined under the hint, Catalyst placed the
    # split/lower/trim Project BELOW the exchange — i.e. inside the
    # single-split scan stage the hint exists to escape — serializing the
    # tokenize CPU on one core AND shipping token ARRAYS (every token plus
    # array overhead) through the exchange instead of the raw text.
    # Splitting the CTEs keeps the exchange on raw bytes and runs the
    # tokenizer at full parallelism; Catalyst does not push projections
    # back through a RepartitionByExpression, so the placement sticks
    # (asserted in tests/test_plan_quality.py).  Value-identical: the same
    # expressions compute on the same rows, one exchange either way.
    if use_char_grams:
        n = int(char_n)
        # substr window per position, clamped to >= 1 like char_ngrams;
        # xxhash64 over the gram string (never carried past this stage)
        src = (f"SELECT {hint}`{id_col}`, `{text_col}` AS _txt"
               " FROM {overlap_src}"
               f" WHERE `{id_col}` IS NOT NULL")
        sh = (f"SELECT `{id_col}`, xxhash64(substr(_txt, _i, {n})) AS _h"
              f" FROM (SELECT `{id_col}`, _txt, explode(sequence(1,"
              f" greatest(length(_txt) - {n - 1}, 1))) AS _i FROM src)")
    else:
        # xxhash64 over the token n-tuple: order-sensitive, and equal
        # tuples hash equal.  Out-of-range get() yields null, which
        # Spark's hash functions skip — so the clamped tail shingle of a
        # short doc (< n tokens) keys on exactly its available tokens,
        # mirroring the string path's clamped slice.
        n = int(shingle_n)
        gets = ", ".join(f"get(_toks, _i + {k})" for k in range(n))
        src = (f"SELECT {hint}`{id_col}`, `{text_col}` AS _txt"
               " FROM {overlap_src}"
               f" WHERE `{id_col}` IS NOT NULL")
        sh = (f"SELECT `{id_col}`, xxhash64({gets}) AS _h"
              f" FROM (SELECT `{id_col}`, _toks, explode(sequence(0,"
              f" greatest(size(_toks) - {n}, 0))) AS _i FROM"
              f" (SELECT `{id_col}`,"
              f" split(lower(trim(_txt)), '\\\\s+') AS _toks FROM src))")
    return src, sh


def _overlap_pairs(df: DataFrame, id_col: str, text_col: str,
                   shingle_n: int = 3,
                   use_char_grams: bool = False, char_n: int = 5,
                   max_doc_freq: Optional[int] = None) -> DataFrame:
    """Shared overlap core of ``jaccard_pairs`` / ``containment_pairs``:
    (id_a, id_b, n_common, sz_a, sz_b) for every pair sharing at least one
    shingle.  Candidate pairs are generated bucket-locally per shingle
    (one pass over the shingling pipeline — a self-join would run it
    twice), never as a cross product.

    ``max_doc_freq``: at 100 TB, ultra-frequent shingles create quadratic
    buckets; capping document frequency drops them from candidate generation
    *and* from the common-count, so the reported score is exact Jaccard over
    the non-stop shingle sets (a lower bound of full-set Jaccard — sizes stay
    full-set).  Pairs connected solely by stop-shingles sit below any useful
    threshold anyway.  Default None = exact full-set Jaccard.

    The cap is enforced BEFORE the posting aggregation (round 11 — same
    contract as the LSH path's ``max_bucket``, `_capped_bucket_pairs`): a
    window ``count(1) OVER (PARTITION BY _h)`` on the already-distinct,
    already-``_h``-partitioned membership relation filters every row of an
    over-cap shingle out of ``collect_list``'s input.  The window needs no
    exchange of its own (its partitioning is exactly ``mem``'s), just a
    sort the downstream aggregation tolerates — so the over-cap posting
    only ever exists as spillable sorted rows, never as one O(doc-freq)
    in-memory array in an aggregation buffer (the previous ``HAVING
    size(_ids) <= cap`` dropped the same postings but only after one task
    had materialized the full array — OOM/straggler exposure at corpus
    scale).  Results are byte-identical to the HAVING form: the window
    count of distinct members equals the collected list's size.  Dropped
    shingles are observable via `overlap_stop_shingles` — no silent
    truncation at scale.

    Sized for 100 TB — ONE wide shuffle total.  Shingles are hashed to
    64-bit longs up front (later shuffles carry longs, not ~30-byte
    strings; set cardinalities are preserved w.h.p. — 2^64 space — and the
    scores are exact Jaccard over the hashed shingle sets).

    Round-10 shape (two-level, codegen-first): the raw (hash, id)
    membership stream is hash-exchanged on the shingle hash
    (``repartition(col)`` — REPARTITION_BY_COL, so AQE's stage cache keeps
    the CPU-heavy shingle map stage shared), then deduped by
    ``dropDuplicates([_h, id])`` — a codegen HashAggregate over two longs
    that needs NO further exchange because hash-partitioning on ``_h``
    already clusters every (_h, id) group.  The posting ``collect_list``
    then runs COMPLETE-mode on already-distinct, already-partitioned rows:
    the one remaining ObjectHashAggregate has zero dedup work and zero
    exchange of its own.  (Rounds 7-9 instead collect_set-aggregated the
    raw stream — an interpreted, allocation-heavy ObjectHashAggregate
    doing the dedup itself, which under two consumers re-ran its FINAL
    merge per consumer until a barrier repartition was added; moving the
    dedup into codegen removes both the object-agg dedup cost and the
    need for the barrier, with the same exchange count.)  The exchange
    carries the raw stream, but shingle duplicates only arise WITHIN a
    document (each doc is one parquet row, so its shingles never span
    partitions) and real text repeats few of its n-grams — raw ≈ distinct
    in bytes.

    Per-doc set sizes are derived from the same deduped membership
    relation (``groupBy(id).count`` — map-side-combinable, riding the
    membership exchange via AQE stage reuse) — |docs|-row output joined
    onto the (small) pair table, never a window count over the full
    shingle table (the round-5 regression: an extra full-table
    hash-partition+sort that also widened the big shuffle with a size
    column) and never a second scan of the corpus text.  No broadcast
    hint: both join inputs are tiny and AQE picks the broadcast side at
    runtime — at extreme doc counts a forced broadcast of |docs| rows
    would be the wrong call.  Candidate pairs are generated bucket-locally
    from the posting lists, never as a self-join or cross product.

    The shingle hash is codegen'd ``xxhash64`` over the n-token tuple —
    the shingle STRING is never materialized (no concat, no md5 → hex →
    conv chain).  That's only possible because the hash is internal here:
    exact Jaccard is hash-agnostic (any injective-w.h.p. keying of the
    shingle set yields identical scores), so the DuckDB oracle, which
    joins on shingle strings directly, still matches bit-for-bit.
    Operators whose OUTPUT depends on hash values (MinHash, SimHash) keep
    the portable md5 hash the oracle can reproduce.

    Constructed as ONE ``spark.sql`` statement (round 10): classic-mode
    PySpark analyzes EAGERLY per Dataset transformation, so the previous
    ~15-op chain re-analyzed its whole growing subtree on every step —
    O(depth²) analyzer work, measured 0.26–0.95 s of driver time per
    construction vs 0.07–0.12 s for the single statement (one parse, one
    analysis, bit-identical results).  On an interactive/serving path
    construction latency is part of every query's wall time.  The
    logical plan is the same two-level shape as the operator form it
    replaces; the REPARTITION hints are the hint-form of ``spread(by=)``
    / ``repartition(col)`` (REPARTITION_BY_COL, so AQE's stage cache
    keeps the shingle map stage shared across the two consumers).  The
    source DataFrame enters the statement as a ``spark.sql`` DataFrame
    named-arg (round 11): PySpark's SQL formatter registers a
    UUID-suffixed view for the call and drops it in a ``finally`` before
    returning (analysis is eager, so the returned plan is self-contained)
    — no catalog residue, no module-global naming counter, and
    concurrently-built plans share no mutable state."""
    spark = df.sparkSession
    src_df = df.select(F.col(id_col), F.col(text_col))
    src, sh = _membership_sql(df, id_col, text_col, shingle_n,
                              use_char_grams, char_n)
    if max_doc_freq is not None:
        # pre-aggregation cap (see docstring): window count per shingle
        # rides mem's _h partitioning (no exchange, one extra sort) and
        # removes every row of an over-cap shingle BEFORE collect_list
        capped = (f"capped AS (SELECT _h, `{id_col}` FROM"
                  f" (SELECT _h, `{id_col}`,"
                  f" count(1) OVER (PARTITION BY _h) AS _df FROM mem)"
                  f" WHERE _df <= {int(max_doc_freq)}),\n")
        posting_src = "capped"
    else:
        capped = ""
        posting_src = "mem"
    # two-level shape (see docstring): ONE keyed exchange of the raw
    # membership stream (REPARTITION hint), codegen dedup (DISTINCT) in
    # place, then a dedup-free complete-mode collect_list with no
    # exchange of its own; sizes ride the same membership exchange
    return spark.sql(f"""
WITH src AS ({src}),
sh AS ({sh}),
mem AS (SELECT /*+ REPARTITION(_h) */ DISTINCT _h, `{id_col}` FROM sh),
{capped}posting AS (
  SELECT _h, collect_list(`{id_col}`) AS _ids FROM {posting_src} GROUP BY _h
  HAVING size(_ids) > 1
),
pairs AS (
  SELECT a AS id_a, b AS id_b, count(1) AS n_common
  FROM (SELECT a, explode(filter(_ids, x -> x > a)) AS b
        FROM (SELECT explode(_ids) AS a, _ids FROM posting))
  GROUP BY a, b
),
sizes AS (SELECT `{id_col}` AS _id, count(1) AS _sz FROM mem GROUP BY `{id_col}`)
SELECT id_a, id_b, n_common, sa._sz AS sz_a, sb._sz AS sz_b
FROM pairs
JOIN sizes sa ON sa._id = id_a
JOIN sizes sb ON sb._id = id_b
""", overlap_src=src_df)


def overlap_stop_shingles(df: DataFrame, id_col: str, text_col: str,
                          shingle_n: int = 3, max_doc_freq: int = 256,
                          use_char_grams: bool = False,
                          char_n: int = 5) -> DataFrame:
    """(shingle_hash, doc_freq) for every shingle the ``max_doc_freq`` cap
    removes from the overlap core — the monitoring companion to the
    pre-aggregation filter (same role `oversize_buckets` plays for the LSH
    cap: a scale run inspects/alerts on this before trusting capped
    scores).  Built from `_membership_sql` — the SAME fragments the core's
    statement embeds, so the monitor can never desynchronize from the cap
    it audits (r11 ADVICE; previously a parallel DataFrame-op spelling) —
    aggregated with a plain map-side-combinable count, never a posting
    array."""
    spark = df.sparkSession
    src, sh = _membership_sql(df, id_col, text_col, shingle_n,
                              use_char_grams, char_n)
    return spark.sql(f"""
WITH src AS ({src}),
sh AS ({sh}),
mem AS (SELECT DISTINCT _h, `{id_col}` FROM sh)
SELECT _h AS shingle_hash, count(1) AS doc_freq
FROM mem GROUP BY _h
HAVING count(1) > {int(max_doc_freq)}
""", overlap_src=df.select(F.col(id_col), F.col(text_col)))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 3, threshold: float = 0.5,
                  use_char_grams: bool = False, char_n: int = 5,
                  max_doc_freq: Optional[int] = None) -> DataFrame:
    """Exact Jaccard over shingle sets — the ``_overlap_pairs`` core with
    the symmetric |A∩B| / |A∪B| finish."""
    ov = _overlap_pairs(df, id_col, text_col, shingle_n,
                        use_char_grams, char_n, max_doc_freq)
    return (
        ov.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      shingle_n: int = 3, threshold: float = 0.5,
                      use_char_grams: bool = False, char_n: int = 5,
                      max_doc_freq: Optional[int] = None) -> DataFrame:
    """ASYMMETRIC shingle containment — |A∩B| / |A| and |A∩B| / |B| per
    pair.  Detects quotation / subset duplication that Jaccard misses: a
    short doc fully embedded in a long one has containment ~1.0 in one
    direction while its Jaccard stays near |A|/|B| (tiny).  A training
    corpus dedups on this to drop excerpts of already-kept documents.
    Same single-shuffle ``_overlap_pairs`` core and scale shape as
    ``jaccard_pairs``; a pair is kept when EITHER direction clears the
    threshold."""
    ov = _overlap_pairs(df, id_col, text_col, shingle_n,
                        use_char_grams, char_n, max_doc_freq)
    return (
        ov.withColumn("cont_ab", F.col("n_common").cast("double")
                      / F.col("sz_a").cast("double"))
        .withColumn("cont_ba", F.col("n_common").cast("double")
                    / F.col("sz_b").cast("double"))
        .filter(F.greatest("cont_ab", "cont_ba") >= threshold)
        .select("id_a", "id_b", "cont_ab", "cont_ba")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 60, max_distance: int = 3,
                  max_bucket: Optional[int] = None) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ max_distance,
    found with pigeonhole banding (d ≤ k ⇒ at least one of k+1 bands equal),
    so the search is an equi-join on band values, not all-pairs.  Default
    60 bits / 4×15-bit bands: each band has 2^15 possible values, so band
    buckets stay small (selective) even on large corpora.  ``max_bucket``
    bounds the worst band bucket (a mega-family of identical simhashes
    would otherwise explode quadratically through the self-join — same
    contract as the MinHash cap: all rows of an over-cap bucket leave the
    candidate join, via a window count on the same join keys)."""
    from .text import simhash, hamming64

    n_bands = max_distance + 1
    band_bits = bits // n_bands
    sh = df.select(F.col(id_col), simhash(F.col(text_col), bits).alias("sh"))
    bands = []
    for i in range(n_bands):
        mask = ((1 << band_bits) - 1) if i < n_bands - 1 else ((1 << (bits - band_bits * i)) - 1)
        bands.append(
            sh.select(
                F.col(id_col), F.col("sh"),
                F.lit(i).alias("band"),
                F.shiftright(F.col("sh"), band_bits * i).bitwiseAND(F.lit(mask)).alias("bval"),
            ))
    allb = bands[0]
    for x in bands[1:]:
        allb = allb.unionAll(x)
    if max_bucket is not None:
        allb = (allb.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bval")))
            .filter(F.col("_n") <= max_bucket).drop("_n"))
    a = allb.alias("a")
    b = allb.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bval") == F.col("b.bval"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def vec_norm(vec: Column) -> Column:
    """L2 norm of an array<float/double> column — the exact fold
    ``cosine_sim`` runs internally (double cast, x*x transform, index-order
    sum, sqrt), factored out so pair-scoring paths can compute each ROW's
    norm once instead of once per PAIR.  Same expression → bit-identical
    value → the DuckDB list_cosine_similarity oracles still match."""
    vd = F.transform(vec, lambda v: v.cast("double"))
    return F.sqrt(F.aggregate(F.transform(vd, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine_dot(a: Column, b: Column) -> Column:
    """Index-order double-precision dot product of two array columns."""
    ad = F.transform(a, lambda v: v.cast("double"))
    bd = F.transform(b, lambda v: v.cast("double"))
    return F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def cosine_sim_prenorm(a: Column, b: Column,
                       na: Column, nb: Column) -> Column:
    """Cosine similarity given precomputed row norms: dot / (na * nb),
    the identical arithmetic of ``cosine_sim`` with the two norm folds
    hoisted out of the pair loop.  On an n×m candidate join this removes
    2/3 of the per-pair fold work (the norms are O(rows), the dot stays
    O(pairs)) — at 100 TB the norms are computed once per vector in the
    narrow pre-join projections both sides already run."""
    return cosine_dot(a, b) / (na * nb)


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns — native
    zip_with + aggregate in double precision, index-order summation (so the
    DuckDB oracle's list_cosine_similarity matches bit-for-bit in practice).
    Pair-join paths should prefer ``cosine_sim_prenorm`` with ``vec_norm``
    columns computed before the join."""
    return cosine_dot(a, b) / (vec_norm(a) * vec_norm(b))


def embedding_banded(df: DataFrame, id_col: str, vec_col: str,
                     num_bands: int = 8, planes_per_band: int = 4,
                     dim: int = 64) -> DataFrame:
    """(id, band, bucket) — per band, a vector's bucket is the sign pattern
    of ``planes_per_band`` deterministic hyperplane projections."""
    from .similarity import _hyperplane

    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    band_cols = []
    for b in range(num_bands):
        bucket = F.lit(0).cast("long")
        for j in range(planes_per_band):
            plane = _hyperplane(dim, b * planes_per_band + j)
            proj = F.aggregate(
                F.zip_with(vd, F.array(*[F.lit(x) for x in plane]),
                           lambda a, p: a * p),
                F.lit(0.0), lambda acc, v: acc + v)
            bucket = bucket + F.when(proj > 0, F.lit(2 ** j).cast("long")) \
                               .otherwise(F.lit(0).cast("long"))
        band_cols.append(bucket.alias(f"bk_{b}"))
    stack_args = ", ".join(f"{b}, bk_{b}" for b in range(num_bands))
    return (
        df.select(F.col(id_col), *band_cols)
        .select(F.col(id_col),
                F.expr(f"stack({num_bands}, {stack_args}) AS (band, bucket)"))
    )


def embedding_dup_pairs(df: DataFrame, id_col: str, vec_col: str,
                        threshold: float = 0.85,
                        num_bands: int = 8, planes_per_band: int = 4,
                        dim: int = 64,
                        max_bucket: Optional[int] = None,
                        log_dropped: bool = False) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold — banded cosine-LSH
    candidates, exact cosine refinement.  Never all-pairs: per band, a
    vector's bucket is the sign pattern of ``planes_per_band`` deterministic
    hyperplane projections; candidate pairs share a (band, bucket), generated
    bucket-locally like the MinHash path, then verified exactly.

    Recall: a pair at cosine θ survives one band with p=(1-acos(θ)/π)^r;
    OR-ing ``num_bands`` bands gives 1-(1-p)^b — ≥99% at the default
    (θ=0.85, r=4, b=8), and every reported pair is exact (the refinement
    keeps precision at 100%).  At 100 TB the shuffle is |vectors|×b bucket
    rows plus the candidate joins — no quadratic stage anywhere, and
    ``max_bucket`` bounds the worst bucket (see `_capped_bucket_pairs`)."""
    banded = embedding_banded(df, id_col, vec_col, num_bands,
                              planes_per_band, dim)
    cand = _capped_bucket_pairs(banded, id_col, ["band", "bucket"],
                                max_bucket, log_dropped)
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                   vec_norm(F.col(vec_col)).alias("_na"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                   vec_norm(F.col(vec_col)).alias("_nb"))
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", cosine_sim_prenorm(F.col("va"), F.col("vb"),
                                                 F.col("_na"), F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_dup_pairs_exact(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95) -> DataFrame:
    """All-pairs exact form — the verifier for the LSH path on small slices;
    quadratic by construction, never the at-scale default.  No query calls
    it: it is the ground truth that ``tests/test_pipeline.py`` compares
    ``embedding_dup_pairs`` against, kept beside it so the verifier and the
    operator share ``vec_norm``/``cosine_sim_prenorm``."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  vec_norm(F.col(vec_col)).alias("_na"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  vec_norm(F.col(vec_col)).alias("_nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_sim_prenorm(F.col("va"), F.col("vb"),
                                                 F.col("_na"), F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def contamination(train: DataFrame, test: DataFrame, id_col: str,
                  text_col: str, shingle_n: int = 5) -> DataFrame:
    """Train/test decontamination check: for each test document, how many of
    its distinct word ``shingle_n``-grams appear ANYWHERE in the train
    corpus (the standard benchmark-leakage test before training).

    Scale shape: the train side collapses to its distinct shingle set (one
    shuffle, map-side combine), the test side stays (doc, shingle) rows, and
    the hit detection is a plain equi-join on the shingle string — no
    broadcast assumption on either side, no pairwise doc comparison.  At
    100 TB both sides hash-partition on the shingle; AQE handles the skew of
    stop-phrases."""
    tr = token_shingles(train, id_col, text_col, shingle_n) \
        .select("shingle").distinct().withColumn("_hit", F.lit(1))
    te = token_shingles(test, id_col, text_col, shingle_n)
    hit = te.join(tr, "shingle", "left")
    return hit.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long")
         .alias("n_contaminated"))


def shared_window_fraction(df: DataFrame, id_col: str, text_col: str,
                           window_n: int = 5) -> DataFrame:
    """Per-document exact-substring duplication report: the fraction of a
    document's distinct ``window_n``-token windows that occur in at least
    one OTHER document — the memorization signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"), where
    repeated ~50-token spans are what a model memorizes verbatim.

    Output: (id, n_windows, n_shared, shared_frac).

    Scale shape: windows are keyed by codegen'd ``xxhash64`` over the
    token tuple (the window string is never built; counts are exact
    w.h.p., same argument as `jaccard_pairs`), the corpus-wide document
    frequency is ONE groupBy on the uniform hash key, and the join back
    to per-doc rows re-uses that same hash partitioning (Catalyst plans
    it as one exchange per side, no broadcast assumption).  Nothing is
    ever pairwise — a window shared by n docs costs n rows, not n²."""
    tokd = spread(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    idx = F.explode(F.sequence(
        F.lit(0), F.greatest(F.size("_toks") - window_n, F.lit(0))))
    tokd = tokd.select(F.col(id_col), idx.alias("_i"), F.col("_toks"))
    win = (tokd.select(
            F.col(id_col),
            F.xxhash64(*[F.get(F.col("_toks"), F.col("_i") + k)
                         for k in range(window_n)]).alias("_h"))
           .distinct())
    docfreq = win.groupBy("_h").agg(F.count(F.lit(1)).alias("_nd"))
    return (win.join(docfreq, "_h")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0))
                  .cast("long").alias("n_shared"))
            .withColumn("shared_frac",
                        F.round(F.col("n_shared").cast("double")
                                / F.col("n_windows"), 6)))


def cdc_chunks(df: DataFrame, id_col: str, text_col: str,
               gram_n: int = 8, modulus: int = 64) -> DataFrame:
    """Content-defined chunking (LBFS/rolling-hash style): a chunk boundary
    opens at position 1 and at every position whose ``gram_n``-char gram
    hashes to 0 mod ``modulus`` — so chunk boundaries survive insertions
    and deletions (the property fixed-size blocks lack, and the reason
    storage dedup and incremental-sync systems chunk this way).

    Output: (id, chunk_start, chunk) — one row per chunk, reconstructing
    the document exactly (concat of chunks in order == text).

    The boundary hash is the portable md5 recipe because boundary PLACEMENT
    is part of the output contract (the DuckDB oracle must cut identically);
    expected chunk length is ``modulus`` characters.

    Scale shape: the position explode is narrow off the scan; the only
    shuffle is the per-doc window ordering boundaries (keyed by the doc id,
    uniform), and the chunk substrings are cut from the text column carried
    on the boundary rows — no join back, no per-chunk text duplication
    beyond the chunks themselves."""
    from pyspark.sql.window import Window as W

    base = spread(df).select(F.col(id_col), F.col(text_col).alias("_t"))
    # guard: Spark's sequence(2, 1) is DESCENDING [2, 1] — a doc shorter
    # than gram_n + 1 chars must contribute no interior cut candidates
    idx = F.explode(F.when(
        F.length("_t") >= gram_n + 1,
        F.sequence(F.lit(2), F.length("_t") - (gram_n - 1))
    ).otherwise(F.array().cast("array<int>")))
    cut = (base.select(F.col(id_col), F.col("_t"), idx.alias("_i"))
           .filter(portable_hash64(
               F.expr(f"substr(_t, _i, {gram_n})"), "cdc") % modulus == 0))
    starts = base.select(F.col(id_col), F.col("_t"),
                         F.lit(1).alias("_i")).unionAll(cut)
    w = W.partitionBy(id_col).orderBy("_i")
    return (starts
            .withColumn("_next", F.lead("_i").over(w))
            .select(F.col(id_col), F.col("_i").alias("chunk_start"),
                    F.expr("substr(_t, _i, coalesce(_next, length(_t) + 1) - _i)")
                    .alias("chunk"))
            .filter(F.length("chunk") > 0))


def cdc_dedup_stats(df: DataFrame, id_col: str, text_col: str,
                    group_col: str, gram_n: int = 8,
                    modulus: int = 64) -> DataFrame:
    """Per-group storage-dedup report over CDC chunks: how much of the
    corpus is redundant at chunk granularity (the dedup ratio an
    object-store or incremental-ingest layer would realize).

    Output: (group, n_chunks, n_distinct_chunks, total_chars,
    distinct_chars, dedup_ratio).  Chunk identity is the chunk content
    itself (md5-keyed groupBy — longs/short strings shuffle, never the
    corpus twice)."""
    ch = cdc_chunks(df, id_col, text_col, gram_n, modulus)
    joined = df.select(F.col(id_col), F.col(group_col).alias("grp")) \
               .join(ch, id_col)
    per_chunk = (joined.groupBy("grp", F.md5("chunk").alias("_ck"))
                 .agg(F.count(F.lit(1)).alias("_n"),
                      F.max(F.length("chunk")).alias("_len")))
    return (per_chunk.groupBy("grp")
            .agg(F.sum("_n").cast("long").alias("n_chunks"),
                 F.count(F.lit(1)).alias("n_distinct_chunks"),
                 F.sum(F.col("_n") * F.col("_len")).cast("long")
                  .alias("total_chars"),
                 F.sum("_len").cast("long").alias("distinct_chars"))
            .withColumn("dedup_ratio",
                        F.round(F.lit(1.0) - F.col("distinct_chars")
                                / F.col("total_chars").cast("double"), 6))
            .withColumnRenamed("grp", group_col))

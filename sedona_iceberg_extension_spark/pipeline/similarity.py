"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — native zip_with/aggregate expressions,
broadcast query side, windowed top-k.  Scale path: random-hyperplane LSH
bucketing (deterministic, hash-derived hyperplanes so the bucketing is
reproducible across engines and runs) to cut the candidate set before exact
scoring — the standard IVF/LSH two-stage ANN shape (SURVEY.md §2 Tier E).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..lineage import truncate_lineage
from pyspark.sql.window import Window

from .dedup import cosine_sim, cosine_sim_prenorm, vec_norm
from .text import portable_hash64


def _norm_sql(col: str) -> str:
    """SQL-text mirror of ``vec_norm`` — same double cast, same x*x
    transform, same index-order fold, so values are bit-identical."""
    return (f"sqrt(aggregate(transform(transform({col},"
            f" v -> CAST(v AS DOUBLE)), x -> x * x),"
            f" CAST(0 AS DOUBLE), (acc, v) -> acc + v))")


def _dot_sql(a: str, b: str) -> str:
    """SQL-text mirror of ``cosine_dot`` (index-order double fold)."""
    return (f"aggregate(zip_with(transform({a}, v -> CAST(v AS DOUBLE)),"
            f" transform({b}, v -> CAST(v AS DOUBLE)),"
            f" (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def cosine_topk(queries: DataFrame, data: DataFrame, k: int,
                q_id: str = "vec_id", q_vec: str = "embedding",
                d_id: str = "vec_id", d_vec: str = "embedding") -> DataFrame:
    """For each query vector: the k most-cosine-similar data vectors.
    Query side is broadcast (queries ≪ data at scale); score computation is
    native; top-k via window over query id.

    Constructed as ONE ``spark.sql`` statement (the overlap-core
    precedent — an ~8-op eager Dataset chain measured 0.17 s of pure
    construction per call): per-side norm projections (`_norm_sql`, the
    same values as ``vec_norm``), BROADCAST-hinted cross join, prenorm
    cosine, windowed top-k (ties broken by ``data_id``)."""
    spark = data.sparkSession
    return spark.sql(f"""
WITH q AS (SELECT `{q_id}` AS query_id, `{q_vec}` AS _qv,
                  {_norm_sql(f"`{q_vec}`")} AS _qn FROM {{ct_queries}}),
d AS (SELECT `{d_id}` AS data_id, `{d_vec}` AS _dv,
             {_norm_sql(f"`{d_vec}`")} AS _dn FROM {{ct_data}}),
scored AS (SELECT /*+ BROADCAST(q) */ query_id, data_id,
                  {_dot_sql("_dv", "_qv")} / (_dn * _qn) AS cosine
           FROM d CROSS JOIN q)
SELECT query_id, data_id, cosine, rank
FROM (SELECT query_id, data_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, data_id ASC) AS rank
      FROM scored)
WHERE rank <= {int(k)}
""", ct_queries=queries, ct_data=data)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k — the
    evaluation loop that decides whether an approximate index is good
    enough to replace the brute-force scan.  Both inputs are
    (query_id, data_id, rank) shaped; the join is key-only."""
    a = approx.filter(F.col("rank") <= k).select("query_id", "data_id")
    e = exact.filter(F.col("rank") <= k).select("query_id", "data_id")
    hit = (e.join(a, ["query_id", "data_id"], "left_semi")
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    base = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (base.join(hit, "query_id", "left")
            .select("query_id", F.col("n_exact").alias("k_exact"),
                    F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
                    F.round(F.coalesce(F.col("n_hit"), F.lit(0))
                            / F.col("n_exact").cast("double"), 6)
                    .alias("recall")))


def _hyperplane(dim: int, plane: int) -> list:
    """Deterministic pseudo-random hyperplane from the portable hash recipe —
    reproducible across engines without any RNG state."""
    import hashlib
    vec = []
    for i in range(dim):
        h = int(hashlib.md5(f"hp:{plane}:{i}".encode()).hexdigest()[:15], 16)
        vec.append((h % 2001 - 1000) / 1000.0)
    return vec


def hyperplane_buckets(df: DataFrame, vec_col: str, num_planes: int = 8,
                       dim: int = 64) -> DataFrame:
    """Add a ``bucket`` column: the sign pattern of num_planes random
    hyperplane projections (cosine-LSH).  Vectors with high cosine similarity
    collide with high probability; candidates then join on bucket equality."""
    bucket = F.lit(0).cast("long")
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    for p in range(num_planes):
        plane = _hyperplane(dim, p)
        proj = F.aggregate(
            F.zip_with(vd, F.array(*[F.lit(x) for x in plane]), lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v)
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p).cast("long")).otherwise(F.lit(0).cast("long"))
    return df.withColumn("bucket", bucket)


def lsh_topk(queries: DataFrame, data: DataFrame, k: int,
             q_id: str = "vec_id", q_vec: str = "embedding",
             d_id: str = "vec_id", d_vec: str = "embedding",
             num_planes: int = 6, dim: int = 64) -> DataFrame:
    """Approximate top-k: exact cosine, but only within matching LSH buckets.
    Trades recall for a |data|/2^planes candidate reduction — the scale path
    when the data side no longer fits a broadcast-crossjoin budget."""
    qb = hyperplane_buckets(
        queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"),
                       vec_norm(F.col(q_vec)).alias("_qn")),
        "_qv", num_planes, dim)
    db = hyperplane_buckets(
        data.select(F.col(d_id).alias("data_id"), F.col(d_vec).alias("_dv"),
                    vec_norm(F.col(d_vec)).alias("_dn")),
        "_dv", num_planes, dim)
    scored = (
        db.join(F.broadcast(qb), "bucket")
        .withColumn("cosine", cosine_sim_prenorm(F.col("_dv"), F.col("_qv"),
                                                 F.col("_dn"), F.col("_qn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("data_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "data_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def ivf_assign(df: DataFrame, vec_col: str, centroids: list,
               out_col: str = "cell") -> DataFrame:
    """Assign each vector to its nearest centroid (coarse quantization).
    ``centroids``: list of plain python float lists, broadcast as literals —
    native expressions only, one narrow pass.  At 100 TB the centroid list
    (hundreds of cells) stays tiny next to the data it partitions."""
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))

    def dist2(c):
        return F.aggregate(
            F.zip_with(vd, F.array(*[F.lit(x) for x in c]),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v)

    best = F.lit(0)
    best_d = dist2(centroids[0])
    for i, c in enumerate(centroids[1:], start=1):
        d = dist2(c)
        best = F.when(d < best_d, F.lit(i)).otherwise(best)
        best_d = F.least(best_d, d)
    return df.withColumn(out_col, best)


def train_centroids(df: DataFrame, vec_col: str, num_cells: int = 16,
                    iters: int = 3, sample_fraction: float = 0.1) -> list:
    """Distributed k-means for the IVF coarse quantizer: Lloyd iterations as
    native groupBy/avg over the assignment column.  Runs on a Bernoulli
    sample (deterministic seed 42, so the quantizer is reproducible) capped
    at 10k rows — the quantizer needs corpus *shape*; a storage-order prefix
    (``limit``) would bias it toward whatever the first files contain."""
    # the sample is read by the seed collect plus one assignment+average
    # job PER Lloyd iteration — materialize the <=10k rows once (lazy
    # truncate_lineage) instead of re-running the corpus scan+sample per
    # round (round 12: the same re-compute class as the connected-
    # components edge list; also pins the sample, making every iteration
    # see identical rows even under non-deterministic sampling splits)
    sample = (df.select(F.col(vec_col).alias("_v"))
              .sample(fraction=min(max(sample_fraction, 0.0), 1.0), seed=42)
              .limit(10_000).transform(truncate_lineage))
    seeds = [list(map(float, r["_v"]))
             for r in sample.limit(num_cells).collect()]
    if len(seeds) < num_cells:
        # sample smaller than the codebook (tiny corpus) — train on all rows
        sample = df.select(F.col(vec_col).alias("_v")).limit(10_000) \
            .transform(truncate_lineage)
        seeds = [list(map(float, r["_v"]))
                 for r in sample.limit(num_cells).collect()]
    cur = seeds
    dim = len(seeds[0])
    for _ in range(iters):
        assigned = ivf_assign(sample, "_v", cur, "cell")
        sums = (
            assigned.select(
                "cell", *[F.col("_v")[i].cast("double").alias(f"d{i}")
                          for i in range(dim)])
            .groupBy("cell")
            .agg(*[F.avg(f"d{i}").alias(f"d{i}") for i in range(dim)])
            .collect())
        new = list(cur)
        for r in sums:
            new[r["cell"]] = [r[f"d{i}"] for i in range(dim)]
        cur = new
    return cur


def ivf_topk(queries: DataFrame, data: DataFrame, k: int,
             q_id: str = "vec_id", q_vec: str = "embedding",
             d_id: str = "vec_id", d_vec: str = "embedding",
             num_cells: int = 16, nprobe: int = 4,
             centroids: list | None = None) -> DataFrame:
    """IVF ANN: exact cosine within the nprobe nearest inverted-file cells of
    each query.  The data side is scanned once to build cell assignments; the
    candidate set shrinks ~num_cells/nprobe-fold vs brute force.  Cells are a
    partitioning column — at scale, write the corpus bucketed by cell and the
    probe becomes a partition-pruned scan.

    ``centroids``: optional fixed codebook (list of float lists).  Default is
    k-means training (``train_centroids``); a caller-supplied codebook makes
    the whole result deterministic — codebook choice only shifts recall, the
    probe machinery is identical."""
    cents = centroids if centroids is not None else train_centroids(
        data.select(F.col(d_vec).alias(d_vec)), d_vec, num_cells)
    d = ivf_assign(
        data.select(F.col(d_id).alias("data_id"), F.col(d_vec).alias("_dv"),
                    vec_norm(F.col(d_vec)).alias("_dn")),
        "_dv", cents, "cell")

    # per-query nprobe nearest cells, computed driver-side on the tiny
    # centroid list is equivalent to exploding a literal map; do it with the
    # same native expressions to keep the query side distributed
    q = queries.select(F.col(q_id).alias("query_id"), F.col(q_vec).alias("_qv"),
                       vec_norm(F.col(q_vec)).alias("_qn"))
    qd = F.transform(F.col("_qv"), lambda v: v.cast("double"))
    cell_dists = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(qd, F.array(*[F.lit(x) for x in c]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v).alias("d"),
            F.lit(i).alias("cell"))
        for i, c in enumerate(cents)])
    probes = F.slice(F.array_sort(cell_dists), 1, nprobe)
    qp = q.withColumn("cell", F.explode(
        F.transform(probes, lambda s: s["cell"])))

    scored = (
        d.join(F.broadcast(qp), "cell")
        .withColumn("cosine", cosine_sim_prenorm(F.col("_dv"), F.col("_qv"),
                                                 F.col("_dn"), F.col("_qn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("data_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "data_id", "cosine", "rank")
    )


def knn_classify(df: DataFrame, id_col: str, vec_col: str, label_col: str,
                 k: int = 5, query_pred=None) -> DataFrame:
    """k-nearest-neighbor majority-vote label prediction — the standard
    embedding-space sanity check of a labeled corpus (does the embedding
    separate the classes?).  ``query_pred`` (a boolean Column) selects the
    query rows; everything else is the reference set.

    Output: (query_id, pred_label, n_votes, top_cosine) per query row.

    Scale shape: identical to `cosine_topk` — the (small) query side is
    broadcast, scoring is native zip_with/aggregate inside whole-stage
    codegen, the per-query top-k is one window on the broadcast-join
    output, and the majority vote is a second tiny aggregation over
    |queries|×k rows.  Ties break deterministically: higher vote count,
    then higher best-cosine within the tied label, then smaller label."""
    if query_pred is None:
        query_pred = F.col(id_col) < 20
    q = df.filter(query_pred).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        vec_norm(F.col(vec_col)).alias("_qn"))
    d = df.filter(~query_pred).select(
        F.col(id_col).alias("data_id"), F.col(vec_col).alias("_dv"),
        F.col(label_col).alias("_lbl"),
        vec_norm(F.col(vec_col)).alias("_dn"))
    scored = (d.crossJoin(F.broadcast(q))
              .withColumn("cosine",
                          cosine_sim_prenorm(F.col("_dv"), F.col("_qv"),
                                             F.col("_dn"), F.col("_qn"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("data_id").asc())
    top = scored.withColumn("rank", F.row_number().over(w)) \
                .filter(F.col("rank") <= k)
    votes = top.groupBy("query_id", F.col("_lbl").alias("pred_label")).agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.max("cosine").alias("_best"))
    wv = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("_best").desc(),
        F.col("pred_label").asc())
    return (votes.withColumn("_r", F.row_number().over(wv))
            .filter(F.col("_r") == 1)
            .select("query_id", "pred_label", "n_votes",
                    F.round("_best", 6).alias("top_cosine")))


def label_centroids(df: DataFrame, vec_col: str, label_col: str,
                    dim: int) -> DataFrame:
    """(label, centroid array<double>) — per-label mean vector.

    The transpose trick: posexplode to (label, pos, component) rows, ONE
    groupBy (label, pos) with map-side partial aggregation (the shuffle
    carries |labels|×dim partial sums per map task, never the vectors),
    then re-assemble the per-label array from the dim rows.  No collect,
    no driver-side state — the centroid table stays a DataFrame small
    enough to broadcast-join downstream."""
    comp = df.select(F.col(label_col).alias("label"),
                     F.posexplode(F.transform(F.col(vec_col),
                                              lambda v: v.cast("double")))
                     .alias("pos", "v"))
    cent = comp.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (cent.groupBy("label")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("_pc"))
            .select("label", F.transform(F.col("_pc"),
                                         lambda s: s["c"]).alias("centroid")))


def label_centroid_outliers(df: DataFrame, id_col: str, vec_col: str,
                            label_col: str, dim: int,
                            top_k: int = 5) -> DataFrame:
    """Top-``top_k`` per-label outliers by Euclidean distance to the label
    centroid — the mislabeled-example / embedding-drift detector a corpus
    QA pass runs per class.

    Output: (label, id, dist, rank).

    Scale shape: `label_centroids` is one transpose aggregation; the
    centroid table (|labels| rows) broadcast-joins back onto the data, the
    distance is a native index-ordered zip_with/aggregate (deterministic
    summation order — the DuckDB oracle's list arithmetic matches), and
    the per-label top-k is one window partitioned by label."""
    cents = label_centroids(df, vec_col, label_col, dim)
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    dist = F.sqrt(F.aggregate(
        F.zip_with(vd, F.col("centroid"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v))
    scored = (df.select(F.col(id_col), F.col(vec_col),
                        F.col(label_col).alias("label"))
              .join(F.broadcast(cents), "label")
              .withColumn("dist", dist))
    w = Window.partitionBy("label").orderBy(
        F.col("dist").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("label", F.col(id_col),
                    F.round("dist", 6).alias("dist"), "rank"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-compressed scale path
# ---------------------------------------------------------------------------

def semdedup_drop(df: DataFrame, id_col: str, vec_col: str, centroids: list,
                  threshold: float = 0.95) -> DataFrame:
    """SemDeDup (semantic dedup, Abbas et al. 2023): coarse quantization
    bounds the pairwise work — vectors are assigned to k-means cells, and
    only WITHIN a cell are pairwise cosines computed; any vector with a
    near-duplicate (cosine >= threshold) of smaller id is dropped.
    Returns one row per dropped id: (id, cell, dup_of, cosine) with
    ``dup_of`` the smallest qualifying partner and ``cosine`` the cosine
    to THAT partner (one consistent pair, via a struct-min — not the max
    over all partners, which could describe a different vector).

    Chained-drop semantics (documented, intentional): drops are decided
    per-pair, so in a chain 1~2~3 both 2 and 3 are dropped even though
    3's representative (2) is itself dropped — i.e. the survivor set is
    {min id per connected near-dup component within a cell}, which is
    MORE aggressive than SemDeDup's one-representative-per-cluster
    described in Abbas et al. 2023 §3 but is the standard greedy
    keep-lowest-id variant and needs no iterative connected components.

    Scale shape: the cell equi-join replaces the all-pairs cross join —
    quadratic work is bounded per cell (cell count is the knob; cap or
    re-split oversized cells at 100 TB), one shuffle on the cell key."""
    asn = ivf_assign(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                  vec_norm(F.col(vec_col)).alias("_n")),
        "vec", centroids)
    a = asn.select("cell", F.col("id").alias("id_a"),
                   F.col("vec").alias("_va"), F.col("_n").alias("_na"))
    b = asn.select("cell", F.col("id").alias("id_b"),
                   F.col("vec").alias("_vb"), F.col("_n").alias("_nb"))
    pairs = (a.join(b, "cell").filter(F.col("id_a") < F.col("id_b"))
             .withColumn("cosine",
                         cosine_sim_prenorm(F.col("_va"), F.col("_vb"),
                                            F.col("_na"), F.col("_nb")))
             .filter(F.col("cosine") >= F.lit(threshold)))
    return (pairs.groupBy("cell", F.col("id_b").alias("id"))
            .agg(F.min(F.struct("id_a", "cosine")).alias("m"))
            .select("id", "cell", F.col("m.id_a").alias("dup_of"),
                    F.col("m.cosine").alias("cosine")))


def _sub_d2(vec_col: Column, centroid: list, offset: int) -> Column:
    """Squared L2 distance between a sub-vector slice of ``vec_col``
    (1-based ``offset``, len(centroid) wide) and a literal centroid —
    index-ordered fold, so both engines sum the same doubles in the same
    order."""
    sub = F.slice(F.transform(vec_col, lambda v: v.cast("double")),
                  offset, len(centroid))
    return F.aggregate(
        F.zip_with(sub, F.array(*[F.lit(float(x)) for x in centroid]),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v)


def pq_encode(df: DataFrame, vec_col: str, codebooks: list,
              prefix: str = "code_") -> DataFrame:
    """Product-quantization encoding: split each vector into
    ``m = len(codebooks)`` contiguous sub-vectors and store, per sub-space,
    the index of the nearest codebook centroid (ties → lowest code).

    ``codebooks[s]`` is a list of ``ks`` centroid sub-vectors (plain float
    lists, broadcast as literals).  Adds ``code_0..code_{m-1}`` int columns
    — the 100 TB point of PQ: the corpus is stored/scored as m small codes
    (m bytes/vector at ks ≤ 256) instead of dim floats, one narrow
    codegen'd pass, no shuffle."""
    out = df
    for s, cb in enumerate(codebooks):
        sub_dim = len(cb[0])
        offset = s * sub_dim + 1
        best = F.lit(0)
        best_d = _sub_d2(F.col(vec_col), cb[0], offset)
        for j, c in enumerate(cb[1:], start=1):
            d = _sub_d2(F.col(vec_col), c, offset)
            best = F.when(d < best_d, F.lit(j)).otherwise(best)
            best_d = F.least(best_d, d)
        out = out.withColumn(f"{prefix}{s}", best)
    return out


def pq_adc_topk(queries: DataFrame, data: DataFrame, k: int,
                codebooks: list,
                q_id: str = "vec_id", q_vec: str = "embedding",
                d_id: str = "vec_id", d_vec: str = "embedding") -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: approximate squared L2 between a
    query and a data vector = sum over sub-spaces of d2(query sub-vector,
    centroid of the data vector's stored code).

    Scale shape: the data side is its PQ codes only (encoded once, narrow);
    each query row precomputes its per-(sub, code) distance lookup table
    BEFORE the broadcast join — ks·m doubles per query, built once per
    query row, so the per-candidate work after the join is m
    ``element_at`` lookups + a sum, not a dim-wide dot product.  One
    window per query for the top-k, same as every ANN path here.

    Output: (query_id, data_id, adc_dist, rank) — rank by ADC distance
    ascending, ties by data_id."""
    m = len(codebooks)
    enc = pq_encode(
        data.select(F.col(d_id).alias("data_id"), F.col(d_vec).alias("_dv")),
        "_dv", codebooks).drop("_dv")
    q = queries.select(F.col(q_id).alias("query_id"),
                       F.col(q_vec).alias("_qv"))
    for s, cb in enumerate(codebooks):
        sub_dim = len(cb[0])
        offset = s * sub_dim + 1
        q = q.withColumn(f"_lut{s}", F.array(
            *[_sub_d2(F.col("_qv"), c, offset) for c in cb]))
    q = q.drop("_qv")
    adc = sum(F.element_at(F.col(f"_lut{s}"), F.col(f"code_{s}") + 1)
              for s in range(m))
    scored = (enc.join(F.broadcast(q))
              .withColumn("adc_dist", adc))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("data_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "data_id", "adc_dist", "rank"))


def ivfpq_adc_topk(queries: DataFrame, data: DataFrame, k: int,
                   centroids: list, codebooks: list, nprobe: int = 4,
                   q_id: str = "vec_id", q_vec: str = "embedding",
                   d_id: str = "vec_id", d_vec: str = "embedding") -> DataFrame:
    """IVF + PQ — the full FAISS-style ``IVFx,PQy`` architecture: a coarse
    quantizer prunes the corpus to the ``nprobe`` nearest inverted-file
    cells, and candidates inside those cells are scored by PQ asymmetric
    distance (per-query LUT, m array lookups per pair).

    Scale shape: the data side is ONE narrow codegen'd pass producing
    (cell, m codes) per vector — at 100 TB, write the corpus bucketed by
    cell and the probe becomes a partition-pruned scan of m-byte codes;
    neither raw vectors nor any shuffle of them appear after encoding.
    The query side (tiny) carries its probe list and LUTs through a
    broadcast equi-join on cell.

    Output: (query_id, data_id, adc_dist, rank) — ADC ascending, ties by
    data_id, top-k per query."""
    m = len(codebooks)
    d = ivf_assign(
        data.select(F.col(d_id).alias("data_id"), F.col(d_vec).alias("_dv")),
        "_dv", centroids, "cell")
    enc = pq_encode(d, "_dv", codebooks).drop("_dv")

    q = queries.select(F.col(q_id).alias("query_id"),
                       F.col(q_vec).alias("_qv"))
    qd = F.transform(F.col("_qv"), lambda v: v.cast("double"))
    cell_dists = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with(qd, F.array(*[F.lit(float(x)) for x in c]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, v: acc + v).alias("d"),
            F.lit(i).alias("cell"))
        for i, c in enumerate(centroids)])
    probes = F.slice(F.array_sort(cell_dists), 1, nprobe)
    for s, cb in enumerate(codebooks):
        sub_dim = len(cb[0])
        offset = s * sub_dim + 1
        q = q.withColumn(f"_lut{s}", F.array(
            *[_sub_d2(F.col("_qv"), c, offset) for c in cb]))
    qp = (q.withColumn("cell", F.explode(
            F.transform(probes, lambda s: s["cell"])))
          .drop("_qv"))

    adc = sum(F.element_at(F.col(f"_lut{s}"), F.col(f"code_{s}") + 1)
              for s in range(m))
    scored = (enc.join(F.broadcast(qp), "cell")
              .withColumn("adc_dist", adc))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("data_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "data_id", "adc_dist", "rank"))

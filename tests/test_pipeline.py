"""Tier-E pipeline operator tests over the driver's documents/embeddings
tables, including Spark↔DuckDB portability checks for the hash recipe that
the oracle contract depends on."""

import duckdb
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sedona_iceberg_extension_spark.pipeline import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_portable_hash_matches_duckdb(spark):
    df = spark.createDataFrame([("hello",), ("world or not",)], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", text.portable_hash64(F.col("s"), "x").alias("h")).collect()}
    con = duckdb.connect()
    for s, h in got.items():
        want = con.execute(
            "SELECT ('0x' || substr(md5(? || '#x'),1,15))::BIGINT", [s]).fetchone()[0]
        assert h == want


def test_token_count_native(spark, docs):
    out = docs.select("doc_id", text.token_count(F.col("text")).alias("n"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    row = out.orderBy("doc_id").first()
    txt = docs.orderBy("doc_id").first()["text"]
    assert row["n"] == len(txt.split())


def test_quality_and_ratios(spark, docs):
    out = docs.select(
        "doc_id",
        text.stopword_ratio(F.col("text")).alias("sw"),
        text.punct_ratio(F.col("text")).alias("p"),
    ).collect()
    assert all(0.0 <= r["sw"] <= 1.0 for r in out)
    assert all(0.0 <= r["p"] <= 1.0 for r in out)


def test_lang_id_deterministic(spark, docs):
    out1 = {r["doc_id"]: r["l"] for r in
            docs.select("doc_id", text.lang_id(F.col("text")).alias("l")).collect()}
    out2 = {r["doc_id"]: r["l"] for r in
            docs.select("doc_id", text.lang_id(F.col("text")).alias("l")).collect()}
    assert out1 == out2
    assert set(out1.values()) <= {"de", "en", "es", "fr", "und"}


def test_char_entropy_drops_empty_docs(spark):
    """Spark's sequence(1, 0) yields DESCENDING [1, 0] — an empty doc would
    emit two ''-char rows and entropy 0.0 while the DuckDB oracle's
    generate_series(1, 0) omits the doc entirely; both must drop it."""
    df = spark.createDataFrame([(1, "aabb"), (2, "")], "id long, t string")
    out = text.char_entropy(df, "id", "t").collect()
    assert {r["id"] for r in out} == {1}
    import math
    assert out[0]["entropy"] == pytest.approx(math.log(2))


def test_scrub_pii_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b-c_9@ex-ample.co.uk and x@y.io or call 555-0199 now"),
         (2, "no pii here"),
         (3, "edge 555-123-4567 and 12-34 not a phone")],
        "id long, t string")
    out = {r["id"]: r for r in
           text.scrub_pii(df, "id", "t").collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_phones"] == 1
    assert out[1]["text_clean"] == \
        "mail <EMAIL> and <EMAIL> or call <PHONE> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["text_clean"] == "no pii here"
    assert out[3]["n_phones"] == 1 and "<PHONE>" in out[3]["text_clean"]
    assert "12-34" in out[3]["text_clean"]
    # native plan — no Python in the scrub path
    plan = text.scrub_pii(df, "id", "t") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "ccc"), (5, "bbb")], "id long, t string")
    kept = sorted(r["id"] for r in dedup.exact_dedup(df, "id", "t").collect())
    assert kept == [1, 2, 4]
    groups = dedup.exact_dedup_groups(df, "id", "t")
    assert groups.filter(F.col("n_copies") > 1).count() == 2


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark queries and shuffles here"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, t string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_cap_bounds_adversarial_mega_bucket(spark):
    """10k copies of one near-dup family (templated text, one varying token
    — NOT exact dups, so exact dedup can't collapse them): uncapped this is
    a single 10k-id collect_list array and ~50M exploded pairs; with
    max_bucket the family's buckets are dropped BEFORE the collect and the
    query completes with only the honest small-bucket pairs."""
    rows = [(i, f"the shared boilerplate template text body unique{i} tail") for i in range(10_000)]
    rows += [(20_001, "entirely different words apple banana cherry date elderberry fig"),
             (20_002, "entirely different words apple banana cherry date elderberry grape")]
    df = spark.createDataFrame(rows, "id long, t string")
    pairs = dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=16, bands=8,
                                    max_bucket=64)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # the mega-family never explodes into pairs…
    assert all(a > 10_000 for a, _ in got), f"mega-bucket pairs leaked: {len(got)}"
    # …but genuinely small buckets still pair up
    assert (20_001, 20_002) in got
    # and the drop is surfaced, not silent
    banded = dedup.minhash_banded(df, "id", "t", num_hashes=16, bands=8)
    over = dedup.oversize_buckets(
        banded, ["band"] + dedup.band_key_cols(16, 8), 64)
    assert over.count() >= 1
    assert over.agg(F.max("n_ids")).first()[0] >= 1_000


def test_lsh_cap_single_exchange_plan(spark):
    """The window-count cap must not add a second shuffle: the window's
    hash partitioning on (band, band_hash) is exactly what the collect_list
    groupBy needs."""
    df = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d f")], "id long, t string")
    capped = dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=8, bands=4,
                                     max_bucket=64)
    uncapped = dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=8, bands=4)
    def n_exchanges(q):
        plan = q._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")
    assert n_exchanges(capped) == n_exchanges(uncapped)


def test_minhash_lsh_pairs_matches_capped_bucket_reference(spark, sf_dir):
    """The single-statement minhash_lsh_pairs must emit exactly the pairs
    of the bucket-local operator composition `_capped_bucket_pairs` over
    `minhash_banded` (live for embedding_dup_pairs), capped and uncapped,
    on the real documents table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    keys = ["band"] + dedup.band_key_cols(8, 4)
    banded = dedup.minhash_banded(docs, "doc_id", "text", num_hashes=8,
                                  bands=4)
    for mb in (None, 64):
        ref = dedup._capped_bucket_pairs(banded, "doc_id", keys, mb)
        got = dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=8,
                                      bands=4, max_bucket=mb)
        want = sorted((r["id_a"], r["id_b"]) for r in ref.collect())
        assert want and sorted(
            (r["id_a"], r["id_b"]) for r in got.collect()) == want
    # catalog hygiene: DataFrame named-args leave no temp views behind
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("_pyspark_")]


def test_minhash_lsh_log_dropped_counts_oversize_buckets(spark, caplog):
    """``log_dropped=True`` logs the number of buckets over the cap (the
    `oversize_buckets` count) and still returns the statement's pairs."""
    rows = [(i, "identical boundary bucket text for every clone row")
            for i in (1, 2, 3)] + [(4, "a wholly different document")]
    df = spark.createDataFrame(rows, "id long, t string")
    with caplog.at_level("WARNING", logger=dedup.__name__):
        got = dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=8, bands=4,
                                      max_bucket=2, log_dropped=True)
    assert got.collect() == []
    assert "dropped 4 buckets over max_bucket=2" in caplog.text


def test_minhash_stmt_null_ids_at_cap_boundary(spark):
    """The statement's window bucket count must EXCLUDE null-id rows
    (minhash_signatures_wide filters them too), or a bucket sitting at the
    max_bucket boundary is dropped.  Corpus: 3 same-text docs (one bucket
    of 3 per band) plus 2 null-id clones — with max_bucket=3 a count that
    includes the nulls sees 5 and drops the bucket."""
    rows = [(i, "identical boundary bucket text for every clone row")
            for i in (1, 2, 3)] + [(None, "identical boundary bucket text "
                                          "for every clone row")] * 2
    df = spark.createDataFrame(rows, "id long, t string")
    got = dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=8, bands=4,
                                  max_bucket=3)
    assert sorted((r["id_a"], r["id_b"]) for r in got.collect()) == \
        [(1, 2), (1, 3), (2, 3)]


def test_cosine_topk_matches_bruteforce_reference(spark, sf_dir):
    """cosine_topk against a plain-Python brute force over the same
    vectors (double fold in index order, ties broken by data id): ids and
    ranks exact, cosine within 1e-12; the broadcast hint is honored."""
    import math

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    got = similarity.cosine_topk(q, emb, k=10)
    assert got.columns == ["query_id", "data_id", "cosine", "rank"]
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}

    def norm(v):
        return math.sqrt(sum(x * x for x in v))

    want = []
    for qid in sorted(i for i in vecs if i < 5):
        qv = vecs[qid]
        scored = sorted(
            ((-sum(a * b for a, b in zip(dv, qv)) / (norm(dv) * norm(qv)),
              did) for did, dv in vecs.items()))
        want += [(qid, did, -c, rank)
                 for rank, (c, did) in enumerate(scored[:10], start=1)]
    rows = sorted(tuple(r) for r in got.collect())
    assert [(r[0], r[1], r[3]) for r in rows] == \
        [(w[0], w[1], w[3]) for w in sorted(want)]
    assert all(abs(r[2] - w[2]) <= 1e-12 for r, w in zip(rows, sorted(want)))
    assert "Broadcast" in got._jdf.queryExecution().executedPlan().toString()


def test_embedding_dup_cap_drops_mega_bucket(spark):
    """Same cap contract on the embedding LSH path: a 3k-clone vector family
    is filtered before the collect; distinct small-bucket pairs survive."""
    import math
    base = [math.sin(i + 1) for i in range(8)]
    rows = [(i, [x + 1e-9 * i for x in base]) for i in range(3_000)]
    other = [math.cos(i + 1) for i in range(8)]
    rows += [(9_001, other), (9_002, [x + 1e-6 for x in other])]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = dedup.embedding_dup_pairs(df, "id", "v", threshold=0.99,
                                    num_bands=4, planes_per_band=4, dim=8,
                                    max_bucket=64)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert all(a > 3_000 for a, _ in got)
    assert (9_001, 9_002) in got


def test_simhash_cap_drops_mega_bucket(spark):
    """Identical texts share every band value: with max_bucket below the
    family size, the family leaves the candidate join entirely; honest
    small buckets still pair."""
    rows = [(i, "the very same boilerplate text body repeated") for i in range(2_000)]
    base = " ".join(f"tok{i}" for i in range(40))
    rows += [(9_001, base), (9_002, base.replace("tok7", "tok999"))]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.simhash_pairs(df, "id", "t", bits=60, max_distance=3,
                               max_bucket=64).collect()}
    assert all(a > 2_000 for a, _ in got)
    assert (9_001, 9_002) in got


def test_jaccard_pairs_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")], "id long, t string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.jaccard_pairs(df, "id", "t", shingle_n=3, threshold=0.1).collect()}
    # shingle sets of 1 and 2 share {a b c, b c d, c d e} of 4+4 distinct → 3/5
    assert got[(1, 2)] == pytest.approx(0.6)
    assert (1, 3) not in got


def test_simhash_pairs(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    near = base.replace("tok7", "tok999")
    far = " ".join(f"other{i}" for i in range(40))
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, t string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.simhash_pairs(df, "id", "t", bits=32, max_distance=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_embedding_dup_pairs_and_oracle(spark, embs):
    sub = embs.limit(60)
    got = dedup.embedding_dup_pairs(sub, "vec_id", "embedding", threshold=0.8)
    rows = got.collect()
    con = duckdb.connect()
    con.execute("CREATE VIEW e AS SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'")
    want = con.execute("""
        SELECT a.vec_id, b.vec_id,
               list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) c
        FROM (SELECT * FROM e WHERE vec_id < 60) a, (SELECT * FROM e WHERE vec_id < 60) b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.8
    """).fetchall()
    got_set = {(r["id_a"], r["id_b"]) for r in rows}
    want_set = {(a, b) for a, b, _ in want}
    assert got_set == want_set
    # cosine values agree to 1e-9 (same accumulation order, double precision)
    want_map = {(a, b): c for a, b, c in want}
    for r in rows:
        assert r["cosine"] == pytest.approx(want_map[(r["id_a"], r["id_b"])], abs=1e-9)


def test_embedding_dup_pairs_lsh_recall_on_planted_dups(spark):
    """Plant near-duplicate vectors (tiny perturbations of a base vector) in a
    sea of unrelated ones: banded LSH must recover every planted pair found by
    the exact all-pairs form — candidate generation loses no high-cosine pair."""
    import random
    rng = random.Random(7)
    rows = []
    for g in range(5):  # 5 groups of 3 near-identical vectors
        base = [rng.gauss(0, 1) for _ in range(64)]
        for j in range(3):
            vec = [x + rng.gauss(0, 0.01) for x in base]
            rows.append((g * 10 + j, vec))
    for i in range(100):  # unrelated noise vectors
        rows.append((1000 + i, [rng.gauss(0, 1) for _ in range(64)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["id_a"], r["id_b"]) for r in dedup.embedding_dup_pairs_exact(
        df, "vec_id", "embedding", threshold=0.95).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in dedup.embedding_dup_pairs(
        df, "vec_id", "embedding", threshold=0.95).collect()}
    assert len(exact) >= 15  # the 5 planted triangles
    assert lsh == exact


def test_cosine_topk_vs_bruteforce_duckdb(spark, embs):
    queries = embs.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(queries, embs, k=5)
    got = [(r["query_id"], r["data_id"], r["rank"]) for r in
           out.orderBy("query_id", "rank").collect()]
    con = duckdb.connect()
    con.execute("CREATE VIEW e AS SELECT * FROM '/root/testdata/sf0.001/embeddings.parquet'")
    want = con.execute("""
        SELECT query_id, data_id, rank FROM (
          SELECT q.vec_id query_id, d.vec_id data_id,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   list_cosine_similarity(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                   d.vec_id ASC) rank
          FROM (SELECT * FROM e WHERE vec_id < 3) q, e d)
        WHERE rank <= 5 ORDER BY query_id, rank
    """).fetchall()
    assert got == want


def test_lsh_topk_runs_and_recall(spark, embs):
    queries = embs.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(queries, embs, k=1).filter(F.col("rank") == 1)
    approx = similarity.lsh_topk(queries, embs, k=1, num_planes=4).filter(F.col("rank") == 1)
    # rank-1 of exact is the vector itself (cosine 1.0) — LSH must find it
    # (identical vectors share every bucket)
    e = {(r["query_id"], r["data_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["data_id"]) for r in approx.collect()}
    assert e == a


def test_multimodal_plumbing(spark):
    from sedona_iceberg_extension_spark.pipeline import multimodal as mm
    df = spark.createDataFrame(
        [(1, bytearray(b"\x01\x02\x03\x04")), (2, bytearray(b"\xff\x00"))],
        "id long, payload binary")
    with_meta = mm.attach_media_metadata(df, "payload", "image", "image/png")
    meta = {r["id"]: r["media_meta"] for r in with_meta.collect()}
    assert meta[1]["n_bytes"] == 4 and meta[1]["modality"] == "image"
    feats = {r["id"]: r["feature"] for r in
             mm.extract_features(with_meta, "id", "payload").collect()}
    assert feats[1] == pytest.approx(2.5)
    # real-decode path declares itself unavailable loudly
    import pytest as _pt
    with _pt.raises(Exception):
        mm.extract_features(with_meta, "id", "payload", fake=False).collect()


def test_ivf_topk_runs_and_recall(spark, embs):
    queries = embs.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(queries, embs, k=1).filter(F.col("rank") == 1)
    approx = similarity.ivf_topk(queries, embs, k=1, num_cells=4, nprobe=2)\
        .filter(F.col("rank") == 1)
    # the vector itself (cosine 1.0) lives in the query's own nearest cell —
    # IVF with nprobe>=1 must find it
    e = {(r["query_id"], r["data_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["data_id"]) for r in approx.collect()}
    assert e == a


def test_ivf_assign_partitions_all_rows(spark, embs):
    cents = similarity.train_centroids(embs, "embedding", num_cells=4, iters=1)
    assert len(cents) == 4
    assigned = similarity.ivf_assign(embs, "embedding", cents)
    counts = {r["cell"]: r["n"] for r in
              assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == embs.count()  # total partition, no loss


def test_chunk_documents_windows(spark):
    # 10 tokens, size 4, stride 3 -> starts 0,3,6,9: lengths 4,4,4,1
    toks = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, toks)], "doc_id long, text string")
    rows = text.chunk_documents(df, size=4, stride=3) \
        .orderBy("chunk_id").collect()
    assert [r["n_tokens"] for r in rows] == [4, 4, 4, 1]
    assert rows[0]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[1]["chunk_text"] == "t3 t4 t5 t6"
    assert rows[3]["chunk_text"] == "t9"
    # every token covered, overlap of 1 between consecutive windows
    assert rows[2]["chunk_text"].split()[-1] == rows[3]["chunk_text"].split()[0]


def test_chunk_documents_short_doc(spark):
    df = spark.createDataFrame([(1, "only three tokens")],
                               "doc_id long, text string")
    rows = text.chunk_documents(df, size=64, stride=48).collect()
    assert len(rows) == 1
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["chunk_text"] == "only three tokens"


def test_chunk_documents_validation():
    with pytest.raises(ValueError):
        text.chunk_documents(None, size=4, stride=5)


def test_hash_sample_deterministic(spark, docs):
    from sedona_iceberg_extension_spark.pipeline import sample
    a = {r["doc_id"] for r in sample.hash_sample(docs, pct=20).select("doc_id").collect()}
    b = {r["doc_id"] for r in sample.hash_sample(docs, pct=20).select("doc_id").collect()}
    assert a == b                      # pure function of the data
    n = docs.count()
    assert 0.10 * n < len(a) < 0.30 * n    # ~20%
    # monotone: a 10% sample is a subset of the 20% sample (same hash order)
    c = {r["doc_id"] for r in sample.hash_sample(docs, pct=10).select("doc_id").collect()}
    assert c <= a


def test_stratified_sample_exact_counts(spark, docs):
    from sedona_iceberg_extension_spark.pipeline import sample
    out = sample.stratified_sample(docs, "lang", 5)
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n in per.items():
        assert n == min(5, sizes[lang])


def test_top_tokens_excludes_stopwords(spark, docs):
    toks = [r["token"] for r in text.top_tokens(docs, k=10).collect()]
    assert len(toks) == 10
    assert not set(toks) & set(text._STOPWORDS)


# ---------------------------------------------------------------------------
# connected components (duplicate clusters)
# ---------------------------------------------------------------------------

def _union_find_expected(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_connected_components_matches_union_find(spark):
    from sedona_iceberg_extension_spark.pipeline import components as cc
    edges = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in cc.connected_components(df).collect()}
    assert got == _union_find_expected(edges)


def test_connected_components_path_graph_multi_round(spark):
    # diameter 7 — forces several propagation rounds before the fixpoint
    from sedona_iceberg_extension_spark.pipeline import components as cc
    edges = [(i, i + 1) for i in range(1, 8)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in cc.connected_components(df).collect()}
    assert got == {i: 1 for i in range(1, 9)}


def test_keep_canonical(spark):
    from sedona_iceberg_extension_spark.pipeline import components as cc
    edges = [(1, 2), (2, 3), (5, 6)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    comp = cc.connected_components(df)
    keep = {r["component"]: (r["keep_id"], r["n_dropped"])
            for r in cc.keep_canonical(comp).collect()}
    assert keep == {1: (1, 2), 5: (5, 1)}


def test_tfidf_top_terms_hand_computed(spark):
    import math
    from sedona_iceberg_extension_spark.pipeline import text as T
    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id long, text string")
    out = {(r["doc_id"], r["term"]): (r["tf"], r["tfidf"])
           for r in T.tfidf_top_terms(df, "doc_id", "text", k=2).collect()}
    # doc 1: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    assert out[(1, "apple")][0] == 2
    assert abs(out[(1, "apple")][1] - round(2 * math.log(3.0), 6)) < 1e-9
    assert abs(out[(1, "banana")][1] - round(math.log(1.5), 6)) < 1e-9
    # doc 3: unique term
    assert abs(out[(3, "durian")][1] - round(math.log(3.0), 6)) < 1e-9


def test_dbscan_hand_computed(spark):
    """5 points: a 3-chain cluster (each mid point has 3 neighbors incl
    self), one border hanging off it, one isolated noise point."""
    from sedona_iceberg_extension_spark.functions import api as ST
    from sedona_iceberg_extension_spark.pipeline.clustering import dbscan

    rows = [(1, 0.0, 0.0), (2, 1.0, 0.0), (3, 2.0, 0.0),
            (4, 3.5, 0.0),    # within 2.0 of point 3 only -> border
            (9, 50.0, 50.0)]  # isolated -> noise
    pts = ST.with_point_geometry(
        spark.createDataFrame(rows, "id long, x double, y double"),
        F.col("x"), F.col("y"))
    out = {r["id"]: (r["role"], r["cluster"])
           for r in dbscan(pts, "id", eps=2.0, min_pts=3).collect()}
    # 1,2,3 each have >= 3 neighbors (self + chain) -> core, one cluster
    assert out[1] == ("core", 1)
    assert out[2] == ("core", 1)
    assert out[3] == ("core", 1)
    assert out[4] == ("border", 1)
    assert out[9] == ("noise", None)


def test_corpus_ngrams_hand_computed(spark):
    from sedona_iceberg_extension_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "solo")], "id long, text string")
    out = [(r["ngram"], r["n_occurrences"])
           for r in T.corpus_ngrams(df, "text", n=2, k=10).collect()]
    # "a b": doc1 twice + doc2 once; "b a"/"b c" once; 1-token doc emits none
    assert out[0] == ("a b", 3)
    assert set(out[1:]) == {("b a", 1), ("b c", 1)}


def test_minhash_estimate_pairs_bounds(spark):
    """Identical docs estimate 1.0; the estimate column is always in
    [0, 1] and pairs match the plain LSH candidate set."""
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight nine")]
    df = spark.createDataFrame(rows, "id long, t string")
    est = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in
           dedup.minhash_estimate_pairs(df, "id", "t", num_hashes=8,
                                        bands=4).collect()}
    cand = {(r["id_a"], r["id_b"]) for r in
            dedup.minhash_lsh_pairs(df, "id", "t", num_hashes=8,
                                    bands=4).collect()}
    assert set(est) == cand
    assert est[(1, 2)] == 1.0
    assert all(0.0 <= v <= 1.0 for v in est.values())


def test_minhash_estimate_bucket_local_matches_join_back(spark, sf_dir):
    """Round-12 promotion gate for the bucket-local estimator: pair set
    AND estimate values must be bit-identical to the former join-back
    algebra (reconstructed here from the same public pieces) on the real
    documents table, capped and uncapped."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nh, bands = 8, 4
    for mb in (None, 64):
        wide = dedup.minhash_signatures_wide(docs, "doc_id", "text", nh, 3)
        banded = dedup.minhash_banded(docs, "doc_id", "text", nh, bands, 3)
        pairs = dedup._capped_bucket_pairs(
            banded, "doc_id", ["band"] + dedup.band_key_cols(nh, bands),
            mb, False)
        a = wide.select(F.col("doc_id").alias("id_a"),
                        *[F.col(f"mh_{i}").alias(f"_a{i}") for i in range(nh)])
        b = wide.select(F.col("doc_id").alias("id_b"),
                        *[F.col(f"mh_{i}").alias(f"_b{i}") for i in range(nh)])
        agree = sum(F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
                    for i in range(nh))
        old = (pairs.join(a, "id_a").join(b, "id_b")
               .select("id_a", "id_b",
                       (agree.cast("double") / F.lit(float(nh)))
                       .alias("jaccard_est")))
        new = dedup.minhash_estimate_pairs(docs, "doc_id", "text",
                                           num_hashes=nh, bands=bands,
                                           max_bucket=mb)
        ra = sorted(map(tuple, old.collect()))
        rb = sorted(map(tuple, new.collect()))
        assert ra and ra == rb


def test_jaccard_pairs_matches_bruteforce_random(spark):
    """Randomized differential check of the single-pass hashed jaccard
    plan against a brute-force Python reference (all pairs, string
    shingle sets) — guards the window-carried sizes and bucket-local pair
    generation across corpus shapes."""
    import itertools
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs = [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(3, 40))))
                for i in range(40)]

        def sset(t):
            tk = t.split()
            return {" ".join(tk[i:i + 3]) for i in range(max(len(tk) - 2, 0))} \
                or {" ".join(tk[:len(tk)])}

        expect = {}
        for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
            a, b = sset(ta), sset(tb)
            j = len(a & b) / len(a | b)
            if j >= 0.2 and a & b:
                expect[(ia, ib)] = round(j, 9)

        df = spark.createDataFrame(docs, "id long, t string")
        got = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9)
               for r in dedup.jaccard_pairs(df, "id", "t", shingle_n=3,
                                            threshold=0.2).collect()}
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_shared_window_fraction_counts(spark):
    """Two docs sharing a verbatim 5-token span are both flagged; an
    unrelated doc reports zero shared windows; a doc shorter than the
    window still produces its one clamped window."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta"),
        (2, "prefix alpha beta gamma delta epsilon tail words"),
        (3, "totally different content with no overlap at all"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r["id"]: r for r in
           dedup.shared_window_fraction(df, "id", "t", window_n=5).collect()}
    # doc1: windows over 7 tokens -> 3; shares "alpha..epsilon" with doc2
    assert out[1]["n_windows"] == 3 and out[1]["n_shared"] == 1
    assert out[2]["n_shared"] == 1
    assert out[3]["n_shared"] == 0
    assert out[4]["n_windows"] == 1 and out[4]["n_shared"] == 0
    assert abs(out[1]["shared_frac"] - round(1 / 3, 6)) < 1e-9


def test_knn_classify_majority_vote(spark):
    """Queries land on the label whose cluster they sit in; k=3 majority."""
    from sedona_iceberg_extension_spark.pipeline import similarity
    rows = [(0, [1.0, 0.0], -1)]                      # query near x-axis
    rows += [(i, [1.0, 0.01 * i], 7) for i in range(20, 24)]   # x cluster
    rows += [(i, [0.0, 1.0], 9) for i in range(30, 33)]        # y cluster
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.knn_classify(df, "vec_id", "embedding", "label",
                                  k=3, query_pred=(F.col("vec_id") < 20)).collect()
    assert len(out) == 1
    assert out[0]["pred_label"] == 7 and out[0]["n_votes"] == 3


def test_label_centroid_outliers_picks_farthest(spark):
    from sedona_iceberg_extension_spark.pipeline import similarity
    rows = [(i, [1.0, 1.0], 0) for i in range(4)]
    rows += [(99, [5.0, 5.0], 0)]                      # far outlier
    rows += [(i, [0.0, float(i % 2)], 1) for i in range(10, 14)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.label_centroid_outliers(df, "vec_id", "embedding",
                                             "label", dim=2, top_k=1).collect()
    by_label = {r["label"]: r for r in out}
    assert by_label[0]["vec_id"] == 99 and by_label[0]["rank"] == 1
    assert by_label[0]["dist"] > 4.0


def test_zipf_slope_exact_two_point(spark):
    """Corpus 'a' x4, 'b' x2: slope = (ln4-ln2)/(ln1-ln2) = -1 exactly."""
    from sedona_iceberg_extension_spark.pipeline import text as T
    df = spark.createDataFrame([("a a a a b b",)], "t string")
    row = T.zipf_slope(df, "t").collect()[0]
    assert row["n_terms"] == 2
    assert abs(row["slope"] - (-1.0)) < 1e-6


def test_cdc_chunks_reconstruct_and_dedup(spark):
    """CDC chunk property: chunks concatenate back to the exact text, an
    identical doc yields identical chunks (dedup_ratio > 0 for a source of
    clones), and boundaries survive a prefix insertion (the content-defined
    property fixed-size blocks lack)."""
    body = "hello world this is a longer text about spark chunks and dedup " * 4
    rows = [(1, body, "a"), (2, body, "a"),
            (3, "PREFIX-" + body, "a"),
            (4, "tiny", "b"), (5, "", "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    ch = dedup.cdc_chunks(df, "doc_id", "text").collect()
    by = {}
    for r in ch:
        by.setdefault(r["doc_id"], []).append((r["chunk_start"], r["chunk"]))
    for d, t, _ in rows:
        assert "".join(c for _, c in sorted(by.get(d, []))) == t
    # doc 3 = doc 1 with a prefix: all but the first chunk(s) realign
    c1 = {c for _, c in by[1]}
    c3 = {c for _, c in by[3]}
    assert len(c1 & c3) >= len(c1) - 1
    stats = {r["source"]: r for r in
             dedup.cdc_dedup_stats(df, "doc_id", "text", "source").collect()}
    assert stats["a"]["dedup_ratio"] > 0.5
    assert stats["b"]["dedup_ratio"] == 0.0


def test_bloom_filter_no_false_negatives_and_determinism(spark):
    from sedona_iceberg_extension_spark.pipeline import sketch
    present = [(i, f"present document number {i}") for i in range(50)]
    absent = [(1000 + i, f"absent text {i} entirely other") for i in range(200)]
    df = spark.createDataFrame(present, "id long, t string")
    probe = spark.createDataFrame(present + absent, "id long, t string")
    fw = sketch.bloom_filter_words(df, "t", m_words=32, k=2)
    out = {r["id"]: r["maybe_present"] for r in
           sketch.bloom_probe(fw, probe, "id", "t",
                              m_words=32, k=2).collect()}
    # no false negatives, ever
    assert all(out[i] for i, _ in present)
    # deterministic: same again
    out2 = {r["id"]: r["maybe_present"] for r in
            sketch.bloom_probe(fw, probe, "id", "t",
                               m_words=32, k=2).collect()}
    assert out == out2
    # with a larger filter the absent side is (almost) all negative
    fw_big = sketch.bloom_filter_words(df, "t", m_words=1024, k=4)
    out_big = {r["id"]: r["maybe_present"] for r in
               sketch.bloom_probe(fw_big, probe, "id", "t",
                                  m_words=1024, k=4).collect()}
    assert all(out_big[i] for i, _ in present)
    assert sum(1 for i, _ in absent if out_big[1000 + (i - 1000)]) == 0 or \
        sum(1 for i, _ in absent if out_big[i]) <= 2


def test_ngram_repetition_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a"),      # bigrams: ab, ba, ab, ba -> 4 total, 2 distinct
         (2, "x y z"),          # xy, yz -> all distinct
         (3, "w")],             # clamped single "bigram"
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in
            text.ngram_repetition(df, "doc_id", "text", n=2).collect()}
    assert (rows[1].n_grams, rows[1].n_distinct) == (4, 2)
    assert rows[1].dup_fraction == pytest.approx(0.5)
    assert (rows[2].n_grams, rows[2].n_distinct) == (2, 2)
    assert rows[2].dup_fraction == 0.0
    assert (rows[3].n_grams, rows[3].n_distinct) == (1, 1)


def test_shard_packing_budget_and_contiguity(spark):
    df = spark.createDataFrame(
        [(i, " ".join(["t"] * (5 + i % 7))) for i in range(200)],
        ["doc_id", "text"])
    out = (text.shard_packing(df, "doc_id", "text",
                              budget_tokens=50, chunk=16)
           .orderBy("shard_id").collect())
    # every doc assigned exactly once
    assert sum(r.n_docs for r in out) == 200
    # shards are contiguous, in order, non-overlapping
    for a, b in zip(out, out[1:]):
        assert a.last_id + 1 == b.first_id
        assert b.shard_id == a.shard_id + 1
    # budget respected to one document: tokens-before each shard's first
    # doc lands inside [shard_id*B, (shard_id+1)*B)
    toks = {r.doc_id: 5 + r.doc_id % 7 for r in df.select("doc_id").collect()}
    cum = 0
    bounds = {}
    for i in range(200):
        bounds[i] = cum
        cum += toks[i]
    for r in out:
        assert r.shard_id * 50 <= bounds[r.first_id] < (r.shard_id + 1) * 50
        assert r.shard_tokens == sum(toks[i]
                                     for i in range(r.first_id, r.last_id + 1))


def test_pq_adc_matches_bruteforce_code_distances(spark):
    import random
    rnd = random.Random(7)
    data = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(data, ["vec_id", "embedding"])
    # codebooks: 2 sub-spaces x 4 dims, 3 codes = sub-vectors of vectors 0-2
    cbs = [[[float(v) for v in data[j][1][s * 4:(s + 1) * 4]]
            for j in range(3)] for s in range(2)]
    out = similarity.pq_adc_topk(df.filter(F.col("vec_id") < 2), df, k=3,
                                 codebooks=cbs)
    got = {(r.query_id, r.rank): (r.data_id, r.adc_dist)
           for r in out.collect()}

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    def encode(v):
        return [min(range(3), key=lambda j: (d2(v[s * 4:(s + 1) * 4],
                                                cbs[s][j]), j))
                for s in range(2)]

    for qid in (0, 1):
        qv = data[qid][1]
        scored = sorted(
            ((sum(d2(qv[s * 4:(s + 1) * 4], cbs[s][encode(v)[s]])
                  for s in range(2)), i) for i, v in data))
        for rank in (1, 2, 3):
            want_dist, want_id = scored[rank - 1]
            got_id, got_dist = got[(qid, rank)]
            assert got_id == want_id, (qid, rank)
            assert got_dist == pytest.approx(want_dist, rel=1e-9)


def test_bpe_pair_counts_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "abab ab cd"), (2, "ab x cd")],  # 'x' and 1-char words drop
        ["doc_id", "text"])
    rows = {r.pair: r.n for r in
            text.bpe_pair_counts(df, "text", top_k=10).collect()}
    # 'ab': abab has pairs ab,ba,ab (x1 word) + ab (x2 words) -> 2+2=4
    assert rows["ab"] == 4
    assert rows["ba"] == 1
    assert rows["cd"] == 2


def test_jaccard_pairs_char_grams_vs_bruteforce(spark):
    docs = [(1, "abcdefghij"), (2, "abcdefghXj"), (3, "zzzzyyyyxxxx"),
            (4, "abcdefghij"), (5, "qq")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.jaccard for r in
           dedup.jaccard_pairs(df, "doc_id", "text", use_char_grams=True,
                               char_n=5, threshold=0.0).collect()}

    def grams(t):
        return {t[i:i + 5] for i in range(max(len(t) - 4, 1))}

    want = {}
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1:]:
            inter = grams(ta) & grams(tb)
            if inter:
                want[(ida, idb)] = len(inter) / len(grams(ta) | grams(tb))
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v), k


def test_cms_never_underestimates(spark):
    from sedona_iceberg_extension_spark.pipeline import sketch as SK

    df = spark.createDataFrame(
        [(i % 17,) for i in range(500)] + [(99,)] * 40, ["k"])
    cells = SK.cms_cells(df, "k", width=32, depth=4)  # tight → collisions
    probe = df.select("k").distinct()
    est = {r.k: r.est_count for r in
           SK.cms_estimate(cells, probe, "k", width=32, depth=4).collect()}
    truth = {r.k: r.cnt for r in
             df.groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert set(est) == set(truth)
    for k, t in truth.items():
        assert est[k] >= t, k          # CMS upper-bound invariant
    # total inflation bounded: sum of overestimates < sum of counts
    assert sum(est[k] - truth[k] for k in truth) < sum(truth.values())


def test_containment_vs_bruteforce(spark):
    """containment_pairs against a Python set computation: the embedded
    short doc scores ~1.0 in its direction while Jaccard stays small."""
    long = "the quick brown fox jumps over the lazy dog again and again today"
    short = "quick brown fox jumps over"          # fully inside `long`
    other = "completely different words entirely here now"
    rows = [(1, long), (2, short), (3, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): (r["cont_ab"], r["cont_ba"])
           for r in dedup.containment_pairs(
               df, "doc_id", "text", shingle_n=3, threshold=0.3).collect()}

    def sh(t):
        tk = t.lower().split()
        return {" ".join(tk[i:i + 3]) for i in range(max(len(tk) - 2, 1))}

    a, b = sh(long), sh(short)
    inter = len(a & b)
    assert out[(1, 2)] == pytest.approx((inter / len(a), inter / len(b)))
    assert out[(1, 2)][1] == pytest.approx(1.0)   # short fully contained
    # Jaccard on the same pair is far below the containment signal
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(df, "doc_id", "text", shingle_n=3,
                                        threshold=0.0).collect()}
    assert jac[(1, 2)] == pytest.approx(inter / len(a | b))
    assert jac[(1, 2)] < out[(1, 2)][1]
    assert (1, 3) not in out and (2, 3) not in out


def _py_overlap_mirror(rows, n, cap):
    """Pure-Python mirror of the overlap core's max_doc_freq semantics:
    shingles with doc-freq > cap leave candidates AND n_common; set sizes
    stay full-set (dedup._overlap_pairs docstring contract)."""
    sets = {}
    for i, t in rows:
        tk = t.strip().lower().split()
        sets[i] = {tuple(tk[p:p + n]) for p in range(max(len(tk) - n + 1, 1))}
    freq = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    keep = {g for g, c in freq.items() if cap is None or c <= cap}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            nc = len(sets[a] & sets[b] & keep)
            if nc:
                out[(a, b)] = (nc, len(sets[a]), len(sets[b]))
    return out, {g: c for g, c in freq.items()
                 if cap is not None and c > cap}


def test_overlap_doc_freq_cap_matches_python_mirror(spark):
    """max_doc_freq semantics vs the Python mirror on a corpus with a
    genuine stop-shingle (present in every doc): scores are exact Jaccard
    over the non-stop shingle sets, sizes full-set, and pairs connected
    ONLY through the stop-shingle disappear."""
    stop = "lorem ipsum dolor"
    rows = [(i, f"{stop} unique{i} tail{i} words{i} end{i}")
            for i in range(8)]
    rows += [(100, f"{stop} shared shared extra one"),
             (101, f"{stop} shared shared extra two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exp, dropped = _py_overlap_mirror(rows, 3, cap=4)
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["sz_a"], r["sz_b"])
           for r in dedup._overlap_pairs(df, "doc_id", "text", shingle_n=3,
                                         max_doc_freq=4).collect()}
    assert got == exp
    # pairs among the first 8 docs share nothing but stop-shingles → gone
    assert not any(a < 100 and b < 100 for a, b in got)
    # the monitoring surface reports exactly the dropped shingles
    mon = dedup.overlap_stop_shingles(df, "doc_id", "text", shingle_n=3,
                                      max_doc_freq=4).collect()
    assert sorted(r["doc_freq"] for r in mon) == sorted(dropped.values())


def test_overlap_doc_freq_cap_is_pre_aggregation(spark):
    """VERDICT r10 item #2: the cap must filter the membership stream
    BEFORE collect_list (window count riding the _h partitioning), so an
    over-cap shingle never materializes an O(doc-freq) posting array in an
    aggregation buffer.  Asserted on the optimized plan: the _df window
    filter sits BELOW the collect_list aggregate (deeper nodes print
    later), and no post-aggregation size(_ids) cap remains."""
    import re

    df = spark.createDataFrame(
        [(i, f"common text here doc{i}") for i in range(6)],
        "doc_id long, text string")
    ov = dedup._overlap_pairs(df, "doc_id", "text", shingle_n=2,
                              max_doc_freq=3)
    plan = ov._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition" in plan and "_df" in plan
    assert not re.search(r"size\(_ids[^)]*\)\s*<=", plan), \
        "post-aggregation doc-freq cap resurfaced"
    i_collect = plan.index("collect_list")
    i_filter = re.search(r"_df#\d+L? <= 3", plan)
    assert i_filter and i_filter.start() > i_collect, \
        "cap filter is not below the posting aggregate"
    # uncapped plan keeps the round-10 shape: no window, no extra sort cost
    plan0 = (dedup._overlap_pairs(df, "doc_id", "text", shingle_n=2)
             ._jdf.queryExecution().optimizedPlan().toString())
    assert "windowspecdefinition" not in plan0
    # and the cap adds ZERO exchanges: the window count rides the existing
    # _h partitioning (the whole point of the pre-aggregation design)
    def n_exchanges(d):
        return d._jdf.queryExecution().executedPlan().toString() \
            .count("Exchange")
    assert n_exchanges(ov) == n_exchanges(
        dedup._overlap_pairs(df, "doc_id", "text", shingle_n=2))


def test_overlap_membership_exchange_is_reused(spark, sf_dir):
    """Round-12 stage-reuse gate: `_overlap_pairs` references the
    membership relation from TWO branches (postings and per-doc sizes);
    the sizes join infers isnotnull(id) and pushes it below the
    membership exchange, and without the matching explicit filter in the
    shared source the branches canonicalize differently and the whole
    scan+shingle+hash+dedup pipeline executes twice.  The executed plan
    must show the exchange REUSED — a regression here silently doubles
    the corpus-hashing CPU at scale."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ov = dedup._overlap_pairs(docs, "doc_id", "text", shingle_n=3)
    ov.collect()   # AQE finalizes reuse at execution
    plan = ov._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:2000]


def test_overlap_doc_freq_cap_char_grams(spark):
    """The pre-aggregation cap and its monitor on the CHAR-gram path: a
    boilerplate prefix shared by every doc is dropped at cap < n_docs,
    mirrored in Python over clamped character 5-grams."""
    rows = [(i, f"BOILERPLATEHEADER body{i:02d}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cn = 5

    def gset(t):
        # the char path hashes RAW text (no lower/trim — unlike tokens)
        return {t[p:p + cn] for p in range(max(len(t) - cn + 1, 1))}

    sets = {i: gset(t) for i, t in rows}
    freq = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    keep = {g for g, c in freq.items() if c <= 4}
    exp = {}
    for a in range(6):
        for b in range(a + 1, 6):
            nc = len(sets[a] & sets[b] & keep)
            if nc:
                exp[(a, b)] = (nc, len(sets[a]), len(sets[b]))
    got = {(r["id_a"], r["id_b"]): (r["n_common"], r["sz_a"], r["sz_b"])
           for r in dedup._overlap_pairs(df, "doc_id", "text",
                                         use_char_grams=True, char_n=cn,
                                         max_doc_freq=4).collect()}
    assert got == exp
    mon = dedup.overlap_stop_shingles(df, "doc_id", "text",
                                      use_char_grams=True, char_n=cn,
                                      max_doc_freq=4).collect()
    assert sorted(r["doc_freq"] for r in mon) \
        == sorted(c for c in freq.values() if c > 4)


def test_overlap_pairs_no_catalog_residue(spark):
    """VERDICT r10 item #5: query construction leaves no temp views behind
    (the source DataFrame enters via a spark.sql named-arg whose UUID view
    is dropped in a finally) and no module-global counter exists."""
    before = {t.name for t in spark.catalog.listTables()}
    df = spark.createDataFrame([(1, "a b c d"), (2, "b c d e")],
                               "doc_id long, text string")
    ov = dedup._overlap_pairs(df, "doc_id", "text", shingle_n=2)
    assert {t.name for t in spark.catalog.listTables()} == before
    assert ov.count() == 1                     # plan still executable
    assert {t.name for t in spark.catalog.listTables()} == before
    assert not hasattr(dedup, "_OVERLAP_VIEW_SEQ")


def test_cusum_identity_matches_recursion(spark, sf_dir):
    """The prefix-sum/running-min CUSUM identity equals the recursive
    definition s_i = max(0, s_{i-1} + (x_i - mean)) on the real series."""
    from sedona_iceberg_extension_spark.plans.queries_r7 import (
        q_events_cusum_drift)

    rows = q_events_cusum_drift(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    assert len(by_type) >= 2
    for t, series in by_type.items():
        xs = [r["n"] for r in series]
        mean = sum(xs) / len(xs)
        s = 0.0
        for r, x in zip(series, xs):
            s = max(0.0, s + (x - mean))
            assert r["cusum"] == pytest.approx(round(s, 6), abs=1e-6), t


def test_max_dup_ngram_hand_cases(spark):
    rows = [
        (1, "a b c a b c a b"),           # "a b c a b" window? dup 2- and 4-grams
        (2, "x y z w v u t s"),           # no repeats at all
        (3, ("p q r s " * 10).strip()),   # long period-4 repetition
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # run the query body against this tiny frame via the same pipeline
    from sedona_iceberg_extension_spark.pipeline import text as T
    from sedona_iceberg_extension_spark.pipeline.text import portable_hash64
    tokd = df.select("doc_id", T.tokens(F.col("text")).alias("_tk"))
    pos = tokd.select("doc_id", "_tk",
                      F.explode(F.sequence(F.lit(1), F.size("_tk"))).alias("i"))
    kd = (pos.select("doc_id", "_tk", "i",
                     F.explode(F.array(*[F.lit(k) for k in (2, 4, 8, 16, 32)]))
                      .alias("k"))
          .filter(F.col("i") + F.col("k") - 1 <= F.size("_tk")))
    grams = kd.select("doc_id", "k",
                      portable_hash64(F.concat_ws(
                          " ", F.slice("_tk", F.col("i"), F.col("k"))),
                          "dupg").alias("h"))
    dup = (grams.groupBy("doc_id", "k", "h").count()
           .filter(F.col("count") > 1)
           .groupBy("doc_id").agg(F.max("k").alias("mk")))
    got = {r["doc_id"]: r["mk"] for r in dup.collect()}
    # doc 1: "a b c a b" repeats "a b" (k=2) and "c a"... longest dup run
    # is the 2-gram "a b" (3x) and "b c a b"? tokens: a b c a b c a b ->
    # 4-gram "a b c a" appears at pos 1 and 4 -> dup at k=4; k=8 needs 9+
    assert got[1] == 4
    assert 2 not in got                       # all grams unique
    assert got[3] == 32                       # 40 tokens, period 4: dup 32-gram


def test_kmv_sketch_mergeable_and_uniform(spark, sf_dir):
    """Bottom-k of a union equals bottom-k of concatenated sketches (the
    mergeability that licenses per-partition heaps), and the sketch is
    the k globally-smallest hashes."""
    from sedona_iceberg_extension_spark.pipeline import sketch as SK

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    full = sorted(r["h"] for r in
                  SK.kmv_bottom_k(ev, "event_id", k=64).collect())
    a = SK.kmv_bottom_k(ev.filter(F.col("event_id") % 2 == 0),
                        "event_id", k=64)
    b = SK.kmv_bottom_k(ev.filter(F.col("event_id") % 2 == 1),
                        "event_id", k=64)
    merged = sorted(r["h"] for r in
                    a.unionByName(b).orderBy("h").limit(64).collect())
    assert merged == full
    assert len(full) == 64 and full == sorted(set(full))


def test_pagerank_invariants(spark):
    """Fixed-point sanity on a hand graph: ranks sum to 1, the hub of a
    star outranks the leaves, and symmetric positions tie exactly."""
    from sedona_iceberg_extension_spark.pipeline import components as C

    # star: center 0 connected to 1..4
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a int, id_b int")
    pr = {r["id"]: r["rank"]
          for r in C.pagerank(edges, iterations=20).collect()}
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(pr[0] > pr[i] for i in range(1, 5))
    leaves = [pr[i] for i in range(1, 5)]
    assert max(leaves) - min(leaves) < 1e-12   # symmetry ties exactly
    # two-node graph: exact fixed point is 0.5 / 0.5
    e2 = spark.createDataFrame([(7, 8)], "id_a int, id_b int")
    pr2 = {r["id"]: r["rank"] for r in C.pagerank(e2, iterations=5).collect()}
    assert pr2[7] == pytest.approx(0.5) and pr2[8] == pytest.approx(0.5)


def test_bfs_hops_hand_graph(spark):
    """BFS on a hand path-plus-branch graph: exact hop counts, 4-round
    horizon, unreachable vertices absent."""
    from sedona_iceberg_extension_spark.pipeline import components as C

    # path 0-1-2-3-4-5 plus branch 2-10; 100-101 disconnected
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (100, 101)],
        "u int, v int")
    seeds = spark.createDataFrame([(0,)], "id int")
    got = {r["id"]: r["dist"] for r in C.bfs_hops(edges, seeds, rounds=4).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 10: 3, 4: 4}
    # multi-source: both endpoints seeded meet in the middle
    seeds2 = spark.createDataFrame([(0,), (5,)], "id int")
    got2 = {r["id"]: r["dist"] for r in C.bfs_hops(edges, seeds2, rounds=2).collect()}
    assert got2[2] == 2 and got2[3] == 2 and got2[0] == 0 and got2[5] == 0


def test_semdedup_drop_planted(spark):
    """SemDeDup: planted within-cell near-dup is dropped (smaller id kept);
    vectors in different cells are never compared even if similar."""
    from sedona_iceberg_extension_spark.pipeline import similarity as S

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (1, [0.9, 0.1]),      # cell 0
        (2, [0.91, 0.1]),     # cell 0, near-dup of 1 -> dropped
        (3, [0.1, 0.95]),     # cell 1
        (4, [0.6, 0.59]),     # cell 0 (just), but dissimilar enough
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["id"]: (r["dup_of"], r["cell"]) for r in
           S.semdedup_drop(df, "vec_id", "embedding", cents,
                           threshold=0.999).collect()}
    assert set(out) == {2}
    assert out[2][0] == 1 and out[2][1] == 0


def test_semdedup_drop_pair_consistency_and_chains(spark):
    """(dup_of, cosine) must describe the SAME partner (struct-min, ADVICE
    r8): with partners {1, 3} where 3 is the more similar, dup_of=1 must
    report the cosine TO 1, not the max over all partners.  Chained drops
    (1~2~3~4 with only adjacent pairs above threshold) drop every
    non-minimum member — the documented greedy keep-lowest-id semantics."""
    from sedona_iceberg_extension_spark.pipeline import similarity as S

    cents = [[1.0, 0.0]]
    # chain: consecutive vectors are near-identical, distant ones are not
    rows = [(i, [1.0, 0.035 * i]) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r["id"]: r for r in
           S.semdedup_drop(df, "vec_id", "embedding", cents,
                           threshold=0.999).collect()}
    # every non-minimum chain member is dropped (chained semantics)
    assert set(out) == {2, 3, 4}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.hypot(*a) * math.hypot(*b))

    vecs = dict(rows)
    for i, r in out.items():
        partner = r["dup_of"]
        # the reported cosine is the cosine to the REPORTED partner
        assert r["cosine"] == pytest.approx(cos(vecs[i], vecs[partner]),
                                            abs=1e-12)
        # dup_of is the smallest qualifying partner
        quals = [j for j in vecs if j < i and cos(vecs[i], vecs[j]) >= 0.999]
        assert partner == min(quals)




def test_multimodal_numpy_sums_exact_edges(spark):
    """r15: the numpy-vectorized byte sums (mean-byte feature, per-frame
    energy) must stay bit-identical to the pure-Python loops they replaced,
    including the edges the vectorization touches: empty payloads (None
    feature, no frames), sums far above uint8 range (int64 accumulator),
    and frame counts from a no-copy reshape."""
    from sedona_iceberg_extension_spark.pipeline import multimodal as mm

    payloads = [
        (1, bytearray(b"")),                      # empty: feature None
        (2, bytearray(b"\xff" * 300)),            # sum 76500 >> uint8 max
        (3, bytearray(bytes(range(256)) * 3)),     # 768 B, varied values
    ]
    df = spark.createDataFrame(payloads, "id long, payload binary")

    feats = {r["id"]: (r["feature"], r["n_bytes"]) for r in
             mm.extract_features(df, "id", "payload").collect()}
    assert feats[1] == (None, 0)
    assert feats[2] == (pytest.approx(255.0), 300)
    ref = sum(bytes(range(256)) * 3) / 768.0      # pure-Python reference
    assert feats[3] == (pytest.approx(ref, abs=0.0), 768)

    rows = {(r["id"], r["frame_idx"]): r["energy"] for r in
            mm.audio_chunk_energy(df, "id", "payload", frame_bytes=256)
            .collect()}
    assert not any(k[0] == 1 for k in rows)       # empty payload: no frames
    # id 2: one full frame of 0xff (65280), 44-byte tail dropped
    assert rows[(2, 0)] == 255 * 256
    ref_frame = sum(range(256))                   # each 256-B frame of id 3
    assert [rows[(3, i)] for i in range(3)] == [ref_frame] * 3


def test_audio_chunk_energy_plumbing(spark):
    """Audio framing: fixed 4-byte frames, partial tail dropped, per-frame
    byte-sum energy exact; real-decode path declares itself unavailable."""
    from sedona_iceberg_extension_spark.pipeline import multimodal as mm

    df = spark.createDataFrame(
        [(1, bytearray(bytes(range(10)))), (2, bytearray(b"\xff" * 4))],
        "id long, payload binary")
    out = mm.audio_chunk_energy(df, "id", "payload", frame_bytes=4)
    rows = {(r["id"], r["frame_idx"]): r["energy"] for r in out.collect()}
    # id 1: frames [0..3]=6, [4..7]=22; tail [8,9] dropped
    assert rows == {(1, 0): 6, (1, 1): 22, (2, 0): 1020}
    with pytest.raises(Exception):
        mm.audio_chunk_energy(df, "id", "payload", fake=False).collect()
    # contract holds even with ZERO input rows: the capability check is
    # driver-side, not buried in the per-batch loop (ADVICE r8) — an
    # executor-side raise never fires when no Arrow batch exists, which
    # silently returned an empty frame table instead of failing
    empty = df.filter(F.col("id") < 0)
    for fn in (mm.audio_chunk_energy, mm.extract_features, mm.resize_images):
        with pytest.raises(NotImplementedError):
            fn(empty, "id", "payload", fake=False)


# ---------------------------------------------------------------------------
# property: the distributed overlap core == brute-force shingle algebra
# ---------------------------------------------------------------------------

def _brute_shingles(text, n):
    toks = __import__("re").split(r"\s+", text.strip().lower())
    return {tuple(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


@settings(max_examples=15, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "C", "dd", "e"]),
             min_size=0, max_size=10).map(" ".join),
    min_size=2, max_size=8))
def test_jaccard_pairs_matches_bruteforce(spark, texts):
    """Independent-of-DuckDB verification of the posting-list pair
    generation, the barrier, and the full-set sizes: on random tiny corpora
    the distributed exact-Jaccard result must equal the all-pairs
    brute-force over Python shingle sets (identical tokenization: trim,
    lower, split on \\s+; identical clamped tail shingle).  Also pins the
    64-bit-hash design assumption — shingle-tuple equality and xxhash64
    equality coincide on every generated corpus."""
    from sedona_iceberg_extension_spark.pipeline import dedup as D

    n, thr = 3, 0.3
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.jaccard_pairs(df, "doc_id", "text", shingle_n=n,
                                    threshold=thr).collect()}
    sets = {i: _brute_shingles(t, n) for i, t in enumerate(texts)}
    want = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] & sets[j]:
                inter = len(sets[i] & sets[j])
                jac = inter / (len(sets[i]) + len(sets[j]) - inter)
                if jac >= thr:
                    want[(i, j)] = jac
    assert got == want

    # same corpus through the asymmetric containment finish
    got_c = {(r["id_a"], r["id_b"]): (r["cont_ab"], r["cont_ba"])
             for r in D.containment_pairs(df, "doc_id", "text", shingle_n=n,
                                          threshold=thr).collect()}
    want_c = {}
    for i in sets:
        for j in sets:
            if i < j and sets[i] & sets[j]:
                inter = len(sets[i] & sets[j])
                ab, ba = inter / len(sets[i]), inter / len(sets[j])
                if max(ab, ba) >= thr:
                    want_c[(i, j)] = (ab, ba)
    assert got_c == want_c

    # and through the pre-aggregation doc-freq cap (the tiny alphabet makes
    # the cap bite on most generated corpora): capped shingles leave the
    # candidate set AND n_common, sizes stay full-set
    from collections import Counter as _Counter
    freq = _Counter(g for s in sets.values() for g in s)
    keep = {g for g, c in freq.items() if c <= 2}
    got_k = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.jaccard_pairs(df, "doc_id", "text", shingle_n=n,
                                      threshold=0.0,
                                      max_doc_freq=2).collect()}
    want_k = {}
    for i in sets:
        for j in sets:
            if i < j:
                inter = len(sets[i] & sets[j] & keep)
                if inter:
                    want_k[(i, j)] = inter / (len(sets[i]) + len(sets[j])
                                              - inter)
    assert got_k == want_k


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "C", "dd", "e"]),
             min_size=0, max_size=10).map(" ".join),
    min_size=1, max_size=6))
def test_minhash_signature_matches_python_mirror(spark, texts):
    """The full wide-signature pipeline (tokenize → shingle string →
    portable 60-bit md5 hash → per-seed rotate-xor mix → min) re-computed
    in plain Python must agree value-for-value — pins the one-md5-plus-
    k-mixes design and the exact hash recipe the DuckDB oracles mirror."""
    import hashlib
    import re

    k, n = 8, 3
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    wide = dedup.minhash_signatures_wide(df, "doc_id", "text",
                                         num_hashes=k, shingle_n=n)
    got = {r["doc_id"]: [r[f"mh_{i}"] for i in range(k)]
           for r in wide.collect()}
    params = dedup.minhash_mix_params(k)
    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t.strip().lower())
        shingles = {" ".join(toks[p:p + n])
                    for p in range(max(len(toks) - (n - 1), 1))}
        base = [int(hashlib.md5((s + "#mh").encode()).hexdigest()[:15], 16)
                for s in shingles]
        expect = []
        for c, r in params:
            mixed = [((((h & ((1 << (60 - r)) - 1)) << r)
                       + (h >> (60 - r))) ^ c) for h in base]
            expect.append(min(mixed))
        assert got[i] == expect, f"doc {i}: {t!r}"


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)),
                min_size=1, max_size=25))
def test_connected_components_match_union_find(spark, edges):
    """Random small graphs (self-loops and parallel/reversed edges allowed)
    through the iterative min-label propagation must produce exactly the
    union-find components with min-id canonical labels — including
    path-shaped graphs whose diameter forces multiple propagation rounds
    past the two-rounds-per-convergence-check batching."""
    from sedona_iceberg_extension_spark.pipeline.components import (
        connected_components)

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in parent}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "C", "dd", "e"]),
             min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=6))
def test_simhash_matches_python_mirror(spark, texts):
    """The single-pass vote-vector SimHash must equal the definitional
    per-token per-bit vote computed in Python over the same portable
    60-bit hash — duplicates vote once per OCCURRENCE (multiset
    semantics), ties (vote 0) resolve to bit 0."""
    import hashlib
    import re

    bits = 16
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", text.simhash(F.col("text"), bits).alias("sh")).collect()}
    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t.strip().lower())
        votes = [0] * bits
        for tok in toks:
            h = int(hashlib.md5((tok + "#sim").encode()).hexdigest()[:15], 16)
            for b in range(bits):
                votes[b] += 1 if h & (1 << b) else -1
        want = sum((1 << b) for b in range(bits) if votes[b] > 0)
        assert got[i] == want, f"doc {i}: {t!r}"


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=60))
def test_hll_registers_match_python_mirror(spark, keys):
    """The HLL register pipeline (portable 60-bit md5 hash → p low bits as
    register → leading-zero rank of the remaining bits → per-register max)
    recomputed in plain Python integer arithmetic must agree row-for-row;
    the bias-corrected estimate must agree to float tolerance (its harmonic
    sum is the one data-order-dependent float in the sketch).  Pins the
    exact register recipe the DuckDB oracles mirror."""
    import hashlib
    import math

    from sedona_iceberg_extension_spark.pipeline import sketch

    p, bits = 6, 54
    m = 1 << p
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["register"]: r["max_rank"]
           for r in sketch.hll_registers(df, "k", p=p).collect()}
    want = {}
    for k in keys:
        h = int(hashlib.md5((str(k) + "#hll").encode()).hexdigest()[:15], 16)
        reg, w = h % m, h >> p
        rho = (bits - (w.bit_length() - 1)) if w > 0 else bits + 1
        want[reg] = max(want.get(reg, 0), rho)
    assert got == want

    est = sketch.hll_estimate(df, "k", p=p).collect()[0]
    alpha = 0.7213 / (1 + 1.079 / m)
    s = sum(2.0 ** -r for r in want.values())
    zeros = float(m - len(want))
    raw = alpha * m * m / (zeros + s)
    exp = m * math.log(m / zeros) if (raw <= 2.5 * m and zeros > 0) else raw
    assert est["n_registers"] == len(want)
    assert math.isclose(est["estimate"], exp, rel_tol=1e-9)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="ab c", min_size=0, max_size=24),
                min_size=1, max_size=10),
       st.booleans(), st.integers(1, 4))
def test_overlap_membership_matches_dataframe_mirror(spark, texts, chars, cap):
    """r11 ADVICE: the monitor and the core now share ONE membership
    builder (`_membership_sql`); this property pins that builder against an
    INDEPENDENT DataFrame-op derivation (the monitor's former spelling —
    explode over token/char windows + xxhash64) on random corpora,
    including empty/whitespace-only docs, sub-n-token docs (the clamped
    tail shingle), and duplicate texts."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["shingle_hash"], r["doc_freq"]) for r in
           dedup.overlap_stop_shingles(df, "doc_id", "text", shingle_n=3,
                                       max_doc_freq=cap,
                                       use_char_grams=chars,
                                       char_n=4).collect()}
    # independent mirror: DataFrame ops, no SQL-string sharing
    ids = F.col("doc_id")
    if chars:
        grams = F.expr(
            "transform(sequence(1, greatest(length(text) - 3, 1)),"
            " i -> xxhash64(substr(text, i, 4)))")
        mem = df.select(ids, F.explode(grams).alias("_h"))
    else:
        gets = ", ".join(f"get(_toks, _i + {k})" for k in range(3))
        mem = (df.select(ids, F.split(F.lower(F.trim(F.col("text"))),
                                      r"\s+").alias("_toks"))
               .select(ids, F.expr(
                   "explode(sequence(0, greatest(size(_toks) - 3, 0)))"
               ).alias("_i"), F.col("_toks"))
               .select(ids, F.expr(f"xxhash64({gets})").alias("_h")))
    want = {(r["_h"], r["doc_freq"]) for r in
            mem.distinct().groupBy("_h")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") > cap).collect()}
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abcde", min_size=1, max_size=6),
                min_size=1, max_size=12, unique=True),
       st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6),
                min_size=1, max_size=8, unique=True))
def test_bloom_words_match_python_mirror(spark, members, probes):
    """The 63-bit-word Bloom transpose (build + probe) recomputed in plain
    Python integers must agree exactly — including the deterministic false
    positives (the whole point of the portable-hash design: the oracle
    reproduces even the FPs bit-for-bit)."""
    import hashlib

    from sedona_iceberg_extension_spark.pipeline import sketch

    m_words, k = 16, 3
    nbits = m_words * 63
    df = spark.createDataFrame([(t,) for t in members], "text string")
    words = sketch.bloom_filter_words(df, "text", m_words=m_words, k=k)
    got_words = {r["word_idx"]: r["bits"] for r in words.collect()}

    def positions(t):
        return [int(hashlib.md5((t + f"#bloom{j}").encode())
                    .hexdigest()[:15], 16) % nbits for j in range(k)]

    want_words = {}
    for t in members:
        for pp in positions(t):
            wi, mask = pp // 63, 1 << (pp % 63)
            want_words[wi] = want_words.get(wi, 0) | mask
    assert got_words == want_words

    pdf = spark.createDataFrame(list(enumerate(probes)),
                                "pid long, text string")
    got_probe = {r["pid"]: r["maybe_present"]
                 for r in sketch.bloom_probe(words, pdf, "pid", "text",
                                             m_words=m_words, k=k).collect()}
    want_probe = {
        i: all(want_words.get(pp // 63, 0) & (1 << (pp % 63))
               for pp in positions(t))
        for i, t in enumerate(probes)}
    assert got_probe == want_probe


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.text(alphabet="ab", min_size=1, max_size=5),
                          st.integers(1, 20)),
                min_size=1, max_size=6,
                unique_by=lambda t: t[0]))
def test_bpe_merge_rounds_match_python_mirror(spark, words):
    """The distributed BPE trainer core (pipeline.text.bpe_merge_rounds)
    must pick exactly the merges a definitional Python BPE picks: per
    round, the frequency-weighted adjacent-pair argmax (ties to the
    lexicographically smallest pair), applied as a non-overlapping
    left-to-right sentinel-padded replace.  The two-letter alphabet forces
    heavy tie-breaking and drives words down to a single symbol within
    three rounds — the regime where the unguarded ``sequence(0, -1)``
    NULL-pair bug lived."""
    from sedona_iceberg_extension_spark.pipeline.text import bpe_merge_rounds

    rounds = 3
    v = spark.createDataFrame([(" ".join(w), wf) for w, wf in words],
                              "ws string, wf long")
    got = bpe_merge_rounds(v, rounds=rounds)

    state = [(" ".join(w), wf) for w, wf in words]
    want = []
    for rnd in range(1, rounds + 1):
        cnt = {}
        for ws, wf in state:
            syms = ws.split(" ")
            for i in range(len(syms) - 1):
                pair = syms[i] + " " + syms[i + 1]
                cnt[pair] = cnt.get(pair, 0) + wf
        if not cnt:
            break
        s = max(cnt.values())
        pair = min(p for p, c in cnt.items() if c == s)
        merged = pair.replace(" ", "")
        want.append((rnd, pair, merged, s))
        state = [((" " + ws + " ")
                  .replace(f" {pair} ", f" {merged} ").strip(" "), wf)
                 for ws, wf in state]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.lists(st.integers(-8, 8).map(lambda x: x / 2.0),
             min_size=3, max_size=3),
    min_size=2, max_size=8))
def test_semdedup_drop_matches_python_mirror(spark, vecs):
    """SemDeDup's chained-drop semantics (cell assignment → within-cell
    pairwise cosine → drop every id with a >=threshold smaller-id partner,
    reporting the struct-min (dup_of, cosine) pair) recomputed in Python
    with the identical index-ordered folds must agree exactly — floats
    bit-for-bit, because both sides run the same adds and multiplies in
    the same order (the repo-wide portable-fold contract)."""
    import math

    from hypothesis import assume

    from sedona_iceberg_extension_spark.pipeline.similarity import (
        semdedup_drop)

    assume(all(any(x != 0.0 for x in v) for v in vecs))
    cents = [[0.0, 0.0, 0.0], [2.0, 1.0, -1.0]]
    thr = 0.5
    df = spark.createDataFrame(list(enumerate(vecs)),
                               "id long, vec array<double>")
    got = {r["id"]: (r["cell"], r["dup_of"], r["cosine"])
           for r in semdedup_drop(df, "id", "vec", cents,
                                  threshold=thr).collect()}

    def fold2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x - y) * (x - y)
        return acc

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def assign(v):
        best, best_d = 0, fold2(v, cents[0])
        for i, c in enumerate(cents[1:], start=1):
            d = fold2(v, c)
            if d < best_d:
                best = i
            best_d = min(best_d, d)
        return best

    cells = {i: assign(v) for i, v in enumerate(vecs)}
    norms = {i: math.sqrt(dot(v, v)) for i, v in enumerate(vecs)}
    want = {}
    for j, vj in enumerate(vecs):
        partners = []
        for i, vi in enumerate(vecs):
            if i < j and cells[i] == cells[j]:
                cos = dot(vi, vj) / (norms[i] * norms[j])
                if cos >= thr:
                    partners.append((i, cos))
        if partners:
            dup_of, cos = min(partners)
            want[j] = (cells[j], dup_of, cos)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=40),
       st.lists(st.integers(0, 60), min_size=1, max_size=10, unique=True))
def test_cms_cells_and_estimate_match_python_mirror(spark, keys, probes):
    """The count-min sketch cells (per-row portable-hash addressing,
    cell-wise counts) and the min-over-depth estimates recomputed in plain
    Python integers must agree exactly — including collision inflation,
    which the deterministic hash makes reproducible rather than
    probabilistic."""
    import hashlib

    from sedona_iceberg_extension_spark.pipeline import sketch

    width, depth = 8, 3  # tiny width forces collisions on purpose
    df = spark.createDataFrame([(x,) for x in keys], "k long")
    got_cells = {(r["r"], r["c"]): r["cnt"]
                 for r in sketch.cms_cells(df, "k", width=width,
                                           depth=depth).collect()}

    def cell(x, r):
        h = int(hashlib.md5((str(x) + f"#cms{r}").encode())
                .hexdigest()[:15], 16)
        return h % width

    want_cells = {}
    for x in keys:
        for r in range(depth):
            rc = (r, cell(x, r))
            want_cells[rc] = want_cells.get(rc, 0) + 1
    assert got_cells == want_cells

    pdf = spark.createDataFrame([(x,) for x in probes], "k long")
    got_est = {r["k"]: r["est_count"]
               for r in sketch.cms_estimate(
                   sketch.cms_cells(df, "k", width=width, depth=depth),
                   pdf, "k", width=width, depth=depth).collect()}
    # canonical CMS: min over ALL depth cells, empty cell => 0 (the
    # inner-join shape this test originally caught reported >=1 for some
    # absent keys — see cms_estimate's docstring)
    want_est = {x: min(want_cells.get((r, cell(x, r)), 0)
                       for r in range(depth)) for x in probes}
    assert got_est == want_est
    for x in probes:           # CMS invariant: never under the true count
        assert got_est[x] >= sum(1 for y in keys if y == x)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(0, 10**6), min_size=1, max_size=50))
def test_kmv_bottom_k_matches_python_mirror(spark, keys):
    """The KMV bottom-k sketch (TakeOrderedAndProject over the portable
    hash) must return exactly the k smallest hashes the Python mirror
    computes — determinism is what makes the sketch mergeable and
    oracle-checkable."""
    import hashlib

    from sedona_iceberg_extension_spark.pipeline import sketch

    k = 8
    df = spark.createDataFrame([(x,) for x in keys], "k long")
    got = [r["h"] for r in sketch.kmv_bottom_k(df, "k", k=k).collect()]
    want = sorted(int(hashlib.md5((str(x) + "#kmv").encode())
                      .hexdigest()[:15], 16) for x in keys)[:k]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.text(alphabet="abcdefgh \n", min_size=0, max_size=120),
    min_size=1, max_size=4))
def test_cdc_chunks_match_python_mirror(spark, texts):
    """Content-defined chunking boundary placement recomputed in Python
    from the definition (a cut at position 1 and at every i in
    [2, len-gram_n+1] whose gram_n-char gram hashes to 0 mod modulus
    under the portable md5 recipe) must agree exactly — placement is the
    output contract the DuckDB oracle cuts by, and the insertion-survival
    property CDC exists for holds only if the distributed explode/window
    pipeline cuts where the definition says."""
    import hashlib

    from sedona_iceberg_extension_spark.pipeline import dedup

    gram_n, modulus = 4, 4          # short grams, dense cuts on tiny docs

    def h(s):
        return int(hashlib.md5((s + "#cdc").encode())
                   .hexdigest()[:15], 16)

    want = set()
    for i, t in enumerate(texts):
        cuts = [1] + [p for p in range(2, len(t) - gram_n + 2)
                      if h(t[p - 1:p - 1 + gram_n]) % modulus == 0]
        bounds = cuts + [len(t) + 1]
        for a, b in zip(cuts, bounds[1:]):
            chunk = t[a - 1:b - 1]
            if chunk:
                want.add((i, a, chunk))

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    got = {(r["doc_id"], r["chunk_start"], r["chunk"])
           for r in dedup.cdc_chunks(df, "doc_id", "text",
                                     gram_n=gram_n,
                                     modulus=modulus).collect()}
    assert got == want


def test_scan_parallelism_probe_row_groups(spark, tmp_path):
    """Round-16 gate (VERDICT r15 item #4): the spread()/REPARTITION-hint
    engagement rule probes parquet ROW-GROUP counts when the file count
    is low — one huge multi-row-group file splits into many scan tasks
    by itself, so repartitioning it would add a redundant exchange; a
    single-row-group file (every local testdata table) still engages the
    repartition exactly as before."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    many = str(tmp_path / "many_rg.parquet")
    one = str(tmp_path / "one_rg.parquet")
    tbl = pa.table({"id": list(range(1000)), "text": ["w"] * 1000})
    pq.write_table(tbl, many, row_group_size=100)       # 10 row groups
    pq.write_table(tbl, one)                            # 1 row group
    assert pq.ParquetFile(many).metadata.num_row_groups == 10

    df_many = spark.read.parquet(many)
    df_one = spark.read.parquet(one)
    assert dedup._scan_supplies_parallelism(df_many, 8)       # 10 rg >= 8
    assert not dedup._scan_supplies_parallelism(df_many, 16)  # 10 rg < 16
    assert not dedup._scan_supplies_parallelism(df_one, 8)    # 1 rg < 8

    # plan-level effect: the multi-row-group scan takes NO repartition
    # exchange; the single-row-group scan keeps it (local behavior
    # unchanged — the testdata tables are all single-row-group)
    plan_many = dedup.spread(df_many, 8)._jdf.queryExecution() \
        .optimizedPlan().toString()
    plan_one = dedup.spread(df_one, 8)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Repartition" not in plan_many
    assert "Repartition" in plan_one


def test_scan_parallelism_probe_reads_encoded_and_remote_uris(
        spark, tmp_path, monkeypatch):
    """The probe opens footers through the file URI's decoded path (a space
    in a directory reads as ``%20``), and answers "not enough" for a file on
    other storage without opening it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "rg plain"
    d.mkdir()
    pq.write_table(pa.table({"id": list(range(800))}), str(d / "f.parquet"),
                   row_group_size=100)                  # 8 row groups
    df = spark.read.parquet(str(d / "f.parquet"))
    assert any("%20" in f for f in df.inputFiles())
    assert dedup._scan_supplies_parallelism(df, 4)

    class Remote:
        def inputFiles(self):
            return ["hdfs://nn/t/a.parquet", "s3a://b/t/b.parquet"]

    def no_footer(path):
        raise AssertionError(f"footer read of {path}")

    monkeypatch.setattr(pq, "ParquetFile", no_footer)
    assert not dedup._scan_supplies_parallelism(Remote(), 4)

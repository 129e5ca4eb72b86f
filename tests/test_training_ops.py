"""Unit tests: reshape (melt + wage normalization on the reference's own
fixture shapes), MinHash-LSH pair generation, SimHash near-dups, n-gram
Jaccard, hyperplane LSH buckets."""

from __future__ import annotations

from pyspark.sql import functions as F

from wage_etl_spark.operators.dedupe import (
    minhash_lsh_pairs, ngram_jaccard, simhash_near_dups, token_shingles,
)
from wage_etl_spark.operators.reshape import melt, normalize_wages_wide
from wage_etl_spark.operators.similarity import hyperplane_lsh_buckets


# --- reshape -----------------------------------------------------------

WIDE_COLS = ["Category", "1 adult", "2 adults (1 working) 1 child", "county_fips"]


def _wide(spark):
    # the reference's wide-table fixture shape
    # (/root/reference/tests/unit/test_transform_pandas_ops.py:228-245)
    return spark.createDataFrame(
        [
            ("Living Wage", "$18.71", "$38.87", "001"),
            ("Poverty Wage", "$6.19", "$10.56", "001"),
        ],
        ", ".join(f"`{c}` string" for c in WIDE_COLS),
    )


def test_melt_row_arithmetic(spark):
    """2 categories x 2 family configs = 4 rows (reference melt test)."""
    out = melt(_wide(spark), ["Category", "county_fips"],
               ["1 adult", "2 adults (1 working) 1 child"], "family", "value")
    assert out.count() == 4
    assert set(out.columns) == {"Category", "county_fips", "family", "value"}


def test_normalize_wages_wide_end_to_end(spark):
    out = normalize_wages_wide(_wide(spark), "34001", "2025-01-15")
    rows = {(r["wage_type"], r["adults"], r["working_adults"], r["children"]): r["hourly_wage"]
            for r in out.collect()}
    # expected long records (reference src/load/README.md:92-104)
    assert rows[("living", 1, 1, 0)] == 18.71
    assert rows[("living", 2, 1, 1)] == 38.87
    assert rows[("poverty", 1, 1, 0)] == 6.19
    fips = {r["county_fips"] for r in out.collect()}
    assert fips == {"34001"}


def test_normalize_unknown_category_slug_fallback(spark):
    wide = spark.createDataFrame(
        [("Some New Thing!", "$5.00", "001")],
        "`Category` string, `1 adult` string, `county_fips` string",
    )
    out = normalize_wages_wide(wide, "34001", "2025-01-15")
    assert out.first()["wage_type"] == "some_new_thing"


# --- near-dup dedup ----------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
    (3, "completely different content about spark partitions and shuffles here"),
    (4, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(spark):
    pairs = minhash_lsh_pairs(_docs(spark), "text", "doc_id", num_hashes=16, bands=8, k=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard_est"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0  # exact dup: all minhashes equal
    assert (1, 2) in got and got[(1, 2)] > 0.3  # near-dup caught by some band
    assert all(3 not in p for p in got)  # unrelated doc never pairs


def test_ngram_jaccard_exact_verification(spark):
    pairs = spark.createDataFrame(
        [(DOCS[0][1], DOCS[3][1]), (DOCS[0][1], DOCS[2][1])], "text_a string, text_b string"
    )
    out = ngram_jaccard(pairs, "text_a", "text_b", k=3).collect()
    js = [r["jaccard"] for r in out]
    assert js[0] == 1.0 and js[1] == 0.0


def test_simhash_near_dups(spark):
    out = simhash_near_dups(_docs(spark), "text", "doc_id", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got.get((1, 4)) == 0  # identical text, identical simhash
    assert all(3 not in p for p in got)


def test_token_shingles_short_text(spark):
    df = spark.createDataFrame([("one two",), ("one",)], "text string")
    rows = df.select(token_shingles("text", 3).alias("s")).collect()
    assert rows[0]["s"] == ["one two"]
    assert rows[1]["s"] == ["one"]


def test_hyperplane_buckets_deterministic_and_groupy(spark):
    import math
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    b1 = {r["vec_id"]: r["lsh_bucket"] for r in hyperplane_lsh_buckets(emb).collect()}
    b2 = {r["vec_id"]: r["lsh_bucket"] for r in hyperplane_lsh_buckets(emb).collect()}
    assert b1 == b2  # deterministic
    assert all(0 <= v < 256 for v in b1.values())
    # buckets must actually partition the corpus (not all-one-bucket)
    assert len(set(b1.values())) > 10


def test_simhash_multi_table_recall_is_total(spark):
    """n_tables = max_hamming + 1 guarantees every pair within the Hamming
    budget is found (pigeonhole over bit blocks) — recall 1.0 vs brute
    force on a seeded corpus, where the single-prefix table may miss."""
    import random

    from wage_etl_spark.functions.hashing import hamming64
    from wage_etl_spark.operators.dedupe import simhash_signatures

    rng = random.Random(7)
    words = [f"w{i}" for i in range(400)]
    docs = []
    base_texts = []
    for i in range(40):
        toks = [rng.choice(words) for _ in range(30)]
        base_texts.append(toks)
        docs.append((i, " ".join(toks)))
    # near-dups: mutate 1-3 tokens of a base doc (small simhash perturbation)
    for j in range(40):
        toks = list(base_texts[j % 40])
        for _ in range(rng.randint(1, 3)):
            toks[rng.randrange(len(toks))] = rng.choice(words)
        docs.append((100 + j, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    k = 6
    sh = simhash_signatures(df, "text", "doc_id")
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("h"),
        )
        .filter(F.col("h") <= k)
        .collect()
    }
    assert brute, "seeded corpus must contain near-dup pairs"

    # the DEFAULT is now the recall-complete multi-table plan (n_tables =
    # max_hamming + 1): output == brute force exactly
    multi = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(df, "text", "doc_id", max_hamming=k).collect()
    }
    assert multi == brute  # recall 1.0 AND no false positives post-filter

    single = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(
            df, "text", "doc_id", max_hamming=k, n_tables=1
        ).collect()
    }
    assert single <= brute  # opt-in single table never invents pairs...
    # ...but its recall is allowed to be (and typically is) partial


def _boundary_corpus(spark):
    """Seeded corpus with two well-separated clusters plus near-dup pairs
    planted NEAR THE MIDPOINT between the cluster centroids: tiny noise
    decides each midpoint vector's nearest centroid, so some planted pairs
    straddle the boundary — exactly the pairs single-probe IVF misses."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    c0 = np.ones(dim)
    c1 = np.concatenate([np.ones(dim // 2), -np.ones(dim // 2)])
    rows, vid = [], 0
    for lab, ctr in [(0, c0), (1, c1)]:
        for _ in range(40):
            v = ctr + 0.05 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v], lab))
            vid += 1
    mid = (c0 + c1) / 2.0
    for i in range(10):
        base = mid + 0.05 * rng.standard_normal(dim)
        dup = base + 0.01 * rng.standard_normal(dim)
        rows.append((vid, [float(x) for x in base], 0))
        rows.append((vid + 1, [float(x) for x in dup], 1))
        vid += 2
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


def test_cosine_near_dups_multiprobe_recall_improves(spark):
    """nprobe=2 must recover boundary-straddling pairs nprobe=1 misses;
    both are exact-verified subsets of the brute-force ground truth."""
    import numpy as np

    from wage_etl_spark.operators.similarity import cosine_near_dups

    corpus = _boundary_corpus(spark)
    rows = sorted(
        ((r["vec_id"], np.array(r["embedding"])) for r in corpus.collect()),
    )
    thr = 0.995
    truth = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i][1], rows[j][1]
            cos = round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)
            if cos >= thr:
                truth.add((rows[i][0], rows[j][0]))
    assert len(truth) >= 10  # the planted base/dup pairs are all above thr

    def found(nprobe):
        out = cosine_near_dups(
            corpus, "embedding", "vec_id", "label", min_cosine=thr, nprobe=nprobe
        )
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    f1, f2 = found(1), found(2)
    assert f1 <= truth and f2 <= truth  # precision 1.0 (exact verify stage)
    assert f1 < f2  # strictly better recall with the second probe
    # at least one planted straddling pair was missed by 1 and found by 2
    assert f2 - f1
    # with 2 clusters, probing both = exhaustive: recall 1.0
    assert f2 == truth


def test_ivf_ann_topk_multiprobe_recall_improves(spark):
    """Query-side multi-probe: recall@k vs brute_force_topk strictly
    improves from nprobe=1 to nprobe=2 on the boundary corpus (and is total
    at nprobe=2 with two clusters)."""
    from wage_etl_spark.operators.similarity import brute_force_topk, ivf_ann_topk

    corpus = _boundary_corpus(spark)
    # the midpoint vectors are the adversarial queries
    queries = corpus.filter(F.col("vec_id") >= 80)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(corpus, queries, "embedding", "vec_id", k=3).collect()
    }

    def found(nprobe):
        out = ivf_ann_topk(
            corpus, queries, "embedding", "vec_id", "label", k=3, nprobe=nprobe
        )
        return {(r["query_id"], r["neighbor_id"]) for r in out.collect()}

    r1 = len(found(1) & exact) / len(exact)
    r2 = len(found(2) & exact) / len(exact)
    assert r1 < r2
    assert r2 == 1.0  # two clusters: probing both is exhaustive


def test_dedup_clusters_chain_and_singleton(spark):
    """Connected components: a 5-node chain (worst case for plain
    propagation — pointer jumping must still converge), a 2-clique, and an
    isolated node supplied via nodes= (clusters to itself)."""
    from wage_etl_spark.operators.dedupe import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(99,), (1,)], "doc_id long")
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, nodes=nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_dedup_clusters_long_chain_plan_stays_bounded(spark):
    """A 64-node chain needs ~6 pointer-jumping rounds. Each round references
    the prior labels four times, so without a per-round lineage cut the
    plan grows 4x a round and the driver runs out of heap; the returned
    plan must be one checkpoint leaf whatever the round count."""
    from wage_etl_spark.operators import dedupe

    n = 64
    # scrambled edge order and direction so no single pass sweeps the chain
    edges = [(i, i + 1) if i % 2 else (i + 1, i) for i in range(n - 1)]
    edges = edges[::3] + edges[1::3] + edges[2::3]
    out = dedupe.dedup_clusters(spark.createDataFrame(edges, "id_a long, id_b long"))
    assert dedupe.LAST_RUN_STATS["dedup_clusters"]["rounds"] >= 4
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("LogicalRDD") == 1, plan
    assert {r["doc_id"]: r["cluster_id"] for r in out.collect()} == {i: 0 for i in range(n)}

"""k-means IVF ANN tests: recall against the exact brute-force
baseline, deterministic assignment, and pruning actually pruning."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from instructions_mr_spark.functions import cosine_sim
from instructions_mr_spark.operators.simsearch import (
    assign_ivf_cell,
    ivf_search,
    train_ivf_centroids,
)
from instructions_mr_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def centroids(emb):
    return train_ivf_centroids(emb, k=8)


def test_centroid_shape(centroids, emb):
    dim = len(emb.select("embedding").first().embedding)
    assert len(centroids) == 8
    assert all(len(c) == dim for c in centroids)


def test_assignment_is_deterministic_and_total(emb, centroids):
    a = assign_ivf_cell(emb, centroids).select("vec_id", "cell")
    b = assign_ivf_cell(emb, centroids).select("vec_id", "cell")
    da = {r.vec_id: r.cell for r in a.collect()}
    db = {r.vec_id: r.cell for r in b.collect()}
    assert da == db
    assert set(da.values()) <= set(range(8))
    assert len(da) == emb.count()  # every vector assigned


def test_non_finite_centroid_fails_with_clear_message(emb, centroids):
    """A NaN centroid would render as ``nanD``, which the SQL parser
    rejects with an unrelated syntax error; the literal seam names the
    offending array instead."""
    planted = [list(c) for c in centroids]
    planted[3][5] = float("nan")
    with pytest.raises(ValueError, match="centroid 3 holds a non-finite value nan"):
        assign_ivf_cell(emb, planted)


def test_dotted_vector_column_name(emb, centroids):
    """The vector column is quoted as an identifier, so a column whose
    NAME contains a dot is read as that column, not as a struct field."""
    plain = assign_ivf_cell(emb, centroids).select("vec_id", "cell")
    dotted = assign_ivf_cell(
        emb.withColumnRenamed("embedding", "emb.v"), centroids, vec_col="emb.v"
    ).select("vec_id", "cell")
    assert sorted(dotted.collect()) == sorted(plain.collect())


def test_ivf_recall_vs_brute_force(emb, centroids):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    qlit = F.array(*[F.lit(x) for x in qv])
    brute = [
        r.vec_id
        for r in emb.filter(F.col("vec_id") != 0)
        .select("vec_id", cosine_sim(F.col("embedding"), qlit).alias("c"))
        .orderBy(F.col("c").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    approx = [
        r.vec_id
        for r in ivf_search(
            emb.filter(F.col("vec_id") != 0), centroids, qv, top_k=10, n_probe=4
        ).collect()
    ]
    recall = len(set(brute) & set(approx)) / len(brute)
    assert recall >= 0.5  # half the probes -> decent recall on random data
    # full probe == exact
    exact = [
        r.vec_id
        for r in ivf_search(
            emb.filter(F.col("vec_id") != 0), centroids, qv, top_k=10, n_probe=8
        ).collect()
    ]
    assert exact == brute


def test_train_cap_bounds_kmeans_input(emb, monkeypatch):
    """Centroid training must see at most ``train_cap`` rows (the
    100 TB story: coarse centroids from a deterministic bounded
    sample, never the full vector table) — spied via the
    sample-collection seam the driver-side Lloyd's trains on."""
    from instructions_mr_spark.operators import simsearch as ss

    seen = {}
    orig = ss._collect_train_sample

    def spy(df, vec_col, cap):
        X = orig(df, vec_col, cap)
        seen["n"] = len(X)
        return X

    monkeypatch.setattr(ss, "_collect_train_sample", spy)
    cap = 50
    assert emb.count() > cap  # the cap must actually engage
    c1 = train_ivf_centroids(emb, k=4, train_cap=cap)
    assert seen["n"] <= cap
    assert len(c1) == 4
    # deterministic: same input + cap -> identical centroids
    c2 = train_ivf_centroids(emb, k=4, train_cap=cap)
    assert c1 == c2
    # cap=None keeps the legacy full-table path for tiny inputs
    train_ivf_centroids(emb, k=4, train_cap=None)
    assert seen["n"] == emb.count()


def test_ivf_prunes_candidates(emb, centroids):
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    assigned = assign_ivf_cell(emb, centroids)
    total = assigned.count()
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    order = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], qv))
    probed = assigned.filter(F.col("cell").isin(order[:2])).count()
    assert probed < total  # pruning really skips cells


def test_ivf_cells_as_partition_columns_prune(spark, emb, centroids, tmp_path):
    """The 100 TB ANN layout: write vectors partitioned by IVF cell,
    then a probe query's cell filter becomes PARTITION pruning — the
    scan never touches unprobed cells' files."""
    out = str(tmp_path / "ivf_lake")
    assign_ivf_cell(emb, centroids).write.partitionBy("cell").parquet(out)

    lake = spark.read.parquet(out)
    probed = lake.filter(F.col("cell").isin([0, 1]))
    probed.collect()
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell" in plan.split("PartitionFilters:")[1].splitlines()[0]
    # pruning really reduces files read
    import os

    all_cells = {d for d in os.listdir(out) if d.startswith("cell=")}
    assert len(all_cells) > 2
    assert probed.count() < lake.count()


# ---------------------------------------------------------------- PQ


@pytest.fixture(scope="module")
def pq_books(emb):
    from instructions_mr_spark.operators.simsearch import train_pq_codebooks

    return train_pq_codebooks(emb, m=8, k=16)


def test_pq_codebook_shape_and_determinism(emb, pq_books):
    from instructions_mr_spark.operators.simsearch import train_pq_codebooks

    dim = len(emb.select("embedding").first().embedding)
    assert len(pq_books) == 8
    assert all(len(b) == 16 for b in pq_books)
    assert all(len(c) == dim // 8 for b in pq_books for c in b)
    again = train_pq_codebooks(emb, m=8, k=16)
    assert again == pq_books  # bit-stable: no RNG anywhere


def test_pq_encode_packs_one_long(emb, pq_books):
    from instructions_mr_spark.operators.simsearch import pq_encode

    enc = pq_encode(emb, pq_books).select("vec_id", "pq_code")
    rows = enc.collect()
    assert len(rows) == emb.count()
    # 8 subspaces x 4 bits: code fits in 32 bits, always non-negative
    assert all(0 <= r.pq_code < 16**8 for r in rows)


def test_pq_recall_vs_exact(emb, pq_books):
    """ADC shortlist + exact re-rank must recover >= 7 of the true
    top-10 (uniform random embeddings are the PQ worst case: distance
    concentration leaves tiny neighbor gaps; the rerank=20 shortlist
    absorbs the quantization noise)."""
    import numpy as np

    from instructions_mr_spark.operators.simsearch import pq_adc_search

    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first().embedding]
    corpus = emb.filter(F.col("vec_id") != 0)
    rows = corpus.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows])
    ids = [r.vec_id for r in rows]
    d = ((X - np.array(qv)) ** 2).sum(axis=1)
    exact = {ids[i] for i in np.argsort(d, kind="stable")[:10]}
    approx = pq_adc_search(corpus, pq_books, qv, top_k=10).collect()
    assert len(approx) == 10
    hits = len([r for r in approx if r.vec_id in exact])
    assert hits >= 7


def test_top2_cells_cover_singleton_assignment(emb, centroids):
    """Every vector gets exactly 2 distinct cells, and the top-1 cell
    matches assign_ivf_cell's single assignment."""
    from instructions_mr_spark.operators.simsearch import (
        assign_ivf_cell,
        assign_topm_cells,
    )

    single = {r.vec_id: r.cell for r in assign_ivf_cell(emb, centroids).collect()}
    rows = assign_topm_cells(emb, centroids, m=2).select("vec_id", "cell").collect()
    by_vec = {}
    for r in rows:
        by_vec.setdefault(r.vec_id, []).append(r.cell)
    assert all(len(cs) == 2 and len(set(cs)) == 2 for cs in by_vec.values())
    assert all(cs[0] == single[v] for v, cs in by_vec.items())


def test_semdedup_recall_vs_brute_force(emb, spark, sf_dir):
    """Cell-blocked pair discovery must find >= 60% of ALL cosine>=0.4
    pairs (measured ~0.86 at sf0.01, ~0.80 at sf0.1)."""
    import numpy as np

    from instructions_mr_spark.operators.simsearch import (
        assign_topm_cells,
        train_ivf_centroids,
    )
    from instructions_mr_spark.functions import cosine_sim

    cents = train_ivf_centroids(emb, k=8)
    cells = assign_topm_cells(emb, cents, m=2).select("cell", "vec_id", "embedding")
    a, b = cells.alias("a"), cells.alias("b")
    found = {
        (r.vec_a, r.vec_b)
        for r in a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(F.first("a.embedding").alias("ea"), F.first("b.embedding").alias("eb"))
        .select("vec_a", "vec_b", cosine_sim(F.col("ea"), F.col("eb")).alias("c"))
        .filter(F.col("c") >= 0.4)
        .collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([r.embedding for r in rows])
    ids = [r.vec_id for r in rows]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    truth = {
        (ids[i], ids[j]) if ids[i] < ids[j] else (ids[j], ids[i])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(float(S[i, j]), 6) >= 0.4
    }
    assert truth, "test corpus should contain high-cosine pairs"
    assert found <= truth or len(found - truth) == 0
    assert len(found & truth) / len(truth) >= 0.6


def test_semdedup_planted_duplicates_survive_large_k(spark):
    """The production SemDeDup regime: near-identical vectors (cosine
    ~0.99, the 0.95+ threshold real semantic dedup uses) must share a
    top-2 cell at LARGE k — blocking recall on true near-dups does not
    degrade as k grows, unlike the moderate-cosine (0.4) pairs of the
    uniform test corpus.  Plants 20 duplicate pairs among 2000 random
    vectors, k=32: every planted pair must be found."""
    import numpy as np

    from instructions_mr_spark.functions import cosine_sim
    from instructions_mr_spark.operators.simsearch import (
        assign_topm_cells,
        train_ivf_centroids,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(2000, 64).astype("float32")
    planted = []
    for i in range(20):
        j = 2000 + i
        dup = base[i * 50] + rng.randn(64).astype("float32") * 0.05
        base = np.vstack([base, dup[None, :]])
        planted.append((i * 50, j))
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(len(base))],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    cents = train_ivf_centroids(df, k=32)
    cells = assign_topm_cells(df, cents, m=2).select("cell", "vec_id", "embedding")
    a, b = cells.alias("a"), cells.alias("b")
    found = {
        (r.vec_a, r.vec_b)
        for r in a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .agg(F.first("a.embedding").alias("ea"), F.first("b.embedding").alias("eb"))
        .select("vec_a", "vec_b", cosine_sim(F.col("ea"), F.col("eb")).alias("c"))
        .filter(F.col("c") >= 0.95)
        .collect()
    }
    assert all((a_, b_) in found for a_, b_ in planted)

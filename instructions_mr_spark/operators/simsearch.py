"""Similarity-search operators over embedding columns
(SURVEY.md §2.7 sim_search; BASELINE mandate).

Three tiers, trading exactness for scan reduction:

1. brute-force cosine top-k (queries/llm_pipeline.sim_search_topk):
   exact, full scan — the recall baseline;
2. sign-bucket LSH (sim_search_ivf query): deterministic pruning,
   oracle-checkable;
3. k-means IVF (this module): train coarse centroids (deterministic
   driver-side Lloyd's over a bounded hash-selected sample — RNG-free,
   bit-stable across runs), assign each vector to its nearest
   centroid, search only the ``n_probe`` centroids nearest the query —
   the production ANN path.  At 100 TB the assignment is a write-time
   partition column, so probing becomes partition pruning.

The cosine kernel is the JVM-side functions.cosine_sim everywhere, and
every dot product and squared L2 distance is rendered by functions
(spark_dot / spark_sq_l2) — Python only appears in centroid training
(bounded, sampled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from instructions_mr_spark.functions import cosine_sim, round_half, spark_dot, spark_hash, spark_sq_l2
from instructions_mr_spark.plans.guard import sql_double, sql_double_array, sql_ident


def _collect_train_sample(
    df: DataFrame, vec_col: str, train_cap: int | None
):
    """Deterministic bounded training sample for the coarse quantizer,
    as a driver-side float64 matrix.

    Rows are keyed by an md5-derived hash of the vector text (portable,
    order-independent — the same sample and the same ROW ORDER on any
    partitioning or engine), sorted by (hash, vector) and hard-bounded
    by ``train_cap``.  For corpora above the cap a deterministic
    hash-bucket prefilter (same construction the PQ/k-means samplers
    have always used) cuts the candidate set to ~cap rows FIRST, so
    the ordered limit is a top-k over ~cap candidates, never a
    corpus-wide TakeOrdered (the 100 TB shape).  Exposed as its own
    seam so tests can spy on how many rows training actually sees
    (the contract: a bounded sample, never the corpus)."""
    import numpy as np

    hashed = df.select(
        F.col(vec_col).alias("v"),
        F.expr(spark_hash(f"CAST({sql_ident(vec_col)} AS STRING)", hex_digits=15)).alias("h"),
    )
    if train_cap is not None:
        n = df.count()
        if n > train_cap:
            # expected survivors ~1.05x cap; bucket membership depends
            # only on the vector bytes, so the filtered SET is stable
            # across partitionings — the ordered limit then trims the
            # overshoot deterministically
            n_buckets = 1_000_003
            keep = max(1, int(n_buckets * train_cap * 1.05 / n))
            hashed = hashed.filter(F.pmod(F.abs(F.col("h")), F.lit(n_buckets)) < keep)
        hashed = hashed.orderBy("h", "v").limit(train_cap)
    else:
        hashed = hashed.orderBy("h", "v")
    rows = hashed.collect()
    return np.array([r.v for r in rows], dtype=np.float64)


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    train_cap: int = 100_000,
) -> list[list[float]]:
    """Train k coarse centroids with a deterministic driver-side
    Lloyd's k-means over a bounded sample (same construction as
    :func:`train_pq_codebooks`: hash-selected sample, k evenly spaced
    sample points as init, 20 mean/assign iterations — no RNG
    anywhere, so the codebook is bit-stable across runs and engines).

    Round 12: this replaced the distributed pyspark.ml KMeans fit.
    Coarse-quantizer centroids need only a representative sample, so
    the 20-iteration fit was ~25 sequential tiny Spark jobs whose
    fixed scheduling cost (~1.5 s warm at sf0.1) dwarfed the actual
    math; the same sample collected once (``train_cap`` rows max —
    51 MB of float64 at the 100k cap, driver-bounded at ANY corpus
    size) trains in NumPy in milliseconds.  This is the guide's §1.2
    step-1 move: the distributed algorithm was the waste, not the
    per-task work.  Training cost is O(cap * k * d * iters) on the
    driver; the corpus-sized assignment stays a Column projection.
    ``train_cap=None`` disables sampling (tiny tables / tests).
    """
    import numpy as np

    X = _collect_train_sample(df, vec_col, train_cap)
    if len(X) == 0:
        return []
    k_eff = min(k, len(X))
    idx = np.linspace(0, len(X) - 1, k_eff).astype(int)
    cent = X[idx].copy()
    for _ in range(20):
        # argmin L2 == argmax (x.c - |c|^2/2); matmul keeps the
        # 100k x k distance pass vectorized
        scores = X @ cent.T - 0.5 * (cent * cent).sum(axis=1)[None, :]
        assign = scores.argmax(axis=1)
        for j in range(k_eff):
            pts = X[assign == j]
            if len(pts):
                cent[j] = pts.mean(axis=0)
    return [[float(x) for x in c] for c in cent]


def _centroid_dots_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """The k x d centroid-dot array as ONE SQL string (round 13): the
    per-literal ``F.lit`` construction made a py4j round trip per
    literal — k*d calls per plan build, measured 1.8-1.9 s at k=32,
    d=64 before any job ran.  A single F.expr parse is ~0.4 s warm.
    Value-identical: a '<repr>D' double literal parses to exactly the
    repr'd double (shortest-roundtrip both ways) and the fold is the
    same aggregate/zip_with/CAST tree functions.dot_product builds —
    verified cell-identical on every sf0.1 vector before the swap."""
    vec = sql_ident(vec_col)
    dots = (
        spark_dot(vec, sql_double_array(c, f"centroid {j}"))
        for j, c in enumerate(centroids)
    )
    return "array(" + ",".join(dots) + ")"


def assign_ivf_cell(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "embedding", out: str = "cell"
) -> DataFrame:
    """Nearest-centroid assignment as a pure Column expression: argmax
    of dot products against centroid literals (no UDF, no shuffle —
    a projection usable as a write-time partition column).  The dot
    array is one parsed SQL string (see _centroid_dots_sql)."""
    df = df.withColumn("__dots", F.expr(_centroid_dots_sql(vec_col, centroids)))
    best = F.expr(
        "array_position(__dots, array_max(__dots))"
    ).cast("int") - 1
    return df.withColumn(out, best).drop("__dots")


def ivf_search(
    df: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """ANN search: rank centroids by similarity to the query, scan only
    vectors assigned to the best ``n_probe`` cells, exact cosine within
    the candidates, top-k by (score desc, id)."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    order = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query_vec))
    probe = order[:n_probe]
    assigned = assign_ivf_cell(df, centroids, vec_col=vec_col)
    qlit = F.expr(sql_double_array(query_vec, "query vector"))
    return (
        assigned.filter(F.col("cell").isin(probe))
        .select(id_col, cosine_sim(F.col(vec_col), qlit).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(top_k)
    )


# -------------------------------------------------- product quantization


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    train_cap: int = 10_000,
) -> list[list[list[float]]]:
    """Train PQ codebooks: split the d-dim vector into ``m`` subvectors
    and run a deterministic Lloyd's k-means (numpy, driver-side) per
    subspace on a bounded sample.  Returns ``codebooks[m][k][d/m]``.

    Determinism: the sample is hash-bucket-selected (same rows on any
    partitioning), sorted by its hash, and initial centroids are k
    evenly spaced sample points — no RNG anywhere, so the codebook is
    bit-stable across runs/engines.  Training cost is O(cap * k * d *
    iters) on the driver — a codebook needs a representative sample,
    never the corpus (at 100 TB you train on ~1e5 vectors and encode
    the rest with the Column-only kernel below)."""
    import numpy as np

    hashed = df.select(
        F.col(vec_col).alias("v"),
        F.expr(spark_hash(f"CAST({sql_ident(vec_col)} AS STRING)", hex_digits=15)).alias("h"),
    )
    rows = hashed.orderBy("h", "v").limit(train_cap).collect()
    X = np.array([r.v for r in rows], dtype=np.float64)
    d = X.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = X[:, s * ds : (s + 1) * ds]
        idx = np.linspace(0, len(sub) - 1, k).astype(int)
        cent = sub[idx].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                pts = sub[assign == j]
                if len(pts):
                    cent[j] = pts.mean(axis=0)
        books.append([[float(x) for x in c] for c in cent])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Encode each vector as one packed int64: per subspace the argmin-
    L2 codeword, 4 bits each for k<=16.  Pure Column algebra — argmin
    L2 == argmax (x·c - |c|²/2), so each subspace is k dot products
    against literals over a slice; no UDF, no shuffle.  This is the
    64d-float -> 8-byte compression that makes a 100 TB embedding
    store fit hot storage."""
    m = len(codebooks)
    k = len(codebooks[0])
    ds = len(codebooks[0][0])
    # array_position(scores, array_max(scores)) references the score
    # array twice, so stage each subspace's array in a named column
    # (projection-only; Catalyst collapses the withColumn chain).
    #
    # Round 13: each subspace's k x ds score array is built as ONE SQL
    # string parsed by a single F.expr — the old construction made a
    # py4j round trip per literal (m*k*ds = 1024 F.lit calls at the
    # 8x16x8 dial) plus the Column trees on top, measured 5.7-6.2 s of
    # pure driver-side plan-build per pq_encode call (the same
    # pathology assign_topm_cells had).  Value-identical: '<repr>D'
    # double literals parse to exactly the repr'd double, and the
    # expression tree (slice -> zip_with/aggregate fold -> minus
    # half-norm, argmax via array_position/array_max, packed base-k
    # sum) is unchanged — packed codes verified exceptAll-identical
    # on every sf0.1 vector before the swap.
    enc = df
    packed_terms = ["CAST(0 AS BIGINT)"]
    for s in range(m):
        sub = f"slice({sql_ident(vec_col)}, {s * ds + 1}, {ds})"
        cells = []
        for j, c in enumerate(codebooks[s]):
            what = f"codebook {s} codeword {j}"
            arr = sql_double_array(c, what)
            half = sql_double(sum(x * x for x in c) / 2.0, what + " half-norm")
            cells.append(f"{spark_dot(sub, arr)} - {half}")
        col = f"__pq_s{s}"
        enc = enc.withColumn(col, F.expr("array(" + ",".join(cells) + ")"))
        packed_terms.append(
            f"(CAST(array_position({col}, array_max({col})) AS BIGINT) - 1)"
            f" * CAST({k ** s} AS BIGINT)"
        )
    enc = enc.withColumn(out, F.expr(" + ".join(packed_terms)))
    return enc.drop(*[f"__pq_s{s}" for s in range(m)])


def pq_adc_search(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_k: int = 10,
    rerank: int = 100,
) -> DataFrame:
    """Asymmetric-distance top-k with exact re-rank: per subspace a
    k-entry lookup table of L2(query_sub, codeword) is burned into the
    plan as an array literal; each row's approximate distance is m
    element_at lookups on its packed code — O(m) per row instead of
    O(d), on the 8-byte code instead of the 256-byte vector.  The ADC
    scan shortlists ``rerank * top_k`` rows (TakeOrderedAndProject, no
    global sort), then ONLY the shortlist pays an exact L2 against the
    full vector — the standard production shape: quantized scan over
    everything, full-precision fetch for a bounded candidate set.

    ``rerank`` default 100 (shortlist 1000 at top_k=10): measured on
    the r8 decorrelated sf1 fixture (20k vectors, 10 rotated
    sub-universes — a hard mixture for 8x16 codebooks), recall@10 was
    0.3 / 0.5 / 0.7 / 0.8 at rerank 20 / 50 / 100 / 200; 100 holds the
    >= 0.5 ANN contract with headroom while the exact re-rank still
    touches only a constant ~1000 rows regardless of corpus size."""
    m = len(codebooks)
    k = len(codebooks[0])
    ds = len(codebooks[0][0])
    encoded = pq_encode(df, codebooks, vec_col=vec_col)
    # lookup tables + exact re-rank fold built as SQL strings for the
    # same plan-build-cost reason as pq_encode (round 13); identical
    # expression trees and literal values
    qarr = sql_double_array(query_vec, "query_vec")
    dist_terms = ["0.0D"]
    for s in range(m):
        q = query_vec[s * ds : (s + 1) * ds]
        lut = [
            float(sum((qx - cx) ** 2 for qx, cx in zip(q, c))) for c in codebooks[s]
        ]
        arr = sql_double_array(lut, f"ADC lookup table of subspace {s}")
        code_s = f"pmod(CAST(pq_code / {k ** s} AS BIGINT), {k})"
        dist_terms.append(
            f"element_at({arr}, CAST({code_s} AS INT) + 1)"
        )
    dist = F.expr(" + ".join(dist_terms))
    shortlist = (
        encoded.select(id_col, vec_col, dist.alias("approx_l2"))
        .orderBy(F.col("approx_l2").asc(), F.col(id_col))
        .limit(rerank * top_k)
    )
    exact_l2 = F.expr(spark_sq_l2(sql_ident(vec_col), qarr))
    return (
        shortlist.select(id_col, round_half(exact_l2, 6).alias("l2"))
        .orderBy(F.col("l2").asc(), F.col(id_col))
        .limit(top_k)
    )


def assign_topm_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    m: int = 2,
) -> DataFrame:
    """Top-m nearest-centroid multi-assignment (SemDeDup-style cell
    blocking): each vector lands in its m best cells so near-dup pairs
    straddling a k-means boundary still share a block (measured on
    uniform embeddings: single-cell recall ~0.4, top-2 ~0.8; on the r8
    decorrelated sf1 mixture at cos>=0.4, top-2 0.44 -> top-3 clears
    the 0.5 contract).  Pure Column algebra: ONE sort of the k
    (negated dot, index) structs, slice the first m indices, explode
    (m x replication — the blocking cost, linear in m).

    The sort-based pick replaced m chained (argmax, mask-winner)
    projections (round 12): each masking step referenced the previous
    dots array 2-3x, so CollapseProject inlined the k x d-literal dot
    expression multiplicatively per level — at m=5 Catalyst/codegen
    chewed a huge duplicated tree on EVERY plan build (~2.8 s at
    k=8, d=64, and the SemDeDup self-join embeds it twice).  The
    struct sort is pick-identical: array_sort on struct(-dot, idx)
    orders by dot DESC then index ASC, exactly argmax-first-index
    semantics, ties included (double equality, -0.0 == 0.0, matches
    array_max/array_position).  For k < m (degenerate corpora where
    KMeans returns fewer centers) slice yields the k cells that exist;
    the old masking path instead repeated cell 0 for the exhausted
    picks — the same pair set after the blocking join's DISTINCT, with
    fewer duplicate rows feeding it.

    Round 13: the k x d centroid-dot array is built as ONE SQL string
    parsed by a single F.expr call (see _centroid_dots_sql — the old
    per-literal construction cost 1.8-1.9 s of plan-build at k=32,
    d=64, semdedup_planted_k32's dial; value-identical, and the three
    dependent query oracles re-checked at three SFs)."""
    return (
        df.withColumn("__dots", F.expr(_centroid_dots_sql(vec_col, centroids)))
        .withColumn(
            "cell",
            F.explode(
                F.slice(
                    F.expr(
                        "transform(array_sort(transform(__dots,"
                        " (x, i) -> struct(-x AS nd, i AS i))), s -> s.i)"
                    ),
                    1,
                    m,
                )
            ),
        )
        .drop("__dots")
    )


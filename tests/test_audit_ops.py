"""Semantic pins for the round-7b audit ops on handcrafted inputs:
k-anonymity class histogram, per-label centroid outliers, and the
lang-id confusion matrix."""

from __future__ import annotations

from instructions_mr_spark import registry
from tests.conftest import write_tables


def test_k_anonymity_flags_small_classes(spark, tmp_path):
    """Class (en, a, bucket0) has 2 docs (<k=5 -> below_k), class
    (en, b, bucket0) has 5 (not below); histogram is exact."""
    rows = [(i, "w", "en", "a", 10) for i in range(2)]
    rows += [(10 + i, "w", "en", "b", 10) for i in range(5)]
    write_tables(tmp_path, documents=rows)
    got = {
        r.class_size: r
        for r in registry.QUERIES["k_anonymity_audit"](spark, str(tmp_path)).collect()
    }
    assert got[2].n_classes == 1 and got[2].n_docs == 2 and got[2].below_k == 1
    assert got[5].n_classes == 1 and got[5].n_docs == 5 and got[5].below_k == 0


def test_embedding_label_centroid_finds_planted_outlier(spark, tmp_path):
    """Label 0: three vectors near the origin plus one planted far
    vector -> far_vec_id is the plant and max_dist2 >> mean over the
    near cluster; label 1 is a tight pair with tiny distances."""
    rows = [
        (0, [0.0, 0.0], 0),
        (1, [0.1, 0.0], 0),
        (2, [-0.1, 0.0], 0),
        (3, [4.0, 4.0], 0),  # planted outlier
        (10, [1.0, 1.0], 1),
        (11, [1.0, 1.0], 1),
    ]
    write_tables(tmp_path, embeddings=rows)
    got = {
        r.label: r
        for r in registry.QUERIES["embedding_label_centroid"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[0].far_vec_id == 3
    assert got[0].max_dist2 > 10 * got[0].mean_dist2 / 4
    assert got[1].n_vecs == 2
    assert abs(got[1].mean_dist2) < 1e-9 and abs(got[1].max_dist2) < 1e-9


def test_langid_confusion_diagonal_and_off(spark, tmp_path):
    """A doc of French stopwords declared 'fr' lands on the diagonal;
    the same text declared 'en' lands off-diagonal."""
    fr = "le la les et je ne pas pour qui dans"
    rows = [
        (0, fr, "fr", "s", 10),
        (1, fr, "en", "s", 10),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        (r.declared, r.predicted): r.n_docs
        for r in registry.QUERIES["langid_confusion"](spark, str(tmp_path)).collect()
    }
    assert got[("fr", "fr")] == 1
    assert got[("en", "fr")] == 1


def test_l_diversity_flags_homogeneous_classes(spark, tmp_path):
    """Class (a, bucket0) spans en+fr -> l=2 (ok); class (b, bucket0)
    is all-en -> l=1, below_l."""
    rows = [
        (0, "w", "en", "a", 10),
        (1, "w", "fr", "a", 10),
        (2, "w", "en", "b", 10),
        (3, "w", "en", "b", 10),
    ]
    write_tables(tmp_path, documents=rows)
    got = {
        r.l_distinct: r
        for r in registry.QUERIES["l_diversity_audit"](spark, str(tmp_path)).collect()
    }
    assert got[2].n_classes == 1 and got[2].below_l == 0
    assert got[1].n_classes == 1 and got[1].n_docs == 2 and got[1].below_l == 1


def test_zipf_fit_exact_power_law(spark, tmp_path):
    """Counts 720/r for ranks 1..6 lie EXACTLY on log c = log 720 -
    log r: slope -1, r2 1 (up to the 1e-10 log rounding)."""
    words = []
    for r, c in enumerate([720, 360, 240, 180, 144, 120], start=1):
        words += [f"w{r}"] * c
    write_tables(tmp_path, documents=[(0, " ".join(words), "en", "s", 1)])
    got = registry.QUERIES["zipf_vocab_fit"](spark, str(tmp_path)).collect()[0]
    assert got.n_vocab == 6
    assert abs(got.slope - (-1.0)) < 1e-4
    assert abs(got.r2 - 1.0) < 1e-6


def test_dataset_drift_zero_and_planted(spark, tmp_path):
    """Identical even/odd halves -> KL 0, TV 0; a half that shifts
    lang mix -> both strictly positive."""
    base = [
        (0, "w", "en", "s", 10), (1, "w", "en", "s", 10),
        (2, "w", "fr", "s", 10), (3, "w", "fr", "s", 10),
    ]
    drift = [
        (0, "w", "en", "s", 10), (2, "w", "en", "s", 10),
        (1, "w", "en", "s", 10), (3, "w", "fr", "s", 10),
    ]
    for i, rows in enumerate((base, drift)):
        p = tmp_path / f"v{i}"
        write_tables(p, documents=rows)
    zero = registry.QUERIES["dataset_drift_kl"](spark, str(tmp_path / "v0")).collect()[0]
    assert zero.kl_new_vs_old == 0.0 and zero.tv_distance == 0.0
    moved = registry.QUERIES["dataset_drift_kl"](spark, str(tmp_path / "v1")).collect()[0]
    assert moved.kl_new_vs_old > 0 and 0 < moved.tv_distance < 1

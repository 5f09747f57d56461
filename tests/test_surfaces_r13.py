"""Planted closed-form pins for the round-13 operators.

The oracle gate proves Spark == DuckDB; these tests prove both equal
the INTENDED semantics on inputs small enough to hand-verify — the
two-sided discipline every operator family here carries.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _write_docs(spark, path, rows):
    """rows: list of (doc_id, text). lang/source/n_chars derived."""
    spark.createDataFrame(
        [(i, t, "en", "srcT", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _write_embeddings(spark, path, rows):
    """rows: list of (vec_id, [floats], label)."""
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/embeddings.parquet")


def test_semantic_decontam_flags_planted_axis_match(spark, tmp_path):
    """Eval vec is id 7 (7 % 20 == 7) on axis 0. Train vec 1 lies on
    the same axis (cosine exactly 1.0 -> 1_000_000 e6); every other
    train vec is orthogonal (cosine 0 < tau). Exact expected hit set:
    {1} with max_cos_e6 = 1_000_000, n_eval_neardups = 1."""
    from etl_generator_demo_spark.operators.surfaces_r13 import (
        x3_semantic_decontam,
    )

    rows = []
    for i in range(10):
        if i == 7:
            rows.append((i, [1.0, 0.0, 0.0], 0))
        elif i == 1:
            rows.append((i, [2.0, 0.0, 0.0], 0))
        else:
            rows.append((i, [0.0, float(i + 1), 0.0], 1))
    _write_embeddings(spark, str(tmp_path), rows)
    got = {r["train_doc"]: r for r in x3_semantic_decontam(spark, str(tmp_path)).collect()}
    assert set(got) == {1}
    assert got[1]["n_eval_neardups"] == 1
    assert got[1]["max_cos_e6"] == 1_000_000


@pytest.mark.slow
def test_decontam_funnel_is_monotone_and_tier_attributed(spark, tmp_path, tmp_index_root):
    """Plant one contaminated doc per tier against eval doc 7:
    - doc 1: verbatim copy of the eval text  -> dies at the EXACT gate
      (and would die at fuzzy too; exact removes it first);
    - doc 2: eval text + one token           -> survives... (shares
      shingles!) so it ALSO dies at exact; instead make doc 2 share
      NO 5-gram but be MinHash-near: impossible — fuzzy requires
      shingle Jaccard >= 0.5 which implies shared shingles, so any
      fuzzy hit is also an exact hit. The funnel's fuzzy stage can
      only remove docs the exact stage somehow missed — on REAL
      pipelines exact gates use longer n-grams/thresholds; here the
      planted pin is the monotone invariant + semantic attribution;
    - doc 3: embedding parallel to eval's    -> dies at the SEMANTIC
      gate only (its text shares nothing).
    Expected: 9 train docs total; stage2 = 8 (doc 1 gone); stage3 = 8
    (nothing new); stage4 = 7 (doc 3 gone). Token counts track the
    removed docs exactly."""
    from etl_generator_demo_spark.operators.surfaces_r13 import (
        x4_decontam_funnel,
    )

    bench = " ".join(f"q{i}" for i in range(40))
    texts = []
    for i in range(10):
        if i == 7:
            texts.append((i, bench))
        elif i == 1:
            texts.append((i, bench))
        else:
            texts.append((i, " ".join(f"d{i}w{j}" for j in range(8))))
    _write_docs(spark, str(tmp_path), texts)
    embs = []
    for i in range(10):
        if i == 7:
            embs.append((i, [1.0, 0.0], 0))
        elif i == 3:
            embs.append((i, [3.0, 0.0], 0))
        else:
            embs.append((i, [0.0, float(i + 1)], 1))
    _write_embeddings(spark, str(tmp_path), embs)
    out = {r["stage_no"]: r for r in x4_decontam_funnel(spark, str(tmp_path)).collect()}
    assert [out[i]["stage"] for i in (1, 2, 3, 4)] == [
        "train_total",
        "after_exact_ngram",
        "after_fuzzy_minhash",
        "after_semantic_cosine",
    ]
    assert out[1]["n_docs"] == 9
    assert out[2]["n_docs"] == 8  # doc 1 (verbatim eval copy) removed
    assert out[3]["n_docs"] == 8  # fuzzy adds nothing the exact gate missed
    assert out[4]["n_docs"] == 7  # doc 3 (semantic-only hit) removed
    assert out[1]["n_tokens"] - out[2]["n_tokens"] == 40  # doc 1's tokens
    assert out[3]["n_tokens"] - out[4]["n_tokens"] == 8  # doc 3's tokens
    # monotone non-increasing by construction
    counts = [out[i]["n_docs"] for i in (1, 2, 3, 4)]
    assert counts == sorted(counts, reverse=True)


@pytest.mark.slow
def test_tier_overlap_cells_partition_the_flagged_set(spark, tmp_path, tmp_index_root):
    """Same plant as the funnel: doc 1 is exact+fuzzy flagged (verbatim
    copy hits both gates — they share all shingles), doc 3 is
    semantic-only. Expected cells: (T,T,F)=1 and (F,F,T)=1."""
    from etl_generator_demo_spark.operators.surfaces_r13 import (
        x4_decontam_tier_overlap,
    )

    bench = " ".join(f"q{i}" for i in range(40))
    texts = [
        (i, bench if i in (1, 7) else " ".join(f"d{i}w{j}" for j in range(8)))
        for i in range(10)
    ]
    _write_docs(spark, str(tmp_path), texts)
    embs = []
    for i in range(10):
        if i == 7:
            embs.append((i, [1.0, 0.0], 0))
        elif i == 3:
            embs.append((i, [3.0, 0.0], 0))
        else:
            embs.append((i, [0.0, float(i + 1)], 1))
    _write_embeddings(spark, str(tmp_path), embs)
    got = {
        (r["has_exact"], r["has_fuzzy"], r["has_semantic"]): r["n_docs"]
        for r in x4_decontam_tier_overlap(spark, str(tmp_path)).collect()
    }
    assert got == {(True, True, False): 1, (False, False, True): 1}


def test_softdedup_weights_flatten_duplicates(spark, tmp_path):
    """Three copies of text A (weight 333333 each), one unique text B
    (weight 1000000). Sum of weights ~= number of DISTINCT texts (the
    SoftDeDup invariant, up to the floor loss: 3*333333 = 999999)."""
    from etl_generator_demo_spark.operators.surfaces_r13 import (
        x2_softdedup_weights,
    )

    rows = [(0, "a b c"), (1, "a b c"), (2, "a b c"), (3, "x y z w")]
    _write_docs(spark, str(tmp_path), rows)
    got = {r["doc_id"]: r for r in x2_softdedup_weights(spark, str(tmp_path)).collect()}
    assert {got[i]["n_copies"] for i in (0, 1, 2)} == {3}
    assert {got[i]["weight_e6"] for i in (0, 1, 2)} == {333_333}
    assert got[3]["n_copies"] == 1 and got[3]["weight_e6"] == 1_000_000
    assert got[0]["n_tokens"] == 3 and got[3]["n_tokens"] == 4
    total_weight = sum(r["weight_e6"] for r in got.values())
    assert total_weight == 999_999 + 1_000_000


def test_keep_best_selects_richest_variant(spark, tmp_path):
    """Docs 0/1/2 normalize to the same text; doc 1 is the raw-richest
    variant (extra whitespace -> more chars). Keep-best must pick doc 1
    where min-id dedup would pick doc 0."""
    from etl_generator_demo_spark.operators.dedup import x1_dedup_normalized
    from etl_generator_demo_spark.operators.surfaces_r13 import (
        x1_dedup_keep_best,
    )

    rows = [
        (0, "Hello World Foo"),
        (1, "hello   world    foo"),  # same normalized text, most chars
        (2, "hello world foo"),
        (3, "other text"),
    ]
    _write_docs(spark, str(tmp_path), rows)
    best = {r["keep_id"]: r for r in x1_dedup_keep_best(spark, str(tmp_path)).collect()}
    assert set(best) == {1, 3}
    assert best[1]["n_copies"] == 3
    assert best[1]["keep_n_chars"] == len("hello   world    foo")
    # contrast: the min-id policy keeps doc 0 for the same group
    minid = {r["keep_id"] for r in x1_dedup_normalized(spark, str(tmp_path)).collect()}
    assert 0 in minid and 1 not in minid


def test_prefilter_where_reaches_the_pruned_scan(spark, sf_dir):
    """The pre-filter contract at plan level: with `where` set, the
    IVF probe's scan line carries BOTH the ivf_list partition filter
    and the label pushed filter (the property plan_audit pins for the
    registered query, asserted here against the probe function
    directly so a refactor can't silently drop the pushdown)."""
    from etl_generator_demo_spark.operators.ann_index import ivf_probe_topk
    from etl_generator_demo_spark.operators.relational import t

    emb = t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[
            "embedding"
        ]
    ]
    df = ivf_probe_topk(spark, sf_dir, qv, k=5, n_probe=2, where="label = 3")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "ivf_list" in ln
    ]
    assert scan_lines, plan
    assert any(
        "PushedFilters" in ln and "label" in ln.split("PushedFilters")[1][:120]
        for ln in scan_lines
    ), scan_lines
    rows = df.collect()
    assert rows and all(r["label"] == 3 for r in rows)

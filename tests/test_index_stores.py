"""Persisted-store serving parity: the fingerprint-keyed ingest-time
artifacts (`ensure_shingle_index`, `ensure_full_band_index`) must be
ROW-IDENTICAL to the inline pipelines they replace — that identity is
what keeps every served query hash-exact against its DuckDB oracle —
warm calls must be stat-only (no rebuild), and a cold build must be
published whole or not at all, once however many callers race for it
(`operators/index_store.py`).

Reference parity note: the reference has no dedup/index layer at all
(its whole pipeline is NL→SQL→PostgreSQL, `sql_generator.py` /
`db_connector.py`); these stores are part of the engine's X2/X3
extension surface (SURVEY §2.12).
"""

from __future__ import annotations

import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def shingle_store(spark, sf_dir):
    from etl_generator_demo_spark.operators.dedup_incremental import (
        ensure_shingle_index,
    )

    return ensure_shingle_index(spark, sf_dir)


def test_corpus_shingles_row_parity_with_inline(spark, sf_dir, shingle_store):
    from etl_generator_demo_spark.operators.dedup import (
        corpus_shingles,
        doc_shingles,
    )
    from etl_generator_demo_spark.operators.relational import t

    served = corpus_shingles(spark, sf_dir)
    inline = doc_shingles(t(spark, sf_dir, "documents"))
    assert served.count() == inline.count() > 0
    # set equality both directions (distinct relations)
    assert served.exceptAll(inline).count() == 0
    assert inline.exceptAll(served).count() == 0


def test_shingle_store_warm_call_is_stat_only(spark, sf_dir, shingle_store):
    from etl_generator_demo_spark.operators.dedup_incremental import (
        ensure_shingle_index,
    )

    success = os.path.join(shingle_store, "_SUCCESS")
    mtime = os.path.getmtime(success)
    assert ensure_shingle_index(spark, sf_dir) == shingle_store
    assert os.path.getmtime(success) == mtime  # no rewrite


def test_shingle_store_layout_clusters_by_shingle(spark, shingle_store):
    """The store is hash-partitioned BY SHINGLE (all copies of a
    shingle in one file — the inverted-index property the compression
    win and any per-shingle consumer rely on)."""
    df = spark.read.parquet(shingle_store).select(
        "shingle", F.input_file_name().alias("f")
    )
    spread = (
        df.groupBy("shingle")
        .agg(F.countDistinct("f").alias("nf"))
        .agg(F.max("nf").alias("mx"))
        .first()["mx"]
    )
    assert spread == 1


def test_band_index_pairs_parity_with_inline(spark, sf_dir):
    from etl_generator_demo_spark.operators.dedup import (
        corpus_candidate_pairs,
        doc_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from etl_generator_demo_spark.operators.relational import t

    served = corpus_candidate_pairs(spark, sf_dir)
    inline = lsh_candidate_pairs(
        minhash_signatures(
            doc_shingles(t(spark, sf_dir, "documents"), distinct=False)
        )
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


OPS = "etl_generator_demo_spark.operators."

#: served site -> (the index builder it calls, the query-side result to
#: compare); `_bucket_assignments` encodes buckets differently on its
#: two paths, so the near-dup pairs built on it are compared instead.
FALLBACK_SITES = {
    "corpus_candidate_pairs": (
        "dedup_incremental.ensure_full_band_index",
        "dedup.corpus_candidate_pairs",
    ),
    "corpus_bands": ("dedup_incremental.ensure_full_band_index", "dedup.corpus_bands"),
    "corpus_shingles": ("dedup_incremental.ensure_shingle_index", "dedup.corpus_shingles"),
    "similarity._bucket_assignments": (
        "ann_index.ensure_lsh_index",
        "similarity.embedding_neardup_pairs",
    ),
}


@pytest.mark.parametrize("site", sorted(FALLBACK_SITES))
def test_index_fallback_logs_once(spark, sf_dir, caplog, monkeypatch, site):
    """A persistent index-build failure must be OBSERVABLE: the inline
    fallback is row-identical, so without the one-time warning a cold-
    path regression silently pays the ingest cost on every query."""
    import importlib
    import logging

    from etl_generator_demo_spark.operators import index_store

    builder, served_by = FALLBACK_SITES[site]
    module, fn = served_by.split(".")
    result = getattr(importlib.import_module(OPS + module), fn)
    monkeypatch.delenv("SPARK_GRAFT_FORCE_FALLBACK", raising=False)
    monkeypatch.setattr(index_store, "_warned_fallbacks", set())
    indexed = _rows(result(spark, sf_dir))

    def boom(*a, **k):
        raise OSError("unwritable index root (injected)")

    monkeypatch.setattr(OPS + builder, boom)
    n0 = index_store.events()
    with caplog.at_level(logging.WARNING, logger=index_store.__name__):
        df1 = result(spark, sf_dir)
        df2 = result(spark, sf_dir)
    assert index_store.events() == n0 + 2
    assert df1.columns == df2.columns
    warns = [r for r in caplog.records if site in r.message]
    assert len(warns) == 1, "fallback warning must fire exactly once"
    assert "OSError" in warns[0].message
    assert _rows(df1) == indexed


def _copy_embeddings(sf_dir, tmp_path) -> str:
    """A fixture directory of its own (so its index is cold) holding
    the smoke fixture's embeddings."""
    fixture = tmp_path / "fixture"
    fixture.mkdir()
    shutil.copyfile(
        os.path.join(sf_dir, "embeddings.parquet"), fixture / "embeddings.parquet"
    )
    return str(fixture)


def test_failed_cold_build_publishes_nothing(
    spark, sf_dir, tmp_path, tmp_index_root, monkeypatch
):
    """A build that fails after its data write (here: writing the
    centroid sidecar) leaves nothing at the index path — not a
    `_SUCCESS` directory without its model state that every later
    warm check would trust — and the next call builds it whole."""
    from etl_generator_demo_spark.operators import index_store
    from etl_generator_demo_spark.operators.ann_index import ensure_ivf_index

    fixture = _copy_embeddings(sf_dir, tmp_path)
    path = index_store.index_path(fixture, "ivf_l4")

    def boom(*a, **k):
        raise OSError("disk full writing the sidecar (injected)")

    with monkeypatch.context() as m:
        m.setattr(json, "dump", boom)
        with pytest.raises(OSError, match="injected"):
            ensure_ivf_index(spark, fixture, n_lists=4)
    assert not os.path.exists(path)
    assert not [e for e in os.listdir(os.path.dirname(path)) if e.startswith(".staging_")]

    got, centroids = ensure_ivf_index(spark, fixture, n_lists=4)
    assert got == path and len(centroids) == 4
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    with open(os.path.join(path, "_CENTROIDS.json")) as fh:
        assert json.load(fh) == centroids
    assert spark.read.parquet(path).count() == spark.read.parquet(
        os.path.join(fixture, "embeddings.parquet")
    ).count()


def test_concurrent_cold_builds_build_once(
    spark, sf_dir, tmp_path, tmp_index_root, monkeypatch
):
    """Two callers racing on the same cold index (pytest, bench.py and
    perfbench share the cache) build it once: the second waits on the
    lock, sees the published index and reuses it."""
    from etl_generator_demo_spark.operators import similarity
    from etl_generator_demo_spark.operators.ann_index import ensure_ivf_index

    fixture = _copy_embeddings(sf_dir, tmp_path)
    calls = []
    build = similarity.build_ivf_index

    def counting(*a, **k):
        calls.append(1)
        return build(*a, **k)

    monkeypatch.setattr(similarity, "build_ivf_index", counting)
    start = threading.Barrier(2)
    results, errors = [None, None], []

    def run(i):
        try:
            start.wait(timeout=60)
            results[i] = ensure_ivf_index(spark, fixture, n_lists=4)
        except Exception as exc:  # surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert len(calls) == 1
    assert results[0] == results[1]

"""Focused pins for the round-16 optimization rewrites: each changed
operator internal keeps its exact pre-rewrite semantics on planted
data (the oracle rows pin the fixture corpora; these pin the edge
cases the rewrites touch)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, text, lang, "srcT", len(text)) for i, (text, lang) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_rematerialize_fully_removed_doc_is_null(spark, tmp_path):
    """The array-based rebuild (r16) must keep the left-join NULL
    contract of the exploded spelling: a doc whose every token is
    removed yields n_kept_tokens 0 and kept_text NULL; a doc with no
    removals rebuilds to its original text byte-for-byte."""
    from etl_generator_demo_spark.operators.surfaces_r12 import (
        x2_removal_rematerialize,
    )

    span = "s1 s2 s3 s4 s5"
    _write_documents(
        spark,
        str(tmp_path),
        [
            (span, "en"),          # doc0: owner, kept intact
            (span, "en"),          # doc1: loses ALL tokens -> NULL
            ("u1 u2 u3", "en"),    # doc2: untouched -> identity rebuild
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in x2_removal_rematerialize(spark, str(tmp_path)).collect()
    }
    assert rows[0]["kept_text"] == span and rows[0]["n_kept_tokens"] == 5
    assert rows[1]["n_kept_tokens"] == 0 and rows[1]["kept_text"] is None
    assert rows[1]["n_tokens"] == 5
    assert rows[2]["kept_text"] == "u1 u2 u3" and rows[2]["n_kept_tokens"] == 3


def test_jaccard_sweep_single_pass_matches_brute_recount(spark, tmp_path, tmp_index_root):
    """The conditional-aggregation sweep (r16: one flag projection, two
    aggregates) must equal the per-threshold recount it replaced —
    including a threshold bucket with ZERO qualifying pairs (the
    sum-over-empty -> 0, never NULL, edge)."""
    from etl_generator_demo_spark.operators.surfaces_r10c import (
        JACCARD_SWEEP,
        x2_jaccard_threshold_sweep,
    )
    from etl_generator_demo_spark.operators.dedup import doc_shingles
    from etl_generator_demo_spark.operators.relational import t

    _write_documents(
        spark,
        str(tmp_path),
        [
            ("a b c d e f g h", "en"),
            ("a b c d e f g z", "en"),   # high overlap with doc0
            ("p q r s t u v w", "en"),   # no overlap
        ],
    )
    got = {
        r["tau_e2"]: r
        for r in x2_jaccard_threshold_sweep(spark, str(tmp_path)).collect()
    }
    # brute recount per threshold from first principles
    sh = doc_shingles(t(spark, str(tmp_path), "documents"))
    sets = {
        r["doc_id"]: set(r["s"])
        for r in sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s")).collect()
    }
    ids = sorted(sets)
    for num, den in JACCARD_SWEEP:
        pairs = [
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if len(sets[a] & sets[b]) * den
            >= num * len(sets[a] | sets[b])
            and len(sets[a] & sets[b]) > 0
        ]
        docs = {d for p in pairs for d in p}
        assert got[num]["n_pairs"] == len(pairs), (num, pairs)
        assert got[num]["n_docs_in_pairs"] == len(docs), (num, docs)
    # the planted corpus must actually exercise the empty bucket
    assert got[90]["n_pairs"] == 0 and got[90]["n_docs_in_pairs"] == 0


def test_bpe_winner_materialization_matches_wrapper(spark):
    """bpe_pair_winner + bpe_merge_step_apply (the r16 split that lets
    the trainer checkpoint the 1-row winner) must equal the one-shot
    bpe_merge_step on both the winner row and the next state —
    including the x == y run-parity path."""
    from etl_generator_demo_spark.operators.bpe import (
        bpe_merge_step,
        bpe_merge_step_apply,
        bpe_pair_winner,
    )

    vocab = spark.createDataFrame(
        [("aaab", 3), ("abab", 2)], "word string, wcount long"
    )
    state = vocab.select(
        "word", "wcount", F.posexplode(F.split("word", "")).alias("pos", "sym")
    )
    top_w, nxt_w = bpe_merge_step(state)
    top_s = bpe_pair_winner(state).localCheckpoint(eager=True)
    nxt_s = bpe_merge_step_apply(state, top_s)
    assert top_w.collect() == top_s.collect()
    key = lambda r: (r["word"], r["pos"])  # noqa: E731
    assert sorted(nxt_w.collect(), key=key) == sorted(nxt_s.collect(), key=key)


def test_matryoshka_cascade_prefix_sums_bit_exact(spark):
    """The cascaded prefix folds (r16: the p=16 dot continues the p=8
    partial) must be BIT-identical to fresh sequential folds over each
    prefix — same op order, so the committed e6-floored hashes cannot
    move."""
    from etl_generator_demo_spark.operators.similarity import _dot

    import random

    rng = random.Random(7)
    a = [rng.uniform(-1, 1) for _ in range(64)]
    b = [rng.uniform(-1, 1) for _ in range(64)]
    df = spark.createDataFrame(
        [(a, b)], "va array<double>, vb array<double>"
    )
    prod = F.zip_with("va", "vb", lambda x, y: x * y)
    df = df.withColumn("_p", prod)
    # fresh folds
    fresh = df.select(
        *[
            F.aggregate(
                F.slice("_p", 1, c), F.lit(0.0), lambda s, v: s + v
            ).alias(f"f{c}")
            for c in (8, 16, 32, 64)
        ]
    ).first()
    # cascaded folds (the query's spelling)
    prev, prev_cut, cols = F.lit(0.0), 0, []
    for c in (8, 16, 32, 64):
        s = F.aggregate(
            F.slice("_p", prev_cut + 1, c - prev_cut), prev, lambda s_, v: s_ + v
        )
        cols.append(s.alias(f"c{c}"))
        prev, prev_cut = s, c
    casc = df.select(*cols).first()
    for c in (8, 16, 32, 64):
        assert fresh[f"f{c}"] == casc[f"c{c}"]  # bit-exact, not approx
    # and both equal the engine's canonical _dot on the full vector
    full = df.select(_dot(F.col("va"), F.col("vb")).alias("d")).first()["d"]
    assert full == casc["c64"]

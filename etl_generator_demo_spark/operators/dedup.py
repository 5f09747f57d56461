"""Deduplication operators — SURVEY.md §2.12 X1/X2 ([EXT], no
reference counterpart; north-star BASELINE.json).

Four tiers, all pure DataFrame/built-in-function plans (JVM-side,
whole-stage-codegen; no Python UDFs anywhere):

- exact:          hash-groupBy on a normalized key (X1)
- MinHash + LSH:  shingle -> k md5-min signatures -> banded bucket
                  join (X2) — the 100 TB path: candidate generation is
                  a groupBy on band keys, never an all-pairs join
- n-gram Jaccard: inverted-index join on distinct shingles -> exact
                  Jaccard on candidates (verification tier; pairs
                  sharing zero shingles never materialize)
- SimHash:        sign-of-sum fingerprints (16-bit demo groups; 64-bit
                  4x16-band Manku-setting hamming<=3 pairs)

Determinism: all hashing is md5 (identical semantics in Spark and
DuckDB), so every operator here has an exact SQL oracle. MinHash uses
the *lexicographic min of hex digests* per seed — engine-portable, no
hex->int conversion.

Scale notes: shingling explodes ~L rows per doc but is map-side only;
the only shuffles are the per-doc signature groupBy and the band-key
groupBy. Hot shingles (stop-phrases) can skew the inverted-index join
— `ngram_jaccard_pairs` is the exact tier you run on LSH candidates at
scale, not on the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_generator_demo_spark.catalog import read_parquet_known
from etl_generator_demo_spark.operators.index_store import served
from etl_generator_demo_spark.operators.relational import t
from etl_generator_demo_spark.registry import register

SHINGLE_N = 5
NUM_HASHES = 8
BANDS = 2  # 2 bands x 4 rows


def _shingle_expr(text_col: str, n: int = SHINGLE_N) -> Column:
    """Array of word-n-gram shingles, '_'-joined. Empty when the doc has
    fewer than n tokens (sequence() would run descending otherwise)."""
    toks = f"split({text_col}, ' ')"
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> concat_ws('_', slice({toks}, i, {n}))) "
        f"ELSE array() END"
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """(id, shingle) pairs — the base relation for MinHash, Jaccard,
    and SimHash. ``distinct=True`` is required by Jaccard (set
    cardinalities) but NOT by MinHash: min() is duplicate-invariant, so
    the minhash path passes ``distinct=False`` and skips a full shuffle
    of the exploded shingle relation (the groupBy's map-side partial
    min shuffles only k values per doc).

    Generation runs as an Arrow ``mapInPandas`` stage rather than the
    equivalent ``transform(sequence(...))`` expression: per-shingle
    slice+concat is interpreted (not codegen'd) on the JVM and measured
    ~1.6x slower than the Python loop over Arrow batches. Token
    semantics match ``split(text, ' ')`` exactly — Python
    ``str.split(' ')`` and Java ``Pattern.split(limit=-1)`` both keep
    empty tokens. The closure is self-contained (executor workers
    cannot import this package)."""
    n, idc, txc = SHINGLE_N, id_col, text_col

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, shs = [], []
            for did, text in zip(pdf[idc], pdf[txc]):
                toks = (text or "").split(" ")
                ln = len(toks)
                if ln >= n:
                    ids.extend([did] * (ln - n + 1))
                    shs.extend("_".join(toks[i : i + n]) for i in range(ln - n + 1))
            if ids:
                yield pd.DataFrame({idc: ids, "shingle": shs})

    out = df.select(idc, txc).mapInPandas(gen, f"{idc} long, shingle string")
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """k MinHash values per doc from num_hashes/4 md5 digests: each
    128-bit digest is sliced into four independent 8-hex-char (32-bit)
    chunks — bit-splitting one strong hash is the standard way to get a
    hash family without paying k full hashes per shingle (8× fewer md5
    calls than a per-hash digest, and 8-char instead of 32-char
    signature/band values in the shuffle). 32-bit chunks keep the
    min-collision probability of two L-shingle docs ~2L/2^32 —
    negligible even at 100k shingles/doc, where 16-bit slices would
    false-positive whole bands. P[min-hash match] = Jaccard similarity,
    per the classic estimator."""
    assert num_hashes % 4 == 0, "hashes come in 4-per-digest slices"
    aggs = []
    for d in range(num_hashes // 4):
        digest = F.md5(F.concat(F.lit(f"s{d}|"), F.col("shingle")))
        for s in range(4):
            aggs.append(F.min(F.substring(digest, 8 * s + 1, 8)).alias(f"mh{d * 4 + s}"))
    return shingles.groupBy(id_col).agg(*aggs)


def banded_keys(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = BANDS
) -> DataFrame:
    """(id, band_id, band_key) rows — one per band per doc, map-side
    explode of the signature columns. The joinable LSH band relation:
    candidate pairs self-join it, incremental dedup probes a persisted
    copy of it."""
    num_hashes = len([c for c in signatures.columns if c.startswith("mh")])
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(
                    *[F.col(f"mh{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(id_col, F.explode(band_structs).alias("bk")).select(
        id_col, "bk.band_id", "bk.band_key"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any full band of signature values are
    candidates. All bands are exploded into (band_id, band_key) rows and
    matched with ONE self-join — linear in corpus size + output pairs,
    never O(n^2), and the signature pipeline is evaluated once per join
    side instead of once per band (~1.6x faster than per-band joins).

    `max_bucket_size` is the stop-band guard for corpus scale: a band
    key shared by b documents emits b*(b-1)/2 pairs, so one boilerplate
    bucket of 100k docs would emit 5e9 pairs. Buckets above the cap are
    dropped (their members are boilerplate-similar, not meaningful
    near-dups — the same reasoning as stopword removal). None = off,
    which keeps exact oracle parity for the fixture-sized corpus."""
    keyed = banded_keys(signatures, id_col=id_col, bands=bands)
    return pairs_from_banded(keyed, id_col=id_col, max_bucket_size=max_bucket_size)


def pairs_from_banded(
    keyed: DataFrame, id_col: str = "doc_id", max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs from an (id, band_id, band_key)
    relation — the join tail of :func:`lsh_candidate_pairs`, split out
    so a PERSISTED band index can feed it directly."""
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_key")
        keyed = (
            keyed.withColumn("_bucket_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    a, bb = keyed.alias("a"), keyed.alias("b")
    return (
        a.join(bb, ["band_id", "band_key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def corpus_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs for the FULL documents corpus, served from
    the persisted band index (`ensure_full_band_index` — ingest-time
    state, one linear build per fixture) when warm or buildable: the
    query-time plan is one parquet scan + the banded self-join, with
    the shingle→minhash Arrow/groupBy pipeline amortized away (the
    same persisted-index pattern as the embedding near-dup path).
    Falls back to the inline pipeline when the cache root is
    unavailable. Same md5 family either way — hash-exact vs the
    DuckDB oracles."""
    from etl_generator_demo_spark.operators import dedup_incremental as di

    return served(
        "corpus_candidate_pairs",
        lambda: pairs_from_banded(
            read_parquet_known(spark, di.ensure_full_band_index(spark, sf_dir))
        ),
        lambda: lsh_candidate_pairs(
            minhash_signatures(
                doc_shingles(t(spark, sf_dir, "documents"), distinct=False)
            )
        ),
    )


def corpus_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, band_id, band_key)`` for the FULL documents corpus,
    served from the persisted full band index (`ensure_full_band_index`
    — the same ingest-time artifact `corpus_candidate_pairs` probes)
    when warm or buildable: band consumers that need the keyed relation
    itself (not the self-joined pairs) start from one parquet scan
    instead of re-running the shingle→minhash→band Arrow pipeline per
    query (guide §2.4: remove the recompute, reuse the materialized
    partitioning). Falls back to the inline pipeline when the cache
    root is unavailable. Same md5 family either way — hash-exact vs
    the DuckDB oracles."""
    from etl_generator_demo_spark.operators import dedup_incremental as di

    return served(
        "corpus_bands",
        lambda: read_parquet_known(spark, di.ensure_full_band_index(spark, sf_dir)),
        lambda: di.document_bands(t(spark, sf_dir, "documents")),
    )


def corpus_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(doc_id, shingle)`` for the FULL documents corpus,
    served from the persisted shingle store (`ensure_shingle_index` —
    ingest-time state, one linear text pass + distinct per fixture)
    when warm or buildable: every exact-tier shingle consumer then
    starts from a parquet scan instead of re-running the Arrow
    shingling stage per query. Falls back to the inline pipeline when
    the cache root is unavailable. Row-identical either way, so
    downstream results stay hash-exact vs the DuckDB oracles. The
    MinHash path keeps its own ``distinct=False`` pipeline inside the
    band index (min() is duplicate-invariant; see `banded_keys`)."""
    from etl_generator_demo_spark.operators import dedup_incremental as di

    return served(
        "corpus_shingles",
        lambda: read_parquet_known(spark, di.ensure_shingle_index(spark, sf_dir)),
        lambda: doc_shingles(t(spark, sf_dir, "documents")),
    )


def ngram_jaccard_pairs(
    shingles: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard via inverted-index join: only pairs
    sharing >=1 shingle are scored. `jaccard` is an int/int IEEE
    division — bit-identical across engines, no rounding needed.

    The per-doc cardinality relation is joined on BOTH endpoints, so
    as two plan subtrees it is computed once only when AQE's exchange
    reuse wins a best-effort stage-cache race — the r15/r16 plan-audit
    WARNs (4 shuffles vs 3, +1 codegen stage, broadcasts unchanged)
    were that race losing under box contention. Materializing it once
    with an eager localCheckpoint (n_docs × 16 B — tiny) makes the
    single computation DETERMINISTIC and drops both aggregate subtrees
    from the visible plan (guide §2.4: two consumers, one exchange)."""
    card = (
        shingles.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("card"))
        .localCheckpoint(eager=True)
    )
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = card.select(F.col(id_col).alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col(id_col).alias("doc_b"), F.col("card").alias("card_b"))
    return (
        inter.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 16


def simhash_fingerprints(
    shingles: DataFrame, id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash without hex->int: bit b uses an independent md5 family
    ('b{b}|' prefix); a shingle votes +1 when the digest's first hex
    char has its MSB set ('8'-'f'), else -1; the bit is 1 when the vote
    sum is positive. One shuffle (the per-doc groupBy)."""
    vote_aggs = []
    for b in range(bits):
        first = F.substring(F.md5(F.concat(F.lit(f"b{b}|"), F.col("shingle"))), 1, 1)
        vote = F.when(first >= "8", 1).otherwise(-1)
        vote_aggs.append(F.sum(vote).alias(f"v{b}"))
    votes = shingles.groupBy(id_col).agg(*vote_aggs)
    bit_exprs = [F.when(F.col(f"v{b}") > 0, "1").otherwise("0") for b in range(bits)]
    return votes.select(id_col, F.concat(*bit_exprs).alias("simhash"))


def exact_dedup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """X1: keep one row per key (dropDuplicates = hash-groupBy-first;
    scales as a single shuffle on the key)."""
    return df.dropDuplicates(key_cols)


# ===========================================================================
# Driver-checkable queries
# ===========================================================================

# Window-lead formulation: DuckDB's range() table function does not
# accept lateral column parameters, so shingles come from LEAD over
# token position instead of slicing.
_DUCK_SHINGLES = """
    WITH tok AS (
        SELECT doc_id,
               UNNEST(STRING_SPLIT(text, ' ')) AS tk,
               GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               tk || '_' || LEAD(tk, 1) OVER w || '_' || LEAD(tk, 2) OVER w
                  || '_' || LEAD(tk, 3) OVER w || '_' || LEAD(tk, 4) OVER w AS shingle
        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    shingles AS (
        SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL
    )
"""


@register(
    "x1_dedup_exact",
    oracle="""
    SELECT MD5(text) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY MD5(text)
    ORDER BY keep_id
    """,
    survey_ids=("X1",),
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; keeps the smallest id as canonical
    (deterministic representative, unlike dropDuplicates' arbitrary row)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


def _duck_minhash_cols() -> str:
    # mirror of minhash_signatures: 4 slices of 8 hex chars per digest
    return ",\n           ".join(
        f"MIN(SUBSTR(MD5('s{i // 4}|' || shingle), {8 * (i % 4) + 1}, 8)) AS mh{i}"
        for i in range(NUM_HASHES)
    )


@register(
    "x2_minhash_lsh_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    band0 AS (SELECT doc_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs),
    band1 AS (SELECT doc_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs)
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM band0 a JOIN band0 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        UNION ALL
        SELECT a.doc_id, b.doc_id
        FROM band1 a JOIN band1 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates via MinHash LSH ({NUM_HASHES} hashes, {BANDS}
    bands). For the fixture's planted near-dups (shingle Jaccard ~0.97)
    detection probability is 1-(1-j^4)^2 ~ 0.99. Served from the
    persisted full-corpus band index when warm (see
    ``corpus_candidate_pairs``) — the signature pipeline is ingest
    state, the query is the banded self-join."""
    return corpus_candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@register(
    "x2_ngram_jaccard_pairs",
    oracle=f"""
    {_DUCK_SHINGLES},
    card AS (SELECT doc_id, COUNT(*) AS card FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (ca.card + cb.card - inter) AS jaccard
    FROM inter
    JOIN card ca ON ca.doc_id = doc_a
    JOIN card cb ON cb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (ca.card + cb.card - inter) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard >= 0.5 via inverted-index join (the
    verification tier for LSH candidates). Shingle sets come from the
    persisted store (`corpus_shingles`) — the text pass is ingest
    state, the query is the inverted-index join."""
    return ngram_jaccard_pairs(corpus_shingles(spark, sf_dir)).orderBy(
        "doc_a", "doc_b"
    )


def _duck_simhash_sql(bits: int = SIMHASH_BITS) -> str:
    votes = ",\n           ".join(
        f"SUM(CASE WHEN SUBSTR(MD5('b{b}|' || shingle), 1, 1) >= '8' "
        f"THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    bit_sql = " || ".join(
        f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)" for b in range(bits)
    )
    return f"""
    {_DUCK_SHINGLES},
    votes AS (
        SELECT doc_id, {votes}
        FROM shingles GROUP BY doc_id
    )
    SELECT doc_id, {bit_sql} AS simhash
    FROM votes
    ORDER BY doc_id
    """


@register("x2_simhash_fingerprints", oracle=_duck_simhash_sql(), survey_ids=("X2",))
def x2_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document; equal fingerprints = near-dup
    group. Served from the persisted shingle store."""
    return simhash_fingerprints(corpus_shingles(spark, sf_dir)).orderBy("doc_id")


#: Candidate-pair relations broadcast only below this row count. Pairs
#: are two longs (~16 B/row), so 2M rows is tens of MB in an executor —
#: same order as similarity.BROADCAST_VECTORS_MAX_ROWS. Above it the
#: verify tier falls back to shuffle (sort-merge) joins: candidate
#: mass scales with the corpus's DUPLICATE mass (real web crawls run
#: 30-50% dup rates), so at 100 TB these relations are corpus-scale
#: and a forced broadcast is a driver/executor OOM, not a slow plan
#: (r15 verdict item 1).
BROADCAST_CANDIDATES_MAX_ROWS = 2_000_000


def verified_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    broadcast_candidates: bool | None = None,
) -> DataFrame:
    """The composed 100 TB near-dup pipeline: LSH candidate pairs →
    exact Jaccard computed ONLY over candidate documents. The
    inverted-index join runs on the shingles of docs that appear in
    some candidate pair (a left-semi prune), and its output is reduced
    to the candidate pairs themselves before scoring, so no
    non-candidate pair is ever materialized.

    The candidate-side join strategy is SIZED, not hard-coded (the
    similarity.py rejoin discipline): the pair relation is already
    materialized by the localCheckpoint, so its EXACT row count is one
    cheap job, and the broadcast hints are only applied under
    ``BROADCAST_CANDIDATES_MAX_ROWS`` — above that every candidate
    join runs as a keyed shuffle join (hint("merge"), so Catalyst's
    static size stats cannot silently re-broadcast), which is the
    dup-heavy 100 TB shape. Pass ``broadcast_candidates`` to force
    either plan."""
    cand = lsh_candidate_pairs(
        minhash_signatures(doc_shingles(docs, id_col=id_col, distinct=False), id_col=id_col)
    ).localCheckpoint(eager=True)  # consumed twice (doc prune + pair filter):
    # materialize the candidate pairs once instead of re-running the
    # whole shingle->minhash->band pipeline per consumer
    if broadcast_candidates is None:
        # count of an eagerly-checkpointed relation: no recompute
        broadcast_candidates = cand.count() <= BROADCAST_CANDIDATES_MAX_ROWS
    _side = F.broadcast if broadcast_candidates else (lambda df: df.hint("merge"))
    cand_docs = (
        cand.select(F.col("doc_a").alias(id_col))
        .union(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sh = doc_shingles(docs, id_col=id_col).join(
        _side(cand_docs), id_col, "left_semi"
    )
    card = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("card"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .join(_side(cand), ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = card.select(F.col(id_col).alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col(id_col).alias("doc_b"), F.col("card").alias("card_b"))
    return (
        inter.join(_side(ca), "doc_a")
        .join(_side(cb), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("card_a") + F.col("card_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_DUCK_VERIFIED = f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {{minhash_cols}}
        FROM shingles GROUP BY doc_id
    ),
    band0 AS (SELECT doc_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs),
    band1 AS (SELECT doc_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band0 a JOIN band0 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id, b.doc_id
            FROM band1 a JOIN band1 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
    ),
    card AS (SELECT doc_id, COUNT(*) AS card FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        WHERE (a.doc_id, b.doc_id) IN (SELECT (doc_a, doc_b) FROM cand)
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / (ca.card + cb.card - inter) AS jaccard
    FROM inter
    JOIN card ca ON ca.doc_id = doc_a
    JOIN card cb ON cb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (ca.card + cb.card - inter) >= 0.5
    ORDER BY doc_a, doc_b
    """


@register(
    "x2_neardup_verified",
    oracle=_DUCK_VERIFIED.format(minhash_cols=_duck_minhash_cols()),
    survey_ids=("X2",),
)
def x2_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates-then-verify near-dup detection, the composed scale
    pipeline (LSH recall tier + exact-Jaccard precision tier restricted
    to candidates). Distinct from ``x2_ngram_jaccard_pairs``, which
    scores the whole corpus — that global tier survives as the recall
    reference; this one is what actually runs at 100 TB."""
    docs = t(spark, sf_dir, "documents")
    return verified_neardup_pairs(docs).orderBy("doc_a", "doc_b")


@register(
    "x1_dedup_normalized",
    oracle="""
    SELECT MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS norm_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY keep_id
    """,
    survey_ids=("X1",),
)
def x1_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: case-fold, trim, collapse runs of
    whitespace BEFORE hashing — catches the re-encoded/re-wrapped
    copies byte-exact dedup misses, still one scan + one shuffle.
    (Near-dup tiers catch edits; this tier catches formatting.)"""
    docs = t(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    return (
        docs.groupBy(norm.alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keep_id")
    )


@register(
    "x2_minhash_lsh_pairs_guarded",
    oracle=f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    keyed AS (
        SELECT doc_id, 0 AS band_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs
        UNION ALL
        SELECT doc_id, 1 AS band_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs
    ),
    sized AS (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bucket_n
        FROM keyed
    ),
    guarded AS (SELECT * FROM sized WHERE bucket_n <= 2)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM guarded a JOIN guarded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_lsh_pairs_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-band guard as a registered, oracle-checked path:
    `max_bucket_size=2` drops any band bucket shared by 3+ documents
    before pairing (at corpus scale those are boilerplate families
    that would emit O(bucket^2) pairs; cap=2 on the fixture actually
    fires on the planted 3-chains, so the guarded result differs from
    the unguarded one and the pruning itself is hash-verified)."""
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_signatures(doc_shingles(docs, distinct=False))
    return lsh_candidate_pairs(sigs, max_bucket_size=2).orderBy("doc_a", "doc_b")


@register(
    "x2_shingle_dup_coverage",
    oracle=f"""
    {_DUCK_SHINGLES},
    stats AS (
        SELECT shingle, COUNT(*) AS docs_with
        FROM shingles GROUP BY shingle
    ),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN st.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared
        FROM shingles s JOIN stats st USING (shingle)
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           FLOOR(n_shared * 1000000.0 / n_shingles) / 1000000 AS dup_frac
    FROM per_doc
    ORDER BY doc_id
    """,
    survey_ids=("X2", "X4"),
)
def x2_shingle_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication coverage: for every document, the
    fraction of its distinct 5-token shingles that also occur in at
    least one OTHER document — the signal substring/line-level dedup
    (boilerplate stripping, memorization risk) thresholds on, one
    level finer than whole-doc near-dup. Plan: the existing shingle
    relation feeds one map-combined count per shingle, joined back
    co-partitioned on the shingle key, then one per-doc aggregate —
    linear in total shingles, no pairwise anything. At 100 TB the
    shingle-count table is the big intermediate; it shuffles once and
    is never collected."""
    return shingle_dup_coverage(
        t(spark, sf_dir, "documents"), shingles=corpus_shingles(spark, sf_dir)
    ).orderBy("doc_id")


def shingle_dup_coverage(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """Library form over any (doc_id, text) relation: per-doc distinct
    shingle count, shared-shingle count, and dup_frac (floor-scaled).
    ``shingles`` lets a caller supply a precomputed/persisted distinct
    shingle relation for the same docs (`corpus_shingles`)."""
    sh = shingles if shingles is not None else doc_shingles(docs)  # distinct
    stats = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("docs_with"))
    per_doc = (
        sh.join(stats, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("docs_with") > 1).cast("long")).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        (F.floor(F.col("n_shared") * 1000000.0 / F.col("n_shingles")) / 1_000_000).alias(
            "dup_frac"
        ),
    )


# Production SimHash-LSH setting (Manku et al., WWW'07): 64-bit
# fingerprints, 4 bands of 16 bits, hamming <= 3. Pigeonhole: any pair
# within distance 3 agrees on at least one whole 16-bit band, and each
# band key draws from 2^16 buckets — bucket size ~ n/65536, so the
# band self-join stays near-linear. (The 16-bit demo fingerprint of
# ``x2_simhash_fingerprints`` would give only 2^4 buckets per band —
# O(n^2/16) pair generation — which is why the pairs operator uses its
# own width.)
SIMHASH_PAIR_BITS, SIMHASH_BANDS, SIMHASH_MAX_HAMMING = 64, 4, 3


def _duck_simhash_pairs_sql() -> str:
    bits, band_w = SIMHASH_PAIR_BITS, SIMHASH_PAIR_BITS // SIMHASH_BANDS
    bands = "\n        UNION ALL\n        ".join(
        f"SELECT doc_id, {k} AS band_id, SUBSTR(simhash, {1 + k * band_w}, {band_w}) AS band_key FROM fp"
        for k in range(SIMHASH_BANDS)
    )
    hamming = " + ".join(
        f"(CASE WHEN SUBSTR(fa.simhash, {i}, 1) <> SUBSTR(fb.simhash, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, bits + 1)
    )
    # reuse the parameterized fingerprint SQL as a subquery (strip its
    # trailing ORDER BY — CTE bodies don't need it)
    fp_sql = _duck_simhash_sql(bits).rsplit("ORDER BY doc_id", 1)[0]
    return f"""
    WITH fp AS (
        {fp_sql}
    ),
    bands AS (
        {bands}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, CAST({hamming} AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


@register(
    "x2_simhash_neardup_pairs",
    oracle=_duck_simhash_pairs_sql(),
    survey_ids=("X2",),
)
def x2_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS at the production LSH setting (Manku et
    al.): 64-bit fingerprints, 4 bands of 16 bits, hamming <= 3 — the
    banded completion of ``x2_simhash_fingerprints`` (equal-fingerprint
    grouping only catches distance 0). Pigeonhole guarantees any pair
    within distance 3 agrees on one whole band, so candidates come
    from ONE equi-join on (band_id, band_key) over 2^16-ary buckets —
    never an all-pairs XOR, bucket size ~ n/65536 — and the exact
    64-position hamming check runs only inside buckets. The third,
    mutually independent near-dup family next to MinHash-Jaccard and
    embedding-LSH."""
    bits, band_w = SIMHASH_PAIR_BITS, SIMHASH_PAIR_BITS // SIMHASH_BANDS
    fp = simhash_fingerprints(
        corpus_shingles(spark, sf_dir), bits=bits
    ).localCheckpoint(eager=True)
    bands = None
    for k in range(SIMHASH_BANDS):
        b = fp.select(
            "doc_id",
            F.lit(k).alias("band_id"),
            F.substring("simhash", 1 + k * band_w, band_w).alias("band_key"),
        )
        bands = b if bands is None else bands.unionByName(b)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    hamming = sum(
        F.when(F.substring("sh_a", i, 1) != F.substring("sh_b", i, 1), 1).otherwise(0)
        for i in range(1, bits + 1)
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# LSH tuning diagnostic: precision of the candidate tier by band votes
# ---------------------------------------------------------------------------
@register(
    "x2_lsh_precision_report",
    oracle=f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    band0 AS (SELECT doc_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs),
    band1 AS (SELECT doc_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs),
    cand AS (
        SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS bands_matched FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band0 a JOIN band0 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id, b.doc_id
            FROM band1 a JOIN band1 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        ) GROUP BY doc_a, doc_b
    ),
    card AS (SELECT doc_id, COUNT(*) AS card FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    j AS (
        SELECT c.bands_matched,
               COALESCE(CAST(FLOOR(i.inter * 1000000.0
                   / (ca.card + cb.card - i.inter)) AS BIGINT), 0) AS j_e6
        FROM cand c
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        LEFT JOIN card ca ON ca.doc_id = c.doc_a
        LEFT JOIN card cb ON cb.doc_id = c.doc_b
    )
    SELECT bands_matched,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN j_e6 >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
           CAST(FLOOR(CAST(SUM(j_e6) AS DOUBLE) / COUNT(*)) AS BIGINT) AS avg_jaccard_e6
    FROM j GROUP BY bands_matched ORDER BY bands_matched
    """,
    survey_ids=("X2",),
)
def x2_lsh_precision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning report: candidate pairs bucketed by how many bands
    voted for them, with exact-Jaccard verification per bucket —
    candidate count, how many are true near-dups (J ≥ 0.5), and the
    mean Jaccard. This is the measurement you read before moving the
    (hashes, bands) operating point on the S-curve: 2-band votes
    should be near-pure, 1-band votes show the false-positive tail.

    Per-pair Jaccard floor-scales to BIGINT micro-units BEFORE the
    bucket mean (SUM(int)/count — order-independent); pairs that
    collide on a band without sharing any shingle verify to 0. The
    verification tier is CANDIDATE-RESTRICTED (shingles semi-pruned to
    candidate docs before the inverted-index self-join, the
    `x2_neardup_verified` discipline) — the report only ever reads
    candidate pairs, so the all-pairs intersection would be paid-for
    work thrown away. The oracle keeps the mechanical full chain; the
    left join makes the outputs identical."""
    sh = corpus_shingles(spark, sf_dir)
    sigs = minhash_signatures(sh)
    keyed = banded_keys(sigs)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("bands_matched"))
        .localCheckpoint()  # narrow; feeds the semi-prune AND the report join
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh_c = sh.join(cand_docs, "doc_id", "left_semi")
    card = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("card"))
    sa, sb = sh_c.alias("sa"), sh_c.alias("sb")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("sa.doc_id") < F.col("sb.doc_id"))
        .groupBy(F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("card").alias("card_b"))
    j = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a", "left")
        .join(cb, "doc_b", "left")
        .select(
            "bands_matched",
            F.coalesce(
                F.floor(
                    F.col("inter") * 1000000.0
                    / (F.col("card_a") + F.col("card_b") - F.col("inter"))
                ).cast("long"),
                F.lit(0),
            ).alias("j_e6"),
        )
    )
    return (
        j.groupBy("bands_matched")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("j_e6") >= 500000, 1).otherwise(0))
            .cast("long")
            .alias("n_true_dups"),
            F.floor(F.sum("j_e6").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("avg_jaccard_e6"),
        )
        .orderBy("bands_matched")
    )


@register(
    "x2_source_overlap_matrix",
    oracle=f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    band0 AS (SELECT doc_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs),
    band1 AS (SELECT doc_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band0 a JOIN band0 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id, b.doc_id
            FROM band1 a JOIN band1 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
    )
    SELECT LEAST(da.source, db.source)    AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT)       AS n_pairs
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    GROUP BY 1, 2
    ORDER BY n_pairs DESC, source_x, source_y
    """,
    survey_ids=("X2", "A1"),
)
def x2_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup pairs
    rolled up by unordered source pair — the "which crawls copy from
    each other" report that decides source-level dedup priorities and
    licensing reviews. Source labels join back onto the NARROW pair
    relation (two ids), normalized with least/greatest so (A,B) and
    (B,A) collapse; one count groupBy on a pairs-sized relation."""
    docs = t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_signatures(doc_shingles(docs, distinct=False))
    )
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("source_a", "source_b").alias("source_x"),
            F.greatest("source_a", "source_b").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "source_x", "source_y")
    )


@register(
    "x2_minhash_estimate_error",
    oracle=f"""
    {_DUCK_SHINGLES},
    sigs AS (
        SELECT doc_id, {_duck_minhash_cols()}
        FROM shingles GROUP BY doc_id
    ),
    band0 AS (SELECT doc_id, mh0 || mh1 || mh2 || mh3 AS band_key FROM sigs),
    band1 AS (SELECT doc_id, mh4 || mh5 || mh6 || mh7 AS band_key FROM sigs),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM band0 a JOIN band0 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id, b.doc_id
            FROM band1 a JOIN band1 b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        )
    ),
    card AS (SELECT doc_id, COUNT(*) AS card FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST({" + ".join(f"(CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))} AS BIGINT) AS n_hash_matches,
               COALESCE(CAST(FLOOR(i.inter * 1000000.0
                   / (ca.card + cb.card - i.inter)) AS BIGINT), 0) AS true_j_e6
        FROM cand c
        JOIN sigs sa ON sa.doc_id = c.doc_a
        JOIN sigs sb ON sb.doc_id = c.doc_b
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        LEFT JOIN card ca ON ca.doc_id = c.doc_a
        LEFT JOIN card cb ON cb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_hash_matches,
           CAST(FLOOR(n_hash_matches * 1000000 / {NUM_HASHES}) AS BIGINT) AS est_j_e6,
           true_j_e6,
           ABS(CAST(FLOOR(n_hash_matches * 1000000 / {NUM_HASHES}) AS BIGINT) - true_j_e6)
               AS abs_err_e6
    FROM scored
    ORDER BY doc_a, doc_b
    """,
    survey_ids=("X2",),
)
def x2_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator validation per candidate pair: the classic
    P[minhash match] = Jaccard estimator (matching signature slots /
    k) against the exact shingle-set Jaccard, with the absolute error
    — the empirical check behind choosing k={NUM_HASHES}. Every column
    is integer arithmetic (the estimate is a rational with fixed
    denominator, the truth floor-scales before differencing), so the
    error surface itself hashes exactly.

    Scale: signatures join the narrow candidate pair relation
    (2 ids + k 8-char slots); the exact tier's inverted index is
    candidate-restricted (shingles semi-pruned to candidate docs — the
    `x2_neardup_verified` discipline)."""
    sh = corpus_shingles(spark, sf_dir)
    sigs = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sigs).localCheckpoint()  # narrow; reused 3x
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # candidate-restrict the exact tier (x2_neardup_verified
    # discipline): only candidate pairs reach the output, so the
    # all-pairs intersection would be discarded work
    sh = sh.join(cand_docs, "doc_id", "left_semi")
    n_hashes = len([c for c in sigs.columns if c.startswith("mh")])
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(n_hashes)
    )
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("card"))
    s1, s2 = sh.alias("s1"), sh.alias("s2")
    inter = (
        s1.join(s2, "shingle")
        .filter(F.col("s1.doc_id") < F.col("s2.doc_id"))
        .groupBy(F.col("s1.doc_id").alias("doc_a"), F.col("s2.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("card").alias("card_b"))
    est = F.floor(F.col("n_hash_matches") * 1000000 / n_hashes).cast("long")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_hash_matches", matches.cast("long"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(ca, "doc_a", "left")
        .join(cb, "doc_b", "left")
        .withColumn(
            "true_j_e6",
            F.coalesce(
                F.floor(
                    F.col("inter") * 1000000.0
                    / (F.col("card_a") + F.col("card_b") - F.col("inter"))
                ).cast("long"),
                F.lit(0),
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_hash_matches",
            est.alias("est_j_e6"),
            "true_j_e6",
            F.abs(est - F.col("true_j_e6")).alias("abs_err_e6"),
        )
        .orderBy("doc_a", "doc_b")
    )


QA_PER_BAND = 2


@register(
    "x2_dedup_qa_sample",
    oracle=f"""
    {_DUCK_SHINGLES},
    card AS (SELECT doc_id, COUNT(*) AS card FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(i * 10 // (ca.card + cb.card - i) AS BIGINT) AS jac_band,
               CAST(i * 1000000 // (ca.card + cb.card - i) AS BIGINT) AS jac_e6
        FROM inter
        JOIN card ca ON ca.doc_id = doc_a
        JOIN card cb ON cb.doc_id = doc_b
        WHERE 2 * i >= ca.card + cb.card - i  -- jaccard >= 0.5
    ),
    ranked AS (
        SELECT doc_a, doc_b, jac_band, jac_e6,
               ROW_NUMBER() OVER (
                   PARTITION BY jac_band
                   ORDER BY MD5('qa|' || CAST(doc_a AS VARCHAR) || '|'
                                || CAST(doc_b AS VARCHAR)), doc_a, doc_b
               ) AS rk
        FROM scored
    )
    SELECT jac_band, doc_a, doc_b, jac_e6
    FROM ranked WHERE rk <= {QA_PER_BAND}
    ORDER BY jac_band, doc_a, doc_b
    """,
    survey_ids=("X2", "X4"),
)
def x2_dedup_qa_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Human-review QA queue for the dedup pipeline: a deterministic
    stratified sample of near-dup pairs — {QA_PER_BAND} per Jaccard
    decile band AT OR ABOVE the 0.5 pipeline threshold (bands 5-9 +
    exact dups: at most 12 pairs; sub-threshold pairs are rejected
    before scoring, so they never reach the queue by construction —
    auditing those is the recall reference's job,
    `x2_ngram_jaccard_pairs`). md5-rank selection keeps the queue
    reproducible and position-independent. Curation teams audit the
    MARGIN (the 0.5-0.6 band: are these really dups?) without
    re-reviewing the obvious 0.9s. Integer band/score arithmetic end
    to end."""
    sh = corpus_shingles(spark, sf_dir).localCheckpoint(eager=True)
    card = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("card"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = card.select(F.col("doc_id").alias("doc_a"), F.col("card").alias("card_a"))
    cb = card.select(F.col("doc_id").alias("doc_b"), F.col("card").alias("card_b"))
    un = F.col("card_a") + F.col("card_b") - F.col("i")
    scored = (
        inter.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .filter(2 * F.col("i") >= un)
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(i * 10 DIV (card_a + card_b - i) AS BIGINT)").alias(
                "jac_band"
            ),
            F.expr("CAST(i * 1000000 DIV (card_a + card_b - i) AS BIGINT)").alias(
                "jac_e6"
            ),
        )
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("jac_band").orderBy(
            F.md5(
                F.concat(
                    F.lit("qa|"),
                    F.col("doc_a").cast("string"),
                    F.lit("|"),
                    F.col("doc_b").cast("string"),
                )
            ),
            "doc_a",
            "doc_b",
        )
    )
    return (
        scored.withColumn("rk", rk)
        .filter(F.col("rk") <= QA_PER_BAND)
        .select("jac_band", "doc_a", "doc_b", "jac_e6")
        .orderBy("jac_band", "doc_a", "doc_b")
    )

"""Deduplication operators for large text corpora (SURVEY §2.2 B-XI L1/L2/L6).

Four families, all expression-first (no Python in the per-row hot path):

- exact: content-hash groupBy. The shuffle carries a 64-bit/256-bit digest,
  never the document text → at 100 TB the shuffle is ~1% of input size.
- MinHash + LSH banding: shingle → 64-bit hash → k permuted mins →
  b bands → explode band buckets → self-join per bucket. The only
  all-to-all communication is on (band_id, band_hash) keys, whose
  cardinality is tunable via (k, b); skewed buckets (boilerplate shingles)
  are bounded by a bucket-size cap before pairing.
- SimHash: 64-bit signature via bitwise vote aggregation; near-dup
  candidates = equal signature blocks (Hamming blocking, 4 blocks of 16
  bits finds all pairs within Hamming distance 3).
- n-gram Jaccard verification: exact set similarity on candidate pairs
  only (array_intersect/array_union on shingle-hash arrays).

All randomness is seeded/deterministic: permutation constants derive from
xxhash64 of the permutation index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

# Mersenne prime 2^31-1 for permutation hashing: a*(h mod P) stays under
# 2^62, safe in ANSI-mode signed-64 arithmetic.
_P = 2147483647


def normalize_text(col: Column) -> Column:
    """Canonical text form for hashing: lower-cased, whitespace-collapsed."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def content_hash(col: Column) -> Column:
    """256-bit content digest of normalized text."""
    return F.sha2(normalize_text(col), 256)


# --- exact dedup (L1) -----------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One representative row per distinct content: min(id) wins
    (deterministic). GroupBy on the digest, then a semi-join back to pick
    the surviving rows — both shuffles carry only (digest, id)."""
    keep = (
        df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def exact_dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-content-group stats: representative id + duplicate count."""
    return (
        df.select(F.col(id_col), content_hash(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- shingling ------------------------------------------------------------

def tokens(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of word n-gram shingles, as ARRAY<BIGINT>.
    Pure higher-order functions: slide over the token array, join each
    window, xxhash64 it.

    NOTE: higher-order lambdas evaluate interpreted (~µs/shingle). Fine
    for per-row use (fingerprints, small frames); the bulk dedup pipelines
    use ``shingle_hash_rows`` below, which produces the same hash values
    through whole-stage codegen."""
    toks = tokens(col)
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(0), n_sh - 1)
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.xxhash64(
                F.array_join(F.slice(toks, i + 1, n), " ")
            ),
        )
    )


def shingle_hash_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """Exploded (id, _h) shingle-hash rows — the bulk-pipeline twin of
    ``shingle_hashes`` (bit-identical hash values, verified in tests).

    Shape: posexplode tokens → window ``lead`` over (id, pos) to form
    each n-gram (``concat_ws`` skips the NULL leads past the end) →
    xxhash64. Everything around the WindowExec is whole-stage codegen,
    vs the interpreted per-element lambdas of the array form; measured
    ~10× faster end-to-end at sf0.1, and ~7× faster than the
    shuffle-free arrays_zip/slice variant, whose per-row array copies
    cost more than this one token shuffle. The window's
    hash-partitioning on the id is REUSED by every downstream per-doc
    aggregate (MinHash mins, SimHash votes, collect_set) — the token
    explosion crosses the network exactly once.

    Docs shorter than ``n`` tokens yield their whole text as the single
    shingle (position 0 keeps whatever tokens exist), matching
    ``slice``'s clamp in the array form.

    ``distinct=True`` dedupes (id, hash) — required when duplicate
    shingles would double-vote (SimHash); skip it when the downstream
    aggregate is duplicate-insensitive (MinHash ``min``)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.size("_toks").alias("_sz"),
        F.posexplode("_toks").alias("_pos", "_tok"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_tok"), *[F.lead("_tok", j).over(w) for j in range(1, n)]
    )
    out = (
        base.withColumn("_sh", gram)
        .filter(F.col("_pos") <= F.greatest(F.col("_sz") - n, F.lit(0)))
        .select(id_col, F.xxhash64("_sh").alias("_h"))
    )
    return out.distinct() if distinct else out


def ngram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, n-gram STRING) rows — the portable twin of
    ``shingle_hash_rows``: identical explode→lead-window shape, but the
    gram text itself instead of its xxhash64. Every primitive here
    (lower/trim/split/concat_ws) has bit-identical ANSI-SQL semantics, so
    pipelines built on these rows are DuckDB-verifiable end to end
    (xxhash64 is Spark-specific). Bulk pipelines should prefer the hash
    rows — an 8-byte long shuffles ~5× lighter than a gram string.

    ``distinct=True`` (default) dedupes (id, gram) — the set form used by
    Jaccard/containment pipelines; ``distinct=False`` keeps every
    positional occurrence (required by occurrence-counting consumers such
    as ``operators.corpus.repetition_signals``)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        id_col,
        F.size("_toks").alias("_sz"),
        F.posexplode("_toks").alias("_pos", "_tok"),
    )
    w = Window.partitionBy(id_col).orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_tok"), *[F.lead("_tok", j).over(w) for j in range(1, n)]
    )
    out = (
        base.withColumn("_g", gram)
        .filter(F.col("_pos") <= F.greatest(F.col("_sz") - n, F.lit(0)))
        .select(id_col, "_g")
    )
    return out.distinct() if distinct else out


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-doc distinct shingle-hash array (id, _sh) via the codegen rows
    path; set-equal to ``shingle_hashes`` arrays (order differs — callers
    are set operations, array_intersect/array_union)."""
    return (
        shingle_hash_rows(df, text_col, id_col, n)
        .groupBy(id_col)
        .agg(F.collect_set("_h").alias("_sh"))
    )


# --- MinHash + LSH banding (L2) ------------------------------------------

def lsh_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    bands: int = 32,
) -> DataFrame:
    """Document → (band, band_hash) bucket rows. rows_per_band = k/bands;
    two documents collide in a band iff that slice of their signatures is
    identical. Returns (id, band, bucket) — the LSH blocking relation.

    Execution shape (deliberate): explode shingles → hash aggregate with
    one ``min(xxhash64(h, seed_i))`` per permutation. This stays inside
    whole-stage codegen end to end (interpreted higher-order lambdas are
    ~100× slower here) and the map-side partial aggregation collapses each
    document to one row before the shuffle — at 100 TB the shuffle carries
    |docs| × k longs, not |docs| × |shingles|."""
    r = k // bands
    sh = shingle_hash_rows(df, text_col, id_col, n)
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(k)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"_m{i}") for i in range(b * r, (b + 1) * r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 128,
    bands: int = 32,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate candidate pairs (a < b) from LSH banding.

    Scale shape: shuffle on (band, bucket); per-bucket pairing is quadratic
    so buckets above ``max_bucket`` (degenerate boilerplate) are dropped —
    logged truncation, standard LSH practice. Output is distinct pairs.

    The bucket relation is persisted before the self-join: both join
    branches share lineage, and without the persist each one re-runs the
    full shingle→signature aggregate (measured 2× the whole pipeline).
    It is |docs| × bands rows of three longs — at cluster scale,
    checkpoint it to storage instead."""
    bk = lsh_band_buckets(df, text_col, id_col, n, k, bands)
    heavy = (
        bk.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select("band", "bucket")
    )
    # heavy-bucket exclusion as a partial-agg + broadcast anti join: the
    # oversized-bucket list is tiny (usually empty), vs a window count
    # that would sort EVERY bucket row
    sized = bk.join(F.broadcast(heavy), ["band", "bucket"], "left_anti").persist()
    a = sized.select(F.col(id_col).alias("a"), "band", "bucket")
    b = sized.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# --- exact verification: n-gram Jaccard (L6) ------------------------------

def ngram_jaccard_neighbors(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_gap: int = 5,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact n-gram Jaccard over a deterministic neighbor-id block:
    candidate pairs are (a, b) with 1 ≤ b-a ≤ max_gap and both ids
    present. Fully oracle-verifiable (no hashing anywhere) — the
    SQL-expressible member of the L2/L6 family; the LSH pipelines swap
    this blocking for minhash/simhash buckets but share the relational
    verify shape.

    The id-window block is generated as an equi-join (explode offsets
    1..max_gap, then semi-join on b's existence), not a range join — a
    range condition would force a broadcast-nested-loop at scale.
    |A∩B| is relational (pair ⋈ grams-of-a ⋈ grams-of-b, then count);
    |A∪B| = |A|+|B|-|A∩B| from per-doc gram counts — nothing ever
    materializes a per-doc gram array."""
    g = ngram_rows(df, text_col, id_col, n).persist()
    ids = df.select(id_col)
    cand = (
        ids.select(
            F.col(id_col).alias("a"),
            F.explode(F.array(*[F.lit(i) for i in range(1, max_gap + 1)])).alias(
                "_d"
            ),
        )
        .withColumn("b", (F.col("a") + F.col("_d")).cast("bigint"))
        .drop("_d")
        .join(ids.select(F.col(id_col).alias("b")), "b", "left_semi")
    )
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    inter = (
        cand.join(g.select(F.col(id_col).alias("a"), "_g"), "a")
        .join(g.select(F.col(id_col).alias("b"), "_g"), ["b", "_g"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("a"), F.col("_sz").alias("_sa")), "a"
        )
        .join(
            sizes.select(F.col(id_col).alias("b"), F.col("_sz").alias("_sb")), "b"
        )
        .withColumn(
            "jaccard", F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_portable_buckets_stateless(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-ROW twin of ``minhash_portable_buckets``: the gram array and
    every permutation's min are intra-row expressions (sequence/slice →
    ``array_min`` over ``transform``), so the whole signature is
    STATELESS — no groupBy, no window — and therefore legal in a
    Structured Streaming micro-batch (streaming aggregation state never
    enters the picture; the ingestion join downstream is a plain
    stream-static join). Emits the same (id, band, bucket) rows,
    pinned equal to the batch path in tests.

    Use for streaming ingestion and small per-row frames only: the
    higher-order lambdas evaluate interpreted (the ``shingle_hashes``
    caveat; measured ~5× slower than the codegen explode+groupBy path in
    bulk), which is irrelevant at micro-batch row counts."""
    r = k // bands
    toks = tokens(F.col(text_col))
    sz = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(sz - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    # NB: the inner lambda must take exactly one parameter (PySpark
    # introspects the signature); F.transform consumes it synchronously,
    # so capturing the loop's f-string literal is safe without a default.
    mins = [
        F.array_min(
            F.transform(grams, lambda g: F.md5(F.concat(g, F.lit(f":{i}"))))
        ).alias(f"_m{i}")
        for i in range(k)
    ]
    sig = df.select(F.col(id_col), F.struct(*mins).alias("_sig"))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"_sig._m{i}") for i in range(b * r, (b + 1) * r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )


def minhash_portable_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bucket) LSH band-bucket rows in the oracle-portable
    md5-over-gram-strings hash family — the shared signature/banding
    stage behind ``minhash_portable_pairs`` (batch self-join dedup) and
    ``minhash_incremental_candidates`` (new-batch-vs-corpus ingestion).
    Per-doc signature via map-side-combined min aggregates; one row per
    (doc, band)."""
    r = k // bands
    g = ngram_rows(df, text_col, id_col, n)
    sig = g.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("_g"), F.lit(f":{i}")))).alias(f"_m{i}")
            for i in range(k)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*[F.col(f"_m{i}") for i in range(b * r, (b + 1) * r)]).alias(
                    "bucket"
                ),
            )
            for b in range(bands)
        ]
    )
    return (
        sig.select(F.col(id_col), F.explode(band_structs).alias("bb"))
        .select(id_col, "bb.band", "bb.bucket")
    )


def minhash_incremental_candidates(
    corpus: DataFrame | None = None,
    batch: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    corpus_buckets: DataFrame | None = None,
    batch_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingestion near-dup check: which documents of a NEW
    batch collide (share any LSH band bucket) with the EXISTING corpus.
    Returns distinct ``(new_id, corpus_id)`` candidate edges.

    This is the production shape for growing a deduplicated corpus: the
    corpus side's ``(id, band, bucket)`` relation is an INDEX — at 100 TB
    it is computed once at ingestion time, stored partitioned by
    (band, bucket), and only re-read here (this operator recomputes it
    from text so the whole pipeline stays oracle-verifiable; swap
    ``minhash_portable_buckets(corpus)`` for the stored index in
    production). The join is batch-sized on one side: probe rows =
    |batch| × bands, so ingesting a 1 GB batch against a 100 TB corpus
    moves ~|batch| rows plus the matched buckets, never the corpus.
    Skewed (stop-gram) buckets are an AQE skew-join case, same as
    ``minhash_candidate_pairs``.

    ``corpus_buckets`` / ``batch_buckets``: pass precomputed
    ``(id, band, bucket)`` relations (``minhash_portable_buckets``
    output, or the stored index) instead of raw text frames — the
    production call shape, where the corpus index already exists and
    only the probe side is fresh."""
    if corpus is None and corpus_buckets is None:
        raise ValueError("pass either corpus or corpus_buckets")
    if batch is None and batch_buckets is None:
        raise ValueError("pass either batch or batch_buckets")
    idx = (
        corpus_buckets
        if corpus_buckets is not None
        else minhash_portable_buckets(
            corpus, text_col=text_col, id_col=id_col, n=n, k=k, bands=bands
        )
    ).withColumnRenamed(id_col, "corpus_id")
    probe = (
        batch_buckets
        if batch_buckets is not None
        else minhash_portable_buckets(
            batch, text_col=text_col, id_col=id_col, n=n, k=k, bands=bands
        )
    ).withColumnRenamed(id_col, "new_id")
    return (
        probe.join(idx, on=["band", "bucket"])
        .select("new_id", "corpus_id")
        .distinct()
    )


def minhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH candidate pairs in a fully oracle-portable hash family:
    permutation i is ``min(md5(gram || ':i'))`` over the gram STRINGS —
    md5, string min, and concat have identical semantics in ANSI
    SQL/DuckDB, so this variant's output is hash-match verifiable end to
    end (the production ``minhash_candidate_pairs`` keeps xxhash64 on
    8-byte shingle hashes: ~5-10× cheaper, but Spark-specific). Same
    operator shape: per-doc signature via map-side-combined min
    aggregates, band buckets, bucket self-join, distinct a<b pairs."""
    bk = minhash_portable_buckets(
        df, text_col=text_col, id_col=id_col, n=n, k=k, bands=bands
    ).persist()
    a = bk.select(F.col(id_col).alias("a"), "band", "bucket")
    b = bk.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    persist: bool = True,
) -> DataFrame:
    """Full near-dedup: LSH candidates → Jaccard verify → drop the higher
    id of each confirmed pair (connected-component-free approximation:
    b survives only if it is nobody's duplicate).

    Default k=64/16 bands (r=4), not the candidate-only 128/32: the
    EXACT Jaccard verify downstream absorbs candidate-set noise, so the
    banding only has to keep recall high — P(band collision | j=0.8) =
    1-(1-0.8⁴)¹⁶ ≈ 0.9999 — and halving k halves the dominant
    signature-aggregate cost (measured 3.7 s → 2.4 s at sf0.1, identical
    survivor set). ``minhash_candidate_pairs`` keeps 128/32 because its
    callers get no verify pass.

    The whole pipeline stays in the exploded (id, shingle-hash) row world
    — no per-doc arrays are ever materialized:

    - The distinct shingle rows come out of ``shingle_hash_rows`` already
      hash-partitioned by id (its window), and a partitioning on id
      satisfies every downstream per-id aggregate (dedup, signature,
      sizes) — those aggregates run exchange-free.
    - Jaccard verification is relational: |A∩B| is a join of the
      candidate pairs against the shingle rows of both sides + a count;
      |A∪B| = |A| + |B| - |A∩B| from per-doc counts. Identical values to
      the array_intersect/array_union form, but the per-pair work is a
      hash join probe instead of an O(|A|+|B|) array merge, and nothing
      ever collects a document's shingles into one row (a 100 GB doc
      would OOM the array form).
    - Oversized LSH buckets are dropped via a tiny heavy-bucket aggregate
      + broadcast anti join, not a window sort over every bucket row.

    ``persist`` caches the distinct shingle rows — they feed the
    signature aggregate once and the verify joins twice. At cluster
    scale the same role is played by checkpointing to storage instead of
    memory."""
    rows = shingle_hash_rows(df, text_col, id_col, n, distinct=True)
    if persist:
        # left persisted after return: the result is lazy, so eager
        # unpersist would evict before the action runs. Spark's LRU
        # storage reclaims it under memory pressure.
        rows = rows.persist()
    sig = rows.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"_m{i}")
            for i in range(k)
        ]
    )
    r = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"_m{i}") for i in range(b * r, (b + 1) * r)]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    bk = sig.select(F.col(id_col), F.explode(band_structs).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )
    heavy = (
        bk.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1000)
        .select("band", "bucket")
    )
    # persist: the a/b self-join branches would otherwise each re-run the
    # signature aggregate (see minhash_candidate_pairs)
    sized = bk.join(F.broadcast(heavy), ["band", "bucket"], "left_anti").persist()
    a = sized.select(F.col(id_col).alias("a"), "band", "bucket")
    b_side = sized.select(F.col(id_col).alias("b"), "band", "bucket")
    cand = (
        a.join(b_side, on=["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # Verify-join order matters less than it looks: cand is tiny (that is
    # the point of LSH), so AQE turns cand⋈rows into a broadcast join —
    # the persisted row relation is probed in place, never re-shuffled.
    # (An explicit semi-join prune of rows down to candidate ids was
    # measured SLOWER here: building the id broadcast blocks on the full
    # LSH self-join before the verify plan can start, serializing two
    # otherwise-pipelined stages.)
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    ra = rows.select(F.col(id_col).alias("a"), "_h")
    rb = rows.select(F.col(id_col).alias("b"), "_h")
    inter = (
        cand.join(ra, "a")
        .join(rb, ["b", "_h"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    # pairs with empty intersection drop out of `inter` — they cannot
    # reach any threshold > 0
    confirmed = (
        inter.join(
            sizes.select(F.col(id_col).alias("a"), F.col("_sz").alias("_sa")), "a"
        )
        .join(
            sizes.select(F.col(id_col).alias("b"), F.col("_sz").alias("_sb")), "b"
        )
        .withColumn(
            "jaccard",
            F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = confirmed.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 1000,
    bucket_cap: int | None = 64,
) -> DataFrame:
    """SimHash candidate pairs in a fully oracle-portable form: a 32-bit
    signature built from ``int(md5(gram)[:8], 16)`` per distinct gram —
    md5, hex-digit arithmetic, bit shifts/ands, bit_count, and
    row_number all have identical semantics in DuckDB, so the complete
    vote → signature → Hamming-blocking → pair pipeline is hash-match
    verifiable (the production ``simhash_candidate_pairs`` keeps 64-bit
    xxhash64: cheaper and twice the signature width, but Spark-specific).
    Returns distinct (a < b) pairs sharing any of the ``blocks`` bit
    slices, with their full-signature Hamming distance.

    Two scale screens, both replayed verbatim in the q105 DuckDB oracle
    (VERDICT r4 item 1 — this twin was the corpus's last admitted
    quadratic, ~98x pairs at 10x docs):

    - ``max_bucket`` drops (block, slice) buckets larger than the
      threshold outright — the production path's degenerate-boilerplate
      screen (a COUNT window over the same partitioning the
      ``bucket_cap`` ranking and the self-join below already exchange
      and sort on, so it is free beyond the counting pass; dropped
      buckets are intact when ranked, so ranking survivors after the
      drop and ranking everything while filtering on both predicates
      are the same relation).
    - ``bucket_cap`` then keeps only the first ``cap`` docs per
      surviving bucket (``row_number`` ordered by ``id_col`` —
      deterministic: an id appears once per bucket). This is the screen
      that actually kills the quadratic: with an 8-bit slice, RANDOM
      signatures collide at a constant 2^-8 rate, so at 10x docs the
      WHOLE bucket-size distribution shifts up (measured at sf1.0:
      median 188, max 384 — no bucket crosses a 1000 outlier screen)
      and pairs grow ~n^2/256. Capping bounds pairs per bucket at
      C(cap, 2), making output ≤ blocks * 2^width * C(cap, 2) —
      constant in corpus size — while signature build and ranking stay
      linear. Recall trade (same class as the production screen): a
      pair ranked past ``cap`` in EVERY shared bucket is missed; at
      cluster scale prefer widening the slices (more signature bits) so
      the random floor drops instead. Pass ``None``/``0`` to disable
      either screen. Defaults leave sf0.1 (max observed bucket: 51)
      bit-identical to the uncapped result."""
    bits = 32
    width = bits // blocks
    g = ngram_rows(df, text_col, id_col, n)
    h32 = F.conv(F.substring(F.md5(F.col("_g")), 1, 8), 16, 10).cast("long")
    rows = g.select(F.col(id_col), h32.alias("_h32"))
    votes = rows.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("_h32"), i).bitwiseAND(
                        F.lit(1).cast("long")
                    )
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"_v{i}")
            for i in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(
            F.col(f"_v{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    s = votes.select(F.col(id_col), sig.alias("_sig")).persist()
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftright(F.col("_sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("slice"),
            )
            for b in range(blocks)
        ]
    )
    exploded = s.select(
        id_col, "_sig", F.explode(block_structs).alias("bs")
    ).select(id_col, "_sig", "bs.block", "bs.slice")
    # both screens ride the (block, slice) hash partitioning + sort the
    # self-join below needs — one exchange serves the windows AND the join
    if max_bucket:
        w = Window.partitionBy("block", "slice")
        exploded = exploded.withColumn("_bn", F.count(F.lit(1)).over(w)).filter(
            F.col("_bn") <= max_bucket
        )
    if bucket_cap:
        wo = Window.partitionBy("block", "slice").orderBy(id_col)
        exploded = exploded.withColumn("_rn", F.row_number().over(wo)).filter(
            F.col("_rn") <= bucket_cap
        )
    if max_bucket or bucket_cap:
        exploded = exploded.drop("_bn", "_rn")
    a = exploded.select(
        F.col(id_col).alias("a"), F.col("_sig").alias("_siga"), "block", "slice"
    )
    b_side = exploded.select(
        F.col(id_col).alias("b"), F.col("_sig").alias("_sigb"), "block", "slice"
    )
    return (
        # SORT-MERGE pinned: the screens' windows above already exchange
        # AND sort on (block, slice); SMJ reuses both for free, while the
        # session's preferSortMergeJoin=false default would pay a hash
        # build on top of the unavoidable window sort (same rationale as
        # simhash_candidate_pairs).
        a.hint("merge").join(b_side, on=["block", "slice"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("_siga").bitwiseXOR(F.col("_sigb")))
            .cast("int")
            .alias("hamming"),
        )
        .distinct()
    )


def dedup_clusters(
    pairs: DataFrame, max_iter: int = 50, driver_threshold: int = 5_000_000
) -> DataFrame:
    """Connected components over a near-duplicate pair relation (a, b):
    returns (id, cluster_id) where cluster_id is the minimum doc id in the
    component — the canonical representative every member dedups to.
    This is the exact closure of what ``near_dedup_minhash`` approximates
    one hop deep (chains a~b~c collapse to one cluster here).

    Two physical strategies on one logical result:

    - |pairs| ≤ ``driver_threshold``: Arrow-collect the (deduped,
      two-long-column) edge list and run union-find on the driver.
      The verified near-dup edge relation is orders of magnitude smaller
      than the corpus (that is the point of dedup) — a 5M-edge list is
      ~80 MB, and union-find is near-linear, vs ~1 s of scheduling per
      distributed round. This is the common case even at 100 TB corpus
      scale.
    - larger: iterative min-label propagation with path halving. Each
      round every node takes the min of its own label, its neighbors'
      labels, and its label's label — propagation distance doubles per
      round, so rounds ≈ log2(diameter). Per round: one shuffle of
      |edges| rows with a map-side-combined min aggregate plus one label
      self-join; labels are ``localCheckpoint``-ed so lineage stays O(1)
      deep instead of O(rounds); the convergence test piggybacks on the
      checkpointed frame (max label-change flag)."""
    pe = pairs.select("a", "b").distinct().persist()
    # ONE bounded action decides the strategy AND fetches the edges for
    # the driver path: collect up to threshold+1 rows (CollectLimit
    # short-circuits, so the oversized case moves only threshold+1 rows,
    # ~80 MB at the default — the same driver budget the small path
    # always had). Previously this was a full count() job followed by a
    # separate toPandas() job (guide §1.2: fewer driver-synchronized
    # actions).
    import pandas as pd  # noqa: F401 — toPandas requires it anyway

    pdf = pe.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes = set()
        for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
            nodes.add(a)
            nodes.add(b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # larger root under smaller → root = min id
        id_type = pe.schema["a"].dataType
        out_schema = StructType(
            [StructField("id", id_type), StructField("cluster_id", id_type)]
        )
        rows = [(x, find(x)) for x in sorted(nodes)]
        pe.unpersist()
        return pairs.sparkSession.createDataFrame(rows, out_schema)

    edges = (
        pe.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(pe.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("x").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["y"] == labels["id"])
            .groupBy("x")
            .agg(F.min("lbl").alias("_nmin"))
        )
        stepped = labels.join(
            neighbor_min, labels["id"] == neighbor_min["x"], "left"
        ).select(
            "id",
            F.least(F.col("lbl"), F.coalesce(F.col("_nmin"), F.col("lbl"))).alias(
                "lbl"
            ),
            (F.col("_nmin") < F.col("lbl")).alias("_chg"),
        )
        # Path halving: follow the label pointer one step (label of my
        # label — always ≤ my label). Propagation distance doubles per
        # round, so rounds ≈ log2(diameter) instead of diameter — at
        # cluster scale the driver-synchronized rounds are the expensive
        # part, not the per-round shuffle.
        lookup = stepped.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("_ll")
        )
        updated = (
            stepped.join(lookup, "lbl", "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce(F.col("_ll"), F.col("lbl"))).alias(
                    "lbl"
                ),
                (
                    F.coalesce(F.col("_chg"), F.lit(False))
                    | (F.col("_ll") < F.col("lbl"))
                ).alias("_chg"),
            )
        ).localCheckpoint()
        changed = updated.agg(F.max(F.coalesce(F.col("_chg"), F.lit(False)))).first()[0]
        labels = updated.drop("_chg")
        if not changed:
            break
    edges.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def simhash_votes(col: Column, n: int = 3, bits: int = 64) -> Column:
    """Per-bit ±1 vote totals over shingle hashes, as ARRAY<BIGINT>[bits].
    ONE aggregate pass over the shingle array (constant shifts inside an
    array literal — shift amounts must be plan-time constants)."""
    sh = shingle_hashes(col, n)

    def bit_votes(h: Column) -> Column:
        # ±1 vote per bit of h — constant shifts, one small array literal
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long")) == 1,
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("long")
                for i in range(bits)
            ]
        )

    return F.aggregate(
        sh,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(acc, bit_votes(h), lambda x, y: x + y),
    )


def fold_simhash(votes: Column, bits: int = 64) -> Column:
    """Sign-fold a votes array into the BIGINT signature. Feed this a
    *column reference* to a projected votes column (CollapseProject leaves
    the expensive aggregate in its own projection because it is referenced
    ``bits`` times here)."""
    sig = F.lit(0).cast("long")
    for i in range(bits):
        mask = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = sign bit
        sig = sig.bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Bulk SimHash: explode shingles → hash aggregate with one
    sum(±1 bit vote) per bit — fully codegen'd, map-side partial agg
    (same rationale as lsh_band_buckets; the HOF form is ~20× slower).
    Returns (id, simhash BIGINT). Distinct shingle rows: each distinct
    shingle votes exactly once, matching the array_distinct of the
    array form."""
    sh = shingle_hash_rows(df, text_col, id_col, n, distinct=True)
    votes = sh.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1).cast("long"))
                    == 1,
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("long")
            ).alias(f"_v{i}")
            for i in range(bits)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        mask = (1 << i) if i < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.col(f"_v{i}") > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 1000,
    hamming_max: int | None = None,
) -> DataFrame:
    """Hamming blocking: split the 64-bit signature into ``blocks`` equal
    bit-slices; docs sharing any slice value are candidates. The pigeonhole
    recall guarantee — every pair within Hamming distance blocks-1 shares
    at least one slice — holds in full only with the degenerate-slice
    screen disabled (``max_bucket=None`` or ``0``); at the default it is
    conditional on the pair sharing at least one NON-degenerate slice
    (a pair whose only shared slices are boilerplate buckets above
    ``max_bucket`` is dropped with them). Shuffle key = (block, slice).
    The signature table is persisted: both self-join branches derive from
    it, and unpersisted lineage would run the vote aggregate twice.

    ``hamming_max`` filters emitted pairs to full-signature Hamming
    distance ≤ the threshold, INSIDE the self-join stage (before the
    dedup exchange). This is the scale lever against the random-collision
    floor: two UNRELATED signatures still share one fixed-width slice at
    a constant 2^-width rate, so the raw candidate relation carries a
    ~n²·blocks/2^(width+1) noise term that no bucket screen can catch
    (the colliding buckets are size-2) — measured on the 10x scale step:
    guarantee-zone pairs (≤ blocks-1) grew 8.7x while the raw relation
    grew 80x, all of it hamming > 3 noise. With the filter the noise
    costs one xor+popcount per collision inside the join task and is
    never shuffled, stored, or emitted. Set it to blocks-1 (the
    guarantee zone) unless you deliberately want opportunistic far
    pairs; raising ``blocks`` both widens the guaranteed distance and
    (with more signature bits) drops the collision floor.

    ``max_bucket`` drops degenerate slices for the same reason the
    MinHash path does: a fixed-width slice collides on RANDOM signatures
    at a constant 2^-width rate, so without the cap the candidate set
    grows quadratically with the corpus (measured empirically by the 10x
    scale step: the uncapped 8-bit-slice oracle twin q105 grows ~98x in
    pairs at 10x docs). Unlike the MinHash path (whose screened bucket
    relation is persisted before the join, so a tiny partial-agg +
    broadcast anti-join wins), the screen here is a COUNT window over
    (block, slice): the sort-merge self-join below already exchanges and
    sorts every bucket row on exactly those keys, so the window's
    exchange and sort are subsumed by the join's own — the screen costs
    one counting pass, no extra job, no broadcast, at any scale
    (measured at sf0.1: 3.66 s -> 3.41 s vs the anti-join form). At
    cluster scale also raise ``blocks``' slice width (more signature
    bits) so the random-collision floor drops with the corpus size."""
    width = 64 // blocks
    sig = (
        simhash_signatures(df, text_col, id_col, n)
        .withColumnRenamed("simhash", "_sig")
        .persist()
    )
    block_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftright(F.col("_sig"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                .alias("slice"),
            )
            for b in range(blocks)
        ]
    )
    exploded = sig.select(
        id_col, "_sig", F.explode(block_structs).alias("bs")
    ).select(id_col, "_sig", "bs.block", "bs.slice")
    if max_bucket:
        w = Window.partitionBy("block", "slice")
        exploded = (
            exploded.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a = exploded.select(
        F.col(id_col).alias("a"), F.col("_sig").alias("_siga"), "block", "slice"
    )
    b = exploded.select(
        F.col(id_col).alias("b"), F.col("_sig").alias("_sigb"), "block", "slice"
    )
    pairs = (
        # pin SORT-MERGE for the self-join: the max_bucket screen's COUNT
        # window above already sorts on exactly (block, slice), and an
        # SMJ re-uses that exchange+sort for free (the subsumption this
        # operator's scale note relies on). Under the session's
        # preferSortMergeJoin=false default the planner would pick a
        # shuffled-hash join here, paying the window's sort AND a hash
        # build — measured slower (3.63 s vs 3.91 s at sf0.1).
        a.hint("merge").join(b, on=["block", "slice"])
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("_siga").bitwiseXOR(F.col("_sigb"))).alias(
                "hamming"
            ),
        )
    )
    if hamming_max is not None:
        pairs = pairs.filter(F.col("hamming") <= hamming_max)
    return pairs.distinct()


# --- cross-document repeated-chunk removal (L6 family) --------------------

def chunk_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 8,
) -> DataFrame:
    """(id, chunk_idx, chunk) rows: consecutive NON-overlapping ``m``-token
    windows of the normalized token stream — the unit of C4/CCNet-style
    repeated-span removal (vs the overlapping grams of ``ngram_rows``).

    Same codegen shape as ``shingle_hash_rows``: posexplode → ``lead``
    window hash-partitioned by the id → stride filter ``pos % m == 0``.
    The final chunk is shorter when the document length isn't a multiple
    of ``m`` (``concat_ws`` skips the NULL leads past the end); every
    document yields at least one chunk (position 0 always survives the
    stride filter)."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(id_col, F.posexplode("_toks").alias("_pos", "_tok"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_tok"), *[F.lead("_tok", j).over(w) for j in range(1, m)]
    )
    return (
        base.withColumn("_chunk", gram)
        .filter(F.col("_pos") % m == 0)
        .select(
            id_col,
            (F.col("_pos") / m).cast("bigint").alias("chunk_idx"),
            F.col("_chunk").alias("chunk"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 8,
) -> DataFrame:
    """C4-style cross-document span dedup with keep-one semantics: any
    ``m``-token chunk occurring in more than one document survives only
    in the document with the smallest id; every other document loses all
    its occurrences. (C4 "discarded all but one of any three-sentence
    span occurring more than once" — same rule over fixed-width token
    chunks, the whitespace-only-fixture analog of line/sentence spans.
    Within-document repeats are NOT removed: the rule is cross-document.)

    Returns one row per input document:
    ``(id, n_chunks, n_removed, clean_text)`` where ``clean_text`` is the
    surviving chunks re-joined in position order ('' when everything was
    removed).

    Physical shape: chunk rows (one token-stream shuffle, §``chunk_rows``)
    → per-chunk owner table (groupBy chunk: distinct-doc count + min id)
    filtered to the cross-document repeats — at 100 TB that relation is
    duplicate-spans-sized, orders of magnitude smaller than the corpus,
    so the back-join is AQE-broadcastable; otherwise it's a hash join
    keyed by the chunk. The final reassembly groupBy is the only
    collect_list in the pipeline and holds one document per group, not a
    corpus partition. At extreme scale swap the join key for
    ``xxhash64(chunk)`` (8-byte shuffle instead of the span text; same
    plan, engine-local hash) — kept portable here so the full pipeline
    is DuckDB-oracle-verifiable (plans/corpus_ops.py q117)."""
    chunks = chunk_rows(df, text_col, id_col, m)
    dup = (
        chunks.groupBy("chunk")
        .agg(
            F.count_distinct(F.col(id_col)).alias("_nd"),
            F.min(id_col).alias("_keeper"),
        )
        .filter(F.col("_nd") > 1)
        .select("chunk", "_keeper")
    )
    removed = F.col("_keeper").isNotNull() & (F.col(id_col) != F.col("_keeper"))
    return (
        chunks.join(dup, on="chunk", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(removed.cast("bigint")).alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~removed, F.struct("chunk_idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact repeated-substring removal, token-level (the ExactSubstr
    policy of Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499, applied to overlapping
    ``k``-token windows instead of a corpus suffix array): every k-token
    span occurring MORE THAN ONCE in the corpus — across documents or
    within one — is removed at every occurrence except the
    lexicographically-first (min ``(doc_id, pos)``). Removal drops all
    covered token positions; survivors reassemble in position order.

    Differs from ``chunk_dedup`` (C4 policy) in two ways: windows
    OVERLAP (any repeated run ≥ k tokens is caught regardless of
    alignment), and within-document repeats count.

    Returns ``(id, n_tokens, n_kept, clean_text)`` — one row per input
    document ('' when everything was removed).

    Physical shape: one token-stream shuffle for the lead-window grams
    (same codegen form as ``shingle_hash_rows``); the first-occurrence
    table is one partial-aggregated groupBy on the gram (min(struct) is
    partial-aggregable — no window over the corpus); the dup-cover
    relation is duplicate-spans-sized, so both the back-join and the
    covered-position anti-join AQE-broadcast at scale. Reassembly
    collect_list holds one document per group."""
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(id_col, F.posexplode("_toks").alias("_pos", "_tok"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    leads = [F.lead("_tok", j).over(w) for j in range(1, k)]
    occ = (
        base.withColumn("_full", leads[-1].isNotNull())
        .withColumn("_gram", F.concat_ws(" ", F.col("_tok"), *leads))
        .filter(F.col("_full"))
        .select(id_col, "_pos", "_gram")
    )
    firsts = (
        occ.groupBy("_gram")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(F.col(id_col), F.col("_pos"))).alias("_first"),
        )
        .filter(F.col("_n") >= 2)
    )
    covered = (
        occ.join(firsts, "_gram")
        .filter(F.struct(F.col(id_col), F.col("_pos")) != F.col("_first"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(k - 1))
            ).alias("_pos"),
        )
        .distinct()
    )
    kept = base.join(covered, on=[id_col, "_pos"], how="left_anti")
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = base.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def fuzzy_pairs_lev1(
    df: DataFrame,
    col: str,
) -> DataFrame:
    """Typo-tolerant pair discovery: all distinct-value pairs at
    Levenshtein distance exactly 1, found by SymSpell-style
    DELETION-NEIGHBORHOOD blocking (Garbe's symmetric delete algorithm):
    each string s emits |s|+1 keys — itself plus every single-character
    deletion. Two strings within edit distance 1 ALWAYS share a key
    (substitution at i ⇒ equal deletes at i; insert/delete ⇒ one equals
    a delete of the other), so the blocking has no false negatives and
    the exact ``levenshtein`` verify runs only on candidates.

    Scale shape: keys ≈ (avg_len+1)·|values| rows shuffle once on the
    key; candidate volume is bucket-bounded (shared-key groups), never
    the |values|² brute force — the classic trade of O(n·len) space for
    O(n²) time. Returns (a, b) with a < b, lowercased, exact-verified."""
    vals = df.select(F.lower(F.col(col)).alias("_s")).distinct()
    keyed = vals.select(
        "_s",
        F.explode(
            F.array_union(
                F.array(F.col("_s")),
                F.expr(
                    "transform(sequence(1, length(_s)), i -> "
                    "concat(substring(_s, 1, i-1), "
                    "substring(_s, i+1, length(_s))))"
                ),
            )
        ).alias("_k"),
    )
    a = keyed.select(F.col("_s").alias("a"), "_k")
    b = keyed.select(F.col("_s").alias("b"), "_k")
    return (
        a.join(b, "_k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .filter(F.levenshtein("a", "b") == 1)
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 100,
    threshold: float = 0.5,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity self-join via an inverted-index
    (term-keyed) join — the BoW twin of the dense-embedding
    ``similarity.cosine_self_join`` and the weighted upgrade of exact
    n-gram Jaccard (``ngram_jaccard_neighbors``). Bayardo et al.'s
    all-pairs family, reduced to its relational core:

    1. (doc, term, tf) — token occurrences collapse map-side before the
       one term shuffle;
    2. smoothed idf = ln((N+1)/(df+1)) + 1 (q114's formula) from the
       vocabulary-sized df relation; N is a 1-row broadcast scalar;
    3. **df-cut**: terms occurring in more than ``max_df`` documents are
       dropped BEFORE pairing. This is the scale contract — the pair
       fan-out of the posting join is Σ_term df² ≤ |vocab|·max_df², so a
       stop-word can never explode a partition (the same heavy-bucket
       discipline as the LSH band cap). Vectors/norms are defined over
       the kept terms, so the cosine is exact in the cut space;
    4. posting self-join on term with a<b, one partial-aggregated
       (a, b) dot-product shuffle, norm join (doc-sized, broadcastable),
       threshold on the 6-dp-rounded cosine (engine-portable boundary).

    Output: (doc_a, doc_b, cosine) for rounded cosine ≥ threshold."""
    tf = (
        df.select(
            F.col(id_col).alias("_doc"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("_doc", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("_tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    kept = (
        tf.join(dfreq.filter(F.col("_df") <= max_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_doc",
            "term",
            (
                F.col("_tf")
                * (F.log((F.col("_n") + 1.0) / (F.col("_df") + 1.0)) + 1.0)
            ).alias("_w"),
        )
    )
    norms = kept.groupBy("_doc").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nrm")
    )
    dots = (
        kept.select(F.col("_doc").alias("doc_a"), "term", F.col("_w").alias("_wa"))
        .join(
            kept.select(
                F.col("_doc").alias("doc_b"), "term", F.col("_w").alias("_wb")
            ),
            "term",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_wa") * F.col("_wb")).alias("_dot"))
    )
    from cdc_init_spark.functions.compat import round_compat

    return (
        dots.join(norms.withColumnRenamed("_doc", "doc_a"), "doc_a")
        .withColumnRenamed("_nrm", "_na")
        .join(norms.withColumnRenamed("_doc", "doc_b"), "doc_b")
        .withColumnRenamed("_nrm", "_nb")
        .select(
            "doc_a",
            "doc_b",
            round_compat(
                F.col("_dot") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )

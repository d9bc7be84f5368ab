"""Deduplication operators for training-data pipelines.

Five families, each picked for a different scale/recall trade-off:

* **exact** — hash-groupBy on content digest; one shuffle, exact.
* **MinHash + LSH** — shingle → k minhashes → band buckets → candidate
  pairs via an equi-join on (band, signature slice); only candidates pay
  the exact-verification cost. The band join is the classic
  O(n·candidates) near-dup path at corpus scale.
* **SimHash** — 64-bit sign-aggregated token hashes; near-dups are pairs
  within a Hamming radius, found by banding the 64 bits into chunks.
* **n-gram Jaccard** — exact Jaccard on shingle sets for candidate pairs
  (array_intersect/array_union sizes — JVM-side).
* **cross-doc duplicate spans** — per-document counts of word n-grams
  shared with other documents (the exact-substring dedup signal).

Everything is DataFrame algebra over built-ins (xxhash64, explode,
groupBy, equi-joins) — no Python in any hot path. Embedding-cosine
near-dup lives in similarity.py (same candidate-pair machinery over
hyperplane-LSH buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ontograph_spark.functions import graph_algo
from ontograph_spark.functions.text import shingles, word_ngrams
from ontograph_spark.terms import local_frame


def exact_duplicate_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row summary: total, distinct, duplicate rows by content digest."""
    return df.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct(F.sha2(F.col(text_col), 256)).alias("n_unique"),
        (
            F.count(F.lit(1)) - F.countDistinct(F.sha2(F.col(text_col), 256))
        ).alias("n_dup"),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per exact content digest."""
    ranked = df.withColumn(
        "_digest", F.sha2(F.col(text_col), 256)
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy("_digest").orderBy(F.col(id_col))
        ),
    )
    return ranked.where(F.col("_rn") == 1).drop("_rn", "_digest")


#: 60-bit mask — cross-engine hashes stay inside a signed 64-bit long on
#: both Spark and DuckDB (which errors on overflow rather than wrapping).
MASK60 = (1 << 60) - 1


def h60(c: Column, seed: int) -> Column:
    """Cross-engine 60-bit hash: the first 15 hex chars of
    ``md5(value ':' seed)`` parsed as an integer. Deterministic and
    identically computable in DuckDB as
    ``('0x' || substring(md5(s || ':<seed>'), 1, 15))::BIGINT`` — used by
    the sketch variants whose contract entries carry a full SQL oracle
    (xxhash64 has no DuckDB equivalent). 60 bits keeps the value inside a
    signed 64-bit long on both engines."""
    key = F.concat_ws(":", c, F.lit(str(seed)))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str, seed: int) -> str:
    """DuckDB twin of :func:`h60` (same bytes, same integer)."""
    return f"('0x' || substring(md5({expr} || ':{seed}'), 1, 15))::BIGINT"


def h60_family(c: Column, num_hashes: int) -> list[Column]:
    """``num_hashes`` cross-engine 60-bit hashes from ONE md5 — the
    Kirsch-Mitzenmacher affine family ``h_i = (a + i·b) mod 2^60`` with
    ``a`` = md5 hex chars 1-15 (60 bits) and ``b`` = chars 17-30 (56
    bits). One digest per row instead of one per (row, seed): measured
    16 independent md5 calls cost 17.3 s at sf0.1 vs ~2 s for one.
    ``i·b ≤ 15·2^56 < 2^60`` keeps the sum under 2^61, so DuckDB's
    overflow-checked BIGINT arithmetic reproduces it exactly
    (:func:`h60_family_sql`)."""
    m = F.md5(c)
    a = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    b = F.conv(F.substring(m, 17, 14), 16, 10).cast("long")
    return [(a + F.lit(i) * b).bitwiseAND(F.lit(MASK60)) for i in range(num_hashes)]


def h60_family_sql(expr: str, num_hashes: int) -> list[str]:
    """DuckDB twin of :func:`h60_family` (same bytes, same integers)."""
    a = f"('0x' || substring(md5({expr}), 1, 15))::BIGINT"
    b = f"('0x' || substring(md5({expr}), 17, 14))::BIGINT"
    return [f"(({a}) + {i} * ({b})) & {MASK60}" for i in range(num_hashes)]


def _fanout(df: DataFrame, id_col: str) -> DataFrame:
    """Repartition ahead of shingle explode: the shingle table is
    ~200x its input, so partitioning must track the EXPLODED size, not
    the input file splits — a single small parquet file otherwise pins
    the whole shingle pipeline to one task. Identical repartitions in
    sibling branches collapse via ReuseExchange (one shuffle)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int
) -> DataFrame:
    """(id, shingle) rows — the shingle-table shape. Sketches aggregate
    over this with plain hash aggregates, which scales to any corpus and
    keeps codegen small (64 chained array-folds per row do not)."""
    return _fanout(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_k)).alias("s"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 5,
    hash: str = "xx",
) -> DataFrame:
    """(id, sig: array<long>) — per id the min over shingles of
    hash_i(shingle), one map-side-combining aggregate. Seeds are
    constant, so signatures are deterministic across runs. Documents too
    short to shingle produce no row (they cannot near-dup anyway).

    ``hash='xx'`` (default) uses per-seed xxhash64 — cheap enough to
    inline in the aggregate updates; ``hash='md5'`` uses the cross-engine
    60-bit :func:`h60_family` (one md5 per shingle row, hashes derived
    affinely) so a DuckDB oracle can recompute identical signatures.
    Hash expressions for the md5 path are computed in a PROJECTION ahead
    of the aggregate: expressions inlined into aggregate update buffers
    get no common-subexpression elimination (measured 70 s vs 17 s at
    sf0.1 for 16 inlined md5s)."""
    if hash not in ("xx", "md5"):
        raise ValueError(hash)
    e = _exploded_shingles(df, id_col, text_col, shingle_k)
    if hash == "xx":
        grouped = e.groupBy("id").agg(
            *[F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
        )
    else:
        fam = h60_family(F.col("s"), num_hashes)
        proj = e.select("id", *[h.alias(f"h{i}") for i, h in enumerate(fam)])
        grouped = proj.groupBy("id").agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
        )
    return grouped.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 5,
    hash: str = "xx",
) -> DataFrame:
    """Candidate near-dup pairs (a < b) that collide in ≥1 LSH band.

    rows_per_band = num_hashes / bands; a pair colliding in a band shares
    that whole signature slice — the standard S-curve trade-off. The join
    is an equi-join on (band_id, band_signature): shuffle is on the
    banded key, so hot shingles don't concentrate on one reducer."""
    rows = num_hashes // bands
    # one row per doc; eagerly materialized so the signature aggregate
    # subtree (and its large generated code) isn't duplicated into both
    # sides of the self-join
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, hash
    ).localCheckpoint(eager=True)
    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(F.col("sig"), b * rows + 1, rows).alias("slice"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.slice").alias("slice"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs. If ``candidates`` is
    None, MinHash-LSH generates them first (never do the n² self-join)."""
    if candidates is None:
        candidates = minhash_lsh_pairs(df, id_col, text_col, shingle_k=shingle_k)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(shingles(F.col(text_col), shingle_k)).alias("sh"),
    )
    joined = (
        candidates.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.select(
            "id_a",
            "id_b",
            (inter / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_index_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    small_side_broadcast: bool = True,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above ``threshold`` via a
    **prefix-filtered** inverted index (AllPairs/PPJoin family,
    Bayardo et al., WWW'07):

    1. order each document's distinct shingles by global document
       frequency (rarest first; ties lexicographic) — one canonical
       global order;
    2. index only the first ``n - ceil(t*n) + 1`` shingles per doc: any
       pair with J ≥ t MUST share an indexed shingle (if none is shared,
       |A∩B| ≤ ceil(t|A|)-1 < t|A| ≤ t|A∪B| — contradiction);
    3. equi-join on indexed shingles for candidates (with the PPJoin
       length filter ``min(|A|,|B|) ≥ t·max(|A|,|B|)`` folded into the
       join condition), then verify exactly with array_intersect over
       the full shingle sets (JVM-side).

    **Regime honesty** (measured on the sf0.1 bench corpus, 5k docs,
    204 avg distinct shingles, only 2,041 distinct shingles in total):
    prefix filtering prunes hard only at HIGH thresholds on corpora with
    a realistic (large, Zipfian) shingle vocabulary, where the prefix is
    short and rare-shingle-only. At ``t=0.5`` the prefix is ~half of
    each doc's shingles, and on a tiny-vocabulary/templated corpus even
    the "rare" shingles occur in hundreds of documents — the candidate
    join degenerates toward all-pairs and this operator takes minutes at
    sf0.1. For that regime use :func:`ngram_jaccard_bitmap_pairs`
    (exact, bounded-vocabulary) or :func:`ngram_jaccard_pairs`
    (LSH-candidates, bounded work at any scale).

    Skew discipline: the candidate join's key space is the prefix
    shingles — on templated corpora those are still few and hot, and a
    shuffled SMJ serializes on them. With ``small_side_broadcast`` (the
    default) the prefix table and the shingle-set table broadcast, so
    pair generation and verification are map-side hash joins with NO
    key-skewed shuffle; the only shuffle left is the distinct over
    candidate pairs. Flip it off for corpora whose prefix table exceeds
    executor memory.

    Representation discipline: shingles are interned to 64-bit ids
    (``xxhash64`` — dictionary-free, collision odds negligible) the
    moment they exist, so the window sort, the candidate join and the
    per-pair verification all run on longs, not short strings; the
    verification computes |A∪B| as ``n_a + n_b − |A∩B|`` from counts
    rather than materializing ``array_union``.

    The shared intermediates (prefix index, set table) are eagerly
    materialized (``localCheckpoint``): each feeds both a stream side
    and one or more broadcast-exchange builds, and broadcast builds
    execute their subtree independently and concurrently —
    unmaterialized, the shingle pipeline re-runs per exchange and the
    racing builds interact badly with AQE. The shingle table itself is
    persisted only while those two checkpoints materialize, then
    unpersisted (its only consumers)."""
    sh = (
        _exploded_shingles(df, id_col, text_col, shingle_k)
        .select("id", F.xxhash64("s").alias("s"))
        .distinct()
        .persist()
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(dfreq, "s").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df"), F.col("s"))
        ),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # ceil guarded against upward FP error (e.g. 0.07*100 → 7.000000000000001):
    # err toward a LONGER prefix (safe) rather than a shorter one.
    prefix_len = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1
    )
    prefix = (
        ranked.join(sizes, "id")
        .where(F.col("rn") <= prefix_len)
        .select("id", "s", "n")
        .localCheckpoint(eager=True)
    )
    sets = (
        sh.groupBy("id")
        .agg(F.sort_array(F.collect_set("s")).alias("sh"))
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    b = lambda d: F.broadcast(d) if small_side_broadcast else d  # noqa: E731
    # PPJoin length filter in the join condition: J ≥ t needs
    # min(|A|,|B|) ≥ t·max(|A|,|B|); the 1e-9 slack keeps FP products
    # from excluding exact-boundary pairs.
    cand = (
        prefix.alias("a")
        .join(
            b(prefix).alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - F.lit(1e-9))
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - F.lit(1e-9)),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    joined = (
        cand.join(
            b(sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))),
            "id_a",
        )
        .join(
            b(sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return joined.select(
        "id_a", "id_b", (inter / union).alias("jaccard")
    ).where(F.col("jaccard") >= threshold)


def ngram_jaccard_bitmap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_vocab: int = 1 << 16,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard for **bounded-vocabulary** corpora
    (small alphabets, templated text, short k-grams): intern the distinct
    shingles to dense bit positions, represent each document's shingle
    set as a ``ceil(V/64)``-word bitmap, and verify pairs with AND +
    popcount — O(V/64) per pair instead of an O(|A|+|B|) array
    intersection, with no exploded shingle-pair blowup at all.

    Why this regime needs its own operator: at low thresholds on
    templated corpora both the naive inverted-index join (pair
    multiplicity = Σ df² ≈ 769M on the 5k-doc sf0.1 bench corpus) and
    the AllPairs prefix filter (prefix ≈ half of each doc at t=0.5, and
    every shingle is common) blow up — while V is tiny (2,041), so a
    bitmap verify of ALL length-eligible pairs is orders of magnitude
    cheaper. Exact — same output as the naive algorithm.

    Plan shape: the bitmap table (one row per doc: id, |set|, V/64
    longs) is small by construction (the regime guard), so it broadcasts
    as a packed numpy matrix and the n² enumerate-AND-popcount-verify
    runs as ONE Arrow-batched ``mapInPandas`` stage over the bitmap
    table — each task verifies its rows against the full matrix with
    vectorized bitwise-AND + byte-table popcounts. One shuffle total
    (the groupBy building bitmaps).

    Why Python here (the documented exception to "stay JVM-side"): the
    enumeration is a cross join with NO equi key — Spark executes it as
    BroadcastNestedLoopJoin, which evaluates the join condition
    row-at-a-time per pair with no whole-stage codegen; measured
    ~39 µs/pair (114 s cold / 30 s warm for the 12.5M pairs at sf0.1).
    The numpy form does the identical arithmetic at SIMD speed (verify
    stage measured 2.5 s at sf0.1 on a quiet host, whole operator 6.3 s
    mostly fixed job overhead) and ships one 1.3 MB broadcast.
    The stream side is explicitly re-spread first: AQE coalesces the
    tiny bitmap table to ONE partition, which would serialize the n²
    verify — partitioning must track the PAIR count, not input bytes.

    Scale honesty: all-pairs enumeration is O(n²) in document count —
    right when n is modest after upstream exact-dedup/blocking, or per
    LSH/band bucket. ``max_vocab`` (default 65,536 bits = 8 KB/doc)
    guards the regime: a corpus whose distinct-shingle count exceeds it
    raises, pointing at the prefix/LSH operators instead. At cluster
    scale the same bitmap verify composes with any candidate generator
    (swap the nested-loop for an equi-join on block keys)."""
    # persisted: consumed twice (vocab build + bitmap build) — without
    # it the shingle explode re-runs per consumer
    sh = _exploded_shingles(df, id_col, text_col, shingle_k).distinct().persist()
    vocab = (
        sh.select("s")
        .distinct()
        .withColumn("idx", F.row_number().over(Window.orderBy("s")) - 1)
        .localCheckpoint(eager=True)
    )
    v = vocab.count()
    if v > max_vocab:
        raise ValueError(
            f"distinct shingle vocabulary {v} exceeds max_vocab={max_vocab}; "
            "use ngram_jaccard_index_pairs (high threshold) or "
            "ngram_jaccard_pairs (LSH candidates) for large vocabularies"
        )
    words = (v + 63) // 64
    # One PLAIN LONG COLUMN per bitmap word (not an array): the per-pair
    # verify then compiles to primitive and/popcount/add expressions —
    # array-lambda forms (zip_with + aggregate) are interpreted per pair
    # inside the nested-loop join and measured ~10x slower at sf0.1.
    # The word build folds each dense index into its word via a SQL
    # lambda (the Python DSL's shiftleft only takes a literal shift).
    word_col = lambda w: F.expr(  # noqa: E731
        f"aggregate(filter(idxs, i -> CAST(i / 64 AS INT) = {w}), "
        "CAST(0 AS BIGINT), "
        "(acc, i) -> acc | shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT)))"
    )
    bm = (
        sh.join(F.broadcast(vocab), "s")
        .groupBy("id")
        .agg(F.collect_list("idx").alias("idxs"))
        .select(
            "id",
            F.size("idxs").alias("n"),
            *[word_col(w).alias(f"w{w}") for w in range(words)],
        )
        .localCheckpoint(eager=True)
    )
    sh.unpersist()

    import numpy as np
    import pandas as pd

    # the full bitmap matrix, packed: ids, set sizes, and an (n, words)
    # uint64 matrix — bounded by the regime guard (words ≤ 1024), so even
    # 200k docs is a ~200 MB broadcast; beyond that a candidate generator
    # (LSH/prefix) replaces all-pairs anyway
    pdf = bm.toPandas()
    all_ids = pdf["id"].to_numpy()
    all_n = pdf["n"].to_numpy(dtype=np.int64)
    all_w = np.column_stack(
        [pdf[f"w{w}"].to_numpy(dtype=np.int64) for w in range(words)]
    ).astype(np.uint64)
    bc = df.sparkSession.sparkContext.broadcast((all_ids, all_n, all_w))
    #: byte → popcount lookup (vectorized fallback; numpy<2 has no bitwise_count)
    pop8 = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
        axis=1, dtype=np.int64
    )

    def verify(batches):
        ids, sizes, mat = bc.value
        mat_bytes = mat.view(np.uint8).reshape(mat.shape[0], -1)
        for b_ in batches:
            out_a, out_b, out_j = [], [], []
            wa = np.column_stack(
                [b_[f"w{w}"].to_numpy(dtype=np.int64) for w in range(words)]
            ).astype(np.uint64)
            na = b_["n"].to_numpy(dtype=np.int64)
            for r in range(len(b_)):
                id_a = b_["id"].iloc[r]
                keep = ids > id_a  # canonical a < b orientation
                if not keep.any():
                    continue
                inter = pop8[(mat[keep] & wa[r]).view(np.uint8)].reshape(
                    keep.sum(), -1
                ).sum(axis=1)
                union = na[r] + sizes[keep] - inter
                jacc = inter / union
                hit = jacc >= threshold
                if hit.any():
                    out_a.extend([id_a] * int(hit.sum()))
                    out_b.extend(ids[keep][hit])
                    out_j.extend(jacc[hit])
            yield pd.DataFrame(
                {
                    "id_a": np.asarray(out_a, dtype=ids.dtype),
                    "id_b": np.asarray(out_b, dtype=ids.dtype),
                    "jaccard": np.asarray(out_j, dtype=np.float64),
                }
            )

    id_type = bm.schema["id"].dataType.simpleString()
    stream = bm.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return stream.mapInPandas(
        verify, schema=f"id_a {id_type}, id_b {id_type}, jaccard double"
    )


def ngram_jaccard_exact_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    bitmap_max_vocab: int = 1 << 16,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard with REGIME DISPATCH — the
    recommended entry point. One cheap distinct-count of the shingle
    vocabulary picks the algorithm:

    * vocabulary ≤ ``bitmap_max_vocab`` → :func:`ngram_jaccard_bitmap_pairs`
      (templated/small-alphabet corpora, where prefix filtering
      degenerates toward all-pairs — measured minutes-to-timeout at
      sf0.1 even at t=0.85);
    * larger vocabulary → :func:`ngram_jaccard_index_pairs` (AllPairs
      prefix filter — realistic Zipfian vocabularies, where prefixes are
      rare-shingle-only and prune hard).

    Both branches produce identical, exact output."""
    v = (
        _exploded_shingles(df, id_col, text_col, shingle_k)
        .select("s")
        .distinct()
        .count()
    )
    if v <= bitmap_max_vocab:
        return ngram_jaccard_bitmap_pairs(
            df, id_col, text_col, shingle_k, threshold, bitmap_max_vocab
        )
    return ngram_jaccard_index_pairs(df, id_col, text_col, shingle_k, threshold)


def cross_doc_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-span signal (the exact-substring dedup
    statistic of "Deduplicating Training Data Makes Language Models
    Better", Lee et al. 2022, at word-``n``-gram granularity): per
    document, how many of its distinct word ``n``-grams also occur in at
    least ``min_docs - 1`` OTHER documents.

    Output: ``(id, n_grams, n_dup_grams, dup_milli)`` for EVERY input
    row — ``n_grams`` = distinct word n-grams in the doc (0 for docs
    shorter than ``n`` words), ``n_dup_grams`` = how many of those are
    cross-doc duplicated, ``dup_milli`` = round(1000 · dup fraction).
    A corpus pass drops or trims documents above a dup_milli cutoff.

    100 TB plan shape: per-document distinctness happens INSIDE the row
    (``array_distinct`` before the explode — no pre-shuffle), n-grams are
    interned to cross-engine 60-bit ids (:func:`h60` — 8-byte shuffle
    keys instead of ~50-byte strings; the DuckDB oracle recomputes the
    identical ids via :func:`h60_sql`), the document-frequency aggregate
    is one map-side-combining groupBy, and the join back is a left-semi
    against only the DUPLICATED gram subset — a small fraction of the
    gram table on real corpora. Two shuffles total (gram DF + per-doc
    recount); no driver-side state.
    """
    grams = _fanout(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("g"),
    ).select("id", h60(F.col("g"), 0).alias("gh"))
    # (id, gh) rows are distinct by construction, so count(*) per gh = the
    # gram's document frequency
    hot = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gh")
    )
    dup = (
        grams.join(hot, "gh", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.array_distinct(word_ngrams(text_col, n))).cast("long").alias("n_grams"),
    )
    out = totals.join(dup, "id", "left").select(
        "id",
        "n_grams",
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
    )
    dup_milli = F.when(
        F.col("n_grams") > 0,
        F.round(F.lit(1000.0) * F.col("n_dup_grams") / F.col("n_grams")),
    ).otherwise(F.lit(0))
    return out.withColumn("dup_milli", dup_milli.cast("long"))


def simhash64_df(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 4,
    hash: str = "xx",
) -> DataFrame:
    """(id, sh: long) — SimHash per id: per shingle occurrence take a
    hash, per bit position sum (+1/-1) votes via one hash aggregate over
    the shingle table, then sign-pack into one long.

    ``hash='xx'`` → 64-bit xxhash64 (fast JVM path); ``hash='md5'`` →
    the 60-bit cross-engine :func:`h60` (DuckDB-oracle-checkable; bits
    60-63 are always 0)."""
    nbits = simhash_bits(hash)
    e = _exploded_shingles(df, id_col, text_col, shingle_k).withColumn(
        "h", F.xxhash64("s") if hash == "xx" else h60(F.col("s"), 0)
    )
    # vote_b = (+1/-1 sum) = 2·ones_b − total; aggregating the raw bit
    # (shift+and, no branch) keeps the 60/64 update expressions small —
    # the branchy CASE form pushed the generated aggregate past the JIT's
    # huge-method limit and ran interpreted (~2x slower end to end)
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(nbits)
    ] + [F.count(F.lit(1)).alias("cnt")]
    votes = e.groupBy("id").agg(*aggs)
    out = F.lit(0).cast("long")
    for b in range(nbits):
        bit = F.when(
            F.col(f"c{b}") * 2 > F.col("cnt"), F.lit(1).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        out = out.bitwiseOR(F.shiftleft(bit, b))
    return votes.select("id", out.alias("sh"))


def simhash_bits(hash: str) -> int:
    if hash not in ("xx", "md5"):
        raise ValueError(hash)
    return 64 if hash == "xx" else 60


def simhash_chunk_bounds(nbits: int, chunks: int) -> list[tuple[int, int]]:
    """(shift, width) per chunk: ``chunks`` contiguous blocks covering all
    ``nbits`` bits, the last block absorbing the remainder."""
    width = nbits // chunks
    bounds = [(c * width, width) for c in range(chunks - 1)]
    bounds.append(((chunks - 1) * width, nbits - (chunks - 1) * width))
    return bounds


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int | None = None,
    hash: str = "xx",
) -> DataFrame:
    """Near-dup pairs within a Hamming radius: band the simhash into
    ``chunks`` contiguous blocks; by pigeonhole, any pair within
    ``chunks - 1`` bit flips collides on ≥1 block. Exact Hamming check
    reranks candidates.

    Recall guarantee: complete only when ``max_hamming <= chunks - 1``,
    so ``chunks`` defaults to ``max_hamming + 1``. Passing fewer chunks
    trades recall above ``chunks - 1`` flips for fewer candidates."""
    nbits = simhash_bits(hash)
    if chunks is None:
        chunks = max_hamming + 1
    # one row per doc; materialized for the same reason as in
    # minhash_lsh_pairs (the 60/64-aggregate subtree would otherwise run
    # and compile once per self-join side)
    sim = simhash64_df(df, id_col, text_col, hash=hash).localCheckpoint(eager=True)
    banded = sim.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(cidx).alias("chunk"),
                        F.shiftright(F.col("sh"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for cidx, (shift, width) in enumerate(
                        simhash_chunk_bounds(nbits, chunks)
                    )
                ]
            )
        ).alias("ck"),
    ).select("id", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def near_dup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    threshold: float = 0.5,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Training-pipeline dedup keep-list: ``(id, canonical_id, keep)``
    for EVERY input document. Near-dup pair edges (``pairs``, default
    :func:`ngram_jaccard_bitmap_pairs` at ``threshold``) are clustered
    with connected components; each document's ``canonical_id`` is the
    minimum id of its component (its own id when it has no near-dup),
    and ``keep`` marks the one representative per cluster — the rows a
    dedup pass retains.

    Execution: pair sets of at most ``graph_algo.DRIVER_EDGE_LIMIT``
    edges solve with a plain min-id union-find on the driver (one
    cache-served collect; a distributed iteration on a tiny graph is
    pure scheduler overhead) — larger sets run the distributed
    min-label propagation (ontograph_spark.pipeline.canon.
    connected_components). Both paths produce the identical min-id
    mapping. The final join broadcasts the mapping (one row per
    clustered doc — bounded by the duplicate count, not the corpus), so
    the corpus-side pass is shuffle-free."""
    if pairs is None:
        pairs = ngram_jaccard_bitmap_pairs(
            df, id_col, text_col, shingle_k=shingle_k, threshold=threshold
        )
    # Materialize the pair edges ONCE, with one fully-parallel pass: the
    # candidate-pair job (banded self-join + bitmap verify) is the
    # expensive part, and without this cache any downstream reference
    # (the regime probe, the distributed-CC fallback, the final mapping
    # join) would re-execute it from scratch — measured as a 5x wall
    # regression at sf0.1. count() over the persisted frame computes all
    # partitions concurrently; the old incremental-limit take() ran
    # escalating 1→4→16… partition jobs mostly sequentially, ~10 s of
    # pure scheduling at sf0.1. persist() beats localCheckpoint() here
    # (the RDD conversion cut alone measured ~1.5 s extra).
    from pyspark import StorageLevel

    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = edges.count()
    if n_edges <= graph_algo.DRIVER_EDGE_LIMIT:
        rows = edges.collect()  # served from the cache just built
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(n, find(n)) for n in parent]
        # the collect above materialized everything the driver path
        # needs — release the cached partitions now (repeated calls in
        # a long-lived session would otherwise accumulate until an
        # external clearCache)
        edges.unpersist()
        comp = local_frame(
            df.sparkSession, mapping, "node long, component long"
        )
    else:
        from ontograph_spark.pipeline.canon import connected_components

        # connected_components eagerly localCheckpoints its first
        # union-of-directions pass, so the returned labels no longer
        # reference the edges lineage — safe to release here too
        comp = connected_components(edges)
        edges.unpersist()
    out = (
        df.select(F.col(id_col).alias("id"))
        .join(
            F.broadcast(comp.withColumnRenamed("node", "id")), "id", "left"
        )
        .select("id", F.coalesce("component", F.col("id")).alias("canonical_id"))
    )
    return out.withColumn("keep", F.col("id") == F.col("canonical_id"))

"""Training-data operator tests: text analysis, dedup families,
similarity search, multimodal plumbing — each against an independent
pure-Python/numpy oracle."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from ontograph_spark.functions import text as T
from ontograph_spark.functions.dedup import (
    exact_dedup,
    exact_duplicate_stats,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from ontograph_spark.functions.multimodal import (
    extract_features,
    frame_sample,
    synthesize_media_table,
)
from ontograph_spark.functions.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_topk,
    lsh_topk,
)

TEXTS = [
    "the cat and the dog sat on a mat.",
    "der Hund und die Katze; das ist ein Test!",
    "el gato y la casa de los perros",
    "xyzzy qwfp zzz",
    "",
    "  spaced   out   words  ",
]


@pytest.fixture(scope="module")
def texts_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], ["id", "text"]
    )


def test_text_columns_vs_python(spark, texts_df):
    rows = texts_df.select(
        "id",
        "text",
        T.token_count("text").alias("tok"),
        T.stopword_count("text", "en").alias("sw"),
        T.punct_count("text").alias("punct"),
        T.alpha_count("text").alias("alpha"),
        T.lang_guess("text").alias("lang"),
        T.fingerprint("text").alias("fp"),
    ).collect()
    for r in rows:
        t = r["text"]
        assert r["tok"] == len(t.strip().split()) if t.strip() else r["tok"] == 1
        assert r["sw"] == len(re.findall(T.stopword_regex("en"), t))
        assert r["punct"] == len(re.findall(T.PUNCT_CLASS, t))
        assert r["alpha"] == len(re.findall(r"[A-Za-z]", t))
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        assert r["fp"] == hashlib.md5(norm.encode()).hexdigest()
    by_id = {r["id"]: r["lang"] for r in rows}
    assert by_id[0] == "en"
    assert by_id[1] == "de"
    assert by_id[2] == "es"
    assert by_id[3] == "und"


def test_shingles(spark):
    df = spark.createDataFrame([("abcdef",)], ["text"])
    got = df.select(T.shingles("text", 3).alias("s")).collect()[0]["s"]
    assert got == ["abc", "bcd", "cde", "def"]


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
    (3, "completely different content about spark dataframes and shuffles"),
    (4, "another unrelated string full of parquet and arrow batches"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup(spark, docs_df):
    stats = exact_duplicate_stats(docs_df, "text").collect()[0]
    assert (stats["n_total"], stats["n_unique"], stats["n_dup"]) == (5, 4, 1)
    kept = sorted(r["doc_id"] for r in exact_dedup(docs_df, "doc_id").collect())
    assert kept == [0, 2, 3, 4]  # min-id representative survives


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs_df, "doc_id").collect()
    }
    assert (0, 1) in pairs  # identical always collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup collides in ≥1 band
    assert (3, 4) not in pairs


def test_ngram_jaccard(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "doc_id", threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert all(a != 3 and b != 4 or (a, b) == (3, 4) for a, b in pairs) or (3, 4) not in pairs


def test_ngram_jaccard_index_pairs_vs_python(spark, docs_df):
    from ontograph_spark.functions.dedup import ngram_jaccard_index_pairs

    def sh(t, k=5):
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        n = max(len(norm) - (k - 1), 1)
        return {norm[i : i + k] for i in range(n)}

    sets = {i: sh(t) for i, t in DOCS}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    want[(a, b)] = j
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_index_pairs(docs_df, "doc_id", threshold=0.5).collect()
    }
    assert got.keys() == want.keys()
    for k_ in got:
        assert got[k_] == pytest.approx(want[k_], abs=1e-12)


def test_ngram_jaccard_bitmap_vs_python(spark, docs_df):
    """The bitmap-verification path is exact: same pairs/values as the
    naive set algebra (and hence as ngram_jaccard_index_pairs)."""
    from ontograph_spark.functions.dedup import ngram_jaccard_bitmap_pairs

    def sh(t, k=5):
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        n = max(len(norm) - (k - 1), 1)
        return {norm[i : i + k] for i in range(n)}

    sets = {i: sh(t) for i, t in DOCS}
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] & sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= 0.5:
                    want[(a, b)] = j
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_bitmap_pairs(docs_df, "doc_id", threshold=0.5).collect()
    }
    assert got.keys() == want.keys()
    for k_ in got:
        assert got[k_] == pytest.approx(want[k_], abs=1e-12)


def test_ngram_jaccard_exact_dispatch(spark, docs_df):
    """Both dispatch regimes return the same exact pairs."""
    from ontograph_spark.functions.dedup import ngram_jaccard_exact_pairs

    small_vocab = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_exact_pairs(docs_df, "doc_id", threshold=0.5).collect()
    }
    # force the prefix branch by making the vocab look "large"
    big_vocab = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_exact_pairs(
            docs_df, "doc_id", threshold=0.5, bitmap_max_vocab=1
        ).collect()
    }
    assert small_vocab.keys() == big_vocab.keys()
    for k_ in small_vocab:
        assert small_vocab[k_] == pytest.approx(big_vocab[k_], abs=1e-12)


def test_ngram_jaccard_bitmap_vocab_guard(spark, docs_df):
    from ontograph_spark.functions.dedup import ngram_jaccard_bitmap_pairs

    with pytest.raises(ValueError, match="max_vocab"):
        ngram_jaccard_bitmap_pairs(docs_df, "doc_id", max_vocab=4)


def _h60_py(s: str, seed: int) -> int:
    return int(hashlib.md5(f"{s}:{seed}".encode()).hexdigest()[:15], 16)


def test_h60_matches_python(spark):
    from ontograph_spark.functions.dedup import h60

    df = spark.createDataFrame([("abc",), ("ünïcode",), ("",)], ["s"])
    rows = df.select("s", h60(F.col("s"), 7).alias("h")).collect()
    for r in rows:
        if r["s"]:
            assert r["h"] == _h60_py(r["s"], 7)
    # empty string: concat_ws keeps it, same key as python
    empty = [r for r in rows if r["s"] == ""][0]
    assert empty["h"] == _h60_py("", 7)


def _h60_family_py(s: str, num_hashes: int) -> list[int]:
    m = hashlib.md5(s.encode()).hexdigest()
    a, b = int(m[:15], 16), int(m[16:30], 16)
    return [(a + i * b) & ((1 << 60) - 1) for i in range(num_hashes)]


def test_minhash_md5_matches_python(spark, docs_df):
    """Cross-engine md5 minhash: Spark signatures equal the pure-Python
    recomputation shingle-for-shingle (the DuckDB oracle in
    __spark_entry__ recomputes the same construction in SQL)."""
    from ontograph_spark.functions.dedup import minhash_signatures

    def sh_all(t, k=5):
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        n = max(len(norm) - (k - 1), 1)
        return [norm[i : i + k] for i in range(n)]

    got = {
        r["id"]: r["sig"]
        for r in minhash_signatures(
            docs_df, "doc_id", num_hashes=4, hash="md5"
        ).collect()
    }
    for i, t in DOCS:
        per_sh = [_h60_family_py(s, 4) for s in sh_all(t)]
        want = [min(h[seed] for h in per_sh) for seed in range(4)]
        assert got[i] == want, i


def test_simhash_md5_matches_python(spark, docs_df):
    from ontograph_spark.functions.dedup import simhash64_df

    def sh_all(t, k=4):
        norm = re.sub(r"\s+", " ", t.strip()).lower()
        n = max(len(norm) - (k - 1), 1)
        return [norm[i : i + k] for i in range(n)]

    got = {r["id"]: r["sh"] for r in simhash64_df(docs_df, "doc_id", hash="md5").collect()}
    for i, t in DOCS:
        votes = [0] * 60
        for s in sh_all(t):
            h = _h60_py(s, 0)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        want = sum(1 << b for b in range(60) if votes[b] > 0)
        assert got[i] == want, i


def test_simhash_chunk_bounds():
    from ontograph_spark.functions.dedup import simhash_chunk_bounds

    for nbits in (60, 64):
        for chunks in (2, 4, 7):
            bounds = simhash_chunk_bounds(nbits, chunks)
            assert len(bounds) == chunks
            assert sum(w for _, w in bounds) == nbits
            # contiguous, non-overlapping
            pos = 0
            for shift, width in bounds:
                assert shift == pos
                pos += width


def test_simhash_near_pairs(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs_df, "doc_id", max_hamming=10).collect()
    }
    assert pairs[(0, 1)] == 0  # identical text → identical simhash
    assert (0, 2) in pairs  # near dup within radius
    assert (3, 4) not in pairs


def _vec(seed: int, dim: int = 8) -> list[float]:
    h = hashlib.sha256(f"v{seed}".encode()).digest() * 2
    return [(b - 128) / 128 for b in h[:dim]]


@pytest.fixture(scope="module")
def vectors_df(spark):
    rows = []
    for i in range(40):
        base = _vec(i % 8)  # 8 clusters of 5 near-identical vectors
        noisy = [x + ((i * 31 + j) % 7 - 3) * 0.01 for j, x in enumerate(base)]
        rows.append((i, noisy))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def numpy_topk(rows, query_ids, k):
    ids = [r[0] for r in rows]
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        qi = ids.index(q)
        sims = normed @ normed[qi]
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != q),
            key=lambda i: (-sims[i], ids[i]),
        )
        out[q] = [ids[i] for i in order[:k]]
    return out


def test_brute_force_topk_vs_numpy(spark, vectors_df):
    rows = [(r["vec_id"], r["embedding"]) for r in vectors_df.collect()]
    expected = numpy_topk(rows, [0, 1, 2], 5)
    got = brute_force_topk(
        vectors_df, vectors_df.where(F.col("vec_id") < 3), k=5
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == expected


def test_lsh_topk_recall(spark, vectors_df):
    """Approximate search must recover most true cluster-mates."""
    rows = [(r["vec_id"], r["embedding"]) for r in vectors_df.collect()]
    truth = numpy_topk(rows, [0, 1], 4)
    got = lsh_topk(
        vectors_df, vectors_df.where(F.col("vec_id") < 2), dim=8, k=4, num_planes=6
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q in (0, 1):
        hits = len(by_q.get(q, set()) & set(truth[q]))
        assert hits >= 2, (q, by_q.get(q), truth[q])


def test_ivf_topk_recall(spark, vectors_df):
    rows = [(r["vec_id"], r["embedding"]) for r in vectors_df.collect()]
    truth = numpy_topk(rows, [0], 4)
    got = ivf_topk(
        vectors_df,
        vectors_df.where(F.col("vec_id") == 0),
        k=4,
        nlist=8,
        nprobe=4,
    ).collect()
    hits = {r["neighbor_id"] for r in got} & set(truth[0])
    assert len(hits) >= 2, (got, truth[0])


def test_kmeans_assign_vs_numpy(spark, vectors_df):
    """Replays the exact algorithm in numpy: stride seeds, cosine argmax
    with ties to the lowest cid, member-id-ordered mean, iters rounds."""
    from ontograph_spark.functions.similarity import kmeans_assign

    k, iters = 4, 2
    rows = sorted((r["vec_id"], list(r["embedding"])) for r in vectors_df.collect())
    ids = [i for i, _ in rows]
    mat = np.array([v for _, v in rows], dtype=np.float64)

    def cos(a, b):
        return (a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    stride = 7  # fixture ids are 0..39; the default targets ~1k-id corpora
    cents = [(i, mat[ids.index(i)]) for i in ids if i % stride == 0][:k]

    def assign(cents):
        out = {}
        for idx, i in enumerate(ids):
            best = max(cents, key=lambda c: (cos(mat[idx], c[1]), -c[0]))
            out[i] = best[0]
        return out

    for _ in range(iters):
        a = assign(cents)
        cents = [
            (cid, np.mean([mat[ids.index(i)] for i in ids if a[i] == cid], axis=0))
            for cid in sorted({v for v in a.values()})
        ]
    want = assign(cents)

    got = {
        r["id"]: r["cid"]
        for r in kmeans_assign(vectors_df, k=k, iters=iters, seed_stride=7).collect()
    }
    assert got == want
    assert len(set(got.values())) > 1  # clusters actually separate


def test_embedding_near_dup_pairs(spark, vectors_df):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(
            vectors_df, dim=8, threshold=0.995, num_planes=4
        ).collect()
    }
    # cluster mates (i, i+8) are near-identical
    assert any((a % 8) == (b % 8) for a, b in pairs)
    for a, b in pairs:
        assert a % 8 == b % 8  # no cross-cluster false positives at 0.995


def test_multimodal_features(spark):
    media = synthesize_media_table(spark, 30, partitions=2)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r["feature"]) == 8
        assert all(0.0 <= x <= 1.0 for x in r["feature"])
        assert r["n_bytes"] > 0
    # deterministic
    again = extract_features(synthesize_media_table(spark, 30, partitions=3), dim=8).collect()
    a = {r["media_id"]: r["feature"] for r in feats}
    b = {r["media_id"]: r["feature"] for r in again}
    assert a == b


def test_multimodal_real_decoder_stubbed(spark):
    media = synthesize_media_table(spark, 5, partitions=1)
    with pytest.raises(Exception) as exc_info:
        extract_features(media, dim=8, decoder="real").collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_frame_sample(spark):
    media = synthesize_media_table(spark, 30, partitions=2)
    frames = frame_sample(media, every_ms=1000).collect()
    vids = {r["media_id"] for r in frames if r["kind"] == "video"}
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_ms"])
    meta = {r["media_id"]: r for r in media.collect()}
    for mid in vids:
        dur = meta[mid]["duration_ms"]
        assert len(by_media[mid]) == dur // 1000 + 1
    for mid, ms in by_media.items():
        if meta[mid]["kind"] != "video":
            assert ms == [0]


def test_near_dup_keep(spark, docs_df):
    from ontograph_spark.functions.dedup import near_dup_keep

    got = {
        r["id"]: (r["canonical_id"], r["keep"])
        for r in near_dup_keep(docs_df, "doc_id", threshold=0.5).collect()
    }
    # docs 0/1 exact dups, 2 a near dup of both → one cluster with min id 0
    assert got[0] == (0, True)
    assert got[1] == (0, False)
    assert got[2] == (0, False)
    # singletons keep themselves
    assert got[3] == (3, True)
    assert got[4] == (4, True)
    assert len(got) == 5


def test_near_dup_keep_distributed_path_matches(spark, docs_df, monkeypatch):
    """The distributed CC fallback must produce the identical mapping as
    the driver union-find (forced by a zero driver limit)."""
    from ontograph_spark.functions import graph_algo
    from ontograph_spark.functions.dedup import near_dup_keep

    small = near_dup_keep(docs_df, "doc_id", threshold=0.5).collect()
    monkeypatch.setattr(graph_algo, "DRIVER_EDGE_LIMIT", 0)
    large = near_dup_keep(docs_df, "doc_id", threshold=0.5).collect()
    assert sorted(map(tuple, small)) == sorted(map(tuple, large))


def test_cross_doc_span_stats(spark):
    """Pinned against a pure-Python recount of the same definition:
    distinct word n-grams per doc, duplicated = present in ≥2 docs."""
    from ontograph_spark.functions.dedup import cross_doc_span_stats

    rows = [
        (0, "a b c d e f"),      # grams (n=3): abc bcd cde def
        (1, "a b c d x y"),      # shares 'a b c' and 'b c d' with doc 0
        (2, "p q r s"),          # no overlap with anyone
        (3, "a b"),              # too short: zero grams
        (4, "a b c d e f"),      # exact dup of doc 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def grams(t, n=3):
        toks = t.lower().split()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    freq: dict = {}
    for _, t in rows:
        for g in grams(t):
            freq[g] = freq.get(g, 0) + 1
    want = {}
    for i, t in rows:
        gs = grams(t)
        dup = sum(1 for g in gs if freq[g] >= 2)
        milli = round(1000.0 * dup / len(gs)) if gs else 0
        want[i] = (len(gs), dup, milli)

    got = {
        r["id"]: (r["n_grams"], r["n_dup_grams"], r["dup_milli"])
        for r in cross_doc_span_stats(df, "doc_id", "text", n=3).collect()
    }
    assert got == want
    assert got[3] == (0, 0, 0)          # short doc present with zeros
    assert got[0] == got[4]             # exact dups fully flagged
    assert got[0][2] == 1000


def test_word_ngrams_and_contamination_pairs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x B c d E y"),  # case-folded before gram build
            (3, "b c d e b c d e b c d e"),  # repeated gram counts once
            (4, "b c"),  # shorter than n -> no grams
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(0, "b c d e f")], "probe_id long, text string"
    )
    grams = docs.filter("doc_id = 1").select(
        T.word_ngrams("text", 4).alias("g")
    ).first()["g"]
    assert grams == ["a b c d", "b c d e"]
    empty = docs.filter("doc_id = 4").select(
        T.word_ngrams("text", 4).alias("g")
    ).first()["g"]
    assert empty == []

    got = {
        (r["doc_id"], r["probe_id"]): r["shared_ngrams"]
        for r in T.contamination_pairs(docs, probes, n=4).collect()
    }
    # every corpus doc shares exactly the 'b c d e' gram with the probe;
    # doc 3 has it three times but array_distinct counts it once
    assert got == {(1, 0): 1, (2, 0): 1, (3, 0): 1}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+spam@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 10.0.42.7 went down"),
            (3, "phone 555-123-9876 and backup 5551239876"),
            (4, "clean text with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["red"], r["hits"])
        for r in df.select(
            "doc_id",
            T.redact_pii("text").alias("red"),
            T.pii_count("text").alias("hits"),
        ).collect()
    }
    assert got[1] == ("mail me at [PII] or call [PII]", 2)
    # the IPv4 also matches the digit-run pattern: pre-redaction counts
    # report each class's own hits (2), the redaction chain scrubs once
    assert got[2] == ("server at [PII] went down", 2)
    assert got[3] == ("phone [PII] and backup [PII]", 2)
    assert got[4] == ("clean text with no identifiers at all", 0)


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # 2-grams: ab ba ab ba ab -> 2/5 distinct
            (2, "all words here are unique tokens"),
            (3, "x"),  # shorter than n -> 0.0
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (round(r["dup"], 6), round(r["top"], 6))
        for r in df.select(
            "doc_id",
            T.dup_ngram_fraction("text", 2).alias("dup"),
            T.top_word_fraction("text").alias("top"),
        ).collect()
    }
    assert got[1] == (round(1 - 2 / 5, 6), 0.5)  # 'a' is 3 of 6 words
    assert got[2] == (0.0, round(1 / 6, 6))
    assert got[3] == (0.0, 1.0)


def test_hash_stratified_sample(spark):
    from ontograph_spark.functions.sampling import hash_stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(200)],
        "doc_id long, source string",
    )
    all_a = hash_stratified_sample(df, {"a": 1.0}).collect()
    assert {r["source"] for r in all_a} == {"a"}  # missing stratum dropped
    assert len(all_a) == 100  # rate 1.0 keeps the whole stratum

    small = {r["doc_id"] for r in hash_stratified_sample(df, {"a": 0.2, "b": 0.2}).collect()}
    big = {r["doc_id"] for r in hash_stratified_sample(df, {"a": 0.6, "b": 0.6}).collect()}
    assert small <= big  # raising a rate only ever ADDS rows
    # rate roughly respected (60-bit hash is uniform; wide tolerance)
    assert 10 <= len(small) <= 70
    # determinism across invocations
    again = {r["doc_id"] for r in hash_stratified_sample(df, {"a": 0.2, "b": 0.2}).collect()}
    assert small == again


def test_pack_sequences(spark):
    from ontograph_spark.functions.sampling import pack_sequences

    rows = [(i, "s", 40) for i in range(10)]  # 10 docs x 40 tokens, 1 bucket
    df = spark.createDataFrame(rows, "doc_id long, source string, ntok long")
    got = {
        r["doc_id"]: (r["bucket"], r["pack_offset"], r["pack_id"])
        for r in pack_sequences(
            df, tokens_col="ntok", budget=100, buckets=1
        ).collect()
    }
    # offsets 0,40,80,120,... -> packs 0,0,0,1,1,2,2,2,3,3
    assert [got[i][1] for i in range(10)] == [40 * i for i in range(10)]
    assert [got[i][2] for i in range(10)] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]
    # bucketed variant: groups are (source, doc_id % 2), offsets restart
    by_bucket = {
        (r["bucket"], r["doc_id"]): r["pack_offset"]
        for r in pack_sequences(
            df, tokens_col="ntok", budget=100, buckets=2
        ).collect()
    }
    assert by_bucket[(0, 0)] == 0 and by_bucket[(1, 1)] == 0
    assert by_bucket[(0, 2)] == 40 and by_bucket[(1, 3)] == 40


def test_tfidf_top_terms(spark):
    from math import log

    from ontograph_spark.functions.corpus import tfidf_top_terms

    rows = [
        (0, "apple banana apple cherry"),
        (1, "banana cherry cherry cherry"),
        (2, "apple durian"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], r["tfidf_milli"], r["rank"])
        for r in tfidf_top_terms(df, k=2, min_token_len=3).collect()
    }

    def milli(tf, dfreq, n=3):
        return round(tf * (log((n + 1.0) / (dfreq + 1.0)) + 1.0) * 1000)

    # doc 1: cherry tf=3 df=2 beats banana tf=1 df=2
    assert got[(1, "cherry")] == (3, 2, milli(3, 2), 1)
    assert got[(1, "banana")] == (1, 2, milli(1, 2), 2)
    # doc 2: durian (df=1) outranks apple (df=2) at equal tf
    assert got[(2, "durian")][3] == 1 and got[(2, "apple")][3] == 2
    # k=2 per doc, never more
    assert all(rank <= 2 for (_, _, _, rank) in got.values())
    # doc 0: apple tf=2 ranks first
    assert got[(0, "apple")] == (2, 2, milli(2, 2), 1)


def test_vocab_coverage(spark):
    from ontograph_spark.functions.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a b  d"), (2, "A c")],
        ["doc_id", "text"],
    )
    # counts: a=5 (lowercased), b=3, c=2, d=1; total=11
    got = [
        (r["rank"], r["word"], r["n"], r["cum_milli"])
        for r in vocab_coverage(docs, top_n=3).orderBy("rank").collect()
    ]
    assert got == [
        (1, "a", 5, round(1000 * 5 / 11)),
        (2, "b", 3, round(1000 * 8 / 11)),
        (3, "c", 2, round(1000 * 10 / 11)),
    ]


def test_jsonl_round_trip(spark, tmp_path):
    from ontograph_spark.sources.jsonl import (
        jsonl_ingest_invariant,
        read_documents_jsonl,
        write_documents_jsonl,
    )

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "docs_jsonl")
    write_documents_jsonl(src, p, partitions=2)
    back = read_documents_jsonl(spark, p)
    assert back.schema == src.schema
    a = jsonl_ingest_invariant(src).collect()[0]
    b = jsonl_ingest_invariant(back).collect()[0]
    assert (a["n_rows"], a["content_digest_xor"]) == (
        b["n_rows"],
        b["content_digest_xor"],
    )
    assert a["n_rows"] > 0 and a["content_digest_xor"] != 0


def test_source_composition(spark):
    from ontograph_spark.functions.corpus import source_composition

    rows = [
        ("web", "en", 100),
        ("web", "en", 300),
        ("web", "de", 50),
        ("code", "en", 1000),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, n_chars long")
    got = {
        (r["source"], r["lang"]): r
        for r in source_composition(df).collect()
    }
    web_en = got[("web", "en")]
    assert (web_en["n_docs"], web_en["total_chars"]) == (2, 400)
    assert (web_en["min_chars"], web_en["max_chars"]) == (100, 300)
    assert web_en["mean_chars_milli"] == 200000
    assert web_en["share_micro"] == 500000  # 2 of 4 docs
    assert got[("code", "en")]["share_micro"] == 250000


def test_length_quantiles(spark):
    from ontograph_spark.functions.corpus import length_quantiles

    rows = [("en", v) for v in (10, 20, 30, 40, 50)] + [("de", 7)]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    got = {r["lang"]: r for r in length_quantiles(df).collect()}
    # en: sorted [10..50], p10 = 10 + 0.4*(20-10) = 14, p50 = 30, p90 = 46
    assert got["en"]["n_docs"] == 5
    assert got["en"]["p10_centi"] == 1400
    assert got["en"]["p50_centi"] == 3000
    assert got["en"]["p90_centi"] == 4600
    # single-value group: every quantile is that value
    assert (got["de"]["p10_centi"], got["de"]["p90_centi"]) == (700, 700)
    # approx path agrees on the median for this tiny input
    approx = {
        r["lang"]: r for r in length_quantiles(df, approx=True).collect()
    }
    assert approx["en"]["p50_centi"] == 3000


def test_filter_funnel(spark):
    from pyspark.sql import functions as F

    from ontograph_spark.functions.corpus import filter_funnel

    rows = [
        (0, 50, "en"),    # fails rule 1 (too_short)
        (1, 500, "xx"),   # passes 1, fails 2 (bad_lang)
        (2, 40, "xx"),    # fails BOTH -> attributed to FIRST (too_short)
        (3, 500, "en"),   # passes all
        (4, 600, "de"),   # passes all
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, lang string")
    out = {
        r["rule"]: (r["stage"], r["n"])
        for r in filter_funnel(
            df,
            [
                ("too_short", F.col("n_chars") >= 100),
                ("bad_lang", F.col("lang").isin("en", "de")),
            ],
        ).collect()
    }
    assert out == {
        "too_short": (1, 2),  # doc 0 and doc 2 (first-fail attribution)
        "bad_lang": (2, 1),
        "kept": (0, 2),
    }


def test_unigram_logprob(spark):
    """Corpus-fit unigram LM: hand-computed micro-scaled log-probs on a
    3-doc corpus; repeated words weight the sum by count."""
    import math

    from ontograph_spark.functions.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b")],
        "doc_id long, text string",
    )
    rows = {
        r["id"]: (r["n_tokens"], r["logprob_micro"])
        for r in unigram_logprob(docs).collect()
    }
    # corpus counts: a=3, b=2, c=1; N=6, V=3; smoothed p_w=(c+1)/(6+3)
    lp = {w: round(math.log((c + 1) / 9.0) * 1e6) for w, c in
          {"a": 3, "b": 2, "c": 1}.items()}
    assert rows[1] == (3, 2 * lp["a"] + lp["b"])
    assert rows[2] == (2, lp["a"] + lp["c"])
    assert rows[3] == (1, lp["b"])


def test_importance_weights(spark):
    """DSIR-style weights: a doc matching the target domain scores
    higher than one that doesn't; n_tokens counts source tokens; and
    the weight equals the hand-folded bucket log-ratio sum."""
    import math

    from ontograph_spark.functions.dedup import MASK60
    from ontograph_spark.functions.sampling import importance_weights

    docs = spark.createDataFrame(
        [(1, "alpha beta", "tgt"), (2, "gamma delta", "other")],
        "doc_id long, text string, source string",
    )
    target = docs.where("source = 'tgt'")
    rows = {
        r["id"]: (r["n_tokens"], r["weight_micro"])
        for r in importance_weights(docs, target, num_buckets=64).collect()
    }

    def bucket(w):
        import hashlib

        h = int(hashlib.md5(f"{w}:0".encode()).hexdigest()[:15], 16)
        return h % 64

    tgt_counts = {}
    src_counts = {}
    for w in ["alpha", "beta"]:
        tgt_counts[bucket(w)] = tgt_counts.get(bucket(w), 0) + 1
    for w in ["alpha", "beta", "gamma", "delta"]:
        src_counts[bucket(w)] = src_counts.get(bucket(w), 0) + 1
    n_t, n_s = 2, 4

    def lr(b):
        p_t = (tgt_counts.get(b, 0) + 1.0) / (n_t + 64.0)
        p_s = (src_counts.get(b, 0) + 1.0) / (n_s + 64.0)
        v = math.log(p_t / p_s) * 1e6
        # Spark/DuckDB round half away from zero
        return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))

    for doc, words in ((1, ["alpha", "beta"]), (2, ["gamma", "delta"])):
        want = sum(lr(bucket(w)) for w in words)
        assert rows[doc] == (2, want), doc
    assert rows[1][1] > rows[2][1]  # target-like doc scores higher

"""Dedup / text / similarity operator tests on synthetic + real fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from traildb_spark.operators import analytics, curation, dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),       # exact dup of 1
        (3, "The  quick brown fox jumps over the lazy DOG "),     # dup after normalize
        (4, "the quick brown fox jumps over the lazy cat"),       # near dup
        (5, "completely different content about spark engines"),
        (6, "der hund ist nicht auf der couch und das ist gut"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    got = dedup.exact_duplicates(docs).collect()
    ids = sorted(r["doc_id"] for r in got)
    assert ids == [1, 2, 3]
    canon = {r["doc_id"]: r["is_canonical"] for r in got}
    assert canon == {1: True, 2: False, 3: False}


def test_dedup_exact_keeps_canonical(docs):
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(docs).collect())
    assert kept == [1, 4, 5, 6]


def test_ngram_jaccard_pairs(docs):
    got = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert not any(5 in p or 6 in p for p in pairs)


def test_ngram_jaccard_freq_order_equivalence(docs):
    # PPJoin frequency ordering changes only WHICH grams land in prefixes,
    # never the verified result set (prefix-filter completeness holds for
    # any consistent total order)
    plain = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, n=3, threshold=0.5, freq_order_top_k=0
        ).collect()
    }
    ordered = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert plain == ordered and len(plain) > 0


def test_minhash_lsh_pairs(docs):
    got = dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs  # high char-shingle overlap
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_lsh_pairs_portable(docs):
    got = dedup.minhash_lsh_pairs_portable(docs, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert not any(5 in p or 6 in p for p in pairs)
    # exact-dup pairs must carry jaccard exactly 1.0
    j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert j[(1, 2)] == 1.0 and j[(1, 3)] == 1.0


def test_simhash_pairs(docs):
    got = dedup.simhash_pairs(docs, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0
    assert not any(5 in p or 6 in p for p in pairs)


def test_simhash_pairs_two_block_matches_brute_force(spark):
    # max_hamming=6 takes the two-block-agreement candidate path (8
    # blocks of 8 bits, C(8,2)=28 composite keys); recall must stay
    # EXACT — every pair within the radius, none outside it — so
    # compare against the blind all-pairs bit_count on the same
    # simhash values, on a corpus with graded mutations that land
    # pairs on both sides of the radius.
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    words = base.split()
    rows = []
    for i in range(30):
        w = list(words)
        w[i % len(w)] = f"mut{i}"
        if i % 3 == 0:
            w[(i + 5) % len(w)] = f"alt{i}"
        rows.append((i, " ".join(w)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_pairs(df, max_hamming=6).collect()
    }
    from traildb_spark.functions.vectorized import simhash_from_hashes
    from traildb_spark.operators.dedup import normalize_text

    tokens = F.filter(
        F.split(normalize_text(F.col("text")), " "), lambda t: t != ""
    )
    sh = df.select(
        F.col("doc_id").alias("id"),
        simhash_from_hashes(
            F.transform(tokens, lambda t: F.xxhash64(t))
        ).alias("sh"),
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert got == brute and len(brute) > 0
    # and some pair must sit outside the radius or the corpus proves nothing
    n_all = 30 * 29 // 2
    assert len(brute) < n_all


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [0.0, 0.998, 0.02, 0.0]),   # near dup of 3
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = dedup.embedding_neardup_pairs(df, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert (1, 2) in pairs and (3, 4) in pairs
    assert (1, 3) not in pairs


def test_text_stats(docs):
    got = {r["doc_id"]: r for r in text.text_stats(docs).collect()}
    assert got[1]["n_tokens"] == 9
    assert got[1]["fingerprint"] == got[3]["fingerprint"]  # normalization
    assert got[1]["lang_detected"] == "en"
    assert got[6]["lang_detected"] == "de"
    assert 0.0 <= got[5]["quality"] <= 1.0
    assert got[1]["n_bpe_tokens"] == 9


def test_bpe_tokens_symbols(spark):
    df = spark.createDataFrame([(1, "abc123,def! x9")], ["doc_id", "text"])
    r = text.text_stats(df).first()
    # abc 123 , def ! x 9 → 7
    assert r["n_bpe_tokens"] == 7


def test_brute_force_topk(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)]
        + [(10, [0.9, 0.1, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], ["query_id", "embedding"])
    got = similarity.brute_force_topk(corpus, queries, k=2).collect()
    assert [(r["corpus_id"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (0, 1),
        (10, 2),
    ]


def test_lsh_topk_recall_on_real_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    approx = similarity.lsh_topk(emb, queries, k=5, num_planes=8, max_hamming=4).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
    hit = total = 0
    for r in approx:
        total += 1
        if r["corpus_id"] in exact_sets[r["query_id"]]:
            hit += 1
    assert total > 0 and hit / len(exact) >= 0.5  # recall@5 over 3 queries


def test_ivf_topk_runs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_topk(emb, queries, k=3, num_centroids=8, nprobe=3).collect()
    assert len(got) == 6
    # self-match must rank first with cos ~1
    firsts = {r["query_id"]: r for r in got if r["rank"] == 1}
    for qid, r in firsts.items():
        assert r["corpus_id"] == qid and r["cos"] >= 0.999


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """The k-means/GEMM IVF fast path must recover most of the true top-k
    (seeded Lloyd init -> deterministic: measured 13/15 at 8 cells /
    probe 3 on sf0.001; assert a floor just under it)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    es = {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["corpus_id"])
    approx = similarity.ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=3).collect()
    hit = sum(1 for r in approx if r["corpus_id"] in es[r["query_id"]])
    assert hit / len(exact) >= 0.8


def test_ivf_topk_portable_self_match_and_shape(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.ivf_topk_portable(
        emb, queries, k=3, num_centroids=8, nprobe=2
    ).collect()
    # k rows per query, contiguous ranks, self-match first (its own cell is
    # always the nearest probe)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(len(v) for v in by_q.values()) == {3}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3]
        assert rows[0]["corpus_id"] == qid and rows[0]["cos"] >= 0.999


def test_connected_components_chain_and_islands(spark):
    from traildb_spark.operators.dedup import connected_components, dedup_clusters
    import pyspark.sql.functions as F

    # chain 1-2-3-4 (diameter > 1 iteration), island pair 10-11, self-loop 20
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], ["doc_id"])
    out = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in dedup_clusters(docs, pairs).collect()}
    assert out[99] == (99, True)      # singleton: own component
    assert out[4] == (1, False)
    assert out[1] == (1, True)


def test_remove_boilerplate(spark):
    rows = [
        (1, "all rights reserved . alpha beta gamma delta"),
        (2, "all rights reserved . epsilon zeta eta theta"),
        (3, "unique prose with no repeats at all here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # 4-word chunks: chunk 0 ("all rights reserved .") is shared by docs 1+2
    got = {
        r["doc_id"]: r["clean_text"]
        for r in text.remove_boilerplate(
            docs, text.word_chunks(F.col("text"), 4), min_df=2
        ).collect()
    }
    assert got[1] == "alpha beta gamma delta"
    assert got[2] == "epsilon zeta eta theta"
    assert got[3] == "unique prose with no repeats at all here"


def test_remove_boilerplate_within_doc_repeat_not_boilerplate(spark):
    # a chunk repeated twice INSIDE one doc only must survive (df counts docs)
    rows = [(1, "spam spam spam spam spam spam spam spam"), (2, "other words entirely here")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["clean_text"]
        for r in text.remove_boilerplate(
            docs, text.word_chunks(F.col("text"), 4), min_df=2
        ).collect()
    }
    assert got[1] == "spam spam spam spam spam spam spam spam"


def test_dedup_fuzzy_linear_output(docs):
    got = {
        r["doc_id"]: (r["component"], r["is_canonical"])
        for r in dedup.dedup_fuzzy(docs, threshold=0.5).collect()
    }
    assert len(got) == 6  # one row per input doc, always
    # 1,2,3 exact dups; 4 near-dup of the group rep => one cluster, canon 1
    assert got[1] == (1, True)
    assert got[2] == (1, False) and got[3] == (1, False) and got[4] == (1, False)
    assert got[5] == (5, True) and got[6] == (6, True)


def _fuzzy_corpus():
    """(ids, texts): random word docs plus case/whitespace exact copies,
    planted near-dup clusters (a few words replaced), a near-dup of an
    exact copy, one NULL text and one empty text; ids shuffled and
    non-contiguous so min-id labelling is exercised."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(400)]
    words = [list(rng.choice(vocab, 40)) for _ in range(14)]

    def edit(ws, n):
        ws = list(ws)
        for p in rng.choice(len(ws), n, replace=False):
            ws[p] = str(rng.choice(vocab))
        return ws

    texts = [" ".join(ws) for ws in words]
    texts += [" ".join(edit(words[2], 1)), " ".join(edit(words[2], 1))]
    texts += [" ".join(edit(words[3], 1)), " ".join(edit(words[4], 2))]
    texts += [
        "  " + texts[0].upper().replace(" ", "   ") + " ",
        texts[0].replace(" ", "\t"),
        "\n" + texts[1] + "  ",
        " ".join(edit(words[0], 1)).title(),
        None,
        "",
    ]
    ids = [int(i) for i in rng.permutation(len(texts)) * 3 + 5]
    return ids, texts


def _oracle_labels(ids, texts, threshold, k=5):
    """Exact collapse (min id per normalized text), exact char-k-shingle
    Jaccard of the representatives (numpy incidence-matrix product, kept
    at round-half-up(J, 6) >= threshold), then union-find by min id.
    Returns ({id: component}, representative Jaccard matrix)."""
    norm = {i: " ".join(t.lower().split()) if t is not None else None for i, t in zip(ids, texts)}
    rep_of: dict = {}
    for i in sorted(ids):
        rep_of.setdefault(norm[i], i)
    reps = sorted(set(rep_of.values()))
    sets = []
    for r in reps:
        t = norm[r] or ""
        sets.append({t[j:j + k] for j in range(max(len(t) - k + 1, 1))})
    col = {g: c for c, g in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(reps), len(col)), dtype=np.int64)
    for row, s in enumerate(sets):
        m[row, [col[g] for g in s]] = 1
    inter = m @ m.T
    size = m.sum(axis=1)
    jac = inter / (size[:, None] + size[None, :] - inter)
    parent = {r: r for r in reps}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    keep = np.floor(jac * 1e6 + 0.5) / 1e6 >= threshold
    for a, b in zip(*np.nonzero(np.triu(keep, 1))):
        ra, rb = find(reps[a]), find(reps[b])
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(rep_of[norm[i]]) for i in ids}, jac


def test_dedup_fuzzy_matches_exact_oracle(spark):
    """dedup_fuzzy labels == exact collapse + exact shingle Jaccard >= t +
    union-find, within a bounded number of Spark jobs. Every off-diagonal
    representative Jaccard is >= 0.8 or < 0.5, far from t = 0.7, so
    banding recall is not what this checks. NULL and empty text both
    shingle to the one whole-text window "" and so share a cluster."""
    ids, texts = _fuzzy_corpus()
    want, jac = _oracle_labels(ids, texts, 0.7)
    off = jac[~np.eye(len(jac), dtype=bool)]
    assert ((off >= 0.8) | (off < 0.5)).all()
    # 3 exact copies, 5 near-dups and NULL ~ empty: 9 merges
    assert len(set(want.values())) == len(ids) - 9
    df = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("dedup-fuzzy-oracle", "dedup_fuzzy job cap")
    try:
        rows = dedup.dedup_fuzzy(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("dedup-fuzzy-oracle")
    assert {r["doc_id"]: r["component"] for r in rows} == want
    assert all(r["is_canonical"] == (r["doc_id"] == r["component"]) for r in rows)
    assert 0 < len(jobs) <= 20


def test_pair_jaccard_matches_set_reference():
    """The batch-wide lexsort intersection of the verify kernel equals
    per-pair Python set Jaccard over the normalized char-5-shingles,
    including short, empty, NULL and non-ASCII texts."""
    import re

    from traildb_spark.functions.vectorized import _pair_jaccard

    rng = np.random.default_rng(3)
    alphabet = list("ab cé\tZ")
    texts = ["".join(rng.choice(alphabet, rng.integers(0, 30))) for _ in range(400)]
    texts_a = texts[:200] + [None, "", "abc", None]
    texts_b = texts[200:] + ["", None, "ABC ", None]

    def shingles(t):
        t = re.sub(r"\s+", " ", (t or "").lower(), flags=re.ASCII).strip()
        return {t[i:i + 5] for i in range(max(len(t) - 4, 1))}

    want = [
        len(shingles(x) & shingles(y)) / len(shingles(x) | shingles(y))
        for x, y in zip(texts_a, texts_b)
    ]
    assert _pair_jaccard(texts_a, texts_b, 5).tolist() == want
    assert _pair_jaccard([], [], 5).size == 0


def test_dedup_fuzzy_releases_intermediates(spark, docs):
    """Only the signature pass the returned plans still read stays
    pinned: band, candidate and edge tables are released on return."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert len(dedup.dedup_fuzzy(docs, threshold=0.5).collect()) == 6
    assert persisted().size() - before <= 1
    before = persisted().size()
    assert len(dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()) > 0
    assert persisted().size() - before <= 1


def test_minhash_max_bucket_skips_degenerate_buckets(spark):
    # 60 identical docs: every band bucket has 60 members. Capped at 10 the
    # candidate join must skip them all; uncapped it emits all C(60,2).
    docs = spark.createDataFrame(
        [(i, "the very same text repeated") for i in range(60)], ["doc_id", "text"]
    )
    assert dedup.minhash_lsh_pairs(docs, max_bucket=10).count() == 0
    assert dedup.minhash_lsh_pairs(docs).count() == 60 * 59 // 2


def test_repetition_stats(spark):
    rows = [
        (1, "spam spam spam spam"),                      # one word only
        (2, "a b c d e f g h"),                          # all distinct
        (3, "go stop go stop go stop"),                  # repeated 2-grams
        (4, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    assert got[1]["top_word_frac"] == 1.0 and got[1]["dup_word_frac"] == 0.75
    assert got[1]["dup_2gram_frac"] == round(1 - 1 / 3, 6)
    assert got[2]["top_word_frac"] == 0.125 and got[2]["dup_word_frac"] == 0.0
    assert got[2]["dup_2gram_frac"] == 0.0
    assert got[3]["top_word_frac"] == 0.5
    assert got[3]["dup_2gram_frac"] == round(1 - 2 / 5, 6)
    assert got[4]["top_word_frac"] == 0.0 and got[4]["dup_2gram_frac"] == 0.0


def test_embedding_neardup_portable(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
        (4, [0.0, 0.998, 0.02, 0.0]),   # near dup of 3
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = dedup.embedding_neardup_pairs_portable(df, threshold=0.99, dim=4)
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in got.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (3, 4) in pairs
    assert (1, 3) not in pairs and (1, 4) not in pairs


def test_top_terms_tf_over_df_ranking(spark):
    from traildb_spark.operators import text

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "y z")], ["doc_id", "text"]
    )
    got = {(r["doc_id"], r["rank"]): r for r in text.top_terms(df, k=2).collect()}
    # doc 1: x has tf=2, df=1 → score 2.0 beats y (1/2)
    assert got[(1, 1)]["term"] == "x" and got[(1, 1)]["score"] == 2.0
    assert got[(1, 2)]["term"] == "y" and got[(1, 2)]["score"] == 0.5
    # doc 2: z (1/1) beats y (1/2)
    assert got[(2, 1)]["term"] == "z" and got[(2, 2)]["term"] == "y"


def test_scrub_pii_counts_and_redaction(spark):
    from traildb_spark.operators import text

    df = spark.createDataFrame(
        [(1, "mail a.b@x.io from 10.0.0.1 port 8080"), (2, "clean words only")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in text.scrub_pii(df).collect()}
    r1 = got[1]
    assert r1["n_email"] == 1 and r1["n_ipv4"] == 1
    # digit runs (>= 2 digits) counted on the ORIGINAL text: '10' and '8080'
    assert r1["n_number"] == 2
    assert "<EMAIL>" in r1["scrubbed"] and "<IP>" in r1["scrubbed"] and "<NUM>" in r1["scrubbed"]
    assert "@" not in r1["scrubbed"]
    r2 = got[2]
    assert (r2["n_email"], r2["n_ipv4"], r2["n_number"]) == (0, 0, 0)
    assert r2["scrubbed"] == "clean words only"


def test_dedup_against_incremental(spark):
    existing = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "other content")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            (10, "The  QUICK brown fox "),  # dup after normalization
            (11, "genuinely new text"),
            (12, "other content"),          # exact dup
        ],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_against(new, existing).collect())
    assert kept == [11]


def test_minhash_fast_path_sound_vs_exact_jaccard(spark, sf_dir):
    """Equivalence discipline for the numpy fast path (the driver's q35 now
    runs the portable twin; this keeps the xxhash/affine kernel honest):
    every pair the LSH pipeline emits must carry the EXACT char-shingle
    Jaccard, and the emitted set must be a subset of the exact >= t pair
    set (LSH can lose candidates, never invent them). On sf0.001's real
    dup clusters the banding also recovers every exact pair (recall 1.0
    at these params), so we assert full set equality."""
    from traildb_spark.functions.vectorized import char_shingle_hashes_udf
    from traildb_spark.operators.dedup import _jaccard_hashes_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    g = docs.select(
        F.col("doc_id").alias("id"),
        char_shingle_hashes_udf(F.col("text"), 5).alias("grams"),
    )
    a = g.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = g.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.round(_jaccard_hashes_udf(F.col("grams_a"), F.col("grams_b")), 6),
        )
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert set(got) == set(exact)
    assert got == exact  # values are the exact Jaccard, not an estimate


def test_embedding_neardup_fast_path_sound_vs_exact(spark, sf_dir):
    """The Gaussian-plane SRP fast path must emit a SUBSET of the exact
    cos>=t pairs with exactly matching cosine values (the verify step is
    exact — no false positives ever). Recall: sf0.001's near-dup pairs all
    sit in cos [0.4, 0.5], the weakest zone of the 16-plane/4-band
    s-curve, where the analytic collision probability is ~0.45; planes
    are seeded, so the measured 0.47 is deterministic — assert a floor
    just under it (production near-dups at cos>=0.9 sit at ~0.95+ on the
    same curve)."""
    from traildb_spark.functions.vectorized import pairwise_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_neardup_pairs(
            emb, threshold=0.4, num_planes=16, bands=4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in pairwise_cosine_pairs(emb, threshold=0.4).collect()
    }
    assert set(got) <= set(exact)
    assert all(exact[p] == c for p, c in got.items())
    assert len(got) >= 0.4 * len(exact)


def test_topk_cosine_tie_break_matches_brute_force(spark):
    """Regression for the argpartition tie bug: with many corpus rows
    sharing the same rounded cosine, the per-batch candidate cut must keep
    the corpus_id-ascending winners regardless of partitioning."""
    from traildb_spark.functions.vectorized import topk_cosine

    # 40 vectors, all identical → cos == 1.0 for every pair: top-3 must be
    # the 3 smallest corpus ids under any partitioning of the corpus
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["query_id", "embedding"]
    )
    got = topk_cosine(corpus, queries, k=3).orderBy("rank").collect()
    assert [r["corpus_id"] for r in got] == [0, 1, 2]
    exact = similarity.brute_force_topk(corpus, queries, k=3).orderBy("rank").collect()
    assert [(r["corpus_id"], r["cos"]) for r in got] == [
        (r["corpus_id"], r["cos"]) for r in exact
    ]


def test_connected_components_distributed_long_chain(spark):
    """Distributed star-alternation path (driver_threshold=0): a 64-node
    path graph has diameter 63 — plain min-label propagation would need 63
    rounds and under the old max_iters=20 silently returned SPLIT
    clusters; large-star/small-star converges in O(log n) rounds."""
    from traildb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 163)], ["id_a", "id_b"]
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            chain, driver_threshold=0, max_iters=15
        ).collect()
    }
    assert comp == {i: 100 for i in range(100, 164)}


def test_connected_components_distributed_raises_without_fixpoint(spark):
    """Exhausting max_iters without an edge-set fixpoint must raise, never
    silently return partial labels."""
    from traildb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 164)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(chain, driver_threshold=0, max_iters=1)


def test_semantic_dedup_keep_earliest(spark):
    """Identical vectors land in the same cell (identical cosines to every
    centroid) and only the smallest id survives; a far-away vector is
    untouched. num_centroids=2 over 4 vectors exercises the md5-key cut
    (2 of the 4 become centroids)."""
    import numpy as np

    from traildb_spark.operators import dedup

    v = [float(x) for x in np.linspace(0.1, 1.0, 64)]
    w = [float(x) for x in np.linspace(1.0, 0.1, 64)]
    rows = [(1, v), (2, v), (3, w), (4, [x * 2.0 for x in v])]  # 4 ~ 1 (cos=1)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["id"]: r for r in dedup.semantic_dedup(emb, num_centroids=2, threshold=0.999).collect()}
    assert out[1]["is_kept"] is True
    assert out[2]["is_kept"] is False  # exact dup of 1, larger id
    assert out[3]["is_kept"] is True   # dissimilar
    # scaled copy has cosine 1 BUT quantization floor makes it ~0.9999997+;
    # still above 0.999 -> dropped iff same cell as 1 (it is: same direction)
    assert out[4]["is_kept"] is False
    assert out[1]["cid"] == out[2]["cid"] == out[4]["cid"]


def test_gopher_quality_flags_rules(spark):
    """Pin each published rule on crafted fixtures: a clean passing doc, a
    bullet-list doc, an ellipsis-heavy doc, a symbol-heavy doc, and a
    numeric doc with no alpha words."""
    from traildb_spark.operators import text as t

    good = ("the quick brown fox jumps over that lazy dog and it liked to "
            "run with a steady pace of joy have some more words here ") * 3
    bullets = "\n".join(f"- item {i}" for i in range(10))
    dots = "\n".join(f"line {i} trails off..." for i in range(10))
    symbols = "# " * 30 + "word " * 30
    numeric = "12 34 56 78 90 " * 20
    markdown = "## header words here " * 25  # '##' tokens must hit the rule
    docs = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dots), (4, symbols), (5, numeric), (6, markdown)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in t.gopher_quality_flags(docs).collect()}
    assert out[1]["passes_gopher"] is True
    assert out[1]["n_stopword_kinds"] >= 2
    assert out[2]["bullet_line_frac"] == 1.0 and out[2]["passes_gopher"] is False
    assert out[3]["ellipsis_line_frac"] == 1.0 and out[3]["passes_gopher"] is False
    assert out[4]["symbol_word_ratio"] == 0.5 and out[4]["passes_gopher"] is False
    assert out[5]["alpha_word_frac"] == 0.0 and out[5]["passes_gopher"] is False
    assert out[6]["symbol_word_ratio"] == 0.25 and out[6]["passes_gopher"] is False


def test_semantic_dedup_gemm_equals_pairs(spark, sf_dir):
    """The GEMM assignment (one int64 matmul per Arrow batch) must produce
    the identical (id, cid, is_kept) table as the oracle-checked per-pair
    scoring — same exact integer dots, same HALF_UP/lowest-cid tiebreak."""
    from traildb_spark.operators import dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = {
        (r["id"], r["cid"], r["is_kept"])
        for r in dedup.semantic_dedup(emb, num_centroids=16, threshold=0.4).collect()
    }
    gemm = {
        (r["id"], r["cid"], r["is_kept"])
        for r in dedup.semantic_dedup(
            emb, num_centroids=16, threshold=0.4, assign="gemm"
        ).collect()
    }
    assert pairs == gemm and len(pairs) > 0


def test_brute_force_topk_empty_queries(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    empty_q = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(emb, empty_q, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "corpus_id", "cos", "rank"]


def test_minhash_portable_sig_prune_off_matches_on(docs):
    """At the default parameters the prune is below the banding floor
    (skipped), so both settings must agree; the flag exists for the pure
    candidates-then-exact-verify contract at high thresholds."""
    on = {(r["id_a"], r["id_b"]) for r in
          dedup.minhash_lsh_pairs_portable(docs, threshold=0.5).collect()}
    off = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_lsh_pairs_portable(docs, threshold=0.5, sig_prune=False).collect()}
    assert on == off and len(on) > 0


def test_duplicated_span_stats(spark):
    """A 5-word window shared by two docs marks its positions duplicated in
    both; unique text contributes zero; short docs get the whole-doc
    window; permille is exact integer division."""
    from traildb_spark.operators.dedup import duplicated_span_stats

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (0, shared + " one two three four five"),   # 10 words -> 6 windows
        (1, "x y z " + shared),                      # 8 words -> 4 windows
        (2, "totally unrelated words only here now there then when how"),
        (3, "tiny doc"),                             # < 5 words -> 1 window
        (4, "tiny doc"),                             # exact copy of 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["total_windows"], r["dup_windows"], r["dup_permille"])
        for r in duplicated_span_stats(df, window=5).collect()
    }
    # doc0: windows at positions 0..5; only position 0 is the shared gram
    assert got[0] == (6, 1, 166)
    # doc1: windows at positions 0..3; only position 3 is shared
    assert got[1] == (4, 1, 250)
    assert got[2] == (6, 0, 0)
    # exact-copy short docs: their single whole-doc window is duplicated
    assert got[3] == (1, 1, 1000)
    assert got[4] == (1, 1, 1000)


def test_duplicated_span_stats_multiplicity(spark):
    """A gram repeated WITHIN one doc counts every position once it is
    cross-doc duplicated; a within-doc-only repeat does not count."""
    from traildb_spark.operators.dedup import duplicated_span_stats

    rows = [
        (0, "a b c a b c a b c"),  # 9 words, window 3: positions 0..6
        (1, "a b c"),              # whole-doc window == the 'a b c' gram
        (2, "q r q r q r q r"),    # self-repeating but no partner doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["total_windows"], r["dup_windows"])
        for r in duplicated_span_stats(df, window=3).collect()
    }
    # doc0 windows: abc bca cab abc bca cab abc -> 'a b c' at 0,3,6
    assert got[0] == (7, 3)
    assert got[1] == (1, 1)
    assert got[2] == (6, 0)


def test_unigram_surprisal(spark):
    """Rare-word docs outscore common-word docs; bits are exact binary
    -digit arithmetic; empty docs score zero."""
    from traildb_spark.operators.text import unigram_surprisal

    rows = [
        (0, "the the the the the the the"),  # 7x the
        (1, "the zebra"),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["surprisal_bits"], r["millibits_per_token"])
        for r in unigram_surprisal(df).collect()
    }
    # total=9 tokens -> len(bin(9))=4; count(the)=8 -> len=4; count(zebra)=1 -> len=1
    assert got[0] == (7, 0, 0)          # 7 * (4-4)
    assert got[1] == (2, 3, 1500)       # (4-4) + (4-1) = 3 bits over 2 tokens
    assert got[2] == (0, 0, 0)


def test_bloom_dedup_against_exact_equals_antijoin(spark, sf_dir):
    """Bloom prefilter + exact recheck is bit-identical to the plain
    distinct-fingerprint anti-join; pure-Bloom mode never keeps a true
    duplicate (no false negatives) and over-drops at most the FP sliver."""
    from pyspark.sql import functions as F

    from traildb_spark.operators.dedup import bloom_dedup_against, dedup_against

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 3 != 0)
    # existing = the % 3 == 0 slice PLUS copies of two 'new' docs, so the
    # split is guaranteed to contain true cross-split duplicates
    existing = docs.filter((F.col("doc_id") % 3 == 0) | F.col("doc_id").isin(1, 2))
    exact = {r["doc_id"] for r in dedup_against(new, existing).select("doc_id").collect()}
    bloom = {
        r["doc_id"]
        for r in bloom_dedup_against(new, existing).select("doc_id").collect()
    }
    assert bloom == exact and 0 < len(exact) < new.count()

    pure = {
        r["doc_id"]
        for r in bloom_dedup_against(new, existing, exact=False)
        .select("doc_id")
        .collect()
    }
    assert pure <= exact  # may over-drop (FPs), never under-drop


def test_bloom_dedup_tiny_filter_still_exact(spark):
    """Even a saturated 64-bit filter (every probe a hit) stays exact in
    recheck mode — the Bloom layer only routes rows, never decides."""
    from traildb_spark.operators.dedup import bloom_dedup_against

    new = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "ccc")], ["doc_id", "text"]
    )
    existing = spark.createDataFrame([(0, "bbb")], ["doc_id", "text"])
    got = {
        r["doc_id"]
        for r in bloom_dedup_against(new, existing, num_bits=64).collect()
    }
    assert got == {1, 3}


def _naive_bpe(word_counts, num_merges, min_count=2):
    """Sequential reference BPE (Sennrich et al. 2016) with the engine's
    deterministic tiebreak (count desc, then lexicographic pair)."""
    from collections import Counter

    vocab = {w: (tuple(w) + ("</w>",), c) for w, c in word_counts.items()}
    merges = []
    for rank in range(num_merges):
        pairs = Counter()
        for sy, c in vocab.values():
            for i in range(len(sy) - 1):
                pairs[(sy[i], sy[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        if c < min_count:
            break
        merges.append((rank, a, b, a + b, c))
        nv = {}
        for w, (sy, cnt) in vocab.items():
            res, i = [], 0
            while i < len(sy):
                if i < len(sy) - 1 and sy[i] == a and sy[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(sy[i])
                    i += 1
            nv[w] = (tuple(res), cnt)
        vocab = nv
    return merges


def test_learn_bpe_matches_sequential_reference(spark):
    """The vocab-scale distributed rounds produce the EXACT merge table of
    the classic sequential algorithm — the qsort-oracle discipline of the
    reference's tests applied to the compression-model analog."""
    from collections import Counter

    from traildb_spark.functions.vectorized import _pynorm
    from traildb_spark.operators.text import learn_bpe

    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
        "low lower newest widest",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in learn_bpe(df, num_merges=12).orderBy("rank").collect()
    ]
    wc = Counter(w for t in texts for w in _pynorm(t).split(" ") if w)
    assert got == _naive_bpe(wc, 12)
    assert len(got) > 5  # the fixture genuinely exercises multiple rounds


def test_apply_bpe_segments_with_learned_merges(spark):
    """Greedy rank-order encoding: symbols re-join to word + </w>, and the
    training corpus's dominant words collapse to few tokens."""
    from traildb_spark.operators.text import apply_bpe, learn_bpe

    texts = ["low low low low low", "lowest lowest", "low lowest"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    merges = learn_bpe(df, num_merges=8)
    out = {r["doc_id"]: r["bpe_tokens"] for r in apply_bpe(df, merges).collect()}
    # every doc's tokens re-join to its words with </w> separators
    for i, t in enumerate(texts):
        assert "".join(out[i]) == "</w>".join(t.split(" ")) + "</w>"
    # 'low' occurs 6x -> fully merged to a single token
    assert out[0] == ["low</w>"] * 5


# -- cooccurrence / inverted index / top-k prune / histogram ---------------


def test_cooccurrence_pmi_counts(spark):
    docs = spark.createDataFrame(
        [(1, "new york is big"), (2, "new york new york"), (3, "big apple")],
        ["doc_id", "text"],
    )
    out = {
        (r["w1"], r["w2"]): (r["pair_count"], r["pmi_bits"])
        for r in text.cooccurrence_pmi(docs, min_count=2).collect()
    }
    # bigrams: (new,york)x3 (york,is) (is,big) (york,new) (big,apple)
    assert set(out) == {("new", "york")}
    cnt, pmi = out[("new", "york")]
    assert cnt == 3
    # N=7 bigrams, c(new)=3, c(york)=3 → bits(3)+bits(7)-bits(3)-bits(3)
    # = 2+3-2-2 = 1
    assert pmi == 1


def test_cooccurrence_empty_and_single_word_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "hello"), (3, "a b a b")], ["doc_id", "text"]
    )
    rows = text.cooccurrence_pmi(docs, min_count=2).collect()
    # only (a,b) reaches count 2; empty/1-token docs emit nothing
    assert {(r["w1"], r["w2"]) for r in rows} == {("a", "b")}


def test_inverted_index_positions(spark):
    docs = spark.createDataFrame(
        [(1, "to be or not to be"), (2, "be")], ["doc_id", "text"]
    )
    rows = {
        (r["term"], r["doc_id"]): (r["tf"], r["first_pos"], r["positions"])
        for r in text.inverted_index(docs).collect()
    }
    assert rows[("to", 1)] == (2, 1, "1,5")
    assert rows[("be", 1)] == (2, 2, "2,6")
    assert rows[("be", 2)] == (1, 1, "1")
    assert rows[("not", 1)] == (1, 4, "4")


def test_top_k_global_total_order(spark):
    from traildb_spark.operators import curation
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i % 10) for i in range(1000)], ["doc_id", "score"]
    )
    got = curation.top_k_global(
        df, [F.desc("score"), F.asc("doc_id")], 25, salt_col="doc_id",
        salt_buckets=8,
    ).collect()
    exp = sorted(range(1000), key=lambda i: (-(i % 10), i))[:25]
    assert sorted(r["doc_id"] for r in got) == sorted(exp)
    assert len(got) == 25


def test_activity_histogram_integer_calendar(spark):
    from traildb_spark.operators import analytics

    # 1970-01-01 (Thu=4) 00:30 and 1970-01-04 (Sun=0) 23:59
    rows = [("u", 1800, "a"), ("u", 3 * 86400 + 86340, "a"), ("u", 1805, "b")]
    df = spark.createDataFrame(rows, ["uuid", "time", "event_type"])
    got = {
        (r["dow"], r["hour"], r["value"]): r["events"]
        for r in analytics.activity_histogram(df).collect()
    }
    assert got == {(4, 0, "a"): 1, (0, 23, "a"): 1, (4, 0, "b"): 1}


def test_remove_duplicated_spans(spark):
    # window=3; the run "x y z" appears in docs 1 and 2 → its tokens are
    # removed wherever a dup window covers them
    docs = spark.createDataFrame(
        [
            (1, "a b x y z c d"),
            (2, "p q x y z r s"),
            (3, "unique words only here"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in dedup.remove_duplicated_spans(docs, window=3).collect()
    }
    # doc 1: only window (x,y,z) duplicates → tokens x y z removed
    assert got[1] == ("a b c d", 7, 3)
    assert got[2] == ("p q r s", 7, 3)
    assert got[3] == ("unique words only here", 4, 0)
    assert got[4] == ("", 0, 0)


def test_remove_duplicated_spans_short_doc_fully_covered(spark):
    # docs shorter than the window hash as one whole-doc gram; exact
    # copies are fully removed, the unique doc is untouched
    docs = spark.createDataFrame(
        [(1, "tiny copy"), (2, "tiny copy"), (3, "other text")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup.remove_duplicated_spans(docs, window=5).collect()
    }
    assert got[1] == ("", 2)
    assert got[2] == ("", 2)
    assert got[3] == ("other text", 0)


def test_clean_text_nfc_and_controls(spark):
    # decomposed é (e + combining acute) → composed; tab/newline are
    # C0 controls → removed; spaces collapse
    docs = spark.createDataFrame(
        [(1, "café  x"), (2, "a\tb\nc"), (3, None), (4, "  ok  ")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_chars_removed"])
        for r in text.clean_text(docs).collect()
    }
    assert got[1] == ("café x", 2)  # NFC merges 2 cps to 1, 1 space dropped
    assert got[2] == ("a b c", 0)  # controls become spaces, words intact
    assert got[3] == ("", 0)
    assert got[4] == ("ok", 4)


def test_remove_spans_unicode_whitespace_alignment(spark):
    # NBSP must tokenize identically in the gram-position kernel (Python
    # regex) and the Catalyst token split — else coverage misaligns.
    # With ASCII-only \s both engines treat 'foo bar' as ONE token.
    docs = spark.createDataFrame(
        [(1, "a b foo bar c"), (2, "a b foo bar c x")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"])
        for r in dedup.remove_duplicated_spans(docs, window=2).collect()
    }
    # 'foo bar' is ONE token on both sides: doc1 = a,b,foobar,c (4);
    # doc2 adds x (5). All of doc1's windows duplicate → 4 removed; doc2
    # keeps only the trailing x
    assert got[1] == (4, 4)
    assert got[2] == (5, 4)


def test_connected_components_string_ids_driver_path(spark):
    pairs = spark.createDataFrame(
        [("url-b", "url-a"), ("url-c", "url-b")], ["id_a", "id_b"]
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {"url-a": "url-a", "url-b": "url-a", "url-c": "url-a"}


def test_ivf_topk_string_ids(spark):
    rows = [(f"v{i}", [float(i == j) for j in range(4)]) for i in range(4)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [("q0", [1.0, 0.0, 0.0, 0.0])], ["query_id", "embedding"]
    )
    got = similarity.ivf_topk(
        corpus, queries, k=2, num_centroids=2, nprobe=2
    ).collect()
    assert len(got) == 2
    assert sorted(r["rank"] for r in got) == [1, 2]
    top = [r for r in got if r["rank"] == 1][0]
    assert top["corpus_id"] == "v0" and top["query_id"] == "q0"


def test_word_chunks_empty_doc_no_chunks(spark):
    from pyspark.sql import functions as FF

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "a b")], ["doc_id", "text"])
    got = {
        r["doc_id"]: r["ch"]
        for r in df.select("doc_id", text.word_chunks(FF.col("text"), 2).alias("ch")).collect()
    }
    assert got[1] == [] and got[2] == []
    assert got[3] == ["a b"]


def test_bm25_topk_ranking_and_portable_scoring(spark):
    """BM25 sanity on a hand-built corpus: the doc matching both query
    terms outranks single-term docs; a term in every doc has idf_bits 0
    and contributes nothing; ties break on doc_id; rank caps at k."""
    from traildb_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "common apple banana"),
            (2, "common apple apple apple"),
            (3, "common banana"),
            (4, "common common common common"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(100, "apple banana"), (200, "common")], ["query_id", "text"]
    )
    out = T.bm25_topk(docs, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    q100 = sorted(by_q[100])
    # doc 1 matches both terms -> top; scores are deterministic ints
    assert q100[0][1] == 1 and len(q100) == 3
    assert all(s >= 0 for _, _, s in q100)
    # 'common' appears in all 4 docs: idf_bits = len(bin(4)) - len(bin(4))
    # = 0 -> every contribution 0; ties broken by ascending doc_id, k=3
    assert sorted(by_q[200]) == [(1, 1, 0), (2, 2, 0), (3, 3, 0)]


def test_bigram_surprisal_orders_word_salad_above_template(spark):
    """The conditional signal: same words, unusual ORDER scores higher;
    one-token and empty docs contribute zero bigrams; repeated template
    text scores low."""
    from traildb_spark.operators import text as T

    rows = [
        (1, "the cat sat on the mat " * 5),      # template, repeated
        (2, "mat the on sat the cat " * 1 + "cat mat on the sat the"),  # salad
        (3, "solo"),
        (4, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in T.bigram_surprisal(docs).collect()}
    assert out[3]["n_bigrams"] == 0 and out[3]["millibits_per_bigram"] == 0
    assert out[4]["n_bigrams"] == 0
    assert out[1]["n_bigrams"] == 29  # 30 tokens -> 29 adjacent pairs
    # the salad's bigrams are rare given their contexts; the template's
    # bigrams are the dominant continuation of each context
    assert out[2]["millibits_per_bigram"] > out[1]["millibits_per_bigram"]


def test_ivf_prebuilt_index_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """save_ivf_index / ivf_topk_prebuilt: the persisted artifact's probe
    reads ONLY the probed cells' files (PartitionFilters on cid in the
    plan — the layout IS the index) and self-matches rank first; recall
    vs brute force holds like the in-memory ivf_topk."""
    import re

    from traildb_spark.plans import audit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    similarity.save_ivf_index(emb, idx, num_centroids=8)
    import os

    cells = [d for d in os.listdir(os.path.join(idx, "data")) if d.startswith("cid=")]
    assert len(cells) >= 4  # data actually spread over cell partitions

    queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk_prebuilt(spark, idx, queries, k=5, nprobe=3)
    plan = audit.explain_str(out)
    m = re.search(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert m and "cid" in m.group(1), f"no cid partition pruning:\n{plan[:800]}"

    rows = out.collect()
    firsts = {r["query_id"]: r for r in rows if r["rank"] == 1}
    assert len(firsts) == 3
    for qid, r in firsts.items():
        assert r["corpus_id"] == qid and r["cos"] >= 0.999
    exact = similarity.brute_force_topk(emb, queries, k=5).collect()
    es = {}
    for r in exact:
        es.setdefault(r["query_id"], set()).add(r["corpus_id"])
    hit = sum(1 for r in rows if r["corpus_id"] in es[r["query_id"]])
    assert hit / len(exact) >= 0.8


def test_ivf_artifact_roundtrip_via_fs_api_file_scheme(spark, sf_dir, tmp_path):
    """The persisted-ANN artifact must work through the Hadoop FS API on a
    scheme-qualified path (file:// stands in for hdfs://s3a:// — the same
    code path, different scheme): save writes the sidecar via fsutil, the
    probe reads it back, and results match the plain-path artifact
    byte-for-byte. Before round 6 the sidecar used plain open() and the
    artifact silently broke off the driver-local filesystem."""
    from traildb_spark import fsutil

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    idx = "file://" + str(tmp_path / "ivf_uri")
    similarity.save_ivf_index(emb, idx, num_centroids=4)
    assert fsutil.exists(spark, f"{idx}/{similarity.IVF_META_FILE}")

    queries = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    rows = similarity.ivf_topk_prebuilt(spark, idx, queries, k=3, nprobe=2).collect()
    firsts = {r["query_id"]: r for r in rows if r["rank"] == 1}
    assert len(firsts) == 2
    for qid, r in firsts.items():
        assert r["corpus_id"] == qid and r["cos"] >= 0.999


def test_ivf_prebuilt_refuses_stale_or_missing_sidecar(spark, sf_dir, tmp_path):
    """Consistency guard (reference `tdbcli/tdb_index.c:439-451,701-702`):
    cell data rewritten after the sidecar was built -> hard refusal (there
    is no primary to fall back to, so serving would be silently wrong);
    no sidecar at all -> FileNotFoundError naming the fix."""
    import shutil

    import pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    idx = str(tmp_path / "ivf_stale")
    similarity.save_ivf_index(emb, idx, num_centroids=4)
    queries = emb.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")
    # sanity: fresh artifact answers
    assert similarity.ivf_topk_prebuilt(spark, idx, queries, k=3, nprobe=2).count() > 0

    # mutate a cell: copy one part file to a new name -> the fingerprint's
    # (path,size,mtime) multiset changes exactly as an external rewrite would
    import os

    data_dir = os.path.join(idx, "data")
    cell = next(d for d in sorted(os.listdir(data_dir)) if d.startswith("cid="))
    part = next(
        f
        for f in os.listdir(os.path.join(data_dir, cell))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    shutil.copy(
        os.path.join(data_dir, cell, part),
        os.path.join(data_dir, cell, "part-rewritten.parquet"),
    )
    with pytest.raises(ValueError, match="stale"):
        similarity.ivf_topk_prebuilt(spark, idx, queries, k=3, nprobe=2)

    with pytest.raises(FileNotFoundError, match="save_ivf_index"):
        similarity.ivf_topk_prebuilt(spark, str(tmp_path / "nope"), queries, k=3)


def test_trigram_backoff_levels_exact(spark):
    """Every stupid-backoff branch fires and scores exactly: seen
    trigram (whole-bit ratio), bigram backoff (+1322), unigram backoff
    (+2644), unknown word (count clamped to 1). Model and scored corpus
    are disjoint by construction."""
    from traildb_spark.operators.text import trigram_backoff_surprisal

    model = spark.createDataFrame(
        [(0, "a b c a b c d e f")], ["doc_id", "text"]
    )
    # model counts: N=9; tri: 'a b c'x2, 'b c a', 'c a b', 'b c d',
    # 'c d e', 'd e f'; bigrams: 'a b'x2,'b c'x2,'c a','c d','d e','e f';
    # unigrams: a2 b2 c2 d1 e1 f1
    score = spark.createDataFrame(
        [
            (1, "a b c"),      # seen trigram: bits(c('a b')=2) - bits(c3=2) = 0
            (2, "x b c"),      # tri unseen, bg23 'b c'=2 seen: 1322 + bits(c(b)=2)-bits(2)=1322+0
            (3, "x y f"),      # only w3 'f'=1 seen: 2644 + bits(N=9)-bits(1) = 2644+4000-1000
            (4, "x y z"),      # unknown w3: 2644 + (bits(9)-1)*1000
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["surprisal_millibits"])
        for r in trigram_backoff_surprisal(score, model).collect()
    }
    assert got[1] == (1, 0)
    assert got[2] == (1, 1322)
    assert got[3] == (1, 2644 + 3000)
    assert got[4] == (1, 2644 + 3000)
    # self-model: every trigram is seen, so no backoff penalty appears
    self_scored = trigram_backoff_surprisal(model).collect()[0]
    assert self_scored["n_trigrams"] == 7
    assert self_scored["surprisal_millibits"] < 7 * 1322


def test_fuzzy_dedup_against_best_match(spark):
    """Cross-corpus incremental near-dup: new docs match their corpus
    near-dups, the BEST match wins (max jaccard, tie -> smallest corpus
    id), novel docs are absent, and a corpus-side dup never pairs with
    another corpus doc (the join is strictly new x corpus)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about embedding vectors and spark plans"
    corpus = spark.createDataFrame(
        [
            (2, base),
            (4, base + " extra"),          # second, slightly-different copy
            (6, other),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, base),                      # exact text of corpus 2 (ties -> 2)
            (3, other + " suffix"),         # near-dup of corpus 6
            (5, "totally novel text that matches nothing in the corpus"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["new_id"]: (r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against(
            new, corpus, shingle_k=5, num_hashes=16, bands=4, threshold=0.4
        ).collect()
    }
    assert set(got) == {1, 3}
    assert got[1][0] == 2 and got[1][1] == 1.0  # identical text, best of {2,4}
    assert got[3][0] == 6 and got[3][1] >= 0.4


def test_minhash_index_artifact_roundtrip_and_stale(spark, sf_dir, tmp_path):
    """save_minhash_index / fuzzy_dedup_against_prebuilt: the persisted
    artifact gives the same matches as the direct two-corpus run, works
    through a file://-qualified path via the FS API, and refuses stale or
    missing sidecars (same contract as the IVF artifact)."""
    import shutil

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    idx = "file://" + str(tmp_path / "mh_idx")
    dedup.save_minhash_index(corpus, idx, shingle_k=5, num_hashes=16, bands=4)
    via_idx = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against_prebuilt(
            spark, idx, new, threshold=0.5
        ).collect()
    }
    direct = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against(
            new, corpus, shingle_k=5, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    assert via_idx == direct

    # stale refusal: mutate the grams side
    import os

    local = str(tmp_path / "mh_idx")
    part = next(
        f for f in os.listdir(f"{local}/grams")
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    shutil.copy(f"{local}/grams/{part}", f"{local}/grams/part-x.parquet")
    with pytest.raises(ValueError, match="stale"):
        dedup.fuzzy_dedup_against_prebuilt(spark, idx, new)

    with pytest.raises(FileNotFoundError, match="save_minhash_index"):
        dedup.fuzzy_dedup_against_prebuilt(spark, str(tmp_path / "nope"), new)


def test_append_minhash_index_parity(spark, sf_dir, tmp_path):
    """append_minhash_index: the portable hash family is FIXED, so an
    appended artifact is bit-identical to a rebuild on the union
    UNCONDITIONALLY (no calibration grid, no envelope) — probes against
    the appended index must match both a rebuilt index and the direct
    two-corpus run; a stale artifact refuses the append; a probe after
    a crash-free append keeps passing the staleness guard."""
    import json

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    corpus = docs.filter(F.col("doc_id") % 4 == 0)
    delta = docs.filter(F.col("doc_id") % 4 == 2)
    union = corpus.unionByName(delta)
    new = docs.filter(F.col("doc_id") % 2 == 1)

    idx = str(tmp_path / "mh_app")
    dedup.save_minhash_index(corpus, idx, shingle_k=5, num_hashes=16,
                             bands=4)
    dedup.append_minhash_index(delta, idx)
    meta = json.loads(open(f"{idx}/{dedup.MINHASH_META_FILE}").read())
    assert meta["appends"] == 1

    via_app = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against_prebuilt(
            spark, idx, new, threshold=0.5).collect()
    }
    idx2 = str(tmp_path / "mh_reb")
    dedup.save_minhash_index(union, idx2, shingle_k=5, num_hashes=16,
                             bands=4)
    via_reb = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against_prebuilt(
            spark, idx2, new, threshold=0.5).collect()
    }
    direct = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against(
            new, union, shingle_k=5, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    assert via_app == via_reb == direct and direct

    # appending onto a STALE artifact refuses before writing anything
    import os
    import shutil

    part = next(
        f for f in os.listdir(f"{idx}/grams")
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    shutil.copy(f"{idx}/grams/{part}", f"{idx}/grams/part-x.parquet")
    with pytest.raises(ValueError, match="stale"):
        dedup.append_minhash_index(delta, idx)
    with pytest.raises(FileNotFoundError, match="save_minhash_index"):
        dedup.append_minhash_index(delta, str(tmp_path / "nope"))


def test_compact_minhash_index_parity(spark, sf_dir, tmp_path):
    """compact_minhash_index: pure re-layout (fixed hash family, params
    in the sidecar) — probe set-identical before/after, file count
    collapses, superseded dirs swept, appends keep working against the
    new generation."""
    import json
    import os

    from traildb_spark.operators.similarity import _parquet_file_count

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(400)
    corpus = docs.filter(F.col("doc_id") % 4 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_cmp")
    dedup.save_minhash_index(corpus, idx, shingle_k=5, num_hashes=16,
                             bands=4)
    for i in range(5):
        delta = docs.filter(F.col("doc_id") % 4 == 2).limit(10) \
            .withColumn("doc_id", F.col("doc_id") + F.lit(10_000 * (i + 1)))
        dedup.append_minhash_index(delta, idx)
    before = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against_prebuilt(
            spark, idx, new, threshold=0.5).collect()
    }
    files_before = _parquet_file_count(spark, f"{idx}/grams")

    removed = dedup.compact_minhash_index(spark, idx)
    assert removed > 0
    meta = json.loads(open(f"{idx}/{dedup.MINHASH_META_FILE}").read())
    assert meta["grams_dir"] == "grams_g1" and meta["compactions"] == 1
    assert not os.path.exists(f"{idx}/bands")
    assert not os.path.exists(f"{idx}/grams")
    assert _parquet_file_count(spark, f"{idx}/grams_g1") < files_before
    after = {
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in dedup.fuzzy_dedup_against_prebuilt(
            spark, idx, new, threshold=0.5).collect()
    }
    assert after == before and before

    # append onto the compacted generation still works + re-probes
    dedup.append_minhash_index(
        docs.filter(F.col("doc_id") % 4 == 2).limit(5).withColumn(
            "doc_id", F.col("doc_id") + F.lit(90_000)), idx)
    assert dedup.fuzzy_dedup_against_prebuilt(
        spark, idx, new, threshold=0.5).count() >= len(before)


def test_embedding_neardup_against_best_match(spark):
    """Cross-corpus incremental embedding near-dup: new vectors match
    their corpus near-dups with the BEST match winning (max cos, tie ->
    smallest corpus id); orthogonal vectors are absent; matches never
    pair corpus-with-corpus."""
    corpus = spark.createDataFrame(
        [
            (2, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60),
            (4, [0.999, 0.012, 0.0, 0.0] + [0.0] * 60),   # slightly off axis 1
            (6, [0.0, 1.0, 0.0, 0.0] + [0.0] * 60),
        ],
        ["vec_id", "embedding"],
    )
    new = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60),        # == corpus 2 (tie -> 2)
            (3, [0.0, 0.998, 0.02, 0.0] + [0.0] * 60),     # near corpus 6
            (5, [0.0, 0.0, 0.0, 1.0] + [0.0] * 60),        # novel direction
        ],
        ["vec_id", "embedding"],
    )
    got = {
        r["new_id"]: (r["corpus_id"], r["cos"])
        for r in dedup.embedding_neardup_against(new, corpus, threshold=0.95).collect()
    }
    assert set(got) == {1, 3}
    assert got[1][0] == 2 and got[1][1] == 1.0
    assert got[3][0] == 6 and got[3][1] >= 0.95


def test_resolve_duplicates_keeps_best_quality(spark):
    # cluster {1,2,3}: doc 3 has the best quality (clean prose), doc 1 is
    # min-id but punctuation-soup — resolve must keep 3, not 1.
    # cluster {7,8}: equal text (equal score) -> tie breaks to min id 7.
    # doc 5: singleton, always kept.
    rows = [
        (1, "the,, quick;; brown!! fox?? costs $$ 1.2.3 ::"),
        (2, "the,, quick;; brown!! fox?? costs $$ 1.2.4 ::"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (5, "a singleton document about spark"),
        (7, "identical twin content here"),
        (8, "identical twin content here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], ["id_a", "id_b"]
    )
    got = {
        r["doc_id"]: (r["component"], r["kept"])
        for r in dedup.resolve_duplicates(
            docs, pairs, score=text.quality_score(F.col("text"))
        ).collect()
    }
    assert len(got) == 6
    assert got[1] == (1, False)
    assert got[2] == (1, False)
    assert got[3] == (1, True)       # best quality wins over min id
    assert got[5] == (5, True)       # singleton kept
    assert got[7] == (7, True)       # tie -> min id
    assert got[8] == (7, False)


def test_embedding_gram_hand_computed(spark):
    # two 2-d vectors, q_scale_bits=1 (scale 2): q = floor(v*2)
    # v1=(0.5, 1.0) -> q1=(1, 2);  v2=(-0.75, 0.25) -> q2=(-2, 0)
    # n=2; sums: dim0 = -1, dim1 = 2
    # G = [[1*1+(-2)(-2), 1*2+(-2)*0], [., 2*2+0*0]] = [[5, 2], [2, 4]]
    # cov_q(0,0) = (5*2 - (-1)(-1))/4 = 9/4 = 2.25
    # cov_q(0,1) = (2*2 - (-1)(2))/4 = 6/4 = 1.5
    # cov_q(1,1) = (4*2 - 4)/4 = 1.0
    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, [-0.75, 0.25])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        (r["i"], r["j"]): r
        for r in similarity.embedding_gram(df, q_scale_bits=1).collect()
    }
    assert set(rows) == {(0, 0), (0, 1), (1, 1)}
    r00, r01, r11 = rows[(0, 0)], rows[(0, 1)], rows[(1, 1)]
    assert (r00["n_vecs"], r00["sum_i"], r00["sum_j"], r00["sum_prod"]) == (
        2, -1, -1, 5)
    assert (r01["sum_i"], r01["sum_j"], r01["sum_prod"]) == (-1, 2, 2)
    assert r11["sum_prod"] == 4
    assert (r00["cov_q"], r01["cov_q"], r11["cov_q"]) == (2.25, 1.5, 1.0)


def test_embedding_gram_partitioning_invariant(spark, sf_dir):
    """Integer partial sums make the result independent of how rows are
    batched across partitions — the property that justifies calling the
    treeAggregate-shaped plan exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = similarity.embedding_gram(emb.coalesce(1), q_scale_bits=10)
    b = similarity.embedding_gram(emb.repartition(13), q_scale_bits=10)
    pa = a.orderBy("i", "j").toPandas()
    pb = b.orderBy("i", "j").toPandas()
    assert pa.equals(pb)


def test_embedding_gram_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, [0.5])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="q_scale_bits"):
        similarity.embedding_gram(df, q_scale_bits=0)


def test_source_divergence_hand_computed(spark):
    # corpus tokens: s1 -> "a a b" (tot=3), s2 -> "b c" (tot=2); total=5
    # s1: tot_r=2; union vocab {a,b,c}: wtot a=2 b=2 c=1
    #   a: |2*2 - 0*3| = 4;  b: |1*2 - 1*3| = 1;  c (absent): 1*3 = 3
    #   numer = 8 -> tvd = 8/(2*3*2) = 0.6666... -> 666666 ppm
    # s2 (symmetric): numer = |0-2*... compute: tot_s=2, tot_r=3
    #   a absent: 2*2=4; b: |1*3 - 1*2| = 1; c: |1*3 - 0| = 3 -> 8
    #   tvd = 8/(2*2*3) = 0.6666... -> 666666
    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "b c")], "source string, text string"
    )
    got = {
        r["source"]: (r["n_tokens_src"], r["n_tokens_rest"], r["tvd_ppm"])
        for r in text.source_divergence(df).collect()
    }
    assert got["s1"] == (3, 2, 666666)
    assert got["s2"] == (2, 3, 666666)


def test_source_divergence_single_source_null(spark):
    df = spark.createDataFrame([("s1", "a b c")], "source string, text string")
    [r] = text.source_divergence(df).collect()
    assert r["tvd_ppm"] is None and r["n_tokens_rest"] == 0


def test_vocab_growth_hand_computed(spark):
    # ids 0..3, 2 buckets (width: (id-0)*2 div 4 -> 0,0,1,1)
    # d0 "a b", d1 "a c", d2 "c d", d3 "" (no tokens)
    # bucket0: 2 docs, 4 occ, new types {a,b,c} = 3
    # bucket1: 2 docs, 2 occ, new types {d} = 1, cum = 4
    df = spark.createDataFrame(
        [(0, "a b"), (1, "a c"), (2, "c d"), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r["bucket"]: (
            r["n_docs"], r["n_token_occurrences"], r["new_types"], r["cum_types"]
        )
        for r in text.vocab_growth(df, n_buckets=2).collect()
    }
    assert got == {0: (2, 4, 3, 3), 1: (2, 2, 1, 4)}


def test_vocab_growth_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="n_buckets"):
        text.vocab_growth(df, n_buckets=0)


def test_split_sentences_semantics(spark):
    # normalization lowers + collapses whitespace; terminator RUNS split
    # once; leading/trailing empties are dropped; indices dense
    df = spark.createDataFrame(
        [
            (1, "Hello world! How are  you?? Fine..."),
            (2, "!!!"),          # only terminators -> zero sentences
            (3, "no terminator"),
        ],
        "doc_id long, text string",
    )
    rows = text.split_sentences(df).collect()
    got = {(r["doc_id"], r["sent_idx"]): (r["sentence"], r["n_tokens"]) for r in rows}
    assert got == {
        (1, 0): ("hello world", 2),
        (1, 1): ("how are you", 3),
        (1, 2): ("fine", 1),
        (3, 0): ("no terminator", 2),
    }
    assert not [k for k in got if k[0] == 2]


def test_winnow_fingerprints_guarantee_and_short_doc(spark):
    """The winnowing guarantee: two docs sharing a run of >= k + w - 1
    words share at least one fingerprint; a doc shorter than k words
    still yields exactly one fingerprint (its whole-doc gram)."""
    k, w = 3, 3
    shared = "alpha beta gamma delta epsilon zeta"  # 6 words >= k+w-1=5
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"{shared} nine ten eleven"),
            (3, "tiny doc"),  # 2 words < k
        ],
        "doc_id long, text string",
    )
    rows = dedup.winnow_fingerprints(df, k=k, w=w).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["gram_hash"])
    assert by_doc[1] & by_doc[2], "shared run must produce a shared fingerprint"
    assert len(by_doc[3]) == 1
    # density: roughly 2/(w+1) of grams become fingerprints, never all
    n_grams_doc1 = len(f"one two {shared} three".split()) - k + 1
    assert len(by_doc[1]) < n_grams_doc1


def test_winnow_fingerprints_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="k must be"):
        dedup.winnow_fingerprints(df, k=0)
    with _pytest.raises(ValueError, match="w must be"):
        dedup.winnow_fingerprints(df, w=0)


def test_pca_project_variance_and_roundtrip(spark, sf_dir):
    """Projected variance per component ~ the top eigenvalues of the
    quantized covariance, components capture descending variance, and
    reconstruction error shrinks as components grow."""
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    V = np.vstack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    Q = np.floor(V * 1024) / 1024  # the operator sees quantized values
    C = np.cov(Q.T, bias=True)
    evals = np.sort(np.linalg.eigvalsh(C))[::-1]

    out = similarity.pca_project(emb, n_components=8)
    P = np.vstack(
        [r["proj"] for r in out.orderBy("id").collect()]
    )
    got_var = P.var(axis=0)
    # per-component variance matches the top-8 eigenvalues
    assert np.allclose(np.sort(got_var)[::-1], evals[:8], rtol=1e-6)
    # descending order as returned
    assert all(got_var[i] >= got_var[i + 1] - 1e-12 for i in range(7))

    # reconstruction error monotonically improves with more components
    errs = []
    for c in (2, 8):
        pc = np.vstack(
            [r["proj"] for r in
             similarity.pca_project(emb, n_components=c).orderBy("id").collect()]
        )
        errs.append((Q - Q.mean(0)).var(axis=0).sum() - pc.var(axis=0).sum())
    assert errs[1] < errs[0]


def test_pca_project_partitioning_invariant_and_validation(spark, sf_dir):
    import numpy as np
    import pytest as _pytest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = np.vstack([r["proj"] for r in
                   similarity.pca_project(emb.coalesce(1), 4).orderBy("id").collect()])
    b = np.vstack([r["proj"] for r in
                   similarity.pca_project(emb.repartition(7), 4).orderBy("id").collect()])
    # the gram stage is integer-exact, so the components — and hence the
    # projection — are bit-identical under any partitioning
    assert np.array_equal(a, b)
    with _pytest.raises(ValueError, match="n_components"):
        similarity.pca_project(emb, 0)
    with _pytest.raises(ValueError, match="exceeds dim"):
        similarity.pca_project(emb, 1000)


def test_embedding_outliers_exact_lattice(spark):
    # 2-d, Q1 (scale 2): v1=(1,0)->q(2,0), v2=(1,0)->q(2,0), v3=(-1,0)->q(-2,0)
    # n=3, S=(2,0)... wait S=(2+2-2, 0)=(2,0); ss=4
    # D(v1) = 9*4 - 2*3*(2*2) + 4 = 36 - 24 + 4 = 16  (same v2)
    # D(v3) = 9*4 - 2*3*(-4) + 4 = 36 + 24 + 4 = 64
    # max_dist=1.2: t = floor((1.2*2)^2)=5 -> n²t = 45: v3 (64) outlier,
    # v1/v2 (16) not
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["id"]: (r["d2_lattice"], r["is_outlier"])
        for r in similarity.embedding_outliers(
            df, max_dist=1.2, q_scale_bits=1
        ).collect()
    }
    assert got == {1: (16, False), 2: (16, False), 3: (64, True)}


def test_embedding_outliers_validation(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, [0.5])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="max_dist"):
        similarity.embedding_outliers(df, max_dist=0)


def test_corpus_card_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c"),      # exact dup of 1 (normalized)
            (3, "A  b   c"),   # normalizes to the same -> dup group of 3
            (4, "x y"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    [r] = text.corpus_card(df).collect()
    assert (r["n_docs"], r["n_tokens"], r["vocab_size"]) == (5, 11, 5)
    assert r["mean_tokens_x1000"] == 2200
    assert (r["min_tokens"], r["max_tokens"]) == (0, 3)
    assert (r["dup_docs"], r["dup_ppm"]) == (3, 600000)


def _py_levenshtein(a: str, b: str) -> int:
    # independent reference DP (not Spark, not DuckDB)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _brute_edit_pairs(rows, d):
    out = set()
    norm = {i: " ".join(t.lower().split()) for i, t in rows}
    for i, a in norm.items():
        for j, b in norm.items():
            if i < j and abs(len(a) - len(b)) <= d:
                dist = _py_levenshtein(a, b)
                if dist <= d:
                    out.add((i, j, dist))
    return out


def test_edit_distance_pairs_vs_brute(spark):
    """Prefix-filter candidates + exact verify == brute force (the
    completeness theorem, checked on long docs with planted edits)."""
    base = "the quick brown fox jumps over the lazy dog and then runs far away home"
    rows = [
        (0, base),
        (1, base.replace("quick", "quack")),          # distance 1 (i->a)
        (2, base.replace("jumps over", "leaps over")), # small edit
        (3, "a completely different document about spark shuffles and joins ok"),
        (4, base),                                     # exact dup: distance 0
        (5, base + " extra tail words beyond the threshold distance limit here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.edit_distance)
        for r in dedup.edit_distance_pairs(df, max_distance=6).collect()
    }
    assert got == _brute_edit_pairs(rows, 6)
    assert (0, 4, 0) in got and (0, 1, 1) in got


def test_edit_distance_pairs_short_doc_band(spark):
    """Docs with <= q*d distinct grams evade the prefix theorem; the
    length-bucket band must still find them (e.g. disjoint-alphabet
    short strings within distance d)."""
    rows = [
        (0, "aaaa"),
        (1, "bbbb"),     # distance 4 from 'aaaa', zero shared grams
        (2, "aaab"),     # distance 1 from 'aaaa'
        (3, "zzzzzzzzzzzzzzzzzzzzzz"),  # far from everything
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.edit_distance)
        for r in dedup.edit_distance_pairs(df, max_distance=4).collect()
    }
    assert got == _brute_edit_pairs(rows, 4)
    assert (0, 1, 4) in got and (0, 2, 1) in got


def test_edit_distance_pairs_validates_args(spark):
    df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.edit_distance_pairs(df, max_distance=0)
    with pytest.raises(ValueError):
        dedup.edit_distance_pairs(df, q=1)


def test_source_balance_hand_computed(spark):
    """Three sources with 1/1/2 docs and char masses 4/4/8 (x='ab'*k):
    sorted docs (1,1,2): gini = (2*(1*1+2*1+3*2) - 4*4) / (3*4) = 2/12
    -> 166666 ppm; chars (4,4,8) scale-invariant -> same gini; top
    share = 2/4 = 500000 ppm."""
    rows = [
        (0, "ab" * 2, "s1"),
        (1, "ab" * 2, "s2"),
        (2, "ab" * 2, "s3"),
        (3, "ab" * 2, "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = text.source_balance(df).collect()[0]
    assert (r.n_sources, r.total_docs, r.total_chars) == (3, 4, 16)
    assert r.gini_docs_ppm == 166666
    assert r.gini_chars_ppm == 166666
    assert r.top_share_ppm == 500000


def test_source_balance_uniform_is_zero(spark):
    rows = [(i, "xyz", f"s{i % 4}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    r = text.source_balance(df).collect()[0]
    assert r.gini_docs_ppm == 0 and r.gini_chars_ppm == 0


def test_lexical_richness_hand_computed(spark):
    """mill: 'a a a a' -> 1 type, 0 hapax. prose: 'x y z x' -> 3 types,
    2 hapax (y, z); ttr = 3/4, hapax rate = 2/3 (truncated ppm)."""
    rows = [
        (0, "a a a a", "mill"),
        (1, "x y z x", "prose"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.key: (r.n_tokens, r.n_types, r.n_hapax, r.ttr_ppm, r.hapax_ppm)
        for r in text.lexical_richness(df).collect()
    }
    assert got == {
        "mill": (4, 1, 0, 250000, 0),
        "prose": (4, 3, 2, 750000, 666666),
    }


def test_ngram_coverage_hand_computed(spark):
    """train 'a b c d' has 3-grams {abc, bcd}; probe 'a b c x' has
    {abc, bcx} -> 1 of 2 covered = 500000 ppm. Probe with n>len falls
    back to the whole text as one gram (word_ngrams min-1 contract)."""
    train = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    probe = spark.createDataFrame([(1, "a b c x")], "doc_id long, text string")
    r = text.ngram_coverage(train, probe, n=3).collect()[0]
    assert (r.probe_grams, r.covered_grams, r.coverage_ppm) == (2, 1, 500000)
    import pytest
    with pytest.raises(ValueError):
        text.ngram_coverage(train, probe, n=0)


def test_ngram_coverage_disjoint_and_full(spark):
    a = spark.createDataFrame([(0, "p q r s")], "doc_id long, text string")
    b = spark.createDataFrame([(1, "p q r s")], "doc_id long, text string")
    c = spark.createDataFrame([(2, "z z z z")], "doc_id long, text string")
    assert text.ngram_coverage(a, b, n=2).collect()[0].coverage_ppm == 1000000
    assert text.ngram_coverage(a, c, n=2).collect()[0].coverage_ppm == 0


def test_containment_pairs_asymmetric(spark):
    """sub fully inside super -> containment 1.0 one direction; the
    super side scores low the other way (union-blind by design). A
    disjoint doc pairs with nothing."""
    inner = "abcdefghij" * 4                       # 40 chars, 36 shingles
    rows = [
        (0, inner),
        (1, inner + " " + "zyxwvutsrq" * 6),       # superset with long tail
        (2, "0123456789" * 5),                     # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.sub_id, r.super_id): r.containment
        for r in dedup.containment_pairs(df, df, k=5, threshold=0.9).collect()
    }
    assert got == {(0, 1): 1.0}
    # jaccard would NOT call these near-dups: union is dominated by the tail
    import pytest
    with pytest.raises(ValueError):
        dedup.containment_pairs(df, df, threshold=0.0)
    with pytest.raises(ValueError):
        dedup.containment_pairs(df, df, k=0)


def test_containment_pairs_matches_brute(spark):
    """Prefix-filter candidates + exact verify == brute force over all
    ordered pairs (completeness under the df-ordered prefix)."""
    docs = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different sentence about spark and shuffles"),
        (3, "quick brown fox jumps over"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.sub_id, r.super_id): (r.sub_grams, r.containment)
        for r in dedup.containment_pairs(df, df, k=5, threshold=0.6).collect()
    }

    def norm(t):
        return " ".join(t.lower().split())

    def sh(t):
        t = norm(t)
        return {t[i:i + 5] for i in range(max(len(t) - 4, 1))}

    want = {}
    for i, ta in docs:
        for j, tb in docs:
            if i == j:
                continue
            A, B = sh(ta), sh(tb)
            c = round(len(A & B) / len(A), 6)
            if c >= 0.6:
                want[(i, j)] = (len(A), c)
    assert got == want


def test_hash_embedding_deterministic_and_signed(spark):
    from traildb_spark.functions.core import md5_60 as _  # noqa: F401

    df = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, "alpha beta alpha"), (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.vector for r in text.hash_embedding(df, dim=8).collect()}
    # identical docs -> identical vectors; empty doc emits no row
    assert out[0] == out[1] and 2 not in out
    assert len(out[0]) == 8
    # alpha appears twice, beta once: total absolute mass is 3 in <= 2 buckets
    assert sum(abs(v) for v in out[0]) in (1, 3)  # 1 if alpha/beta collide w/ opposite signs


def test_hash_embedding_python_reference(spark):
    """Bucket and sign must equal the md5-60 reference exactly."""
    import hashlib

    def md5_60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    words = ["spark", "join", "shuffle", "spark"]
    df = spark.createDataFrame([(7, " ".join(words))], "doc_id long, text string")
    dim = 16
    want = [0] * dim
    for w in words:
        h = md5_60(w)
        want[h % dim] += 1 if (h // dim) % 2 == 0 else -1
    got = text.hash_embedding(df, dim=dim).collect()[0].vector
    assert got == want
    import pytest
    with pytest.raises(ValueError):
        text.hash_embedding(df, dim=0)


def test_ngram_coverage_empty_probe_is_null(spark):
    train = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    probe = train.filter("doc_id < 0")
    r = text.ngram_coverage(train, probe, n=2).collect()[0]
    assert (r.probe_grams, r.covered_grams, r.coverage_ppm) == (0, 0, None)


def test_zipf_slope_hand_computed(spark):
    """Frequencies 8,4,2,1 -> ranks 1..4: x = bits(rank) = 1,2,2,3,
    y = bits(freq) = 4,3,2,1. n=4, Sx=8, Sy=10, Sxy=17, Sxx=18 ->
    num = 4*17-80 = -12, den = 4*18-64 = 8, slope = -1.5 ->
    slope_ppm = -1500000. A 1-term vocabulary has zero x-variance ->
    NULL slope."""
    from traildb_spark.operators.text import zipf_slope

    doc = " ".join(["w1"] * 8 + ["w2"] * 4 + ["w3"] * 2 + ["w4"])
    df = spark.createDataFrame(
        [(1, doc, "A"), (2, "only only", "B")],
        "doc_id long, text string, source string",
    )
    got = {r.source: (r.n_terms, r.slope_num, r.slope_den, r.slope_ppm)
           for r in zipf_slope(df).collect()}
    assert got["A"] == (4, -12, 8, -1500000)
    assert got["B"] == (1, None, None, None)


def test_langid_confusion_hand_computed(spark):
    """Stopword-overlap detector vs labels: en text labeled en -> match
    cell; de text labeled en -> off-diagonal; zh (no marker table) ->
    'und' column; counts aggregate per cell."""
    from traildb_spark.operators.text import langid_confusion

    rows = [
        (1, "the cat and the dog", "en"),
        (2, "the mouse and the cat", "en"),
        (3, "der hund und die katze", "en"),   # mislabeled: detector says de
        (4, "der die das und", "de"),
        (5, "你好 世界", "zh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {(r.lang_actual, r.lang_detected): (r.n_docs, r.is_match)
           for r in langid_confusion(df).collect()}
    assert got == {
        ("en", "en"): (2, True),
        ("en", "de"): (1, False),
        ("de", "de"): (1, True),
        ("zh", "und"): (1, False),
    }


def test_dedup_sentences_hand_computed(spark):
    """'buy now. great page. buy now. the end' -> first occurrences
    kept in order, 1 of 4 removed (250000 ppm); a no-sentence doc
    survives with zeros; dedup never drops rows."""
    from traildb_spark.operators.text import dedup_sentences

    rows = [
        (1, "Buy now. Great page! Buy now? The end."),
        (2, "..."),
        (3, "same. same. same."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_sentences, r.n_unique, r.removed_ppm, r.text_deduped)
           for r in dedup_sentences(df).collect()}
    assert got[1] == (4, 3, 250000, "buy now. great page. the end")
    assert got[2] == (0, 0, 0, "")
    assert got[3] == (3, 1, 666666, "same")


def test_token_stats_hand_computed(spark):
    """'aa bb, cc3!' raw: BPE-ish tokens = aa,bb,',',cc,3,'!' = 6; ws
    tokens of normalized 'aa bb, cc3!' = 3; chars = 11 ->
    fertility 2e6 ppm, chars/token 3666 milli. Zero-token group reports
    NULL rates but keeps totals."""
    from traildb_spark.operators.text import token_stats

    df = spark.createDataFrame(
        [(1, "aa bb, cc3!", "x"), (2, "", "y")],
        "doc_id long, text string, lang string",
    )
    got = {r.lang: (r.n_docs, r.n_ws_tokens, r.n_bpe_tokens, r.n_chars,
                    r.fertility_ppm, r.chars_per_token_milli,
                    r.tokens_per_doc_milli)
           for r in token_stats(df).collect()}
    assert got["x"] == (1, 3, 6, 11, 2000000, 3666, 3000)
    assert got["y"] == (1, 0, 0, 0, None, None, 0)


def test_pair_set_metrics_hand_computed(spark):
    """pred {AB,BC,CD(reversed,dup)} vs truth {AB,CD,DE}: common 2 of
    3 pred / 3 truth -> P = R = 666666 ppm, F1 = 2*2/(3+3) = 666666.
    Empty pred -> NULL precision, 0 recall."""
    from traildb_spark.operators.dedup import pair_set_metrics

    pred = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("D", "C"), ("C", "D")],
        "id_a string, id_b string",
    )
    truth = spark.createDataFrame(
        [("A", "B"), ("C", "D"), ("D", "E")], "id_a string, id_b string")
    [r] = pair_set_metrics(pred, truth).collect()
    assert (r.n_pred, r.n_truth, r.n_common) == (3, 3, 2)
    assert (r.precision_ppm, r.recall_ppm, r.f1_ppm) == (666666, 666666, 666666)
    empty = pred.filter(F.lit(False))
    [r2] = pair_set_metrics(empty, truth).collect()
    assert r2.precision_ppm is None and r2.recall_ppm == 0 and r2.n_pred == 0


def test_doc_keywords_hand_computed(spark):
    """4 docs: 'the' appears in all (df 4 -> idf 0, never a keyword),
    'cat' in doc 1 only with tf 2 (idf = 3-1 = 2, score 4) beats
    'mat' tf 1 (score 2); ties break alphabetically."""
    from traildb_spark.operators.text import doc_keywords

    rows = [
        (1, "the cat cat mat"), (2, "the dog"), (3, "the bird"),
        (4, "the fish"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in doc_keywords(df, k=2).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.score))
    assert sorted(got[1]) == [(1, "cat", 4), (2, "mat", 2)]
    # doc 2's only positive-score term is 'dog'; 'the' scores 0 but may
    # fill rank 2 — assert the leader only
    assert sorted(got[2])[0] == (1, "dog", 2)
    import pytest
    with pytest.raises(ValueError):
        doc_keywords(df, k=0)


def test_label_separability_hand_computed(spark):
    """Two symmetric 2-dim labels: W = 2T - |S|^2 and the 4.5x Fisher
    ratio hand-check, bit-equal under different partitionings."""
    rows = [
        (0, [1.0, 0.0], 10), (1, [0.5, 0.0], 10),
        (2, [0.0, 1.0], 20), (3, [0.0, 0.5], 20),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r.label: r for r in
           similarity.label_separability(df).collect()}
    for lab in (10, 20):
        r = got[lab]
        assert (r.n_vecs, int(r.within_lattice), int(r.between_num),
                r.fisher_ppm) == (2, 262144, 18874368, 4500000)
    got7 = {r.label: r for r in
            similarity.label_separability(df.repartition(7)).collect()}
    assert {k: tuple(v) for k, v in got.items()} == \
           {k: tuple(v) for k, v in got7.items()}


def test_label_separability_degenerate_and_nulls(spark):
    """Identical vectors within a label -> W=0 -> fisher NULL; NULL
    labels are excluded from N entirely."""
    rows = [
        (0, [1.0, 0.0], 1), (1, [1.0, 0.0], 1),
        (2, [0.0, 1.0], 2), (3, [0.0, 0.5], 2),
        (4, [9.0, 9.0], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = {r.label: r for r in
           similarity.label_separability(df).collect()}
    assert set(got) == {1, 2}
    assert got[1].fisher_ppm is None and int(got[1].within_lattice) == 0
    assert got[2].fisher_ppm is not None
    assert sum(r.n_vecs for r in got.values()) == 4


def test_tfidf_cosine_pairs_hand_computed(spark):
    """N=4 whole-bit idf: apple/banana weight 1, singletons weight 2.
    Duplicates hit cos2 = 1e6 exactly; the d1-d4 pair (cos = sqrt(0.1))
    passes 0.3 but not 0.5; disjoint d3 pairs with nobody."""
    rows = [("d1", "apple banana"), ("d2", "apple banana"),
            ("d3", "cherry durian egg"), ("d4", "apple zebra")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    hi = {(r.id_a, r.id_b): r for r in
          dedup.tfidf_cosine_pairs(df, min_cosine_ppm=500_000).collect()}
    assert set(hi) == {("d1", "d2")}
    r = hi[("d1", "d2")]
    assert (r.dot, r.norm_a, r.norm_b, r.cos2_ppm) == (2, 2, 2, 1_000_000)
    lo = {(r.id_a, r.id_b): r.cos2_ppm for r in
          dedup.tfidf_cosine_pairs(df, min_cosine_ppm=300_000).collect()}
    assert lo == {("d1", "d2"): 1_000_000,
                  ("d1", "d4"): 100_000, ("d2", "d4"): 100_000}


def test_tfidf_cosine_pairs_ubiquity_cap(spark):
    """A term over the df cap drops from candidates AND norms — the
    d1-d2 pair survives on banana alone at full cosine."""
    rows = [("d1", "apple banana"), ("d2", "apple banana"),
            ("d3", "apple cherry"), ("d4", "apple zebra")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {(r.id_a, r.id_b): r for r in dedup.tfidf_cosine_pairs(
        df, max_ids_per_term=2, min_cosine_ppm=500_000).collect()}
    assert set(got) == {("d1", "d2")}
    assert got[("d1", "d2")].cos2_ppm == 1_000_000
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup.tfidf_cosine_pairs(df, max_ids_per_term=1)
    with _pytest.raises(ValueError):
        dedup.tfidf_cosine_pairs(df, min_cosine_ppm=0)


def test_pattern_scan_hand_computed(spark):
    rows = [(1, "aa bb aa"), (2, "bb"), (3, "ccc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.pattern: (r.n_docs, r.n_hits)
           for r in text.pattern_scan(df, ["aa", "bb", "c", "zz"]).collect()}
    assert got == {"aa": (1, 2), "bb": (2, 2), "c": (1, 3), "zz": (0, 0)}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.pattern_scan(df, [])
    with _pytest.raises(ValueError):
        text.pattern_scan(df, ["ok", ""])


def test_mixed_script_tokens_hand_computed(spark):
    rows = [
        (1, "pаypal good αlpha"),   # Cyrillic а + Greek α mixes
        (2, "only ascii words"),
        (3, "только"),  # pure Cyrillic: no mix
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_mixed, r.mixed_ppm)
           for r in text.mixed_script_tokens(df).collect()}
    assert got[1] == (3, 2, 666666)
    assert got[2] == (3, 0, 0)
    assert got[3] == (1, 0, 0)


def test_window_cooccurrence_hand_computed(spark):
    """'a b c a': window=2 pairs per (pos, offset) — off1: (a,b),(b,c),
    (a,c); off2: (a,c),(a,b) -> canonical counts (a,b)=2, (a,c)=2,
    (b,c)=1; N=5; whole-bit PMI from unigram counts a=2,b=1,c=1."""
    df = spark.createDataFrame([(1, "a b c a")], "doc_id long, text string")
    got = {(r.w1, r.w2): (r.pair_count, r.pmi_bits)
           for r in text.window_cooccurrence(
               df, window=2, min_count=1).collect()}
    # bits: pair 2->2, 1->1 ; N=5->3 ; a=2->2, b=1->1, c=1->1
    assert got == {("a", "b"): (2, 2 + 3 - 2 - 1),
                   ("a", "c"): (2, 2 + 3 - 2 - 1),
                   ("b", "c"): (1, 1 + 3 - 1 - 1)}
    # window=1 reduces to adjacent pairs (order folded)
    got1 = {(r.w1, r.w2): r.pair_count
            for r in text.window_cooccurrence(
                df, window=1, min_count=1).collect()}
    assert got1 == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.window_cooccurrence(df, window=0)


def test_keyword_in_context_hand_computed(spark):
    """Positions are 1-based token indices; contexts clamp at doc
    edges; the per-doc hit cap keeps pathological repeats bounded."""
    rows = [(1, "x y table a b c table"), (2, "table"),
            (3, " ".join(["table"] * 20))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.position): (r.left_ctx, r.right_ctx)
           for r in text.keyword_in_context(df, "table", 2).collect()}
    assert got[(1, 3)] == ("x y", "a b")
    assert got[(1, 7)] == ("b c", "")
    assert got[(2, 1)] == ("", "")
    assert sum(1 for k in got if k[0] == 3) == 10  # capped
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.keyword_in_context(df, "")


def test_max_bucket_skew_guard_bounds_clone_density(spark):
    """Adversarial clone density: N identical docs put all N ids in one
    (band, bh) bucket per band — uncapped, the candidate join emits
    N(N-1)/2 pairs; with max_bucket the hot buckets drop and the blowup
    is bounded. Distinct near-dup pairs outside hot buckets survive."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(60)]  # 60 clones: every bucket hot
    rows += [(100, "completely different text about spark physical plans"),
             (101, "completely different text about spark physical plan")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = dedup.minhash_lsh_pairs_portable(docs, threshold=0.5)
    capped = dedup.minhash_lsh_pairs_portable(
        docs, threshold=0.5, max_bucket=8
    )
    un = {(r.id_a, r.id_b) for r in uncapped.collect()}
    cp = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in un and (100, 101) in cp  # survivor pair intact
    assert len(un) >= 60 * 59 // 2               # clone blowup uncapped
    assert len(cp) == 1                          # hot buckets dropped

    # cross-corpus twin: per-side cap
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    fz_un = dedup.fuzzy_dedup_against(new, corpus, threshold=0.5)
    fz_cp = dedup.fuzzy_dedup_against(
        new, corpus, threshold=0.5, max_bucket=8
    )
    got_un = {r.new_id for r in fz_un.collect()}
    got_cp = {r.new_id for r in fz_cp.collect()}
    assert 101 in got_un and 101 in got_cp       # survivor match intact
    assert all(i in got_un for i in range(1, 60, 2))  # clones matched uncapped
    assert got_cp == {101}                       # hot buckets dropped

    # embedding twin: one dense direction = one hot SRP bucket per band
    vecs = [(i, [1.0] + [0.0] * 63) for i in range(60)]
    vecs += [(100, [0.0] * 32 + [1.0] + [0.0] * 31),
             (101, [0.0] * 32 + [0.99] + [0.01] * 31)]
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    e_un = dedup.embedding_neardup_pairs_portable(emb, threshold=0.9)
    e_cp = dedup.embedding_neardup_pairs_portable(
        emb, threshold=0.9, max_bucket=8
    )
    eu = {(r.id_a, r.id_b) for r in e_un.collect()}
    ec = {(r.id_a, r.id_b) for r in e_cp.collect()}
    assert len(eu) >= 60 * 59 // 2
    assert (100, 101) in eu and (100, 101) in ec
    assert len(ec) == 1


def test_hashed_linear_score_matches_python(spark):
    """Integer hash-weight model: exact parity with an independent
    Python evaluator, weights-table path, empty docs."""
    import hashlib

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, ""), (3, "alpha")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: (r.n_tokens, r.score, r.keep)
           for r in text.hashed_linear_score(docs).collect()}

    def w(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 17 - 8

    for doc_id, txt in [(1, "alpha beta beta gamma"), (2, ""), (3, "alpha")]:
        toks = txt.split()
        exp = (len(toks), sum(w(t) for t in toks))
        assert got[doc_id] == (exp[0], exp[1], exp[1] > 0), doc_id

    weights = spark.createDataFrame(
        [("alpha", 5), ("beta", -2)], ["token", "weight"]
    )
    got_w = {r.doc_id: r.score for r in
             text.hashed_linear_score(docs, weights=weights).collect()}
    assert got_w == {1: 5 - 2 - 2 + 0, 2: 0, 3: 5}


def test_simpson_diversity_hand_values(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a", "s0"),       # one token repeated -> 1e6
         (2, "a b c d", "s1"),       # all distinct -> 0
         (3, "a a b b", "s2")],      # 2+2 of 4: 4/12 -> 333333
        ["doc_id", "text", "source"],
    )
    got = {r.source: (r.n_tokens, r.distinct_tokens, r.simpson_ppm)
           for r in text.simpson_diversity(docs).collect()}
    assert got == {"s0": (4, 1, 1_000_000), "s1": (4, 4, 0),
                   "s2": (4, 2, 333_333)}


def test_tokenizer_fertility_hand_values(spark):
    # 'hello world' -> 2 words, 2 subwords; "don't stop" -> 2 words,
    # 4 subwords (don | ' | t | stop)
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "don't stop")], ["doc_id", "text"]
    )
    rows = text.tokenizer_fertility(docs).collect()
    agg = {(r.n_words, r.n_subwords, r.fertility_ppm) for r in rows}
    # both docs are the same detected language bucket on this fixture:
    # 4 words, 6 subwords -> 1.5e6 ppm
    assert agg == {(4, 6, 1_500_000)}


def test_cross_source_contamination_shared_grams(spark):
    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, shared + " alpha", "s0"),
         (2, shared + " beta", "s1"),
         (3, "totally different words everywhere here now", "s2")],
        ["doc_id", "text", "source"],
    )
    got = {(r.src_a, r.src_b): (r.shared_grams, r.containment_ppm)
           for r in curation.cross_source_contamination(docs, n=5).collect()}
    # s0/s1 share the 5-grams fully inside the common 10-word prefix:
    # windows 1..6 of 11-word docs are identical (positions 7-11 differ)
    assert ("s0", "s1") in got
    sh, ppm = got[("s0", "s1")]
    assert sh == 6 and ppm == 6 * 1_000_000 // 7
    assert ("s0", "s2") not in got and ("s1", "s2") not in got


def test_triangle_count_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant 5 + disjoint
    # edge {6,7}; duplicate/reversed edges must not double-count
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (6, 7), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.n_triangles for r in
           analytics.triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """Differential gate for the iterative trainer: pure-Python BPE on
    the same word-count table must produce the identical merge table
    (the reference's qsort-oracle pattern for non-SQL ops)."""
    from collections import Counter

    def py_bpe(word_counts, num_merges):
        vocab = {tuple(w): c for w, c in word_counts.items()}
        merges = []
        for rnd in range(num_merges):
            pc = Counter()
            for sym, c in vocab.items():
                for i in range(len(sym) - 1):
                    pc[(sym[i], sym[i + 1])] += c
            if not pc:
                break
            best = max(pc.items(), key=lambda kv: (kv[1], [-ord(ch) for ch in kv[0][0]], ))
            # deterministic tie rule: max count, then lexicographically
            # smallest (left, right)
            top = max(pc.values())
            cands = sorted(k for k, v in pc.items() if v == top)
            pair, total = cands[0], top
            if total < 2:
                break
            merges.append((rnd, pair[0], pair[1], total))
            new_vocab = {}
            for sym, c in vocab.items():
                res, i = [], 0
                while i < len(sym):
                    if (i + 1 < len(sym) and sym[i] == pair[0]
                            and sym[i + 1] == pair[1]):
                        res.append(pair[0] + pair[1])
                        i += 2
                    else:
                        res.append(sym[i])
                        i += 1
                new_vocab[tuple(res)] = new_vocab.get(tuple(res), 0) + c
            vocab = new_vocab
        return merges

    # classic toy corpus
    docs = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower"),
         (3, "newest newest newest newest newest newest"),
         (4, "widest widest widest")],
        ["doc_id", "text"],
    )
    got = [(r.round, r.left, r.right, r.pair_count)
           for r in text.bpe_train(docs, num_merges=6).collect()]
    wc = Counter()
    for _, t in docs.collect():
        wc.update(t.split())
    assert got == py_bpe(wc, 6)

    # real fixture sample
    real = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    got2 = [(r.round, r.left, r.right, r.pair_count)
            for r in text.bpe_train(real, num_merges=5).collect()]
    from traildb_spark.operators.dedup import normalize_text as _nt
    wc2 = Counter()
    for row in real.select(
        F.split(_nt(F.col("text")), " ").alias("w")
    ).collect():
        wc2.update(t for t in row.w if t)
    assert got2 == py_bpe(wc2, 5)
    assert len(got2) == 5  # a real corpus never runs dry in 5 merges

    # vocab-cap refusal
    with pytest.raises(ValueError, match="max_vocab_rows"):
        text.bpe_train(real, num_merges=1, max_vocab_rows=3)


def test_readability_scores_hand_computed(spark):
    """'The cat sat. It ran!' — 5 words, 5 vowel groups, 3 sentence
    units; flesch_milli = 206835 - (1015*5)//3 - (84600*5)//5."""
    from traildb_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"), (2, "!!!")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability_scores(df).collect()}
    r = out[1]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 3, 5)
    assert r.flesch_milli == 206835 - (1015 * 5) // 3 - (84600 * 5) // 5
    # no words -> NULL score, not a crash or a divide-by-zero
    assert out[2].n_words == 0 and out[2].flesch_milli is None


def test_prefix_dup_groups_hand_computed(spark):
    """Docs sharing their first-12-token prefix group together; docs
    shorter than the prefix group only on full equality of tokens."""
    from traildb_spark.operators.dedup import prefix_dup_groups

    base = "a b c d e f g h i j k l"
    df = spark.createDataFrame(
        [
            (1, base + " tail one"),
            (2, base + " different ending entirely"),
            (3, "unrelated text"),
            (4, "short doc"),
            (5, "short doc"),  # exact short clone: full list is the key
        ],
        "doc_id long, text string",
    )
    rows = prefix_dup_groups(df, n_tokens=12).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.prefix_hash, set()).add(r.doc_id)
    assert {frozenset(g) for g in groups.values()} == {
        frozenset({1, 2}),
        frozenset({4, 5}),
    }
    assert all(r.canonical_id == min(1, 2) for r in rows if r.doc_id in (1, 2))


def test_template_signature_groups_hand_computed(spark):
    """Same token-length shape, different texts -> one family with
    n_distinct_texts = 2; an exact clone pair is a family with
    n_distinct_texts = 1."""
    from traildb_spark.operators.dedup import template_signature_groups

    df = spark.createDataFrame(
        [
            (1, "cat dog 123"),   # shapes: s s d
            (2, "dog cat 456"),   # same shape, distinct text
            (3, "a completely different shape with many long tokens"),
            (4, "clone text here 9"),
            (5, "clone text here 9"),
        ],
        "doc_id long, text string",
    )
    fams = {r.canonical_id: r for r in template_signature_groups(df).collect()}
    assert set(fams) == {1, 4}
    assert fams[1].group_size == 2 and fams[1].n_distinct_texts == 2
    assert fams[4].group_size == 2 and fams[4].n_distinct_texts == 1


def test_stopword_discovery_hand_computed(spark):
    """df ppm over 3 docs: 3/3 and 2/3 tokens pass the 60% gate, 1/3
    does not."""
    from traildb_spark.operators.text import stopword_discovery

    df = spark.createDataFrame(
        [(1, "the cat"), (2, "the cat runs"), (3, "the dog")],
        "doc_id long, text string",
    )
    out = {r.token: r for r in stopword_discovery(df, 600_000).collect()}
    assert set(out) == {"the", "cat"}
    assert out["the"].df_ppm == 1_000_000
    assert out["cat"].df_ppm == 666_666

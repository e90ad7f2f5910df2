"""Arrow-vectorized numpy kernels for the hot paths.

Catalyst higher-order functions (transform/aggregate) are evaluated
per-element in interpreted mode — fine for filters, too slow for dense
linear algebra and 64-way hash signatures. These kernels keep the
JVM-side plan for everything relational (joins, dedup, shuffles) and drop
to Arrow-batched numpy only for the inner numeric loop, which is the
pattern that survives 100 TB: work stays distributed, each task does one
BLAS/bit-ops call per batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

# Mersenne-prime affine permutation family for MinHash: h_j(x) = (a_j*x+b_j) mod p
_MERSENNE = (1 << 61) - 1

import re as _re

# ASCII-only \s to mirror Java regex (Catalyst regexp_replace) and RE2
# (DuckDB): Python's default \s also matches NBSP/U+2000.., which would
# shift token positions against the Catalyst-split token stream on
# Unicode-whitespace text (e.g. scraped HTML)
_WS = _re.compile(r"\s+", _re.ASCII)


def _pynorm(t: str) -> str:
    # mirrors operators.dedup.normalize_text (lower, collapse ws, trim)
    return _WS.sub(" ", t.lower()).strip()


def _flat_starts(offsets: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Window-start indices for a batch flattened into one buffer: for doc d,
    ``counts[d]`` consecutive indices beginning at ``offsets[d]``. The glue
    that lets one numpy pass replace a per-document Python loop."""
    total = int(counts.sum())
    firsts = np.repeat(offsets, counts)
    excl = np.concatenate(([0], np.cumsum(counts)[:-1]))
    return firsts + (np.arange(total, dtype=np.int64) - np.repeat(excl, counts))


def _per_doc_sorted_unique(
    h: np.ndarray, doc_ids: np.ndarray, ndocs: int
) -> list[np.ndarray]:
    """Per-document sorted-distinct over a flat (hash, doc) pairing — one
    lexsort for the whole batch instead of ndocs ``np.unique`` calls.
    Sort order matches ``np.unique`` on the original dtype of ``h``."""
    order = np.lexsort((h, doc_ids))
    hs, ds = h[order], doc_ids[order]
    keep = np.ones(len(hs), dtype=bool)
    keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
    hs, ds = hs[keep], ds[keep]
    counts = np.bincount(ds, minlength=ndocs)
    return np.split(hs.astype(np.int64), np.cumsum(counts)[:-1])


def _md5_shingle_flat(
    texts: list, k: int
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Batch-flattened md5 char-shingle hashing (the portable 60-bit
    family: value-identical to DuckDB CAST('0x'||substr(md5(s),1,15) AS
    BIGINT)). ASCII docs (the overwhelming majority after normalization)
    take a zero-object-churn path: one byte per code point, so the
    k-code-point windows are k-byte sliding windows over one concatenated
    buffer — numpy sliding_window_view + one batch-wide np.unique on the
    V<k> view, md5 only once per DISTINCT window (measured 5x the former
    per-window bytes-slice + pd.factorize formulation at sf0.1). Short
    (< k chars) or non-ASCII docs fall back to per-window slices; per-doc
    sorted-distinct via one lexsort either way. Returns (per-doc arrays,
    their concatenation, doc start offsets) so callers can run signature
    reductions over the flat buffer without re-joining."""
    import hashlib

    from numpy.lib.stride_tricks import sliding_window_view

    if not texts:  # np.split on zero docs would yield one spurious entry
        return [], np.empty(0, np.int64), np.empty(0, np.int64)
    n = len(texts)
    md5 = hashlib.md5
    counts = np.fromiter(
        (max(len(t) - (k - 1), 1) for t in texts), dtype=np.int64, count=n
    )
    pos_end = np.cumsum(counts)
    pos_start = pos_end - counts
    flat_h = np.empty(int(pos_end[-1]), dtype=np.int64)
    vec = np.fromiter(
        ((len(t) >= k and t.isascii()) for t in texts), dtype=bool, count=n
    )
    vidx = np.nonzero(vec)[0]
    if len(vidx):
        vtexts = [texts[i] for i in vidx]
        buf = np.frombuffer("".join(vtexts).encode(), dtype=np.uint8)
        lens = np.fromiter((len(t) for t in vtexts), dtype=np.int64,
                           count=len(vtexts))
        off = np.concatenate(([0], np.cumsum(lens)[:-1]))
        vcounts = lens - (k - 1)
        win = sliding_window_view(buf, k)
        starts = _flat_starts(off, vcounts)
        wins = np.ascontiguousarray(win[starts])
        v = wins.view("V%d" % k).ravel()
        uniq, inv = np.unique(v, return_inverse=True)
        ub = uniq.tobytes()
        uh = np.fromiter(
            (
                int.from_bytes(md5(ub[i * k:(i + 1) * k]).digest()[:8],
                               "big") >> 4
                for i in range(len(uniq))
            ),
            dtype=np.int64,
            count=len(uniq),
        )
        flat_h[_flat_starts(pos_start[vidx], vcounts)] = uh[inv]
    for i in np.nonzero(~vec)[0]:
        t = texts[i]
        # utf-8 BYTES windows over code points — matching SQL
        # substr(nt, i, k); a doc shorter than k chars is one whole-doc
        # window, same as range(max(len-k+1, 1)) always has
        flat_h[pos_start[i]:pos_end[i]] = [
            int.from_bytes(md5(t[j:j + k].encode("utf-8")).digest()[:8],
                           "big") >> 4
            for j in range(max(len(t) - (k - 1), 1))
        ]
    doc_ids = np.repeat(np.arange(n), counts)
    grams = _per_doc_sorted_unique(flat_h, doc_ids, n)
    lens = np.fromiter((len(g) for g in grams), dtype=np.int64, count=len(grams))
    offs = np.concatenate(([0], np.cumsum(lens)[:-1])) if len(grams) else np.empty(0, np.int64)
    flat = np.concatenate(grams) if grams else np.empty(0, np.int64)
    return grams, flat, offs


def char_shingle_hashes_udf(text: Column, k: int = 5) -> Column:
    """text → sorted distinct uint64 hashes of char k-shingles via ONE
    numpy rolling-polynomial pass over the whole Arrow batch (all docs
    concatenated into a flat code-point buffer; per-doc window starts via
    offsets; wraparound mod 2^64). Catalyst's transform(sequence,
    substr∘xxhash64) computes the same set but interpreted per element —
    measured ~350µs/shingle vs ~0.1µs here; the former per-document Python
    loop paid ~100µs of interpreter overhead per doc on top.

    Windows are over UNICODE CODE POINTS (utf-32 decode gives one uint32
    per character), matching SQL substr(nt, i, k) semantics — so the
    shingle SET is isomorphic to md5_shingle_hashes' and to a SQL-side
    substr formulation on any text, not just ASCII."""

    @F.pandas_udf(ArrayType(LongType()))
    def sh(col: pd.Series) -> pd.Series:
        texts = [_pynorm(t or "") for t in col]
        grams, _, _ = _char_shingle_flat(texts, k)
        return pd.Series(grams)

    return sh(text)


def _char_shingle_windows(texts: list, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Every char-k-window FNV rolling hash of a batch (uint64, duplicates
    kept, texts in order) and the index of the text each came from (see
    char_shingle_hashes_udf for semantics). A text shorter than k chars,
    empty included, is one whole-text window."""
    P = np.uint64(1099511628211)  # FNV prime
    powers = P ** np.arange(k, dtype=np.uint64)[::-1]
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    counts = np.maximum(lens - (k - 1), 1)
    pos = np.concatenate(([0], np.cumsum(counts)[:-1]))
    h = np.empty(int(counts.sum()), dtype=np.uint64)
    for i in np.nonzero(lens < k)[0]:
        c = np.frombuffer(
            texts[i].encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        h[pos[i]] = (c * powers[-len(c):]).sum() if len(c) else np.uint64(0)
    long_idx = np.nonzero(lens >= k)[0]
    if len(long_idx):
        c = np.frombuffer(
            "".join(texts[i] for i in long_idx).encode("utf-32-le"),
            dtype=np.uint32,
        ).astype(np.uint64)
        llens = lens[long_idx]
        offsets = np.concatenate(([0], np.cumsum(llens)[:-1]))
        # rolling polynomial over the flat buffer: k strided
        # multiply-adds, O(N) memory (no (N, k) window matrix)
        nwin = len(c) - k + 1
        h_all = np.zeros(nwin, dtype=np.uint64)
        for j in range(k):
            h_all += c[j : j + nwin] * powers[j]
        h[_flat_starts(pos[long_idx], counts[long_idx])] = h_all[
            _flat_starts(offsets, counts[long_idx])
        ]
    return h, np.repeat(np.arange(len(texts)), counts)


def _char_shingle_flat(
    texts: list, k: int
) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """Batch-flattened FNV rolling-hash char shingling (see
    char_shingle_hashes_udf for semantics). Returns (per-doc sorted
    distinct arrays, their concatenation, per-doc start offsets)."""
    if not texts:  # np.split on zero docs would yield one spurious entry
        return [], np.empty(0, np.int64), np.empty(0, np.int64)
    out = _per_doc_sorted_unique(*_char_shingle_windows(texts, k), len(texts))
    glens = np.fromiter((len(g) for g in out), dtype=np.int64, count=len(out))
    offs = np.concatenate(([0], np.cumsum(glens)[:-1]))
    return out, np.concatenate(out), offs


def _minhash_from_flat(
    flat: np.ndarray, offs: np.ndarray, ndocs: int, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """(num_hashes, ndocs) MinHash matrix from a flat hash buffer via
    reduceat, 8 permutation rows per pass (bounded memory). Elementwise
    int64 wraparound matches the historical per-doc affine transform."""
    num_hashes = len(a)
    hm = flat % _MERSENNE
    sigs = np.empty((num_hashes, ndocs), dtype=np.int64)
    for s0 in range(0, num_hashes, 8):
        s1 = min(s0 + 8, num_hashes)
        m = (a[s0:s1, None] * hm[None, :] + b[s0:s1, None]) % _MERSENNE
        sigs[s0:s1] = np.minimum.reduceat(m, offs, axis=1)
    return sigs


def char_shingle_minhash_udf(
    text: Column, k: int = 5, num_hashes: int = 64
) -> Column:
    """Fused text → struct(n_grams, sig): char-shingle hashing AND the
    MinHash signature in ONE Arrow pass. The shingle arrays never leave the
    Python worker — no JVM round-trip, no columnar cache of array<long>
    grams (measured ~4× the UDF cost itself), no gram arrays in any
    shuffle. Callers verify candidates from their text with
    char_shingle_jaccard_udf."""
    a, b = _perm_params(num_hashes)

    @F.pandas_udf("struct<n_grams: long, sig: array<long>>")
    def gs(col: pd.Series) -> pd.DataFrame:
        texts = [_pynorm(t or "") for t in col]
        grams, flat, offs = _char_shingle_flat(texts, k)
        if len(flat):
            sigs = _minhash_from_flat(flat, offs, len(grams), a, b)
            sig_list = [sigs[:, d] for d in range(len(grams))]
        else:
            sig_list = []
        return pd.DataFrame(
            {
                "n_grams": np.fromiter(
                    (len(g) for g in grams), dtype=np.int64, count=len(grams)
                ),
                "sig": sig_list,
            }
        )

    return gs(text)


def _pair_jaccard(texts_a: list, texts_b: list, k: int) -> np.ndarray:
    """Exact char-k-shingle Jaccard of each (texts_a[i], texts_b[i]) pair,
    over the same shingle hash sets as char_shingle_hashes_udf, with ONE
    batch-wide stable sort of every window on (pair, hash): a run of equal
    keys is one distinct shingle of the pair, in A when its first window
    is from text a (a's windows precede b's in the input, and the sort
    keeps that order), in B when its last one is from text b."""
    n = len(texts_a)
    if n == 0:
        return np.empty(0)
    h, doc = _char_shingle_windows(
        [_pynorm(t or "") for t in texts_a] + [_pynorm(t or "") for t in texts_b], k
    )
    pair = doc % n
    order = np.lexsort((h, pair))
    h, pair, in_b = h[order], pair[order], doc[order] >= n
    first = np.ones(len(h), dtype=bool)
    first[1:] = (pair[1:] != pair[:-1]) | (h[1:] != h[:-1])
    starts = np.nonzero(first)[0]
    in_a = ~in_b[starts]
    in_b = in_b[np.append(starts[1:], len(h)) - 1]
    owner = pair[starts]
    size_a = np.bincount(owner, weights=in_a, minlength=n)
    size_b = np.bincount(owner, weights=in_b, minlength=n)
    inter = np.bincount(owner, weights=in_a & in_b, minlength=n)
    # every text has at least one window, so the union is never empty
    return inter / (size_a + size_b - inter)


def char_shingle_jaccard_udf(a: Column, b: Column, k: int = 5) -> Column:
    """(text_a, text_b) → exact char-k-shingle Jaccard, in ONE Arrow pass
    over the candidate pairs: no gram arrays are cached, joined or
    shuffled, and text moves at one byte per ASCII character where the
    gram arrays took eight per shingle. Marked nondeterministic so that a
    filter on the result is not pushed below its projection, which would
    inline the UDF there and run the pass twice."""

    @F.pandas_udf("double")
    def jac(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(_pair_jaccard(list(xs), list(ys), k))

    return jac.asNondeterministic()(a, b)


def word_ngram_hashes_udf(text: Column, n: int = 3) -> Column:
    """text → sorted distinct uint64 hashes of word n-grams: blake2b word
    hashes combined by XOR-rotation (position-sensitive). Set-equivalent to
    string n-grams (2^-64 collisions), so Jaccard values match the string
    formulation.

    Flattened per Arrow batch: blake2b runs once per DISTINCT word in the
    batch (pd.factorize; Zipf makes the vocabulary ~50× smaller than the
    token stream), and the n-gram XOR-rotate combine is one strided numpy
    pass over the concatenated word-hash buffer."""
    import hashlib

    @F.pandas_udf(ArrayType(LongType()))
    def gh(col: pd.Series) -> pd.Series:
        return pd.Series(_word_ngram_flat(list(col), n))

    return gh(text)


def _word_ngram_flat(col: list, n: int) -> list:
    """Batch-flattened word n-gram hashing (see word_ngram_hashes_udf for
    semantics). Returns one sorted-distinct int64 array per input text."""
    import hashlib

    docs = [[w for w in _pynorm(t or "").split(" ") if w] for t in col]
    nw = np.fromiter((len(ws) for ws in docs), dtype=np.int64, count=len(docs))
    out: list = [None] * len(docs)
    for i in np.nonzero(nw == 0)[0]:
        out[i] = np.empty(0, dtype=np.int64)
    # short docs (1..n-1 words): one hash of the joined words
    for i in np.nonzero((nw > 0) & (nw < n))[0]:
        whole = hashlib.blake2b(" ".join(docs[i]).encode("utf-8"), digest_size=8)
        out[i] = np.array(
            [int.from_bytes(whole.digest(), "little")], dtype=np.uint64
        ).astype(np.int64)
    long_idx = np.nonzero(nw >= n)[0]
    if len(long_idx):
        # bytes objects: see _md5_shingle_flat — pandas' str hashtable
        # truncates at NUL
        words = np.array(
            [w.encode("utf-8") for i in long_idx for w in docs[i]], dtype=object
        )
        inv, uniq = pd.factorize(words)
        uh = np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(w, digest_size=8).digest(),
                    "little",
                )
                for w in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
        wh = uh[inv]
        llens = nw[long_idx]
        offsets = np.concatenate(([0], np.cumsum(llens)[:-1]))
        counts = llens - n + 1
        starts = _flat_starts(offsets, counts)
        g = wh[starts].copy()
        for j in range(1, n):
            r = np.uint64(7 * j + 1)
            x = wh[starts + j]
            g ^= (x << r) | (x >> (np.uint64(64) - r))
        doc_ids = np.repeat(np.arange(len(long_idx)), counts)
        arrays = _per_doc_sorted_unique(g, doc_ids, len(long_idx))
        for d, i in enumerate(long_idx):
            out[i] = arrays[d]
    return out


def _perm_params(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(42)  # deterministic family
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64) | 1
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


def minhash_signatures(hash_arrays: Column, num_hashes: int = 64) -> Column:
    """array<long> of element hashes → array<long> MinHash signature.

    One xxhash64 per shingle happens JVM-side; the permutations run as
    numpy broadcasts over the batch's CONCATENATED hash buffer with
    per-doc minima via ``np.minimum.reduceat`` — no per-document Python
    loop. Permutation rows go in blocks of 8 so the (rows, total_hashes)
    intermediate stays within a fixed memory budget regardless of batch
    size."""
    a, b = _perm_params(num_hashes)

    @F.pandas_udf(ArrayType(LongType()))
    def sig(col: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if hs is None else len(hs) for hs in col),
            dtype=np.int64,
            count=len(col),
        )
        out: list = [None] * len(col)
        for i in np.nonzero(lens == 0)[0]:
            out[i] = np.zeros(num_hashes, dtype=np.int64)
        idx = np.nonzero(lens > 0)[0]
        if len(idx):
            # int64 directly: the old uint64→int64 round trip was
            # bit-identical for in-range longs but trips numpy 2.x's
            # out-of-bound-python-int deprecation on negative hashes
            flat = np.concatenate(
                [np.asarray(col[i], dtype=np.int64) for i in idx]
            )
            offs = np.concatenate(([0], np.cumsum(lens[idx])[:-1]))
            sigs = _minhash_from_flat(flat, offs, len(idx), a, b)
            for d, i in enumerate(idx):
                out[i] = sigs[:, d]
        return pd.Series(out)

    return sig(hash_arrays)


def simhash_from_hashes(hash_arrays: Column) -> Column:
    """array<long> token hashes → 64-bit SimHash (per-bit majority vote),
    numpy bit-unpack per Arrow batch."""

    @F.pandas_udf(LongType())
    def sh(col: pd.Series) -> pd.Series:
        lens = np.fromiter(
            (0 if hs is None else len(hs) for hs in col),
            dtype=np.int64,
            count=len(col),
        )
        out = np.zeros(len(col), dtype=np.int64)
        idx = np.nonzero(lens > 0)[0]
        if len(idx):
            flat = np.concatenate(
                [np.asarray(col[i], dtype=np.int64) for i in idx]
            ).astype(np.uint64)
            offs = np.concatenate(([0], np.cumsum(lens[idx])[:-1]))
            code = np.zeros(len(idx), dtype=np.uint64)
            # bit-unpack + per-doc majority vote over the flat buffer,
            # 16 bit positions per pass to bound the (N, 16) intermediate
            for b0 in range(0, 64, 16):
                bpos = np.arange(b0, b0 + 16, dtype=np.uint64)
                bits = ((flat[:, None] >> bpos[None, :]) & 1).astype(np.int32)
                votes = np.add.reduceat(2 * bits - 1, offs, axis=0)
                code |= (
                    (votes > 0).astype(np.uint64) << bpos[None, :]
                ).sum(axis=1)
            out[idx] = code.astype(np.int64)
        return pd.Series(out)

    return sh(hash_arrays)


_PLANES: dict = {}


def _planes(dim: int, num_planes: int, seed: int) -> np.ndarray:
    """Deterministic hyperplane matrix — same on driver and every executor
    (seeded RandomState, cached per (dim, planes, seed))."""
    key = (dim, num_planes, seed)
    if key not in _PLANES:
        _PLANES[key] = np.random.RandomState(seed).standard_normal((dim, num_planes))
    return _PLANES[key]


def srp_code(vec: Column, num_planes: int = 16, seed: int = 1234) -> Column:
    """Sign-random-projection code: array<float> → int64 bit code via one
    GEMM per Arrow batch. The shared kernel for LSH bucketing of embeddings
    (dedup.embedding_neardup_pairs, similarity.lsh_topk)."""

    @F.pandas_udf(LongType())
    def code_udf(col: pd.Series) -> pd.Series:
        mat = np.vstack(col.to_numpy()).astype(np.float64)
        bits = (mat @ _planes(mat.shape[1], num_planes, seed)) >= 0
        code = np.zeros(len(col), dtype=np.int64)
        for p in range(num_planes):
            code |= bits[:, p].astype(np.int64) << p
        return pd.Series(code)

    return code_udf(vec)


def _round_half_up(x: np.ndarray, digits: int) -> np.ndarray:
    """HALF_UP decimal rounding (what Spark ROUND and DuckDB round() do).
    np.round is banker's rounding and breaks oracle parity on exact .5
    ties at the target digit; same caveat as dedup._round6_half_up: a
    value within one ulp of a tie can still differ from the engines'
    decimal rounding, which no float formulation avoids."""
    s = 10.0 ** digits
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def cosine_udf(a: Column, b: Column, round_digits: int = 6) -> Column:
    """Row-wise cosine of two array<float> columns, one einsum per Arrow
    batch — replaces the interpreted Catalyst aggregate/zip_with fold
    (measured ~40× on 64-dim vectors)."""

    @F.pandas_udf("double")
    def cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        A = np.vstack(xs.to_numpy()).astype(np.float64)
        B = np.vstack(ys.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(_round_half_up(num / np.where(den == 0, 1, den), round_digits))

    return cos(a, b)


def pairwise_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    round_digits: int = 6,
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via one distributed scan against
    a broadcast corpus matrix (numpy GEMM per Arrow batch).

    O(n²) compute but O(n) shuffle: each partition multiplies its batch
    against the broadcast matrix and emits only surviving pairs. The
    broadcast bounds n to ~1e6 rows; beyond that use the LSH variant
    (operators.dedup.embedding_neardup_pairs) — this guard enforces it.
    """
    spark = df.sparkSession
    n = df.count()
    if n > max_broadcast_rows:
        raise ValueError(
            f"pairwise_cosine_pairs is the exact/batch path (n={n} > "
            f"{max_broadcast_rows}); use embedding_neardup_pairs (LSH) at scale"
        )
    pdf = df.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy()
    mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M, I = b_mat.value, b_ids.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            q = np.vstack(pdfb[vec_col].to_numpy()).astype(np.float64)
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            qids = pdfb[id_col].to_numpy()
            cos = _round_half_up(q @ M.T, round_digits)
            bi, bj = np.nonzero(cos >= threshold)
            ia, ib = qids[bi], I[bj]
            keep = ia < ib
            yield pd.DataFrame(
                {"id_a": ia[keep], "id_b": ib[keep], "cos": cos[bi, bj][keep]}
            )

    id_t = dict(df.dtypes)[id_col]  # follow the caller's id type
    return df.select(id_col, vec_col).mapInPandas(
        run, schema=f"id_a {id_t}, id_b {id_t}, cos double"
    )


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k: broadcast the (small) query matrix, GEMM each corpus
    batch against it, emit per-partition candidates, global rank via a
    window over |Q|·partitions·k rows only."""
    from pyspark.sql import Window

    spark = corpus.sparkSession
    qpdf = queries.select(query_id_col, vec_col).toPandas()
    # empty query set: empty result, not a driver-side np.vstack crash
    # (the broadcast-join formulation this kernel replaced returned empty)
    if len(qpdf) == 0:
        return spark.createDataFrame(
            [],
            f"query_id {dict(queries.dtypes)[query_id_col]}, "
            f"corpus_id {dict(corpus.dtypes)[id_col]}, cos double, rank int"
        )
    qids = qpdf[query_id_col].to_numpy()
    qmat = np.vstack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(qids)
    bq_mat = spark.sparkContext.broadcast(qmat)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Q, QI = bq_mat.value, bq_ids.value
        for pdfb in batches:
            if len(pdfb) == 0:
                continue
            c = np.vstack(pdfb[vec_col].to_numpy()).astype(np.float64)
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
            cids = pdfb[id_col].to_numpy()
            cos = _round_half_up(c @ Q.T, round_digits)  # (batch, nq)
            # partial top-k per query within the batch. Deterministic
            # tie-break (cos desc, corpus_id asc) INSIDE the kernel: a bare
            # argpartition keeps arbitrary rows among rounded-cos ties, so
            # the candidate set could exclude the id-asc winner the final
            # window expects — top-k would vary across partitionings.
            kk = min(k, cos.shape[0])
            idx = np.stack(
                [
                    np.lexsort((cids, -cos[:, qi]))[:kk]
                    for qi in range(cos.shape[1])
                ],
                axis=1,
            )
            rows = {
                "query_id": np.repeat(QI, kk),
                "corpus_id": cids[idx].T.ravel(),
                "cos": np.take_along_axis(cos, idx, axis=0).T.ravel(),
            }
            yield pd.DataFrame(rows)

    cand = corpus.select(id_col, vec_col).mapInPandas(
        run,
        schema=(
            f"query_id {dict(queries.dtypes)[query_id_col]}, "
            f"corpus_id {dict(corpus.dtypes)[id_col]}, cos double"
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("corpus_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos", "rank")
    )

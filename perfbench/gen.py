"""Seeded input generator for the benchmark workloads.

One single-process numpy generator. Every workload draws from its own
stream of ``SeedSequence([seed, stream])``, so the same ``--seed`` gives
byte-identical inputs and the workloads never share random draws.
Next to the inputs it computes the ground truth each answer check needs
with plain numpy/pandas, independently of ``traildb_spark``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Sizes. Every run pays a fresh JVM, three set-ups, a warm-up of each
# operation kind and its measured mix cycles, and is meant to end within
# about a minute on a 4-core host. Per-operation cost is dominated by fixed
# Spark overhead at these sizes (a trail lookup or a filter costs ~0.5 s at
# 60k events as at 200k), so the inputs are the largest that keep a run
# inside that time.
TRAIL_EVENTS = 60_000
TRAIL_UUIDS = 1_500
WHALES = 3
WHALE_SHARE = 0.02  # of all events, per whale trail
DOCS = 1_000
DOC_WORDS = 120
EXACT_COPIES = 50
NEAR_CLUSTERS = 50
NEAR_CLUSTER_SIZE = 3  # base + 2 edited variants: 3 planted pairs each
NEAR_EDITS = 3  # words replaced per variant
VOCAB = 4_000
VECTORS = 10_000
DIM = 64
QUERIES = 32  # per batch
QUERY_BATCHES = 4
TOPK = 10
SHINGLE_K = 5

T0 = 1_600_000_000
SPAN_S = 30 * 86_400
SESSION_GAP = 1_800
ACTIONS = np.array(["view", "click", "search", "cart", "buy", "signup"])
ACTION_P = np.array([0.50, 0.25, 0.10, 0.10, 0.03, 0.02])
COUNTRIES = np.array([f"c{i:02d}" for i in range(40)])
PAGES = np.array([f"p{i:04d}" for i in range(5_000)])
FUNNEL = ("view", "cart", "buy")
FIELDS = ["action", "page", "country", "props"]
INDEX_COLS = ["action", "country"]

STREAM_TRAIL, STREAM_NEARDUP, STREAM_OPS = range(3)


def rng_for(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream]))


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def events(rng: np.random.Generator, n_events: int, n_uuids: int,
           whales: int = WHALES) -> pd.DataFrame:
    """Event table ``uuid, time, action, page, country, props`` sorted by
    (uuid, time). Trail lengths are Zipf with ``whales`` trails holding
    WHALE_SHARE of the events each; within a trail, gaps are mostly short
    with occasional breaks longer than SESSION_GAP, so trails split into
    several sessions. Gaps are at least one second: no two events of a
    trail share a timestamp, so ordering answers are unambiguous."""
    hexed = rng.bytes(16 * n_uuids).hex()
    uuids = np.array([hexed[i:i + 32] for i in range(0, 32 * n_uuids, 32)])
    rest = n_events - n_uuids - int(whales * WHALE_SHARE * n_events)
    lengths = 1 + rng.multinomial(rest, _zipf_p(n_uuids, 0.8)[rng.permutation(n_uuids)])
    lengths[:whales] += int(WHALE_SHARE * n_events)
    lengths[-1] += n_events - lengths.sum()
    owner = np.repeat(np.arange(n_uuids), lengths)
    first = np.r_[0, np.cumsum(lengths)[:-1]]
    gaps = 1 + rng.exponential(90.0, n_events).astype(np.int64)
    breaks = rng.random(n_events) < 0.08
    gaps[breaks] = rng.integers(SESSION_GAP + 1, 86_400, breaks.sum())
    gaps[first] = rng.integers(0, SPAN_S // 2, n_uuids)
    csum = np.cumsum(gaps)
    time = T0 + csum - np.repeat(csum[first] - gaps[first], lengths)
    props = np.char.add("k", rng.integers(0, 10 * n_events, n_events).astype(str))
    df = pd.DataFrame({
        "uuid": uuids[owner],
        "time": time.astype(np.int64),
        "action": rng.choice(ACTIONS, n_events, p=ACTION_P),
        "page": PAGES[rng.choice(len(PAGES), n_events, p=_zipf_p(len(PAGES), 1.1))],
        "country": COUNTRIES[rng.choice(len(COUNTRIES), n_events,
                                        p=_zipf_p(len(COUNTRIES), 0.8))],
        "props": props,
    })
    return df.sort_values(["uuid", "time"], kind="stable", ignore_index=True)


# -- answers computed with pandas, independent of the program -------------

def coded(ev: pd.DataFrame, fields=FIELDS) -> dict:
    """Columns as (sorted distinct values, integer codes), so that each
    filter term is one integer compare instead of a string compare."""
    out = {"n": len(ev)}
    if "time" in ev:
        out["time"] = ev["time"].to_numpy()
    for f in fields:
        out[f] = np.unique(ev[f].to_numpy(), return_inverse=True)
    return out


def filter_mask(cols: dict, clauses) -> np.ndarray:
    """CNF over ``clauses``: list of clauses, each a list of terms
    ``(field, value, negative)`` or ``("time", start, end)``; ``cols``
    comes from :func:`coded`."""
    mask = np.ones(cols["n"], bool)
    for clause in clauses:
        cm = np.zeros_like(mask)
        for f, a, b in clause:
            if f == "time":
                cm |= (cols["time"] >= a) & (cols["time"] < b)
                continue
            values, codes = cols[f]
            i = int(np.searchsorted(values, a))
            eq = (codes == i) if i < len(values) and values[i] == a else np.zeros_like(mask)
            cm |= ~eq if b else eq
        mask &= cm
    return mask


def filter_text(clauses) -> str:
    """The same CNF in the CLI filter language ``parse_filter`` reads."""
    def term(t):
        f, a, b = t
        if f == "time":
            return f"time:[{a},{b})"
        return f"{f}{'!=' if b else '='}{a}"
    return " & ".join(" ".join(term(t) for t in c) for c in clauses)


def session_totals(ev: pd.DataFrame) -> tuple[int, int]:
    """(trails, sessions) with a new session after a gap > SESSION_GAP;
    ``ev`` must be sorted by (uuid, time)."""
    u = ev["uuid"].to_numpy()
    t = ev["time"].to_numpy()
    new_trail = np.r_[True, u[1:] != u[:-1]]
    new_session = new_trail | np.r_[False, np.diff(t) > SESSION_GAP]
    return int(new_trail.sum()), int(new_session.sum())


def funnel_totals(ev: pd.DataFrame, steps=FUNNEL) -> tuple[int, ...]:
    """Trails reaching each funnel step; step i is the first event with
    action steps[i] strictly after step i-1 (greedy first match)."""
    cur = pd.Series(np.iinfo(np.int64).min,
                    index=pd.Index(ev["uuid"].unique(), name="uuid"))
    out = []
    for i, step in enumerate(steps):
        hit = ev[ev["action"] == step][["uuid", "time"]]
        hit = hit[hit["time"].to_numpy() > cur.reindex(hit["uuid"]).to_numpy()]
        cur = hit.groupby("uuid")["time"].min()
        out.append(len(cur))
    return tuple(out)


def multiset_digest(df: pd.DataFrame, cols) -> str:
    """Order-free digest of a table's rows (sorted row strings hashed)."""
    rows = df[cols[0]].astype(str)
    for c in cols[1:]:
        rows = rows + "\x1f" + df[c].astype(str)
    return hashlib.sha256("\x1e".join(sorted(rows)).encode()).hexdigest()


# -- trail_query ---------------------------------------------------------

# one mix cycle: each kind once, in a seeded order, then a native round
# trip: a filtered extract written with write_tdb, read back with read_tdb
# and finalized. No measured traffic gives the proportions of these kinds,
# so none is weighted: every kind counts once per cycle and is also
# reported on its own (filter_p50_ms, lookup_p50_ms, ...).
TRAIL_KINDS = ["filter_indexed", "filter_time", "filter_scan", "lookup",
               "session_stats", "funnel", "dump"]
TRAIL_CYCLES = 10

# a filter over both index columns: its count checks the built index
INDEX_PROBE = [[("action", "buy", False)], [("country", "c01", False)]]


def trail_query_inputs(seed: int) -> dict:
    rng = rng_for(seed, STREAM_TRAIL)
    ev = events(rng, TRAIL_EVENTS, TRAIL_UUIDS)
    orng = rng_for(seed, STREAM_OPS)
    uuids = ev["uuid"].unique()
    popular = uuids[orng.permutation(len(uuids))]
    lengths = ev.groupby("uuid").size()
    cols = coded(ev)
    trails, sessions = session_totals(ev)
    cycles, digests = [], {}
    for _ in range(TRAIL_CYCLES):
        kinds = orng.permutation(TRAIL_KINDS)
        ops = [_trail_op(str(k), orng, cols, popular, lengths) for k in kinds]
        extract = [[("country", str(COUNTRIES[orng.integers(0, 10)]), False)],
                   [("action", "view", True)]]
        text = filter_text(extract)
        if text not in digests:
            mask = filter_mask(cols, extract)
            digests[text] = (int(mask.sum()),
                             multiset_digest(ev[mask], ["uuid", "time"] + FIELDS))
        n, digest = digests[text]
        ops += [{"kind": k, "filter": text, "items": n, "expect": digest}
                for k in ("tdb_export", "tdb_import")]
        cycles.append(ops)
    return {
        "events": ev,
        "cycles": cycles,
        "truth": {"trails": trails, "sessions": sessions,
                  "funnel": funnel_totals(ev), "events": len(ev),
                  "index_probe_count": int(filter_mask(cols, INDEX_PROBE).sum())},
    }


def _trail_op(kind, rng, cols, popular, lengths) -> dict:
    c = lambda: str(COUNTRIES[rng.integers(0, 20)])  # noqa: E731
    if kind == "filter_indexed":
        clauses = [[("action", str(rng.choice(["buy", "signup", "cart"])), False)],
                   [("country", c(), False), ("country", c(), False)]]
    elif kind == "filter_time":
        start = T0 + int(rng.integers(0, SPAN_S // 2))
        clauses = [[("action", "view", False), ("action", "click", False)],
                   [("time", start, start + SPAN_S // 5)]]
    elif kind in ("filter_scan", "dump"):
        page = str(PAGES[rng.integers(0, 50)])
        clauses = [[("page", page, False)], [("action", "view", True)]]
        if kind == "dump":
            clauses.append([("country", c(), False)])
    elif kind == "lookup":
        # Zipf popularity over a seeded permutation of the uuids
        rank = min(int(rng.zipf(1.2)), len(popular)) - 1
        uuid = str(popular[rank])
        return {"kind": kind, "uuid": uuid, "expect": int(lengths[uuid])}
    else:
        return {"kind": kind}
    return {"kind": kind, "filter": filter_text(clauses),
            "expect": int(filter_mask(cols, clauses).sum())}


# -- neardup_curation ----------------------------------------------------

def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(3, 10, n)
    letters = rng.integers(0, 26, lens.sum()).astype(np.uint8) + ord("a")
    ends = np.cumsum(lens)
    buf = letters.tobytes().decode()
    words = np.array([buf[e - n_:e] for e, n_ in zip(ends, lens)])
    return np.unique(words)


def neardup_inputs(seed: int) -> dict:
    """Corpus with planted exact copies (case/whitespace variants, which
    normalisation must fold) and planted near-duplicate clusters
    (NEAR_EDITS-word replacements of a base document), plus embeddings
    with one planted neighbour per query."""
    rng = rng_for(seed, STREAM_NEARDUP)
    vocab = _words(rng, VOCAB)
    p = _zipf_p(len(vocab), 1.0)[rng.permutation(len(vocab))]
    n_base = DOCS - EXACT_COPIES - NEAR_CLUSTERS * (NEAR_CLUSTER_SIZE - 1)
    toks = rng.choice(len(vocab), (n_base, DOC_WORDS), p=p)
    texts = [" ".join(vocab[t]) for t in toks]
    pairs = []
    bases = rng.choice(n_base, NEAR_CLUSTERS, replace=False)
    for b in bases:
        members = [int(b)]
        for _ in range(NEAR_CLUSTER_SIZE - 1):
            t = toks[b].copy()
            pos = rng.choice(DOC_WORDS, NEAR_EDITS, replace=False)
            t[pos] = rng.choice(len(vocab), NEAR_EDITS, p=p)
            members.append(len(texts))
            texts.append(" ".join(vocab[t]))
        pairs += [(a, m) for i, a in enumerate(members) for m in members[i + 1:]]
    exact = []
    for src in rng.choice(len(texts), EXACT_COPIES, replace=False):
        exact.append((int(src), len(texts)))
        texts.append("  " + texts[src].upper().replace(" ", "  ") + " ")
    order = rng.permutation(len(texts))  # doc ids in random order
    doc_id = np.empty(len(texts), np.int64)
    doc_id[order] = np.arange(len(texts))
    docs = pd.DataFrame({"doc_id": doc_id, "text": texts}).sort_values(
        "doc_id", ignore_index=True)
    exact_ids = sorted((int(min(doc_id[a], doc_id[b])), int(max(doc_id[a], doc_id[b])))
                       for a, b in exact)
    near_ids = sorted((int(min(doc_id[a], doc_id[b])), int(max(doc_id[a], doc_id[b])))
                      for a, b in pairs)

    vec = rng.standard_normal((VECTORS, DIM)).astype(np.float32)
    planted = rng.choice(VECTORS, QUERIES * QUERY_BATCHES, replace=False)
    q = vec[planted] + 0.01 * rng.standard_normal((len(planted), DIM)).astype(np.float32)
    shingles = sum(len({n[i:i + SHINGLE_K] for i in range(len(n) - SHINGLE_K + 1)})
                   for n in (" ".join(t.lower().split()) for t in texts))
    return {
        "docs": docs,
        "vectors": vec,
        "queries": q.astype(np.float32),
        "truth": {"distinct_docs": len(texts) - EXACT_COPIES,
                  "exact_pairs": exact_ids, "near_pairs": near_ids,
                  "planted": planted.astype(np.int64), "shingles": shingles},
    }


def cosine_matrix(vectors: np.ndarray, queries: np.ndarray) -> np.ndarray:
    """Cosine of every query against every vector, float64 (queries x n)."""
    c = vectors.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q = queries.astype(np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    return q @ c.T


GENERATORS = {
    "trail_query": trail_query_inputs,
    "neardup_curation": neardup_inputs,
}

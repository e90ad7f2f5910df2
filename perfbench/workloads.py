"""The workloads: set-up, the operation mix, and the answer checks.

Every operation calls the public API of ``traildb_spark`` and is timed as a
whole; its answer is checked afterwards, outside the timed region, against
the generator's independent numpy/pandas answer. Layer spans (see
``spans.py``) sit around each public call; lazy calls return at once and
their work lands in the span of the Spark action that forces it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from traildb_spark.dataset import TrailDataset
from traildb_spark.functions.vectorized import char_shingle_minhash_udf
from traildb_spark.operators.analytics import funnel_times
from traildb_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    dedup_fuzzy,
    minhash_lsh_pairs,
)
from traildb_spark.operators.filters import parse_filter
from traildb_spark.operators.similarity import brute_force_topk, lsh_topk
from traildb_spark.operators.trails import session_stats
from traildb_spark.sources.dump import dump_csv
from traildb_spark.sources.make import make_from_csv
from traildb_spark.sources.tdbfile import read_tdb, write_tdb

from . import gen
from .spans import plan_output_rows, plan_scan_metrics


def dir_bytes(path: str, exclude: str | None = None) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for root, dirs, names in os.walk(path):
        if exclude:
            dirs[:] = [d for d in dirs if d != exclude]
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


@F.pandas_udf(LongType())
def _warm_udf(s: pd.Series) -> pd.Series:
    # one dense GEMM per worker: the first BLAS call in a fresh worker pays
    # its thread-pool start, which otherwise lands in the first timed op
    a = np.ones((256, 256))
    return s + int((a @ a)[0, 0] > 0)


def warm_workers(spark) -> None:
    """Fork and import every Python worker before anything is timed."""
    (spark.range(0, 64, 1, 4).select(_warm_udf("id").alias("v"))
     .agg(F.max("v")).collect())


class Workload:
    """One workload: ``setup`` runs once per set-up repetition, ``cycle``
    yields one round of the operation mix, ``run`` executes one operation
    and returns its answer, ``check`` compares the answer with the truth."""

    name = ""

    def __init__(self, inputs: dict, work: str, tracer):
        self.inputs = inputs
        self.truth = inputs["truth"]
        self.work = work
        self.tr = tracer
        self.spark = None
        self.samples: dict[str, list] = {}

    def note(self, key: str, value: float) -> None:
        """Per-layer sample recorded by the traced run."""
        if self.tr.enabled:
            self.samples.setdefault(key, []).append(float(value))

    def prepare(self) -> None:
        """Write the generated inputs to files (input generation, untimed)."""

    def setup(self, spark, rep: int) -> None:
        self.spark = spark

    def check_setup(self) -> None:
        """Untimed, after each set-up: raises if the set-up built the
        wrong thing."""

    def cycle(self, n: int) -> list[dict]:
        raise NotImplementedError

    def warm_ops(self) -> list[dict]:
        """The first operation of each kind."""
        seen: dict[str, dict] = {}
        for op in self.cycle(0):
            seen.setdefault(op["kind"], op)
        return list(seen.values())

    def run(self, op: dict):
        raise NotImplementedError

    def check(self, op: dict, answer) -> bool:
        raise NotImplementedError

    def after(self, op: dict, answer) -> None:
        """Untimed work after an operation: per-layer counts, clean-up."""

    def probe_ops(self) -> list[dict]:
        """Operations a traced run adds after its measured loop, for
        per-layer figures; they are answer-checked but not part of the
        mix."""
        return []


# -- trail_query ---------------------------------------------------------

class TrailQuery(Workload):
    """Set-up is the write path (CSV -> make -> finalize -> z-index); the
    mix is the read path, each operation opening the store the way
    ``tdb dump -i`` does, plus a native write_tdb/read_tdb round trip."""

    name = "trail_query"

    def prepare(self):
        self.csv = os.path.join(self.work, "events.csv")
        self.inputs["events"].to_csv(self.csv, index=False)
        self.csv_bytes = os.path.getsize(self.csv)

    def setup(self, spark, rep):
        self.spark = spark
        self.store = os.path.join(self.work, f"store{rep}")
        t0 = time.perf_counter()
        with self.tr.span("sources.make", "make_from_csv"):
            ds = make_from_csv(spark, self.csv, header=True)
        with self.tr.span("dataset", "finalize", action=True):
            ds.finalize(self.store)
        t1 = time.perf_counter()
        with self.tr.span("dataset", "build_index", action=True):
            TrailDataset.build_index(spark, self.store, gen.INDEX_COLS)
        t2 = time.perf_counter()
        self.samples.setdefault("ingest_s", []).append(t1 - t0)
        self.samples.setdefault("index_s", []).append(t2 - t1)

    def check_setup(self):
        size, files = dir_bytes(self.store, exclude="_zindex")
        zsize = dir_bytes(os.path.join(self.store, "_zindex"))[0]
        self.samples.setdefault("stored_bytes_per_input_byte", []).append(
            (size + zsize) / self.csv_bytes)
        self.note("dataset.finalize_bytes", size)
        self.note("dataset.finalize_files", files)
        self.note("dataset.index_bytes", zsize)
        # the built store holds every event; its z-index answers a probe
        # filter over both index columns
        t = self.truth
        rows = pq.read_table(self.store, columns=["uuid"])
        z = pq.read_table(os.path.join(self.store, "_zindex"),
                          columns=gen.INDEX_COLS).to_pandas()
        hits = int(gen.filter_mask(gen.coded(z, gen.INDEX_COLS), gen.INDEX_PROBE).sum())
        if (rows.num_rows, len(rows.column(0).unique()), len(z), hits) != (
                t["events"], t["trails"], t["events"], t["index_probe_count"]):
            raise AssertionError(f"store {self.store} does not match its input")
        self.note("make.rows_rejected", t["events"] - rows.num_rows)

    def cycle(self, n):
        cycles = self.inputs["cycles"]
        return cycles[n % len(cycles)]

    def run(self, op):
        spark, tr, kind = self.spark, self.tr, op["kind"]
        if kind == "tdb_import":
            out = os.path.join(self.work, "imported")
            shutil.rmtree(out, ignore_errors=True)
            with tr.span("sources.tdbfile", "read_tdb"):
                ds = TrailDataset.from_dataframe(read_tdb(spark, self._tdb))
            with tr.span("dataset", "finalize_import", action=True):
                ds.finalize(out)
            return out
        with tr.span("dataset", "open"):
            ds = TrailDataset.open(spark, self.store)
        if "filter" in op:
            with tr.span("operators.filters", "parse_filter"):
                f = parse_filter(op["filter"])
            with tr.span("dataset", "with_filter"):
                df = ds.with_filter(f).df
            if kind == "dump":
                out = os.path.join(self.work, "dump")
                with tr.span("sources.dump", "dump_csv", action=True):
                    dump_csv(df, out, mode="overwrite")
                return out
            if kind == "tdb_export":
                with tr.span("spark", "toPandas", action=True):
                    pdf = df.select("uuid", "time", *gen.FIELDS).toPandas()
                self._tdb = os.path.join(self.work, "extract.tdb")
                shutil.rmtree(self._tdb, ignore_errors=True)
                with tr.span("sources.tdbfile", "write_tdb"):
                    write_tdb(pdf.itertuples(index=False, name=None), gen.FIELDS, self._tdb)
                return len(pdf)
            q = df.agg(F.count(F.lit(1)))
            with tr.span("spark", "count", action=True):
                n = q.collect()[0][0]
            self._last = q
            return n
        if kind == "lookup":
            with tr.span("dataset", "trail"):
                df = ds.trail(op["uuid"])
            with tr.span("spark", "toPandas", action=True):
                pdf = df.toPandas()
            self._last = df
            return pdf
        if kind == "session_stats":
            with tr.span("operators.trails", "session_stats"):
                q = session_stats(ds.df).agg(F.count(F.lit(1)), F.sum("num_sessions"),
                                             F.sum("num_events"))
            with tr.span("spark", "collect", action=True):
                return tuple(q.collect()[0])
        if kind == "funnel":
            with tr.span("operators.analytics", "funnel_times"):
                steps = [F.col("action") == s for s in gen.FUNNEL]
                q = funnel_times(ds.df, steps).agg(
                    *[F.count(f"s{i}") for i in range(len(steps))])
            with tr.span("spark", "collect", action=True):
                return tuple(q.collect()[0])
        raise ValueError(kind)

    def check(self, op, answer):
        kind = op["kind"]
        if kind.startswith("filter"):
            return answer == op["expect"]
        if kind == "lookup":
            t = answer["time"].to_numpy()
            return (len(answer) == op["expect"] and bool((answer["uuid"] == op["uuid"]).all())
                    and bool(np.all(np.diff(t) > 0)))
        if kind == "dump":
            lines = 0
            for part in glob.glob(os.path.join(answer, "part-*")):
                with open(part, "rb") as fh:
                    lines += sum(1 for _ in fh)
            return lines == op["expect"]
        if kind == "session_stats":
            t = self.truth
            return answer == (t["trails"], t["sessions"], t["events"])
        if kind == "funnel":
            return answer == tuple(self.truth["funnel"])
        if kind == "tdb_export":
            # the native header agrees with the extract; its content is
            # checked by the import that reads it back
            with open(os.path.join(self._tdb, "info")) as fh:
                return int(fh.read().split()[1]) == answer
        if kind == "tdb_import":
            back = pq.read_table(answer).to_pandas().fillna("")
            return gen.multiset_digest(back, ["uuid", "time"] + gen.FIELDS) == op["expect"]
        return False

    def after(self, op, answer):
        kind = op["kind"]
        if kind == "tdb_export":
            self.note("tdbfile.bytes_per_event", dir_bytes(self._tdb)[0] / max(answer, 1))
        if not self.tr.enabled:
            return
        if kind.startswith("filter"):
            m = plan_scan_metrics(self._last)
            self.note("filters.rows_scanned_per_row", m["rows"] / max(answer, 1))
            self.note("filters.index_routed", 1.0 if m["zindex"] else 0.0)
        elif kind == "lookup":
            m = plan_scan_metrics(self._last)
            self.note("dataset.lookup_files_read", m["files"])
            self.note("dataset.lookup_rows_scanned_per_row", m["rows"] / max(len(answer), 1))
        elif kind == "dump":
            self.note("dump.bytes", dir_bytes(answer)[0])


# -- neardup_curation ----------------------------------------------------

class NeardupCuration(Workload):
    name = "neardup_curation"

    def prepare(self):
        i = self.inputs
        self.docs_path = os.path.join(self.work, "docs.parquet")
        self.vecs_path = os.path.join(self.work, "vectors.parquet")
        pq.write_table(pa.Table.from_pandas(i["docs"], preserve_index=False), self.docs_path)
        flat = pa.array(i["vectors"].reshape(-1))
        pq.write_table(pa.table({
            "vec_id": np.arange(len(i["vectors"]), dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                np.arange(0, len(flat) + 1, gen.DIM, dtype=np.int32), flat)}),
            self.vecs_path)
        self.cos = gen.cosine_matrix(i["vectors"], i["queries"])
        self.planted_pairs = sorted(set(self.truth["near_pairs"]) | set(self.truth["exact_pairs"]))
        self.uf_truth = _components(self.planted_pairs)

    def setup(self, spark, rep):
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path).repartition(4).cache()
        self.vecs = spark.read.parquet(self.vecs_path).repartition(4).cache()
        self.docs.count()
        self.vecs.count()
        q = self.inputs["queries"]
        self.queries = [
            spark.createDataFrame(pd.DataFrame({
                "query_id": np.arange(s, s + gen.QUERIES, dtype=np.int64),
                "embedding": list(q[s:s + gen.QUERIES])}))
            for s in range(0, len(q), gen.QUERIES)]
        self.pairs_df = spark.createDataFrame(
            pd.DataFrame(self.planted_pairs, columns=["id_a", "id_b"]))
        # warm-up slices: the same plans and worker code paths, less data
        self.small = {"docs": self.docs.limit(100), "vecs": self.vecs.limit(1000)}

    def warm_ops(self):
        # on the warm-up slices: the same plans and worker code paths. Not
        # dedup_fuzzy: its ~40 Spark jobs cost about as much cold on 100
        # docs as on the whole corpus, so warming it would cost a run as
        # much as measuring it. Its one call per run is a curation batch
        # in a fresh session, cold start included.
        return [dict(op, small=True) for op in super().warm_ops()
                if op["kind"] != "dedup_fuzzy"]

    def cycle(self, n):
        # each kind once; dedup_fuzzy's signature stage also runs on its
        # own, which gives its per-layer time
        b = n % (len(self.inputs["queries"]) // gen.QUERIES)
        return [{"kind": "dedup_exact"}, {"kind": "minhash_sig"},
                {"kind": "dedup_fuzzy", "items": gen.DOCS},
                {"kind": "brute_topk", "batch": b}, {"kind": "lsh_topk", "batch": b}]

    def probe_ops(self):
        # dedup_fuzzy's other stages on their own: connected components of
        # the planted pairs, and its LSH pair stage (minhash_lsh_pairs with
        # the max_bucket dedup_fuzzy passes) with and without verification
        return [{"kind": "components"}, {"kind": "components"}, {"kind": "lsh_pairs"}]

    def run(self, op):
        tr, kind = self.tr, op["kind"]
        docs = self.small["docs"] if op.get("small") else self.docs
        vecs = self.small["vecs"] if op.get("small") else self.vecs
        if kind == "dedup_exact":
            with tr.span("operators.dedup", "dedup_exact"):
                q = dedup_exact(docs).select("doc_id")
            with tr.span("spark", "toPandas", action=True):
                return q.toPandas()["doc_id"].to_numpy()
        if kind == "minhash_sig":
            with tr.span("functions.vectorized", "char_shingle_minhash_udf"):
                q = docs.select(char_shingle_minhash_udf(F.col("text")).alias("s")).agg(
                    F.count(F.lit(1)), F.sum("s.n_grams"), F.min(F.size("s.sig")))
            with tr.span("spark", "collect", action=True):
                return tuple(q.collect()[0])
        if kind == "components":
            with tr.span("operators.dedup", "connected_components", action=True):
                q = connected_components(self.pairs_df)
            with tr.span("spark", "toPandas", action=True):
                return q.toPandas()
        if kind == "dedup_fuzzy":
            with tr.span("operators.dedup", "dedup_fuzzy"):
                q = dedup_fuzzy(docs)
            with tr.span("spark", "toPandas", action=True):
                return q.toPandas()
        if kind == "lsh_pairs":
            with tr.span("operators.dedup", "minhash_lsh_pairs"):
                cand = minhash_lsh_pairs(docs, max_bucket=64, verify=False)
                kept = minhash_lsh_pairs(docs, max_bucket=64)
            with tr.span("spark", "count", action=True):
                n = cand.count()
            with tr.span("spark", "toPandas", action=True):
                return n, kept.toPandas()
        queries = self.queries[op["batch"]]
        if kind == "brute_topk":
            with tr.span("operators.similarity", "brute_force_topk", action=True):
                q = brute_force_topk(vecs, queries, k=gen.TOPK)
            with tr.span("spark", "toPandas", action=True):
                return q.toPandas()
        if kind == "lsh_topk":
            with tr.span("operators.similarity", "lsh_topk"):
                q = lsh_topk(vecs, queries, k=gen.TOPK)
            with tr.span("spark", "toPandas", action=True):
                pdf = q.toPandas()
            self._last = q
            return pdf
        raise ValueError(kind)

    def check(self, op, answer):
        kind, t = op["kind"], self.truth
        if kind == "dedup_exact":
            dropped = {b for _, b in t["exact_pairs"]}
            return set(answer.tolist()) == set(range(gen.DOCS)) - dropped
        if kind == "minhash_sig":
            return answer == (gen.DOCS, t["shingles"], 64)
        if kind == "components":
            return dict(zip(answer["id"].tolist(), answer["component"].tolist())) == self.uf_truth
        if kind == "dedup_fuzzy":
            comp = dict(zip(answer["doc_id"].tolist(), answer["component"].tolist()))
            if len(comp) != gen.DOCS or any(comp[a] != comp[b] for a, b in t["exact_pairs"]):
                return False
            recall = np.mean([comp[a] == comp[b] for a, b in t["near_pairs"]])
            self.samples.setdefault("neardup_recall", []).append(recall)
            canon = answer[answer["is_canonical"]]
            return recall >= 0.9 and len(canon) == answer["component"].nunique()
        if kind == "lsh_pairs":
            n, kept = answer
            found = set(zip(kept["id_a"].tolist(), kept["id_b"].tolist()))
            recall = np.mean([p in found for p in t["near_pairs"]])
            return n >= len(kept) and recall >= 0.9 and bool((kept["jaccard"] >= 0.7).all())
        return self._check_topk(op, answer)

    def _check_topk(self, op, answer):
        """Every returned cosine equals numpy's, each query's rows are in
        rank order, and for the exact top-k no better vector was left out.
        The approximate LSH top-k must still find the planted neighbour."""
        tol = 2e-6
        found = 0
        for qid, rows in answer.groupby("query_id"):
            rows = rows.sort_values("rank")
            cos = self.cos[qid]
            ids = rows["corpus_id"].to_numpy()
            if len(rows) > gen.TOPK or np.any(np.abs(rows["cos"].to_numpy() - cos[ids]) > tol):
                return False
            if np.any(np.diff(rows["cos"].to_numpy()) > 0):
                return False
            if op["kind"] == "brute_topk":
                rest = np.delete(cos, ids)
                if len(rows) != gen.TOPK or rest.max() > cos[ids].min() + tol:
                    return False
            found += int(ids[0] == self.truth["planted"][qid])
        n = answer["query_id"].nunique()
        if op["kind"] == "lsh_topk":
            self.samples.setdefault("lsh_topk_recall", []).append(found / gen.QUERIES)
            return n == gen.QUERIES and found >= 0.9 * gen.QUERIES
        return n == gen.QUERIES and found == gen.QUERIES

    def after(self, op, answer):
        kind = op["kind"]
        if kind == "lsh_pairs":
            self.note("dedup.lsh_candidates", answer[0])
            self.note("dedup.candidate_precision", len(answer[1]) / max(answer[0], 1))
        if self.tr.enabled and kind == "lsh_topk":
            # the rows lsh_topk's candidate join kept, from its executed plan
            self.note("similarity.candidates_per_query",
                      plan_output_rows(self._last, "BroadcastNestedLoopJoin") / gen.QUERIES)
        # dedup operators pin intermediates for the session's lifetime;
        # a long-lived caller drops them between units of work
        if kind in ("components", "dedup_fuzzy"):
            self.spark.catalog.clearCache()
            self.docs.cache().count()
            self.vecs.cache().count()


def _components(pairs) -> dict:
    """Union-find reference: id -> min id of its component."""
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for pair in pairs for x in pair}


WORKLOADS = {w.name: w for w in (TrailQuery, NeardupCuration)}

"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen, metrics
from perfbench.spans import Tracer
from perfbench.workloads import NeardupCuration, TrailQuery, _components

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def trail_inputs():
    return gen.trail_query_inputs(3)


@pytest.fixture(scope="module")
def neardup_inputs():
    return gen.neardup_inputs(3)


def test_same_seed_gives_byte_identical_inputs(trail_inputs, neardup_inputs, tmp_path):
    again = gen.trail_query_inputs(3)
    a, b = tmp_path / "a.csv", tmp_path / "b.csv"
    trail_inputs["events"].to_csv(a, index=False)
    again["events"].to_csv(b, index=False)
    assert a.read_bytes() == b.read_bytes()
    assert again["cycles"] == trail_inputs["cycles"]
    assert again["truth"] == trail_inputs["truth"]
    nd = gen.neardup_inputs(3)
    assert nd["docs"].equals(neardup_inputs["docs"])
    assert nd["vectors"].tobytes() == neardup_inputs["vectors"].tobytes()
    assert nd["queries"].tobytes() == neardup_inputs["queries"].tobytes()
    assert nd["truth"]["near_pairs"] == neardup_inputs["truth"]["near_pairs"]


def test_other_seed_gives_other_inputs(trail_inputs, neardup_inputs):
    assert not gen.trail_query_inputs(4)["events"].equals(trail_inputs["events"])
    assert not gen.neardup_inputs(4)["docs"].equals(neardup_inputs["docs"])


def test_generated_inputs_have_the_promised_shape(trail_inputs, neardup_inputs):
    ev = trail_inputs["events"]
    assert len(ev) == gen.TRAIL_EVENTS and ev["uuid"].nunique() == gen.TRAIL_UUIDS
    assert (ev["uuid"].str.len() == 32).all()  # write_tdb needs 32 hex chars
    sizes = ev.groupby("uuid").size()
    assert sizes.max() >= gen.WHALE_SHARE * gen.TRAIL_EVENTS  # whale trails
    assert set(ev["action"]) == set(gen.ACTIONS)
    # every filter of the mix matches something, so a count check bites
    assert all(op["expect"] for c in trail_inputs["cycles"] for op in c
               if op["kind"].startswith("filter"))
    docs = neardup_inputs["docs"]
    assert list(docs["doc_id"]) == list(range(gen.DOCS))
    assert neardup_inputs["truth"]["distinct_docs"] == gen.DOCS - gen.EXACT_COPIES


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    assert e2e == metrics.END_TO_END
    layer = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    assert layer == metrics.PER_LAYER
    names = [n for n, *_ in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert metrics.NAME_RE.match(name), name
        assert name in metrics.UNITS
    assert all(n in metrics.MOVES for n, *_ in metrics.PER_LAYER)
    assert ("setup_s", "s", "lower", 0.25) in metrics.END_TO_END
    assert all(0 < b <= 0.25 for *_, b in metrics.END_TO_END)
    assert [w["name"] for w in bench["workloads"]] == list(gen.GENERATORS)


def test_trail_checks_flag_wrong_answers(trail_inputs, tmp_path):
    wl = TrailQuery(trail_inputs, str(tmp_path), Tracer(False))
    ops = {op["kind"]: op for c in trail_inputs["cycles"] for op in c}
    f = ops["filter_scan"]
    assert wl.check(f, f["expect"])
    assert not wl.check(f, f["expect"] + 1)
    t = trail_inputs["truth"]
    assert wl.check({"kind": "session_stats"}, (t["trails"], t["sessions"], t["events"]))
    assert not wl.check({"kind": "session_stats"}, (t["trails"], t["sessions"] - 1, t["events"]))
    assert not wl.check({"kind": "funnel"}, tuple(v + 1 for v in t["funnel"]))
    lk = ops["lookup"]
    ev = trail_inputs["events"]
    trail = ev[ev["uuid"] == lk["uuid"]].reset_index(drop=True)
    assert wl.check(lk, trail)
    assert not wl.check(lk, trail.iloc[::-1].reset_index(drop=True))  # not time-ordered
    assert not wl.check(lk, trail.iloc[1:])


def test_trail_truth_matches_a_plain_loop(trail_inputs):
    """The vectorised session and funnel answers against per-trail loops."""
    ev = trail_inputs["events"]
    sessions, reached = 0, [0, 0, 0]
    for _, tr in ev.groupby("uuid"):
        t = tr["time"].to_numpy()
        sessions += 1 + int((np.diff(t) > gen.SESSION_GAP).sum())
        prev, step = None, 0
        for tt, action in zip(t, tr["action"]):
            if step < 3 and action == gen.FUNNEL[step] and (prev is None or tt > prev):
                reached[step] += 1
                prev, step = tt, step + 1
    assert sessions == trail_inputs["truth"]["sessions"]
    assert tuple(reached) == trail_inputs["truth"]["funnel"]


def test_neardup_checks_flag_wrong_answers(neardup_inputs, tmp_path):
    wl = NeardupCuration(neardup_inputs, str(tmp_path), Tracer(False))
    wl.prepare()
    t = neardup_inputs["truth"]
    kept = np.array(sorted(set(range(gen.DOCS)) - {b for _, b in t["exact_pairs"]}))
    assert wl.check({"kind": "dedup_exact"}, kept)
    assert not wl.check({"kind": "dedup_exact"}, kept[1:])

    op = {"kind": "brute_topk", "batch": 1}
    rows = []
    for q in range(gen.QUERIES, 2 * gen.QUERIES):
        cos = wl.cos[q]
        top = np.lexsort((np.arange(len(cos)), -cos))[:gen.TOPK]
        rows += [(q, int(i), float(cos[i]), r + 1) for r, i in enumerate(top)]
    answer = pd.DataFrame(rows, columns=["query_id", "corpus_id", "cos", "rank"])
    assert wl.check(op, answer)
    wrong = answer.copy()
    wrong.loc[0, "corpus_id"] = int(np.argmin(wl.cos[gen.QUERIES]))  # a far vector
    assert not wl.check(op, wrong)
    assert not wl.check(op, answer[answer["rank"] < gen.TOPK])  # k rows missing

    comp = dict(enumerate(range(gen.DOCS)))
    comp.update(_components(t["exact_pairs"] + t["near_pairs"]))
    fuzzy = pd.DataFrame({"doc_id": list(comp), "component": list(comp.values())})
    fuzzy["is_canonical"] = fuzzy["doc_id"] == fuzzy["component"]
    assert wl.check({"kind": "dedup_fuzzy"}, fuzzy)
    assert wl.samples["neardup_recall"][-1] == 1.0
    a, b = t["exact_pairs"][0]
    split = fuzzy.copy()
    split.loc[split["doc_id"] == b, ["component", "is_canonical"]] = [b, True]
    assert not wl.check({"kind": "dedup_fuzzy"}, split)  # an exact copy kept apart
    assert not wl.check({"kind": "dedup_fuzzy"}, fuzzy.iloc[1:])  # a doc lost


def test_traced_dedup_fuzzy_counts_all_its_jobs(neardup_inputs, tmp_path):
    """dedup_fuzzy runs most of its Spark jobs eagerly, inside the layer
    call rather than the final action; the operation's job group must
    count them all. Starts a Spark session (about half a minute)."""
    from perfbench import run

    run.configure_env(str(tmp_path))
    spark = run.start_session()
    try:
        tracer = Tracer(True, spark.sparkContext)
        wl = NeardupCuration(neardup_inputs, str(tmp_path), tracer)
        wl.prepare()
        wl.setup(spark, 0)
        records: list[dict] = []
        run.run_op(wl, tracer, {"kind": "dedup_fuzzy", "items": gen.DOCS}, 0, records, True)
        counters = tracer.spark_counters()
    finally:
        run.stop_jvm(spark)
    assert records[0]["ok"]
    # the final toPandas alone is one job
    assert counters[0]["jobs"] > 10 and counters[0]["tasks"] > counters[0]["jobs"]

"""``TrailDataset.open`` is metadata-only: the sidecar carries the schema,
the z-index is checked lazily, and the fingerprint walk skips hidden
subtrees without changing what it lists."""

import json
import os
import warnings

import pytest
from pyspark.sql import functions as F

from traildb_spark import fsutil
from traildb_spark.dataset import (
    META_FILE,
    SHARD_COL,
    TIME_COL,
    UUID_COL,
    TrailDataset,
    _shard_expr,
)
from traildb_spark.operators.filters import parse_filter

SHARD_FORMATS = [None, "yyyy", "yyyy-MM-dd", "yyyy-MM-dd-HH"]


def _events(spark, n=24):
    """Events spanning two years, with a non-nullable int, a double and a
    non-nullable array column next to the string fields, so the recorded
    schema must relax nullability at every depth to match inference."""
    rows = [
        (f"u{i % 5:02d}", 1704067200 + i * 86400 * 20 + i * 3600,
         "x" if i % 2 else "y", f"v{i % 3}", i * 0.5)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "uuid string, time long, f string, g string, x double")
    return df.select(
        "*", F.lit(7).alias("k"), F.array(F.lit("a"), F.lit("b")).alias("tags")
    )


def _sidecar(path):
    with open(os.path.join(path, META_FILE)) as fh:
        return json.load(fh)


def _write_sidecar(path, meta):
    with open(os.path.join(path, META_FILE), "w") as fh:
        json.dump(meta, fh)
    crc = os.path.join(path, f".{META_FILE}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def _routed(df):
    return any("/_zindex/" in f for f in df.inputFiles())


def _jobs(spark, group, fn):
    """(fn(), number of Spark jobs fn started) — counted in a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def fingerprints(monkeypatch):
    """Counts calls of ``fsutil.data_fingerprint``."""
    calls = []
    real = fsutil.data_fingerprint

    def counted(spark, path):
        calls.append(path)
        return real(spark, path)

    monkeypatch.setattr(fsutil, "data_fingerprint", counted)
    return calls


@pytest.mark.parametrize("fmt", SHARD_FORMATS)
def test_sidecar_schema_equals_inferred(spark, tmp_path, fmt):
    """open() with the schema recorded by finalize gives the schema and the
    rows of schema inference, for unsharded data and for shard formats
    whose partition column infers as int, date and string; recording it
    starts no job beyond the write itself."""
    ds = TrailDataset(_events(spark))
    p = str(tmp_path / "db")
    ref = str(tmp_path / "ref")
    # the write finalize performs, and nothing else
    out = ds.df
    if fmt:
        out = out.withColumn(SHARD_COL, _shard_expr(F.col(TIME_COL), fmt))
        writer = (
            out.repartition(4, F.col(SHARD_COL), F.col(UUID_COL))
            .sortWithinPartitions(SHARD_COL, UUID_COL, TIME_COL)
            .write.partitionBy(SHARD_COL)
        )
    else:
        writer = (
            out.repartition(4, F.col(UUID_COL))
            .sortWithinPartitions(UUID_COL, TIME_COL)
            .write
        )
    _, write_jobs = _jobs(spark, f"write-{fmt}", lambda: writer.parquet(ref))
    _, finalize_jobs = _jobs(
        spark, f"finalize-{fmt}", lambda: ds.finalize(p, num_buckets=4, time_shard=fmt)
    )
    assert finalize_jobs == write_jobs > 0

    meta = _sidecar(p)
    assert SHARD_COL not in {f["name"] for f in meta["schema"]["fields"]}
    hinted = TrailDataset.open(spark, p)
    _write_sidecar(p, {k: v for k, v in meta.items() if k != "schema"})
    inferred = TrailDataset.open(spark, p)
    assert hinted._raw.schema == inferred._raw.schema
    assert hinted.df.schema == inferred.df.schema
    if fmt:
        assert hinted._shard_fmt == fmt
        assert SHARD_COL in hinted._raw.columns
    key = lambda r: tuple(map(str, r))  # noqa: E731
    assert sorted(hinted.df.collect(), key=key) == sorted(
        inferred.df.collect(), key=key
    )
    # time-range filters still prune shards through the hinted scan
    tf = parse_filter("f=x")
    assert hinted.with_filter(tf).df.count() == inferred.with_filter(tf).df.count()


@pytest.fixture(scope="module")
def indexed_db(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("open") / "db")
    TrailDataset(_events(spark)).finalize(p, num_buckets=2, time_shard="yyyy-MM-dd")
    TrailDataset.build_index(spark, p, ["f", "g"])
    return p


OPEN_CASES = {
    "lookup": (True, lambda ds: ds.trail("u01")),
    "uncovered filter": (True, lambda ds: ds.with_filter(parse_filter("uuid=u01")).df),
    "no filter": (True, lambda ds: ds.df),
    "use_index=False": (False, lambda ds: ds.with_filter(parse_filter("f=x")).df),
}


@pytest.mark.parametrize("case", sorted(OPEN_CASES))
def test_open_is_metadata_only(spark, indexed_db, fingerprints, case):
    """open + .df for a read that does not route to the z-index starts no
    Spark job and never walks the data files."""
    use_index, read = OPEN_CASES[case]
    df, jobs = _jobs(
        spark, f"open-{case}",
        lambda: read(TrailDataset.open(spark, indexed_db, use_index=use_index)),
    )
    assert jobs == 0
    assert fingerprints == []
    assert not _routed(df)
    assert df.count() > 0


def test_covered_filter_checks_index_once_per_open(spark, indexed_db, fingerprints):
    """A covered filter runs the fingerprint check once per opened
    dataset, however many views are derived from it; the scan of the
    z-index copy starts no job either."""
    ds = TrailDataset.open(spark, indexed_db)
    assert fingerprints == []
    views = [
        ds.with_filter(parse_filter("f=x")),
        ds.with_filter(parse_filter("f=y & g=v1")),
        ds.select_uuids(["u01", "u02"]).with_filter(parse_filter("g=v2")),
        ds.with_filter(parse_filter("f=x")).select_uuids(["u03"]),
    ]
    dfs, jobs = _jobs(spark, "open-covered", lambda: [v.df for v in views])
    assert jobs == 0
    assert fingerprints == [indexed_db]
    primary = TrailDataset.open(spark, indexed_db, use_index=False)
    for v, df in zip(views, dfs):
        assert v._zindex is not None
        assert _routed(df)
        want = primary.with_filter(v._filter)
        for uuids in v._zuuids:
            want = want.select_uuids(uuids)
        assert sorted(df.collect()) == sorted(want.df.collect())
    # a second open checks again: the check belongs to the opened dataset
    TrailDataset.open(spark, indexed_db).with_filter(parse_filter("f=x")).df
    assert len(fingerprints) == 2


def test_stale_warning_fires_at_first_covered_filter(spark, tmp_path, fingerprints):
    """A data file rewritten after the index was built (here: a new
    mtime) is seen at the first covered filter, not at open: the warning
    fires there, once, and the filter scans the primary."""
    p = str(tmp_path / "db")
    TrailDataset(_events(spark)).finalize(p, num_buckets=2)
    TrailDataset.build_index(spark, p, ["f"])
    part = next(n for n in sorted(os.listdir(p)) if n.endswith(".parquet"))
    st = os.stat(os.path.join(p, part))
    os.utime(os.path.join(p, part), (st.st_atime, st.st_mtime + 10))
    fingerprints.clear()
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        ds = TrailDataset.open(spark, p)
        ds.df
        ds.with_filter(parse_filter("uuid=u01")).df
        assert seen == [] and fingerprints == []
        stale = ds.with_filter(parse_filter("f=x")).df
        assert [str(w.message) for w in seen if "stale" in str(w.message)]
        n = len(seen)
        ds.with_filter(parse_filter("f=y")).df
        assert len(seen) == n and len(fingerprints) == 1
    assert not _routed(stale)
    assert stale.count() == 12


def test_finalize_ignore_leaves_sidecar_untouched(spark, tmp_path):
    p = str(tmp_path / "db")
    TrailDataset(_events(spark)).finalize(p, num_buckets=2, time_shard="yyyy")
    before = _sidecar(p)
    mtime = os.stat(os.path.join(p, META_FILE)).st_mtime_ns
    other = TrailDataset(_events(spark).withColumn("extra", F.lit("e")))
    other.finalize(p, num_buckets=2, time_shard="yyyy-MM-dd", mode="ignore")
    assert _sidecar(p) == before
    assert os.stat(os.path.join(p, META_FILE)).st_mtime_ns == mtime
    assert "extra" not in TrailDataset.open(spark, p).df.columns


@pytest.mark.parametrize("fmt, mode", [
    (None, "append"), ("yyyy", "append"), ("yyyy", "dynamic overwrite"),
])
def test_finalize_keeping_old_files_drops_recorded_schema(spark, tmp_path, fmt, mode):
    """A write that keeps files already at the path (an append, or a
    dynamic partition overwrite) clears the sidecar's schema, which the
    old files may not match, so open infers it; the sidecar's other
    entries stay. Appending to a new path records the schema as usual."""
    p = str(tmp_path / "db")
    base = _events(spark)
    TrailDataset(base).finalize(p, num_buckets=2, time_shard=fmt, mode="append")
    assert "schema" in _sidecar(p)
    TrailDataset.build_index(spark, p, ["f"])
    more = TrailDataset(base.withColumn("extra", F.lit("e")))
    if mode == "append":
        more.finalize(p, num_buckets=2, time_shard=fmt, mode="append")
    else:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            more.finalize(p, num_buckets=2, time_shard=fmt, mode="overwrite")
        finally:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    meta = _sidecar(p)
    assert "schema" not in meta and "zindex" in meta
    assert meta.get("time_shard") == fmt
    ds = TrailDataset.open(spark, p, use_index=False)
    assert ds._raw.schema == spark.read.parquet(p).schema
    assert ds.df.count() == (48 if mode == "append" else 24)


def _recursive_walk(spark, path):
    """The former listing: one recursive ``listFiles``, filtered after."""
    _, hpath, fs = fsutil.hfs(spark, path)
    root = hpath(path)
    if not fs.exists(root):
        return []
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    out = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if not p.startswith(prefix):
            continue
        rel = p[len(prefix):]
        parts = rel.split("/")
        if parts[-1].startswith((".", "_")) or not parts[-1].endswith(".parquet"):
            continue
        if any(d.startswith(".") or (d.startswith("_") and "=" not in d)
               for d in parts[:-1]):
            continue
        out.append((rel, int(st.getLen()), int(st.getModificationTime())))
    return out


def test_pruned_walk_lists_what_the_recursive_walk_did(spark, tmp_path, indexed_db):
    """The pruned walk yields exactly the recursive walk's entries, so
    every fingerprint recorded by the z-index, MinHash, IVF and SQ8
    artifacts stays valid: on a sharded and indexed store, on a
    hand-made nested tree and through ``file://``-qualified paths."""
    nested = tmp_path / "nested"
    files = [
        "top.parquet", "a=1/b=2/p.parquet", "a=1/b=3/q.parquet",
        "__shard=2024/_tmp/t.parquet", "__shard=2024/c=x/r.parquet",
        "_zindex/z.parquet", "_staging/deep/s.parquet", ".hidden/h.parquet",
        "a=1/.x.parquet", "a=1/_y.parquet", "a=1/notes.txt", "_=weird/w.parquet",
        "empty=1/",
    ]
    for rel in files:
        f = nested / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        if not rel.endswith("/"):
            f.write_bytes(b"x" * len(rel))
    for path in (indexed_db, str(nested), f"file://{indexed_db}", f"file://{nested}"):
        got = sorted(fsutil.list_data_files(spark, path))
        assert got == sorted(_recursive_walk(spark, path)) and got, path
    assert {r for r, _, _ in fsutil.list_data_files(spark, str(nested))} == {
        "top.parquet", "a=1/b=2/p.parquet", "a=1/b=3/q.parquet",
        "__shard=2024/c=x/r.parquet", "_=weird/w.parquet",
    }

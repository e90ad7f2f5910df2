"""TrailDataset — the engine's core abstraction.

Maps the reference's data model (SURVEY §1) onto an idiomatic Spark layout:

* a *traildb* (immutable file/dir, reference `src/tdb.c:298-393`) → an
  immutable Parquet dataset directory;
* a *trail* (uuid-keyed, time-ordered event series,
  `doc/docs/technical_overview.md:8-17`) → the group ``uuid`` with rows
  sorted by ``time`` within Parquet row groups;
* *fields* are string columns; empty string ≡ NULL (`src/tdb.c:488-524`).

The write layout is clustered, not indexed: ``finalize`` hash-clusters
by uuid and sorts by (uuid, time) within files, so every per-trail window
computation shuffles on a key the layout already clusters. Parquet
min/max stats do NOT give uuid point-lookups the reference's O(log N)
binary search (`src/tdb.c:552-589`): each hash-clustered file spans the
whole uuid range, so a ``trail(uuid)`` reads every file (977-2458 rows
scanned per returned row on the 60k-event benchmark store; the layout
item in ROADMAP.md tracks row-group sizing and a uuid-range manifest).
Time ranges prune through the optional ``time_shard`` partitions, and
CNF filters over z-indexed columns through the ``build_index`` copy.
"""

from __future__ import annotations

import json
import os
import warnings
from dataclasses import dataclass
from functools import cached_property, reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import fsutil
from .operators.filters import EventFilter, TimeRange, uuid_whitelist

UUID_COL = "uuid"
TIME_COL = "time"
SHARD_COL = "__shard"
META_FILE = "_traildb_meta.json"
ZINDEX_DIR = "_zindex"  # '_' prefix: invisible to the primary parquet scan
RESERVED = (UUID_COL, TIME_COL, SHARD_COL)


# reference charset (src/tdb_limits.h:48-51: urlencode-safe, used in
# filenames) and length cap (:9); 'time' reserved (src/tdb_cons.c:185-186)
_FIELDNAME_CHARS = frozenset(
    "_-%"
    "abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "0123456789"
)
_MAX_FIELDNAME_LENGTH = 512


def _data_fingerprint(spark: SparkSession, path: str) -> str:
    """Consistency token tying the auxiliary z-index to the data it was
    built from (reference index↔data checksum analog,
    `tdbcli/tdb_index.c:439-451`): a stale index must be ignored, because
    routing substitutes its rows for the primary's. Shared implementation
    in :func:`fsutil.data_fingerprint` (also guards the persisted IVF
    artifact in ``operators.similarity``)."""
    return fsutil.data_fingerprint(spark, path)


def _schema_json(schema: StructType) -> dict:
    """``schema`` as a scan of the written files reports it, for the
    sidecar: every field nullable at every depth (file sources are read
    ``asNullable``) and ``__shard`` left out (Spark infers the partition
    column from the paths, which needs no job)."""

    def relax(t):
        if not isinstance(t, dict):
            return t
        kind = t.get("type")
        if kind == "struct":
            return dict(t, fields=[
                dict(f, nullable=True, type=relax(f["type"])) for f in t["fields"]
            ])
        if kind == "array":
            return dict(t, containsNull=True, elementType=relax(t["elementType"]))
        if kind == "map":
            return dict(t, valueContainsNull=True, keyType=relax(t["keyType"]),
                        valueType=relax(t["valueType"]))
        return t

    return relax(
        StructType([f for f in schema.fields if f.name != SHARD_COL]).jsonValue()
    )


def _read_parquet(spark: SparkSession, path: str, schema: dict | None) -> DataFrame:
    """Parquet scan of ``path``. With a recorded ``schema`` (see
    :func:`_schema_json`) it is metadata-only: no schema-inference job."""
    reader = spark.read
    if schema:
        reader = reader.schema(StructType.fromJson(schema))
    return reader.parquet(path)


class _ZIndex:
    """The z-index entry of one opened dataset's sidecar, resolved on
    first use: the fingerprint check and the scan of the copy run at most
    once, when a covered filter first asks for them, and are shared by
    every view derived from the opened dataset."""

    def __init__(self, spark: SparkSession, db_path: str, meta: dict):
        self.columns = list(meta["columns"])
        self._spark = spark
        self._db_path = db_path
        self._meta = meta

    @cached_property
    def df(self) -> DataFrame | None:
        zpath = f"{self._db_path}/{self._meta.get('path', ZINDEX_DIR)}"
        # consistency guard (reference index↔data checksum,
        # tdb_index.c:439-451): if the primary data changed since the
        # index was built, routing would substitute STALE rows — ignore
        # the index instead
        if self._meta.get("data_fingerprint") != _data_fingerprint(
            self._spark, self._db_path
        ):
            # surface the hidden perf cliff: the sidecar records an index
            # but the data changed since it was built (or mtimes weren't
            # preserved by a copy) — filters full-scan until `tdb index`
            # is re-run
            warnings.warn(
                f"z-index at {zpath} is stale (data fingerprint "
                "mismatch) and will be ignored; re-run "
                "`tdb index` to restore pruning",
                stacklevel=2,
            )
            return None
        if not fsutil.exists(self._spark, zpath):
            return None
        return _read_parquet(self._spark, zpath, self._meta.get("schema"))


def validate_field_names(names: list[str]) -> None:
    """Reference field-name rules (`src/tdb_cons.c:181-223`,
    ``is_fieldname_invalid`` + ``find_duplicate_fieldnames``): non-empty,
    < 512 chars, charset ``[A-Za-z0-9_%-]``, 'time' reserved, no
    duplicates. Raises ``ValueError`` like the reference returns
    TDB_ERR_INVALID_FIELDNAME / TDB_ERR_DUPLICATE_FIELDS."""
    seen = set()
    for name in names:
        if name == "time":
            raise ValueError("field name 'time' is reserved")
        if not name or len(name) >= _MAX_FIELDNAME_LENGTH:
            raise ValueError(f"invalid field name length: {name!r}")
        if not set(name) <= _FIELDNAME_CHARS:
            raise ValueError(f"invalid characters in field name: {name!r}")
        if name in seen:
            raise ValueError(f"duplicate field name: {name!r}")
        seen.add(name)


def normalize_events(
    df: DataFrame,
    uuid_col: str = UUID_COL,
    time_col: str = TIME_COL,
    fields: list[str] | None = None,
    validate_names: bool = True,
) -> DataFrame:
    """Normalize an arbitrary DataFrame to the canonical event schema:
    ``uuid STRING (lowercase hex ok), time LONG, <field> STRING...`` with
    NULL→'' (the reference's single NULL value, `src/tdb.c:488-524`).

    ``time`` accepts integer or timestamp input; timestamps become Unix
    seconds (the reference stores uint64 "usually Unix time",
    `doc/docs/api.md:53`). ``uuid`` accepts hex text OR raw 16-byte
    binary — the reference's API takes raw uuids and hex is the CLI form
    (`src/tdb_uuid.c:52-75`); binary input goes through the ``uuid_hex``
    codec into the engine's canonical lowercase-hex form. Field names are
    checked against the reference's charset/duplicate rules unless
    ``validate_names=False``.
    """
    from .functions.core import uuid_hex

    cols = [c for c in df.columns if c not in (uuid_col, time_col)]
    if fields is not None:
        cols = [c for c in cols if c in fields]
    if validate_names:
        validate_field_names(cols)
    t = F.col(time_col)
    dtypes = dict(df.dtypes)
    if dtypes[time_col].startswith("timestamp"):
        t = F.unix_timestamp(t)
    u = (
        uuid_hex(F.col(uuid_col))
        if dtypes[uuid_col] == "binary"
        else F.lower(F.col(uuid_col).cast("string"))
    )
    out = [
        u.alias(UUID_COL),
        t.cast("long").alias(TIME_COL),
    ]
    out += [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in cols]
    return df.select(*out)


@dataclass
class TrailInfo:
    """The reference's ``info`` metadata block (`src/tdb.c:677-700`)."""

    num_trails: int
    num_events: int
    min_timestamp: int
    max_timestamp: int
    fields: list[str]


def _shard_expr(ts_col: Column, fmt: str) -> Column:
    """Shard label rendered in UTC REGARDLESS of spark.sql.session.timeZone.

    Writer and reader sessions can disagree on timezone; a label computed
    under one tz but pruned under another silently drops matching rows.
    ``to_utc_timestamp(ts, current_timezone())`` shifts the instant so
    that rendering in the session tz equals rendering the original
    instant in UTC — the sidecar records the convention."""
    return F.date_format(
        F.to_utc_timestamp(F.timestamp_seconds(ts_col), F.current_timezone()), fmt
    )


def _shard_predicate(f: EventFilter, shard_fmt: str) -> Column | None:
    """Derive a partition predicate on the ``__shard`` column from the
    filter's pure-time-range clauses.

    Sound candidate generation (reference index contract, §2.8 X2): only
    clauses consisting solely of time ranges constrain the shard — the
    derived predicate selects a superset of shards and the exact filter
    re-checks rows. This is what turns 'time in [a,b)' into Hive-partition
    pruning on the daily-shard layout.
    """
    # clamp bounds into the formatable timestamp domain (years 1..9999):
    # sentinel bounds like 2^62 would overflow timestamp_seconds at
    # execution, crashing a query the unsharded path handles fine. Data
    # shard labels were themselves rendered via timestamp_seconds, so
    # clamping toward the domain edges only WIDENS the candidate set —
    # still a sound superset; the exact CNF re-check stays authoritative.
    _TS_LO, _TS_HI = -62135596800, 253402300799
    _clamp = lambda v: max(_TS_LO, min(_TS_HI, int(v)))
    derived = []
    for clause in f.clauses:
        if clause and all(isinstance(t, TimeRange) for t in clause):
            ors = None
            for t in clause:
                c = (
                    F.col(SHARD_COL) >= _shard_expr(F.lit(_clamp(t.start)), shard_fmt)
                ) & (
                    F.col(SHARD_COL) <= _shard_expr(F.lit(_clamp(t.end)), shard_fmt)
                )
                ors = c if ors is None else (ors | c)
            derived.append(ors)
    if not derived:
        return None
    out = derived[0]
    for c in derived[1:]:
        out = out & c
    return out


class TrailDataset:
    """DataFrame-in / DataFrame-out wrapper; everything stays lazy."""

    def __init__(
        self,
        df: DataFrame,
        db_filter: EventFilter | None = None,
        shard_fmt: str | None = None,
        zindex: _ZIndex | None = None,
        zuuids: tuple = (),
    ):
        self._raw = df
        self._filter = db_filter
        self._shard_fmt = shard_fmt
        # auxiliary z-ordered copy (the reference's optional
        # inverted-index artifact, §2.8 X1-X3), still unresolved, and the
        # uuid whitelists this view applies on top of it
        self._zsource = zindex
        self._zuuids = zuuids

    # -- constructors ------------------------------------------------------
    @classmethod
    def open(
        cls, spark: SparkSession, path: str, use_index: bool = True
    ) -> "TrailDataset":
        """Reference ``tdb_open`` (`src/tdb.c:298-393`) → lazy Parquet scan.

        Metadata-only, like the reference's mmap plus table-of-contents
        read: ``open`` reads the ``_traildb_meta.json`` sidecar and starts
        no Spark job. The sidecar records the data-column schema that
        ``finalize`` wrote (and ``build_index`` the z-index's), so the
        scan is built from it instead of inferring a schema from file
        footers; a sidecar without one (older datasets, streamed ones,
        appended ones) falls back to inference. It also records the time
        shard format.

        Index auto-discovery (reference `tdbcli/tdb_index.c:637-662`) is
        lazy: a z-ordered copy recorded in the sidecar (built by
        ``build_index`` / ``tdb index``) is not checked or scanned until a
        CNF filter whose item-term columns are all indexed reaches the
        ``df`` property. Then, once per opened dataset and shared by every
        ``with_filter`` / ``select_uuids`` view, the data fingerprint is
        compared with the one recorded at build time; a stale index warns
        at that point and is ignored, a fresh one serves the filter.
        ``use_index=False`` is the reference's ``--no-index`` opt-out
        (`tdbcli/main.c:72-74`).

        Sidecar read and fingerprint walk go through the Hadoop FS API
        (``fsutil``), so discovery works identically on file://, hdfs://
        and s3a:// — the same posture as ``compact_shards`` and the
        streaming sinks."""
        raw = fsutil.read_small(spark, f"{path}/{META_FILE}")
        meta = json.loads(raw) if raw is not None else {}
        zmeta = meta.get("zindex")
        zindex = (
            _ZIndex(spark, path, zmeta)
            if use_index and zmeta and zmeta.get("columns")
            else None
        )
        return cls(
            _read_parquet(spark, path, meta.get("schema")),
            shard_fmt=meta.get("time_shard"),
            zindex=zindex,
        )

    @classmethod
    def open_tdb(
        cls, spark: SparkSession, path: str, target_bytes: int = 32 << 20
    ) -> "TrailDataset":
        """Open a NATIVE TrailDB artifact — the reference C library's own
        on-disk format, directory or single-file tar package, v0 and v1
        (``tdb_open``, src/tdb.c:298-393) — as a TrailDataset. Decode is
        distributed (sources.tdbfile.read_tdb: driver parses the TOC,
        executors decode ~target_bytes trail slices); ``finalize()`` on
        the result is the migration path to the Parquet layout. The path
        must be executor-visible (local/shared FS), the same contract as
        the reference's mmap."""
        from .sources.tdbfile import read_tdb

        return cls.from_dataframe(read_tdb(spark, path, target_bytes))

    @classmethod
    def from_dataframe(
        cls, df: DataFrame, uuid_col: str = UUID_COL, time_col: str = TIME_COL
    ) -> "TrailDataset":
        return cls(normalize_events(df, uuid_col, time_col))

    # -- views (reference TDB_OPT_EVENT_FILTER, src/tdb.c:707-732) ---------
    def with_filter(self, f: EventFilter | None) -> "TrailDataset":
        return TrailDataset(
            self._raw, f, shard_fmt=self._shard_fmt, zindex=self._zsource,
            zuuids=self._zuuids,
        )

    @cached_property
    def _zindex(self) -> tuple[DataFrame, list[str]] | None:
        """(z-ordered copy with this view's uuid whitelists, indexed
        columns), or None when there is no usable index. Resolving it runs
        the stale check of the opened dataset, if that has not run yet."""
        z = self._zsource
        zdf = z.df if z is not None else None
        if zdf is None:
            return None
        for uuids in self._zuuids:
            zdf = uuid_whitelist(zdf, uuids, UUID_COL)
        return zdf, z.columns

    def _index_covers(self) -> bool:
        """True when the db filter should route to the z-ordered auxiliary
        copy: the filter has at least one item term, every item-term
        column is z-indexed (time ranges ride along — time is a sort key
        within the z-layout) and the index is not stale. Mirrors the
        reference's index-match contract (`tdbcli/tdb_index.c:559-631`):
        the index answers exactly the filters whose items it covers;
        everything else scans the primary. Only a covered filter resolves
        the index (see ``open``).
        """
        if self._zsource is None or self._filter is None:
            return False
        f = self._filter
        if f.match_all or f.match_none or not f.clauses:
            return False
        tf = f.term_fields()
        return (
            bool(tf) and tf <= set(self._zsource.columns)
            and self._zindex is not None
        )

    @property
    def df(self) -> DataFrame:
        if self._filter is not None and self._index_covers():
            # route to the z-ordered copy: identical rows, but row-group
            # min/max stats are tight on ALL indexed columns at once, so
            # the exact CNF predicate prunes where the trail-clustered
            # primary cannot (candidates + exact re-check in one scan)
            zdf, _ = self._zindex
            return self._filter.apply(zdf, time_col=TIME_COL)
        out = self._raw
        sharded = SHARD_COL in out.columns
        if self._filter is not None:
            # derived shard predicate FIRST (hits PartitionFilters), exact
            # CNF re-check second — the reference's candidates+recheck order
            if sharded and self._shard_fmt:
                sp = _shard_predicate(self._filter, self._shard_fmt)
                if sp is not None:
                    out = out.filter(sp)
            out = self._filter.apply(out, time_col=TIME_COL)
        if sharded:
            out = out.drop(SHARD_COL)
        return out

    @property
    def fields(self) -> list[str]:
        """Schema field list incl. implicit time at position 0
        (reference `src/tdb.c:142-227`, time is field 0)."""
        return [TIME_COL] + [c for c in self._raw.columns if c not in RESERVED]

    # -- metadata (reference src/tdb.c:677-700, computed at encode) --------
    def info(self) -> TrailInfo:
        row = self.df.agg(
            F.countDistinct(UUID_COL).alias("nt"),
            F.count(F.lit(1)).alias("ne"),
            F.min(TIME_COL).alias("mn"),
            F.max(TIME_COL).alias("mx"),
        ).first()
        return TrailInfo(
            num_trails=row["nt"] or 0,
            num_events=row["ne"] or 0,
            min_timestamp=row["mn"] or 0,
            max_timestamp=row["mx"] or 0,
            fields=self.fields,
        )

    def num_trails(self) -> int:
        return self.df.select(UUID_COL).distinct().count()

    def num_events(self) -> int:
        return self.df.count()

    def lexicon_size(self, field: str, exact: bool = True) -> int:
        """Distinct values of a field, +1 for the implicit NULL
        (reference `src/tdb.c:455-465`). At 100 TB pass exact=False for
        HLL ``approx_count_distinct`` (2% default error, no giant shuffle).
        """
        col = F.coalesce(F.col(field).cast("string"), F.lit(""))
        agg = (
            F.countDistinct(F.nullif(col, F.lit("")))
            if exact
            else F.approx_count_distinct(F.nullif(col, F.lit("")))
        )
        n = self.df.agg(agg.alias("n")).first()["n"]
        return int(n) + 1

    def lexicon(self, field: str) -> DataFrame:
        """The field's distinct non-empty values (reference lexicon,
        `src/tdb.c:106-140`), as a DataFrame — never collected."""
        col = F.coalesce(F.col(field).cast("string"), F.lit("")).alias("value")
        return self.df.select(col).where(F.col("value") != "").distinct()

    def lexicon_dump(self, fields: list[str] | None = None) -> DataFrame:
        """Full lexicon enumeration with item ids — the reference's
        `tdb_get_item_value`/`tdb_get_item` mapping (`src/tdb.c:467-524`)
        as a queryable table ``(field, value, item_id)``.

        Item id 0 is the reserved NULL/'' item for every field
        (`src/tdb.c:488-495`); real values get dense ids ≥ 1. Deviation
        (documented): the reference numbers values by first-insertion
        order during encode — an artifact of its single-writer
        constructor; here ids are assigned in lexicographic value order,
        which is deterministic under any parallel ingest.

        Scale: ONE scan of the event table regardless of field count —
        fields are stacked via explode(array(struct(field, value))) and
        collapsed by a single map-side-combined distinct on (field, value)
        (the reference reads each lexicon file O(1); a per-field loop here
        would be F full scans — 50 scans at 100 TB × 50 fields). The
        dense_rank window runs on the already-distinct, lexicon-sized
        result, never event-sized (proof:
        ``test_plans.py::test_lexicon_dump_single_scan``).
        """
        if fields is None:
            fields = [f for f in self.fields if f != TIME_COL]
        if not fields:
            # zero-field dataset (legal: reference zero_fields.c) → empty
            # lexicon table, stable schema
            return self.df.sparkSession.createDataFrame(
                [], "field string, value string, item_id long"
            )
        stacked = self.df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(f).alias("field"),
                            F.coalesce(F.col(f).cast("string"), F.lit("")).alias(
                                "value"
                            ),
                        )
                        for f in fields
                    ]
                )
            ).alias("kv")
        )
        lexes = (
            stacked.select("kv.field", "kv.value")
            .where(F.col("value") != "")
            .distinct()
        )
        w = Window.partitionBy("field").orderBy("value")
        ranked = lexes.withColumn(
            "item_id", F.dense_rank().over(w).cast("long")
        )
        nulls = (
            self.df.sparkSession.createDataFrame(
                [(f,) for f in fields], "field string"
            )
            .select("field", F.lit("").alias("value"), F.lit(0).cast("long").alias("item_id"))
        )
        return ranked.unionAll(nulls)

    # -- selection ---------------------------------------------------------
    def select_uuids(self, uuids: list[str] | DataFrame) -> "TrailDataset":
        """Reference ``--uuids`` whitelist (`tdbcli/filter.c:142-243`).

        The whitelist applies to BOTH layouts (primary and z-index copy)
        so a later ``with_filter`` may still route to the index without
        losing the trail restriction."""
        if not isinstance(uuids, DataFrame):
            uuids = list(uuids)
        return TrailDataset(
            uuid_whitelist(self._raw, uuids, UUID_COL),
            self._filter,
            shard_fmt=self._shard_fmt,
            zindex=self._zsource,
            zuuids=self._zuuids + (uuids,),
        )

    def trail(self, uuid: str) -> DataFrame:
        """One trail, time-ascending (reference ``tdb_get_trail`` +
        cursor loop, `src/tdb_decode.c:122-217`). Not a binary search:
        each hash-clustered file spans the whole uuid range, so min/max
        stats rarely skip a file or row group and the lookup reads every
        file (see the module docstring and the layout item in
        ROADMAP.md)."""
        return self.df.filter(F.col(UUID_COL) == uuid.lower()).orderBy(TIME_COL)

    # -- merge (reference tdb_cons_append / tdb merge, SURVEY §2.4) --------
    @staticmethod
    def merge(datasets: list["TrailDataset"]) -> "TrailDataset":
        """UNION ALL with schema union; missing fields become ''
        (reference `tdbcli/op_merge.c:21-186`: union of field names, empty
        values for missing; duplicates preserved —
        `tests/tdbcli/test_tdbcli.py:248-259`).

        When every input shares the same time-shard format, the merged
        view KEEPS the shard column and format, so a time-range filter on
        the merged view still prunes Hive partitions in every underlying
        scan (the reference's daily-tdb union stays day-prunable); mixed
        or absent formats fall back to the plain union.
        """
        fmts = {d._shard_fmt for d in datasets}
        fmt = next(iter(fmts)) if len(fmts) == 1 else None
        if fmt and all(SHARD_COL in d._raw.columns for d in datasets):
            dfs = []
            for d in datasets:
                out = d._raw
                if d._filter is not None:
                    sp = _shard_predicate(d._filter, fmt)
                    if sp is not None:
                        out = out.filter(sp)
                    out = d._filter.apply(out, time_col=TIME_COL)
                dfs.append(out)
        else:
            fmt = None
            dfs = [d.df for d in datasets]
        merged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)
        value_cols = [c for c in merged.columns if c not in RESERVED]
        merged = merged.fillna("", subset=value_cols)
        return TrailDataset(merged, shard_fmt=fmt)

    def append(self, other: "TrailDataset") -> "TrailDataset":
        """Reference ``tdb_cons_append`` (`src/tdb_cons.c:574-657`)."""
        return TrailDataset.merge([self, other])

    def extract(self, f: EventFilter) -> "TrailDataset":
        """Materialized-view path (reference filtered append,
        `src/tdb_cons.c:418-481`, technical_overview.md:198-217). On a
        sharded dataset the filter's pure-time clauses prune partitions
        before the exact re-check, same as the ``df`` path."""
        out = self._raw
        if SHARD_COL in out.columns and self._shard_fmt:
            sp = _shard_predicate(f, self._shard_fmt)
            if sp is not None:
                out = out.filter(sp)
        return TrailDataset(
            f.apply(out, time_col=TIME_COL), shard_fmt=self._shard_fmt
        )

    # -- finalize (reference tdb_cons_finalize 7-stage encode, §2.1 S11) ---
    def finalize(
        self,
        path: str,
        num_buckets: int | None = None,
        time_shard: str | None = None,
        mode: str = "error",
    ) -> None:
        """Write the immutable, query-optimized snapshot.

        Reference pipeline (group by uuid → time-sort → compress,
        `src/tdb_encode.c:399-569`) becomes: shuffle-cluster by uuid,
        sort (uuid, time) within partitions, write Parquet (dictionary +
        RLE + compression replace the custom Huffman stages — SURVEY §4
        non-goals). The sorted clustered layout gives Parquet row-group
        min/max pruning the same effect as the reference's inverted index
        and uuid binary search.

        ``time_shard``: optional 'yyyy-MM-dd'-style partition column formula
        replicating the reference's "daily tdb" deployment pattern
        (`doc/docs/index.md:43-45`) — enables partition pruning on time.
        The format is recorded in a ``_traildb_meta.json`` sidecar so
        ``open()`` can translate time-range filters into partition
        predicates; use a lexicographically monotonic pattern
        (year-first, e.g. 'yyyy-MM-dd' or 'yyyy-MM-dd-HH').

        The sidecar also records the data-column schema, taken from the
        DataFrame being written (no read-back, no job), so ``open()``
        needs no schema inference. ``mode="ignore"`` on an existing path
        writes nothing and leaves the sidecar alone; ``mode="append"`` to
        an existing path (and a dynamic partition overwrite) keeps the
        sidecar's other entries but drops its schema, which the files
        may no longer match, so ``open()`` infers it again.
        """
        df = self.df
        spark = df.sparkSession
        mode = mode.lower()
        # these writes keep the files already at the path
        keeps_files = mode == "append" or (
            mode == "overwrite"
            and bool(time_shard)
            and spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
            == "dynamic"
        )
        existed = (mode == "ignore" or keeps_files) and fsutil.exists(spark, path)
        if mode == "ignore" and existed:
            return
        writer_df = df
        n = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
        if time_shard:
            writer_df = df.withColumn(
                SHARD_COL, _shard_expr(F.col(TIME_COL), time_shard)
            )
            (
                writer_df.repartition(n, F.col(SHARD_COL), F.col(UUID_COL))
                .sortWithinPartitions(SHARD_COL, UUID_COL, TIME_COL)
                .write.mode(mode)
                .partitionBy(SHARD_COL)
                .parquet(path)
            )
        else:
            (
                writer_df.repartition(n, F.col(UUID_COL))
                .sortWithinPartitions(UUID_COL, TIME_COL)
                .write.mode(mode)
                .parquet(path)
            )
        meta_path = f"{path}/{META_FILE}"
        if keeps_files and existed:
            raw = fsutil.read_small(spark, meta_path)
            if raw is None and not time_shard:
                return  # no sidecar to keep in step with the files
            meta = json.loads(raw or "{}")
            meta.pop("schema", None)
        else:
            meta = {"schema": _schema_json(df.schema)}
        if time_shard:
            meta.update(time_shard=time_shard, timezone="UTC")
        fsutil.write_small(spark, meta_path, json.dumps(meta))

    def save_bucketed_table(
        self, name: str, num_buckets: int = 32, mode: str = "errorifexists"
    ) -> None:
        """Write the dataset as a catalog table bucketed by uuid and sorted
        by (uuid, time) — the layout that makes every per-trail operation
        and every uuid-join SHUFFLE-FREE: two tables bucketed the same way
        join with zero Exchange, and groupBy(uuid) aggregates read
        pre-clustered buckets (asserted in
        `test_plans.py::test_bucketed_table_join_no_shuffle`).

        This is the cluster deployment form of ``finalize``: same
        clustering, but recorded in catalog metadata so Catalyst can PROVE
        co-location to the planner instead of re-shuffling defensively.
        Requires a catalog (any metastore, or Spark's built-in in-memory
        catalog locally); the directory layout from ``finalize`` remains
        the catalog-free equivalent.
        """
        (
            self.df.write.mode(mode)
            .bucketBy(num_buckets, UUID_COL)
            .sortBy(UUID_COL, TIME_COL)
            .saveAsTable(name)
        )

    def save_zordered(
        self,
        path: str,
        cols: list[str],
        buckets_per_col: int = 16,
        mode: str = "error",
        max_lexicon: int = 4096,
        parquet_block_bytes: int | None = None,
    ) -> None:
        """Write an AUXILIARY Z-ordered copy for multi-predicate pruning —
        the analog of the reference's optional inverted-index artifact
        (`tdbcli/tdb_index.c:25-124`): a second, read-optimized layout
        next to the trail-clustered primary, built for CNF filters over
        non-uuid columns. A single-column sort gives row-group min/max
        pruning only on its leading column; interleaving the bucket ids
        of ``cols`` into a Morton key and range-sorting by it bounds
        every z-ordered column's spread within each row group, so a
        conjunctive filter skips row groups on ALL of them at once.

        Bucket ids are rank-based, never raw values: numeric columns cut
        at sampled quantiles (``approxQuantile`` — driver cost is the
        cut list, robust to skew), string columns rank through their
        sorted lexicon (bounded by distinct values, the reference's
        lexicon concept, `src/tdb.c:106-140`) with a hash fallback above
        ``max_lexicon`` distinct values. Both are metadata-scale driver
        steps; the data itself takes exactly one range shuffle.

        ``parquet_block_bytes`` tunes row-group granularity (pruning
        resolution); leave None for the Parquet default at deployment.
        """
        import math

        bits = max(1, int(math.log2(buckets_per_col)))
        nb = 1 << bits
        df = self.df
        dtypes = dict(df.dtypes)
        numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        buckets: list[Column] = []
        for c in cols:
            if dtypes[c] in numeric or dtypes[c].startswith("decimal"):
                qs = [i / nb for i in range(1, nb)]
                cuts = sorted(set(df.stat.approxQuantile(c, qs, 0.01)))
                buckets.append(
                    reduce(
                        lambda acc, cut: acc
                        + F.when(F.col(c) >= F.lit(cut), 1).otherwise(0),
                        cuts,
                        F.lit(0),
                    ).cast("long")
                )
            else:
                lex = [
                    r[0]
                    for r in df.select(c)
                    .distinct()
                    .orderBy(c)
                    .limit(max_lexicon + 1)
                    .collect()
                ]
                if len(lex) > max_lexicon:
                    buckets.append(F.pmod(F.xxhash64(F.col(c)), F.lit(nb)))
                else:
                    pos = F.array_position(
                        F.array(*[F.lit(v) for v in lex]), F.col(c)
                    )
                    # array_position is 1-based, 0 when absent -> clamp to 0
                    buckets.append(
                        F.greatest(
                            F.lit(0).cast("long"),
                            F.floor((pos - 1) * nb / len(lex)),
                        )
                    )
        # Morton interleave: bit j of column i lands at j*ncols + i
        terms = []
        for bit in range(bits):
            for ci, b in enumerate(buckets):
                terms.append(
                    F.shiftleft(
                        F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                        bit * len(buckets) + ci,
                    )
                )
        z = reduce(lambda a, t: a + t, terms)
        n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        writer = (
            df.withColumn("__z", z)
            .repartitionByRange(n, F.col("__z"))
            .sortWithinPartitions("__z", TIME_COL)
            .drop("__z")
            .write.mode(mode)
        )
        if parquet_block_bytes:
            writer = writer.option("parquet.block.size", int(parquet_block_bytes))
        writer.parquet(path)

    @staticmethod
    def build_index(
        spark: SparkSession,
        db_path: str,
        cols: list[str],
        buckets_per_col: int = 16,
        parquet_block_bytes: int | None = None,
    ) -> str:
        """``tdb index`` (reference `tdbcli/tdb_index.c:721-779`): build the
        optional auxiliary index artifact for an existing finalized dataset
        and register it for auto-discovery.

        Writes a z-ordered copy of the dataset under ``<db>/_zindex``
        (the underscore prefix keeps it invisible to the primary scan,
        like the reference's separate ``<db>/index`` file) and records
        ``{"zindex": {"path": "_zindex", "columns": [...], ...}}`` in the
        ``_traildb_meta.json`` sidecar so ``open()`` discovers it
        (reference auto-discovery, `tdbcli/tdb_index.c:637-662`) and the
        ``df`` router sends covered CNF filters to it. Returns the index
        path. Rebuilding overwrites the previous index.
        """
        ds = TrailDataset.open(spark, db_path, use_index=False)
        missing = [c for c in cols if c not in ds._raw.columns]
        if missing:
            raise ValueError(f"index columns not in schema: {missing}")
        zpath = f"{db_path}/{ZINDEX_DIR}"
        ds.save_zordered(
            zpath,
            cols,
            buckets_per_col=buckets_per_col,
            mode="overwrite",
            parquet_block_bytes=parquet_block_bytes,
        )
        meta_path = f"{db_path}/{META_FILE}"
        raw = fsutil.read_small(spark, meta_path)
        meta = json.loads(raw) if raw is not None else {}
        meta["zindex"] = {
            "path": ZINDEX_DIR,
            "columns": list(cols),
            # the copy holds the primary's columns; open() reads it with
            # this schema instead of inferring one
            "schema": _schema_json(ds._raw.schema),
            # ties the index to THIS data: open() drops the index when
            # the primary's files change (stale-index guard)
            "data_fingerprint": _data_fingerprint(spark, db_path),
        }
        fsutil.write_small(spark, meta_path, json.dumps(meta))
        return zpath


PACKAGE_MANIFEST = "_tdbx_manifest.json"


def export_package(dataset_path: str, out_path: str) -> str:
    """Single-file package of a finalized dataset (reference S3/S4
    ergonomics, `src/tdb_cons_package.c:24-34`): one uncompressed ustar
    tar — `.tdbx` — holding the dataset directory verbatim (parquet
    parts, `_traildb_meta.json` sidecar, z-index, shard dirs) plus a
    leading manifest member recording every file's (path, size) so
    import can verify nothing was truncated in transit. Parquet is
    already compressed, so the tar adds framing only; the payload
    stays byte-identical and mmap/range-readable by offset.

    Local-filesystem paths (the workflow is "hand someone one file");
    datasets on hdfs://s3a:// should be copied down first — the package
    is a transport container, not a query target."""
    import tarfile

    if not os.path.isdir(dataset_path):
        raise FileNotFoundError(f"no dataset directory at {dataset_path}")
    files = []
    for root, _dirs, names in os.walk(dataset_path):
        for name in sorted(names):
            if name.startswith("."):
                # filesystem-local artifacts (Hadoop .crc siblings,
                # editor droppings) — fresh ones regenerate on write,
                # and a packaged .crc would go stale the moment import
                # re-ties the sidecar fingerprint
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, dataset_path)
            files.append((rel, os.path.getsize(full)))
    files.sort()
    manifest = json.dumps(
        {"format": "tdbx/1", "files": files}, sort_keys=True
    ).encode()
    with tarfile.open(out_path, "w", format=tarfile.USTAR_FORMAT) as tf:
        import io as _io

        mi = tarfile.TarInfo(PACKAGE_MANIFEST)
        mi.size = len(manifest)
        tf.addfile(mi, _io.BytesIO(manifest))
        for rel, _size in files:
            tf.add(os.path.join(dataset_path, rel), arcname=rel,
                   recursive=False)
    return out_path


def import_package(spark: SparkSession, package_path: str,
                   out_dir: str) -> str:
    """Extract a `.tdbx` package into ``out_dir`` and verify every
    member against the manifest (path + size). Tar stores mtimes at
    second precision while the z-index fingerprint uses milliseconds,
    so a recorded index fingerprint is recomputed against the extracted
    files — index and data came from the same package, so re-tying them
    is sound (the alternative is a guaranteed false-stale warning on
    every import)."""
    import tarfile

    with tarfile.open(package_path, "r") as tf:
        names = tf.getnames()
        if PACKAGE_MANIFEST not in names:
            raise ValueError(
                f"{package_path} is not a tdbx package (no manifest)"
            )
        manifest = json.loads(
            tf.extractfile(PACKAGE_MANIFEST).read().decode()
        )
        os.makedirs(out_dir, exist_ok=True)
        members = [m for m in tf.getmembers()
                   if m.name != PACKAGE_MANIFEST]
        tf.extractall(out_dir, members=members, filter="data")
    expected = {rel: size for rel, size in manifest["files"]}
    for rel, size in expected.items():
        full = os.path.join(out_dir, rel)
        if not os.path.isfile(full) or os.path.getsize(full) != size:
            raise ValueError(
                f"package member {rel!r} missing or truncated after "
                "extraction — refusing a partial dataset"
            )
    extra = []
    for root, _dirs, names in os.walk(out_dir):
        for name in names:
            rel = os.path.relpath(os.path.join(root, name), out_dir)
            if rel not in expected:
                extra.append(rel)
    if extra:
        raise ValueError(
            f"package extracted unmanifested files {sorted(extra)[:5]} — "
            "refusing (out_dir must start empty)"
        )
    # re-tie the z-index to the extracted files' fingerprint
    meta_path = os.path.join(out_dir, META_FILE)
    if os.path.isfile(meta_path):
        with open(meta_path, "r", encoding="utf-8") as f:
            meta = json.load(f)
        if meta.get("zindex"):
            meta["zindex"]["data_fingerprint"] = _data_fingerprint(
                spark, out_dir
            )
            with open(meta_path, "w", encoding="utf-8") as f:
                json.dump(meta, f, sort_keys=True)
            crc = os.path.join(out_dir, f".{META_FILE}.crc")
            if os.path.exists(crc):  # now-stale Hadoop checksum sibling
                os.remove(crc)
    return out_dir


def compact_shards(
    spark: SparkSession,
    path: str,
    shards: list[str] | None = None,
    num_buckets: int | None = None,
) -> list[str]:
    """Re-finalize CLOSED time shards of a sharded dataset in place.

    ``streaming.ingest.streaming_finalize`` clusters per micro-batch, so a
    shard that received many batches holds many small uuid-runs; queries
    stay correct but lose row-group pruning sharpness and pay small-file
    overhead. Compaction rewrites a whole shard as one uuid-clustered,
    (uuid, time)-sorted file set — the reference's immutable daily
    re-encode (doc/docs/index.md:43-45), applied per shard instead of per
    database so 100 TB of history is never rewritten to absorb one day.

    Only compact shards no longer receiving appends (older than the
    stream's watermark): the swap is not concurrency-safe against an
    in-flight write to the SAME shard. Returns the shard values rewritten.

    Crash safety: the two-rename swap has one unavoidable window (shard
    renamed away, replacement not yet in place). Every call therefore
    RECOVERS first — a leftover ``.compact.<shard>.old`` with no live
    shard dir is restored before anything else, so a crashed compaction
    self-heals on retry instead of leaving the shard invisible.

    All filesystem operations go through the Hadoop FileSystem API
    resolved from the path's own scheme, so file://, hdfs:// and
    committer-backed object stores behave identically (same contract as
    ``streaming.ingest._finalize_batch``). Hadoop ``rename`` reports
    failure by RETURNING false — every rename here raises on false,
    because continuing past a failed swap would drop or shadow a shard.
    """
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())

    def _rename(src, dst) -> None:
        if not fs.rename(src, dst):
            raise IOError(f"compact_shards: rename {src} -> {dst} failed")

    if shards is None:
        shards = sorted(
            st.getPath().getName().split("=", 1)[1]
            for st in fs.listStatus(hpath(path)) or []
            if st.isDirectory()
            and st.getPath().getName().startswith(f"{SHARD_COL}=")
        )
    n = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    done: list[str] = []
    for shard in shards:
        shard_dir = hpath(f"{path}/{SHARD_COL}={shard}")
        tmp_dir = hpath(f"{path}/.compact.{shard}.tmp")
        old_dir = hpath(f"{path}/.compact.{shard}.old")
        # recover a previous crash: backup exists and the live dir is
        # gone → restore the backup (its content is the pre-compaction
        # truth); stale tmp dirs are always safe to drop
        if fs.exists(old_dir) and not fs.exists(shard_dir):
            _rename(old_dir, shard_dir)
        if fs.exists(tmp_dir):
            fs.delete(tmp_dir, True)
        if fs.exists(old_dir):
            fs.delete(old_dir, True)
        (
            spark.read.parquet(shard_dir.toString())
            .repartition(n, F.col(UUID_COL))
            .sortWithinPartitions(UUID_COL, TIME_COL)
            .write.mode("overwrite")
            .parquet(tmp_dir.toString())
        )
        _rename(shard_dir, old_dir)
        _rename(tmp_dir, shard_dir)
        fs.delete(old_dir, True)
        done.append(shard)
    return done


def diff_datasets(
    a: DataFrame,
    b: DataFrame,
    uuid_col: str = "uuid",
    fields: list[str] | None = None,
) -> DataFrame:
    """Trail-level dataset diff — the operational "did the
    migration/compaction/merge preserve everything" check, i.e. the
    reference's what-you-write-you-get-back test
    (`tests/c-tests/what_you_write_you_get_back.c`) as a distributed
    operator over two live datasets. Returns one row per uuid present in
    either side: ``(uuid, n_a, n_b, fp_a, fp_b, match)`` where the
    fingerprint is an order-insensitive multiset digest of the trail's
    events: SUM over events of the 60-bit md5 of the canonical
    ``time|field1|field2…`` string, reduced mod 2^60 via decimal
    arithmetic (portable: no int64 overflow, additive — so map-side
    combinable — and duplicate-sensitive, unlike XOR which cancels
    repeated events pairwise).

    Scale: one map-side-combined aggregate per side keyed on uuid, one
    full-outer join on uuid. Nothing trail-sized ever materializes.
    """
    # derive the field list ONCE (sorted for determinism): computing it
    # per-side would hash columns in each side's own order, flagging
    # column-order differences as data differences
    if fields is None:
        fields = sorted(
            set(a.columns).intersection(b.columns) - {uuid_col}
        )
        if not fields:
            raise ValueError("diff_datasets: no common fields to digest")

    from .functions.core import md5_60

    def digest(df: DataFrame, nc: str, fc: str) -> DataFrame:
        cols = fields
        # length-prefix every field ('len:value') so the canonical string
        # segments unambiguously: a bare '|' join would collide
        # ('x|y','z') with ('x','y|z') and report match=True for trails
        # whose contents differ
        canon = F.concat_ws(
            "|",
            *[
                F.concat(
                    F.length(F.coalesce(F.col(c).cast("string"), F.lit(""))).cast("string"),
                    F.lit(":"),
                    F.coalesce(F.col(c).cast("string"), F.lit("")),
                )
                for c in cols
            ],
        )
        fp = md5_60(canon).cast("decimal(38,0)")
        # 2^60: the md5-prefix value space; decimal sum never overflows
        return df.groupBy(F.col(uuid_col).alias("uuid")).agg(
            F.count(F.lit(1)).alias(nc),
            (F.sum(fp) % F.lit(1152921504606846976).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias(fc),
        )
    da = digest(a, "n_a", "fp_a")
    db_ = digest(b, "n_b", "fp_b")
    # null-safe join key: a NULL-uuid trail present identically on both
    # sides must compare as ONE matching trail, not two spurious
    # mismatches (plain equi-joins never match NULL keys, which would
    # make `tdb diff` exit non-zero on identical datasets)
    out = da.join(
        db_, da["uuid"].eqNullSafe(db_["uuid"]), "full_outer"
    ).select(
        F.coalesce(da["uuid"], db_["uuid"]).alias("uuid"),
        "n_a", "n_b", "fp_a", "fp_b",
    )
    return out.select(
        "uuid",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce(F.col("fp_a").cast("string"), F.lit("")).alias("fp_a"),
        F.coalesce(F.col("fp_b").cast("string"), F.lit("")).alias("fp_b"),
        (
            (F.coalesce("n_a", F.lit(0)) == F.coalesce("n_b", F.lit(0)))
            & (
                F.coalesce(F.col("fp_a").cast("string"), F.lit(""))
                == F.coalesce(F.col("fp_b").cast("string"), F.lit(""))
            )
        ).alias("match"),
    )


def make_patch(
    a: DataFrame,
    b: DataFrame,
    uuid_col: str = "uuid",
    changed_only: bool = True,
) -> DataFrame:
    """Row-level CDC patch turning multiset ``a`` into multiset ``b`` —
    the constructive companion of :func:`diff_datasets` (which only
    REPORTS divergence) and the incremental alternative to the
    reference's immutable full re-encode (`doc/docs/index.md:43-45`):
    ship the patch, not the dataset. Returns ``a``'s columns plus
    ``__op``: '-' rows to delete (one row cancels ONE occurrence —
    multiset semantics via ``exceptAll``) and '+' rows to insert.
    Contract (tested): ``apply_patch(a, make_patch(a, b)) ≡ b`` as a
    multiset.

    Scale: a bare two-way ``exceptAll`` shuffles BOTH full datasets on
    all columns. ``changed_only=True`` (default) first runs the
    uuid-level digest diff — one map-side-combined aggregate per side —
    and narrows both sides to trails whose digests differ before the
    row-level diff, so the all-columns shuffle carries only the changed
    trails' events: the standard two-phase CDC narrowing, and the form
    that survives a 100 TB pair where a daily delta touches <1% of
    trails."""
    if set(a.columns) != set(b.columns):
        raise ValueError(
            f"make_patch: schemas differ: {sorted(a.columns)} vs {sorted(b.columns)}"
        )
    b = b.select(*a.columns)
    from .operators.dedup import _materialize

    if changed_only:
        # changed feeds TWO semi-joins and each narrowed side feeds TWO
        # exceptAll consumers; unpersisted, the digest aggregate ran
        # twice and each side's corpus scan ran four times (plan audit:
        # 16 parquet scans for one q112 call). changed is uuid-sized and
        # the narrowed sides are the <1%-of-trails delta by design, so
        # both are safe to pin at any corpus scale.
        changed = _materialize(
            diff_datasets(a, b, uuid_col)
            .filter(~F.col("match"))
            .select(F.col("uuid").alias(uuid_col))
        )
        # NULL-uuid rows can never pass a semi-join (NULL keys don't
        # equi-join), so they'd silently vanish from the patch even when
        # the sides differ — carry them through unconditionally; the
        # exceptAll ignores them when they're identical anyway
        a = _materialize(
            a.join(changed, uuid_col, "left_semi").unionByName(
                a.filter(F.col(uuid_col).isNull())
            )
        )
        b = _materialize(
            b.join(changed, uuid_col, "left_semi").unionByName(
                b.filter(F.col(uuid_col).isNull())
            )
        )
    dels = a.exceptAll(b).withColumn("__op", F.lit("-"))
    ins = b.exceptAll(a).withColumn("__op", F.lit("+"))
    return dels.unionByName(ins)


def apply_patch(
    base: DataFrame, patch: DataFrame
) -> DataFrame:
    """Apply a :func:`make_patch` patch: delete each '-' row's ONE
    occurrence (multiset ``exceptAll``), then append the '+' rows.
    Deletes that match nothing are ignored (exceptAll semantics) —
    patches are idempotent only against the dataset they were made
    from, so pair them with ``diff_datasets`` as the post-apply check.
    """
    if "__op" not in patch.columns:
        raise ValueError("apply_patch: patch must carry the __op column")
    cols = [c for c in patch.columns if c != "__op"]
    dels = patch.filter(F.col("__op") == "-").select(*cols)
    ins = patch.filter(F.col("__op") == "+").select(*cols)
    return base.select(*cols).exceptAll(dels).unionByName(ins)


def dataset_file_stats(spark: SparkSession, path: str) -> DataFrame:
    """Small-file diagnostic for a finalized/streamed dataset — the
    advisor in front of :func:`compact_shards`: per top-level shard (or
    ``(root)`` for unsharded layouts), file count, total bytes, and the
    min/mean/max file size. A shard whose mean file size is far below
    the HDFS-block/row-group sweet spot (~128 MB) is paying per-file
    open cost on every scan — the streaming-finalize accumulation
    pattern this report exists to catch.

    Pure metadata: one Hadoop FS listing per visible directory
    (`fsutil.list_data_files` — the same primary-data-file rules as the
    fingerprint, so hidden/index subtrees never skew the stats),
    file-count-sized driver state, scheme-agnostic (file://, hdfs://,
    s3a://). Returns a DataFrame for composability with the rest of the
    reporting surface.
    """
    from . import fsutil

    rows: dict[str, list[int]] = {}
    for rel, size, _mtime in fsutil.list_data_files(spark, path):
        parts = rel.split("/")
        shard = parts[0] if len(parts) > 1 and "=" in parts[0] else "(root)"
        rows.setdefault(shard, []).append(size)
    data = [
        (
            shard,
            len(sizes),
            int(sum(sizes)),
            int(min(sizes)),
            int(sum(sizes) // len(sizes)),
            int(max(sizes)),
        )
        for shard, sizes in sorted(rows.items())
    ]
    return spark.createDataFrame(
        data,
        "shard string, n_files long, total_bytes long, "
        "min_bytes long, mean_bytes long, max_bytes long",
    )

"""LakeTable — a from-scratch transactional table format over parquet.

The sandbox image carries no Iceberg/Delta jars, so the engine
implements the snapshot-transaction semantics the north rule requires
(exactly-once commits, schema evolution, time travel, bucketed layout)
directly: immutable parquet data files + JSON snapshot manifests +
atomic optimistic commits. The reference's sink is a blind
``write.mode("overwrite").parquet`` (reference
DBpediaTKGExtractionSpark.scala:44) — this class is precisely what
replaces it.

Design (Iceberg-style, metadata tiny and O(#files)):

```
<root>/
  _meta/v00000000000000000001.json   # snapshot manifest (one per commit)
  _meta/v00000000000000000002.json
  data/c2-<uuid>/_bucket=K/part-*.parquet
```

* A **manifest** lists the exact data files of the snapshot, the
  authoritative schema, the partition spec, a free-form ``summary``
  and a ``watermarks`` map (stream-id → last applied epoch) used for
  epoch fencing by the streaming sink.
* **Atomic commit**: the manifest is written to a temp file and
  published with ``os.link`` — creating ``v{n}.json`` fails with
  ``FileExistsError`` if another writer committed version *n* first
  (optimistic concurrency). Data files written before a failed commit
  are unreferenced orphans, removable by ``vacuum``.
* **Base-manifest commits**: every public operation reads the head
  manifest once, works only from that dict, and commits first on
  ``base.version + 1``. Versions are dense, so a commit made since the
  base already holds that slot and the publish fails; only then is the
  head re-read (Iceberg's "write against base, refresh on conflict").
* **Bucketed layout**: rows are hash-bucketed on a key column
  (reference analog: ``repartition(parts, $"pid")`` replay layout,
  FlatPageRevisionPartitioner.scala:22-24). Every data file belongs to
  exactly one bucket, so MERGE rewrites only the buckets its source
  keys touch — the copy-on-write unit is a bucket, not the table.
* **Schema evolution**: the manifest schema is authoritative; readers
  pass it to the parquet scan explicitly, so files written before an
  ``add_columns`` commit surface the new columns as NULL (by-name
  column resolution), exactly Iceberg's add-column semantics.

Scale: all driver-side metadata is O(number of data files) JSON; all
data movement is distributed Spark jobs. At 1000 executors the commit
protocol is unchanged — only the manifest store would move from local
fs to an object store with a conditional-put (the ``os.link`` here is
the same primitive).
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_DIR = "_meta"
DATA_DIR = "data"


class CommitConflict(Exception):
    """Another writer committed the same version first."""


@dataclass(frozen=True)
class BucketSpec:
    column: str
    buckets: int = 16

    def expr(self) -> F.Column:
        return _bucket_expr(_jvm(), self.column, self.buckets)

    def to_json(self) -> dict:
        return {"column": self.column, "buckets": self.buckets}

    @staticmethod
    def from_json(d: dict | None) -> "BucketSpec | None":
        return BucketSpec(d["column"], d["buckets"]) if d else None


def _jvm():
    """The gateway's JVM view: the first key of every schema-keyed
    expression builder (``_bucket_expr``, ``_lww_exprs``,
    ``_tombstone_exprs``, ``lake.merge._delta_exprs``,
    ``cdc.pipeline._batch_exprs``). Building
    a Column costs py4j round trips per node, and a streaming epoch's
    trees depend only on its schemas, so each builder is a bounded
    ``lru_cache`` on the JVM view plus hashable schema inputs (JSON
    strings, name tuples): a new gateway is a new key, where an ``id()``
    could be reused. Builders return only unbound trees
    (``F.col``/``F.lit``/``F.*``), never a Column bound to a DataFrame."""
    return SparkContext._jvm


@functools.lru_cache(maxsize=64)
def _bucket_expr(jvm, column: str, buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(F.col(column)), F.lit(buckets)).cast("int")


@functools.lru_cache(maxsize=8)
def _tombstone_exprs(jvm) -> tuple[F.Column, F.Column]:
    """The tombstone flag (``_deleted``, NULL read as false) and its
    negation, the live-row filter."""
    tombstone = F.coalesce(F.col("_deleted"), F.lit(False))
    return tombstone, ~tombstone


#: Spark's ``xxhash64`` seed (the ``XxHash64`` expression's default)
_XXHASH64_SEED = 42
_INT_BITS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32, T.LongType: 64}


@functools.lru_cache(maxsize=1)
def _hash_classes(jvm):
    """Catalyst's ``XXH64`` and ``UTF8String`` classes, resolved once
    per gateway: a py4j class lookup makes JVM round trips that cost
    several times the hash call itself."""
    return (
        jvm.org.apache.spark.sql.catalyst.expressions.XXH64,
        jvm.org.apache.spark.unsafe.types.UTF8String,
    )


def _bucket_of(spark: SparkSession, column_type: T.DataType, value, n_buckets: int) -> int | None:
    """The bucket ``BucketSpec.expr`` gives a row whose bucket column
    equals ``value``: ``pmod(xxhash64(value), n_buckets)``, computed on
    the driver by Catalyst's own ``XXH64`` over py4j, with no Spark job.
    Strings hash as UTF-8 bytes; byte/short/int columns hash the value
    as a 4-byte int and long columns as an 8-byte long. ``None`` (no
    pruning) for any other column type, a string column under a
    non-default collation (its hash is collation-aware), or a value
    whose Python type is not exactly the column's (a ``bool`` or
    ``float`` against an int column, an out-of-range int)."""
    xxh, utf8 = _hash_classes(spark._jvm)
    if isinstance(column_type, T.StringType):
        if type(value) is not str or column_type.collation != "UTF8_BINARY":
            return None
        h = xxh.hashUTF8String(utf8.fromString(value), _XXHASH64_SEED)
    elif type(value) is int and type(column_type) in _INT_BITS:
        half = 1 << (_INT_BITS[type(column_type)] - 1)
        if not -half <= value < half:
            return None
        # instance methods: the static hashInt(int, long) overload does
        # not resolve over py4j
        hasher = xxh(_XXHASH64_SEED)
        h = hasher.hashLong(value) if isinstance(column_type, T.LongType) else hasher.hashInt(value)
    else:
        return None
    return h % n_buckets  # Python's % is pmod's non-negative remainder


def lww_fold(df: DataFrame, group_cols: list[str], order_col: str) -> DataFrame:
    """Last-writer-wins fold: one row per ``group_cols`` group, carrying
    the other columns of the row with the highest ``order_col``. Spark
    plans ``max_by(struct, …)`` as a sort aggregate: on a fresh input,
    a sort and a partial aggregate before the exchange and a sort and
    the final aggregate after it. The lake's single LWW fold: the
    merge and compaction (grouped on ``_bucket[, _salt]`` + keys, so
    the bucket layout exchange also serves the aggregation, and both
    aggregate steps run after it) and the read-time fold all call it."""
    others = tuple(c for c in df.columns if c not in group_cols)
    keys, winner, unpack = _lww_exprs(_jvm(), tuple(group_cols), others, order_col)
    return df.groupBy(*keys).agg(winner).select(*unpack)


@functools.lru_cache(maxsize=64)
def _lww_exprs(jvm, group_cols: tuple[str, ...], others: tuple[str, ...], order_col: str):
    """``lww_fold``'s group keys, ``max_by(struct)`` winner and unpack."""
    keys = tuple(F.col(c) for c in group_cols)
    winner = F.max_by(F.struct(*[F.col(c) for c in others]), F.col(order_col)).alias("_w")
    return keys, winner, (*keys, *(F.col(f"_w.{c}").alias(c) for c in others))


def _schema_of(man: dict) -> T.StructType:
    return T.StructType.fromJson(json.loads(man["schema"]))


def _stats_encode(v):
    """Footer min/max value → JSON-safe manifest form. Datetimes and
    decimals keep their type through a tagged dict (plain strings
    would compare as strings on decode). Type WHITELIST, not
    passthrough: pyarrow statistics can surface as bytes, time,
    Decimal or future types — anything unhandled returns None, which
    omits the column's bounds (= unknown, never pruned) instead of
    letting ``json.dump`` crash the COMMIT on an unserializable
    value."""
    import datetime
    import decimal

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return {"ts": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"d": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"dec": str(v)}
    return None  # bytes / time / unknown — no usable order here


def _stats_decode(v):
    import datetime
    import decimal

    if isinstance(v, dict):
        if "ts" in v:
            return datetime.datetime.fromisoformat(v["ts"])
        if "d" in v:
            return datetime.date.fromisoformat(v["d"])
        if "dec" in v:
            return decimal.Decimal(v["dec"])
    return v


def _cmp_key(v):
    """Normalize for bound comparison: pyarrow returns Spark-written
    TIMESTAMP_MICROS stats as tz-aware datetimes while callers usually
    pass naive (session-UTC) bounds — strip to naive UTC so the two
    compare instead of raising."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _file_meta(path: str, stats_cols: tuple[str, ...] = ()) -> tuple[int, dict]:
    """Row count plus per-column ``[min, max]`` bounds from the parquet
    footer — Iceberg's ``lower_bounds``/``upper_bounds``, harvested from
    statistics the writer already computed, so collecting them costs no
    data scan (the footer is being opened for the row count regardless).

    A column is recorded only if EVERY row group carries usable min/max
    for it; partial statistics would make the bound a lie, so the
    column is omitted instead (= unknown, never pruned). String bounds
    are trusted as written: the parquet spec requires truncated string
    stats to stay valid bounds (round-up on max), and the same stats
    drive Spark's own row-group pushdown."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if not stats_cols or md.num_row_groups == 0:
        return md.num_rows, {}
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats: dict = {}
    for c in stats_cols:
        i = idx.get(c)
        if i is None:
            continue
        lo = hi = None
        usable = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            # pyarrow RAISES (not returns None) for stat types it
            # cannot cast — e.g. ArrowNotImplementedError on decimal
            # columns. A stats column must never crash the COMMIT, so
            # any extraction failure degrades to "no bounds recorded"
            # (= unknown, never pruned), same as absent statistics.
            try:
                if st is None or not st.has_min_max:
                    usable = False
                    break
                mn, mx = st.min, st.max
            except Exception:
                usable = False
                break
            # NaN poisons bound folding silently: Spark's writer
            # records max=NaN for a NaN-bearing row group, but
            # `NaN > finite` is False here, so a later group's NaN
            # would fold AWAY to a finite max — and Spark's filter
            # semantics order NaN ABOVE every bound, so a lower-bound
            # range could then prune a file whose NaN rows the
            # residual filter keeps. Any NaN bound ⇒ no bounds
            # recorded for the file (kept forever — sound).
            if isinstance(mn, float) and (math.isnan(mn) or math.isnan(mx)):
                usable = False
                break
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        lo, hi = _stats_encode(lo), _stats_encode(hi)
        if usable and lo is not None and hi is not None:
            stats[c] = [lo, hi]
    return md.num_rows, stats


def _lt(a, b) -> bool:
    """``a < b`` as Spark's filter orders them: an int and a float
    compare as floats (Spark widens the long to double, so ``2**63 - 1``
    equals ``2.0**63`` there). Rounding to float is monotone, so a bound
    compared this way stays sound."""
    a, b = _cmp_key(a), _cmp_key(b)
    if {type(a), type(b)} == {int, float}:
        return float(a) < float(b)
    return a < b


def _file_in_ranges(fdesc: dict, ranges: dict) -> bool:
    """Keep-file decision for ``LakeTable.read(where_ranges=...)``:
    False only when the file's recorded bounds PROVE it disjoint from
    every requested range. Missing stats (old manifests, all-null
    chunks, uncollected columns) keep the file — unknown never prunes."""
    st = fdesc.get("stats") or {}
    for c, (lo, hi) in ranges.items():
        b = st.get(c)
        if not b:
            continue
        fmin, fmax = _stats_decode(b[0]), _stats_decode(b[1])
        try:
            if lo is not None and _lt(fmax, lo):
                return False
            if hi is not None and _lt(hi, fmin):
                return False
        except TypeError:
            raise ValueError(
                f"where_ranges[{c!r}] bound of type "
                f"{type(lo if lo is not None else hi).__name__} does not compare "
                f"with the column's parquet statistics ({type(fmin).__name__})"
            ) from None
    return True


def _arrow_type(dt: T.DataType):
    """Spark type → pyarrow type for the driver-side small-append path
    (flat scalar types only; Spark reads the file back by name against
    the manifest schema)."""
    import pyarrow as pa

    mapping = {
        T.StringType(): pa.string(),
        T.LongType(): pa.int64(),
        T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(),
        T.BooleanType(): pa.bool_(),
        T.TimestampType(): pa.timestamp("us", tz="UTC"),
    }
    try:
        return mapping[dt]
    except KeyError:
        raise TypeError(f"append_rows does not support column type {dt}") from None


class LakeTable:
    """Handle to one transactional table. Cheap to construct; all state
    lives on disk in the manifest chain."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, META_DIR)

    # ------------------------------------------------------------- DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        bucket: BucketSpec | None = None,
        properties: dict | None = None,
    ) -> "LakeTable":
        t = cls(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        if t.current_version() is not None:
            raise FileExistsError(f"table already exists at {root}")
        t._commit({
            "format_version": 1, "version": 1, "parent": None, "schema": schema.json(),
            "bucket": bucket.to_json() if bucket else None, "files": [], "dead_files": [],
            "summary": {"op": "create"}, "watermarks": {}, "properties": properties or {},
        })
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "LakeTable":
        t = cls(spark, root)
        if t.current_version() is None:
            raise FileNotFoundError(f"no table at {root}")
        return t

    # ----------------------------------------------------- manifest IO
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"v{version:020d}.json")

    def current_version(self) -> int | None:
        try:
            names = [n for n in os.listdir(self.meta_dir) if n.startswith("v") and n.endswith(".json")]
        except FileNotFoundError:
            return None
        if not names:
            return None
        return max(int(n[1:-5]) for n in names)

    def manifest(self, version: int | None = None) -> dict:
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        v = self.current_version() or 0
        return [self.manifest(i) for i in range(1, v + 1)]

    def version_at(self, ts) -> int:
        """Snapshot-as-of-timestamp resolution (Iceberg's ``FOR
        TIMESTAMP AS OF``): the latest version whose ``committed_at_ms``
        is <= ``ts``, for use as the ``version=`` argument of ``read``/
        ``schema``/``files``. ``ts`` is a unix epoch in milliseconds, or
        a datetime (naive = UTC, matching the session timezone).

        Binary search over the manifest chain — O(log versions) JSON
        reads, not a full history scan; commit timestamps are
        single-writer wall clock, monotone for the same reason
        Iceberg's are. Raises ``ValueError`` for a ts before the
        table's creation: returning "empty table" there would silently
        absorb a caller's unit mistake (seconds vs ms) as missing data.

        Manifests are never vacuumed (only unreferenced DATA files
        are), so resolution works across the full history; a read at
        the resolved version can still fail if that snapshot's data
        files were vacuumed — the same contract as ``read(version=)``.
        """
        import datetime

        if isinstance(ts, datetime.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=datetime.timezone.utc)
            ts = int(ts.timestamp() * 1000)
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"no table at {self.root}")
        if self.manifest(1)["committed_at_ms"] > ts:
            raise ValueError(
                f"ts {ts} predates the table's first commit "
                f"({self.manifest(1)['committed_at_ms']} ms) — check the unit (ms, not s)"
            )
        lo, hi = 1, cur  # invariant: committed_at(lo) <= ts
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if self.manifest(mid)["committed_at_ms"] <= ts:
                lo = mid
            else:
                hi = mid - 1
        return lo

    def schema(self, version: int | None = None) -> T.StructType:
        return _schema_of(self.manifest(version))

    def watermark(self, stream_id: str) -> int:
        """Last epoch applied for a stream (−1 if never). The epoch
        fence for exactly-once foreachBatch commits."""
        return int(self.manifest().get("watermarks", {}).get(stream_id, -1))

    def _commit(self, man: dict) -> dict:
        """Publish ``man`` (stamped with commit time and row count), then
        fsync ``_meta/`` so the published name survives an OS crash."""
        version = man["version"]
        man = {
            **man,
            "committed_at_ms": int(time.time() * 1000),
            "row_count": sum(f["rows"] for f in man["files"]),
        }
        os.makedirs(self.meta_dir, exist_ok=True)
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(man, f)
            f.flush()
            os.fsync(f.fileno())
        final = self._manifest_path(version)
        try:
            os.link(tmp, final)  # atomic publish; fails if version taken
        except FileExistsError as e:
            raise CommitConflict(f"version {version} already committed at {self.root}") from e
        finally:
            os.unlink(tmp)
        fd = os.open(self.meta_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        return man

    # -------------------------------------------------------- data IO
    def _write_data_files(
        self,
        df: DataFrame,
        base: dict,
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
    ) -> list[dict]:
        """Write df as immutable parquet files under data/, return file
        descriptors; bucket spec, stats columns and version hint come
        from ``base``, the manifest the caller commits on. Bucketed
        tables cluster rows so each file belongs to one bucket
        (partitionBy directory = bucket id).

        A caller that already clustered the rows by a ``_bucket``
        column (the merge and compaction, which reuse their fold
        shuffle for the layout and may split a hot bucket over several
        tasks by key hash) skips the extra repartition exchange.

        ``cluster_by`` is the table's sort-order lever (Iceberg sort
        orders / Delta ``OPTIMIZE ZORDER`` in spirit): on an unbucketed
        table the commit is range-repartitioned then sorted on those
        columns, so each data file covers a narrow, near-disjoint slice
        and the manifest column bounds (``stats_columns`` — which
        should include the cluster columns, or the layout buys no file
        skipping) make ``read(where_ranges=...)`` skip most files.
        ``cluster_files`` pins the file count (Iceberg's target-file
        knob); left ``None``, AQE sizes the range partitions by its
        advisory partition bytes — the right default at scale, but a
        small commit then coalesces to one file and buys no skipping.
        On a
        bucketed table the bucket layout wins (files must stay
        one-bucket); clustering there sorts rows within each bucket
        file, tightening parquet row-group statistics that Spark's own
        pushed-down range filter prunes at scan time. Range
        repartitioning samples the input (one extra Spark job per
        commit) — a write-side cost paid once, amortized over every
        range read of the file.
        """
        if cluster_by:
            missing = [c for c in cluster_by if c not in df.columns]
            if missing:
                raise ValueError(f"cluster_by columns not in data: {missing}")
        commit_dir = os.path.join(self.root, DATA_DIR, f"c{base['version'] + 1}-{uuid.uuid4().hex[:8]}")
        bucket = BucketSpec.from_json(base.get("bucket"))
        if bucket:
            out = df
            if "_bucket" not in df.columns:
                # hashed as its table-schema type: the type a key
                # lookup hashes its value as (read's bucket pruning)
                key = F.col(bucket.column).cast(_schema_of(base)[bucket.column].dataType)
                out = (
                    df.withColumn(bucket.column, key)
                    .withColumn("_bucket", bucket.expr())
                    .repartition(bucket.buckets, "_bucket")
                )
            # lead with _bucket: the partitionBy writer REQUIRES tasks
            # ordered by the partition column and silently inserts its
            # own (unstable) sort when they aren't — which would clobber
            # this one. Satisfying the required ordering up front means
            # no planner sort, so the clustering survives to the file.
            # When no clustering is requested, sort by _bucket ALONE —
            # the minimal ordering the writer needs; adding the (string)
            # bucket column would tax every micro-batch commit for a
            # row-group layout nobody asked for.
            cluster_sort = (bucket.column, *cluster_by) if cluster_by else ()
            out = out.sortWithinPartitions("_bucket", *cluster_sort)
            out.write.partitionBy("_bucket").mode("errorifexists").parquet(commit_dir)
        else:
            out = df
            if cluster_by:
                cols = [F.col(c) for c in cluster_by]
                # explicit numPartitions pins the layout (AQE never
                # coalesces REPARTITION_BY_NUM shuffles); without it
                # AQE picks the count from its advisory size
                out = (
                    out.repartitionByRange(cluster_files, *cols)
                    if cluster_files
                    else out.repartitionByRange(*cols)
                )
                out = out.sortWithinPartitions(*cluster_by)
            out.write.mode("errorifexists").parquet(commit_dir)
        found: list[tuple[str, int | None]] = []
        for dirpath, _dirs, names in os.walk(commit_dir):
            b = None
            leaf = os.path.basename(dirpath)
            if leaf.startswith("_bucket="):
                b = int(leaf.split("=", 1)[1])
            for n in sorted(names):
                if n.endswith(".parquet"):
                    found.append((os.path.join(dirpath, n), b))
        # footer reads are driver-side IO — overlap them; a serial walk
        # over hundreds of commit files otherwise sits on the streaming
        # batch's critical path. Column bounds ride along for free: the
        # footer is already open, its statistics were computed by the
        # writer.
        from concurrent.futures import ThreadPoolExecutor

        stats_cols = tuple(base.get("properties", {}).get("stats_columns") or ())
        with ThreadPoolExecutor(max_workers=8) as ex:
            metas = list(ex.map(lambda fb: _file_meta(fb[0], stats_cols), found))
        return [
            {
                "path": os.path.relpath(p, self.root),
                "bucket": b,
                "rows": r,
                "bytes": os.path.getsize(p),
                **({"stats": s} if s else {}),
            }
            for (p, b), (r, s) in zip(found, metas)
        ]

    def files(self, version: int | None = None, buckets: set[int] | None = None) -> list[dict]:
        return [f for f in self.manifest(version)["files"] if buckets is None or f.get("bucket") in buckets]

    def changes(self, since_version: int, until_version: int | None = None) -> DataFrame:
        """Incremental changelog scan (Iceberg ``incremental read`` /
        changelog-table semantics) for merge-on-read tables: the change
        rows committed AFTER ``since_version`` up to ``until_version``
        (inclusive; default current). Each row is a folded CDC winner —
        upsert (``_deleted`` false) or delete tombstone (``_deleted``
        true) — stamped with ``_commit_version``; downstream consumers
        tail the table incrementally instead of re-scanning it.

        Cost is metadata-pruned: only the delta files added by the
        commits in range are read — O(changes), never O(table).
        Compaction commits are skipped (they rewrite files without
        changing logical state), and maintenance never perturbs a
        consumer's changelog. Raises for copy-on-write tables, where a
        commit's new files mix changed rows with carried-over ones —
        diff two snapshot reads instead (``operators.diff``).

        Retention interplay (same contract as Iceberg incremental
        reads over expired snapshots): ``vacuum`` may delete delta
        files that only historical manifests reference once compaction
        has folded them. A consumer must keep its cursor within the
        table's retention window; a range whose files were vacuumed
        raises ``FileNotFoundError`` naming the missing files rather
        than returning a silently incomplete changelog.
        """
        cur = self.current_version()
        until = until_version if until_version is not None else cur
        if not (0 <= since_version <= until <= cur) or until < 1:
            raise ValueError(f"need 0 <= since {since_version} <= until {until} <= current {cur}, 1 <= until")
        parts: list[tuple[int, list[str]]] = []
        prev: set[str] = set()  # one parse per manifest: carry the previous file set forward
        for v in range(max(since_version, 1), until + 1):
            man = self.manifest(v)
            if man.get("properties", {}).get("merge_mode") != "mor":
                raise ValueError(
                    "changes() requires a merge-on-read table; for copy-on-write "
                    "diff snapshot reads (operators/diff.py::snapshot_diff)"
                )
            op = man.get("summary", {}).get("op", "")
            if v > since_version and op == "rollback":
                # a rollback REMOVES state: emitting its re-referenced
                # files as change rows would miss the implied deletes
                # of everything committed after the target, silently
                # corrupting a consumer's replica. Same contract as
                # Iceberg incremental scans (append-style snapshots
                # only) — the consumer re-syncs from a snapshot read.
                raise ValueError(
                    f"changelog range ({since_version}, {until}] crosses a "
                    f"rollback commit (v{v} rolled back to "
                    f"v{man['summary'].get('rollback_of')}); incremental "
                    "consumers must re-sync from a snapshot read"
                )
            # the cursor's own snapshot only seeds the baseline file
            # set; a compaction is a physical rewrite, logical no-op
            if v > since_version and op != "compact":
                added = [
                    os.path.join(self.root, f["path"])
                    for f in man["files"]
                    if f["path"] not in prev and f["rows"] > 0
                ]
                if added:
                    parts.append((v, added))
            prev = {f["path"] for f in man["files"]}
        schema = _schema_of(man)
        missing = [p for _v, paths in parts for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"changelog range ({since_version}, {until}] needs {len(missing)} "
                f"vacuumed delta file(s) (cursor fell behind the retention "
                f"window), e.g. {missing[0]}"
            )
        if not parts:
            empty = T.StructType(
                schema.fields + [T.StructField("_commit_version", T.LongType(), False)]
            )
            return self.spark.createDataFrame([], empty)
        dfs = [
            self.spark.read.schema(schema).parquet(*paths).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            for v, paths in parts
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def read(
        self,
        version: int | None = None,
        buckets: set[int] | None = None,
        with_bucket_col: bool = False,
        include_tombstones: bool = False,
        fold: bool | None = None,
        where_ranges: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read (time travel via ``version``); optionally
        restricted to a bucket subset — the MERGE fast path.

        ``where_ranges`` maps column → ``(lo, hi)`` (either end may be
        ``None`` for open): data files whose manifest column bounds
        (``properties["stats_columns"]``, harvested from parquet footer
        statistics at commit time — Iceberg's lower/upper bounds) prove
        them disjoint from the range are skipped before Spark ever
        plans the scan, and the residual row filter ``lo <= col <= hi``
        (nulls excluded, SQL semantics) is applied to the survivors —
        the result is exactly ``read().filter(col BETWEEN lo AND hi)``.
        Files with no recorded bounds for a column are always kept. On
        a merge-on-read FOLD read, range columns must be merge keys:
        every version of a key shares its key values, so key-range
        pruning can never split a key's delta history, while pruning by
        a payload value could drop the file holding a key's latest
        version and silently fold to stale state — such calls raise.

        Bucket-transform pruning (Iceberg's ``bucket[N]``): an equality
        range (``lo == hi``, not ``None``) on the bucket column can only
        match rows of one bucket, ``pmod(xxhash64(lo), N)``, so the read
        narrows ``buckets`` to it (intersected with a given
        ``buckets``). The bucket id is computed on the driver
        (``_bucket_of``); a column type or value type it does not cover
        prunes nothing.

        Merge-on-read tables (``properties.merge_mode == "mor"``) carry
        multiple versions of a key across delta files; the read applies
        the last-writer-wins fold (one hash agg on the merge keys) so
        every reader sees exactly the merged state. ``fold=False``
        returns the raw delta rows (compaction/debugging). A fold whose
        files all belong to one bucket and together fit one scan split
        (``spark.sql.files.maxPartitionBytes``) — a key lookup — reads
        them as one partition, so the aggregate needs no exchange: one
        stage instead of a shuffle. Multi-bucket reads keep the
        exchange.

        If the table carries a ``_deleted`` tombstone column (CDC
        tables do — see lake/merge.py), tombstoned rows are filtered
        and the column hidden unless ``include_tombstones``.
        """
        man = self.manifest(version)
        schema = _schema_of(man)
        spec = BucketSpec.from_json(man.get("bucket"))
        props = man.get("properties", {})
        if fold is None:
            fold = props.get("merge_mode") == "mor"
        if where_ranges:
            bad = [c for c in where_ranges if c not in schema.fieldNames()]
            if bad:
                raise ValueError(f"where_ranges columns not in table schema: {bad}")
            malformed = {c: r for c, r in where_ranges.items() if len(tuple(r)) != 2}
            if malformed:
                raise ValueError(f"where_ranges values must be (lo, hi) pairs: {malformed}")
            if fold:
                keys = set(props.get("merge_keys") or ())
                nonkey = [c for c in where_ranges if c not in keys]
                if nonkey:
                    raise ValueError(
                        f"where_ranges on non-merge-key columns {nonkey} is unsound "
                        "on a merge-on-read fold read: payload-range pruning could "
                        "drop the delta file holding a key's LATEST version while "
                        "older versions survive, silently folding to stale state. "
                        "Range merge keys here, or filter the folded DataFrame."
                    )
            if spec and spec.column in where_ranges:
                lo, hi = where_ranges[spec.column]
                b = None
                if lo is not None and lo == hi:
                    b = _bucket_of(self.spark, schema[spec.column].dataType, lo, spec.buckets)
                if b is not None:
                    buckets = {b} if buckets is None else set(buckets) & {b}
        fs = [f for f in man["files"] if buckets is None or f.get("bucket") in buckets]
        if where_ranges:
            fs = [f for f in fs if _file_in_ranges(f, where_ranges)]
        if not fs:
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [os.path.join(self.root, f["path"]) for f in fs]
            df = self.spark.read.schema(schema).parquet(*paths)
        if where_ranges:
            # residual filter: bounds are file-granular, surviving
            # files still hold out-of-range rows. Applied pre-fold —
            # sound because fold reads only reach here on key columns.
            for c, (lo, hi) in where_ranges.items():
                if lo is not None:
                    df = df.filter(F.col(c) >= F.lit(lo))
                if hi is not None:
                    df = df.filter(F.col(c) <= F.lit(hi))
        if fold:
            keys = props.get("merge_keys")
            if not keys:
                raise ValueError("mor fold requested but table has no merge_keys property")
            if (
                fs
                and len({f.get("bucket") for f in fs}) == 1
                and fs[0].get("bucket") is not None
                and sum(f.get("bytes", math.inf) for f in fs) <= self._max_split_bytes()
            ):
                # one partition (Coalesce 1 reports SinglePartition), so
                # the fold's partial and final aggregates run back to
                # back with no exchange; the scan task reads one split
                df = df.coalesce(1)
            df = lww_fold(df, keys, "_lsn")
        if "_deleted" in schema.fieldNames() and not include_tombstones:
            df = df.filter(_tombstone_exprs(_jvm())[1]).drop("_deleted")
        if with_bucket_col:
            if spec is None:
                raise ValueError("table is not bucketed")
            df = df.withColumn("_bucket", spec.expr())
        return df

    def _max_split_bytes(self) -> int:
        """``spark.sql.files.maxPartitionBytes``, the session's scan
        split size, as Spark parses it."""
        return self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()

    # ------------------------------------------------------- mutations
    def _next_commit(
        self,
        base: dict,
        new_files: list[dict],
        summary: dict,
        watermarks_update: dict | None = None,
        keep=None,
        schema: T.StructType | None = None,
        retries: int = 5,
        *, _dead_files: list | tuple = (),
    ) -> dict:
        """Optimistic commit of the child of ``base``, the manifest the
        caller computed from; only a lost race re-reads the head. The
        child inherits ``base``'s schema (unless ``schema`` is given),
        bucket spec and properties. ``keep(base) -> list[file dict]``
        (default: all its files) is re-evaluated on every fresh head,
        so a retry carries over the *winner's* files; it may raise
        :class:`CommitConflict` itself when the fresh state invalidates
        the caller's data (see ``replace_buckets``). ``_dead_files``
        (lake-internal: a stream's dead letters) join the ``dead_files``
        of the manifest the commit lands on, which ``read``, ``changes``,
        compaction and ``row_count`` ignore and ``vacuum`` keeps."""
        keep_fn = keep or (lambda b: b["files"])
        for attempt in range(retries):
            child = {
                **base,
                "version": base["version"] + 1,
                "parent": base["version"],
                "files": keep_fn(base) + new_files,
                "dead_files": base.get("dead_files", []) + list(_dead_files),
                "summary": summary,
                "watermarks": {**base.get("watermarks", {}), **(watermarks_update or {})},
            }
            if schema is not None:
                child["schema"] = schema.json()
            try:
                return self._commit(child)
            except CommitConflict:
                if attempt == retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
                base = self.manifest()
        raise CommitConflict("unreachable")

    @staticmethod
    def _tagged(summary: dict | None, op: str) -> dict:
        """Commit summary with the authoritative ``op`` tag. The tag is
        chosen by the lake primitive (or an explicit ``op=`` argument
        at a lake-layer call site), never by a caller-supplied summary
        dict: ``changes()`` keys changelog visibility off ``op``, so a
        context summary like ``{"op": "maintenance"}`` clobbering
        ``compact`` would make a physical rewrite look like O(table)
        change rows. Any ``op`` key in ``summary`` is dropped."""
        return {**{k: v for k, v in (summary or {}).items() if k != "op"}, "op": op}

    def append_rows(
        self, rows: list[dict], summary: dict | None = None,
        watermarks_update: dict | None = None, *, _base: dict | None = None,
    ) -> dict:
        """Driver-side append of a handful of rows: writes one parquet
        file via pyarrow, no Spark job, where a distributed job would
        spend more on scheduling than on data. ``_base`` as in
        ``append``."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = _base or self.manifest()
        if base.get("bucket"):
            # its one file has no bucket, which bucket-pruned reads skip
            raise ValueError("append_rows writes unbucketed files; use append on a bucketed table")
        if not rows:
            return base
        schema = _schema_of(base)
        arrow_schema = pa.schema(
            [(f.name, _arrow_type(f.dataType)) for f in schema.fields]
        )
        cols = {
            f.name: [r.get(f.name) for r in rows] for f in schema.fields
        }
        tbl = pa.Table.from_pydict(cols, schema=arrow_schema)
        commit_dir = os.path.join(self.root, DATA_DIR, f"c{base['version'] + 1}-{uuid.uuid4().hex[:8]}")
        os.makedirs(commit_dir, exist_ok=True)
        path = os.path.join(commit_dir, "part-00000.parquet")
        pq.write_table(tbl, path, compression="snappy")
        _, stats = _file_meta(path, tuple(base.get("properties", {}).get("stats_columns") or ()))
        new = [
            {
                "path": os.path.relpath(path, self.root),
                "bucket": None,
                "rows": len(rows),
                "bytes": os.path.getsize(path),
                **({"stats": stats} if stats else {}),
            }
        ]
        return self._next_commit(base, new, self._tagged(summary, "append"), watermarks_update)

    def append(
        self,
        df: DataFrame,
        summary: dict | None = None,
        watermarks_update: dict | None = None,
        op: str = "append",
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
        *,
        _base: dict | None = None,
        _dead_files: list | tuple = (),
    ) -> dict:
        """Append ``df``. ``_base`` (lake-internal): a head manifest the
        caller already read and built ``df`` from, committed on as is;
        ``_dead_files`` as in ``_next_commit``."""
        base = _base or self.manifest()
        new = self._write_data_files(df, base, cluster_by=cluster_by, cluster_files=cluster_files)
        return self._next_commit(base, new, self._tagged(summary, op), watermarks_update, _dead_files=_dead_files)

    def overwrite(
        self,
        df: DataFrame,
        summary: dict | None = None,
        cluster_by: tuple[str, ...] = (),
        cluster_files: int | None = None,
    ) -> dict:
        base = self.manifest()
        new = self._write_data_files(df, base, cluster_by=cluster_by, cluster_files=cluster_files)
        return self._next_commit(
            base, new, self._tagged(summary, "overwrite"), keep=lambda _b: []
        )

    def commit_metadata(
        self, summary: dict, watermarks_update: dict | None = None, *, _base: dict | None = None
    ) -> dict:
        """Metadata-only commit (e.g. advance an epoch watermark for an
        empty batch). ``_base`` as in ``append``."""
        return self._next_commit(_base or self.manifest(), [], summary, watermarks_update)

    def add_columns(
        self, new_fields: list[T.StructField], summary: dict | None = None, retries: int = 5
    ) -> dict:
        """Schema evolution: append columns. Existing files are
        untouched; readers see NULLs for old files (by-name parquet
        resolution against the authoritative manifest schema).

        The retry loop recomputes the merged schema from the fresh
        manifest so a lost race against a concurrent ``add_columns``
        never drops the winner's columns."""
        base = self.manifest()
        for attempt in range(retries):
            cur_schema = _schema_of(base)
            added = [f for f in new_fields if f.name not in cur_schema.fieldNames()]
            if not added:
                return base
            try:
                return self._next_commit(
                    base, [],
                    {**(summary or {}), "op": "evolve-schema", "added": [f.name for f in added]},
                    schema=T.StructType(cur_schema.fields + added),
                    retries=1,
                )
            except CommitConflict:
                if attempt == retries - 1:
                    raise
                time.sleep(0.05 * (attempt + 1))
                base = self.manifest()
        raise CommitConflict("unreachable")

    def replace_buckets(
        self,
        buckets: set[int],
        df: DataFrame,
        summary: dict | None = None,
        watermarks_update: dict | None = None,
        schema: T.StructType | None = None,
        base_version: int | None = None,
        op: str = "merge",
        cluster_by: tuple[str, ...] = (),
        *, _dead_files: list | tuple = (),
    ) -> dict:
        """Copy-on-write commit unit: atomically swap all files of the
        given buckets for the new data (which must only contain rows of
        those buckets). Files in other buckets are carried over from
        the manifest the commit lands on (the base, or the fresh head
        after a lost race), so a lost race against a writer of *other*
        buckets retries cleanly.

        ``cluster_by`` sorts the replacement rows within each bucket
        file (see ``_write_data_files``) — compaction's OPTIMIZE hook.

        ``base_version`` (default: the head) is the snapshot the
        replacement data was computed from (callers that read the table
        first pass the version they read); the first commit attempt
        lands on it. If a concurrent commit changed the *target*
        buckets since then, the replacement would silently drop that
        writer's rows — the commit aborts with :class:`CommitConflict`
        instead; the caller must recompute from the fresh snapshot.
        ``_dead_files`` as in ``_next_commit``."""
        base = self.manifest(base_version)
        base_target = sorted(f["path"] for f in base["files"] if f.get("bucket") in buckets)
        new = self._write_data_files(df, base, cluster_by=cluster_by)
        stray = [f for f in new if f.get("bucket") not in buckets and f["rows"] > 0]
        if stray:
            raise ValueError(f"replacement data contains rows outside target buckets: {stray}")

        def keep_fn(fresh: dict) -> list[dict]:
            fresh_target = sorted(
                f["path"] for f in fresh["files"] if f.get("bucket") in buckets
            )
            if fresh_target != base_target:
                raise CommitConflict(
                    f"target buckets {sorted(buckets)} changed concurrently "
                    f"(computed from v{base['version']}, now v{fresh['version']}) — recompute "
                    "the replacement from the fresh snapshot"
                )
            return [f for f in fresh["files"] if f.get("bucket") not in buckets]

        return self._next_commit(
            base, new, self._tagged(summary, op), watermarks_update, keep=keep_fn, schema=schema,
            _dead_files=_dead_files,
        )

    def rollback(
        self,
        version: int,
        summary: dict | None = None,
        restore_watermarks: bool = False,
    ) -> dict:
        """Roll the table back to an earlier snapshot (Iceberg
        ``rollback_to_snapshot``): commits a NEW head whose logical
        state — file list and schema — is exactly that of ``version``.
        History stays append-only: the rolled-back commits remain
        time-travelable, the target's data files become live again for
        ``vacuum`` (retention counts manifests back from the head), and
        the bad commits' delta files expire through normal retention.

        The target snapshot's data files must still exist: a rollback
        past the vacuum retention window raises ``FileNotFoundError``
        naming a missing file instead of committing a head that cannot
        be read. Like Iceberg's, a rollback racing a concurrent writer
        wins — it resets state by definition, so the keep-fn ignores
        files the fresh head added (callers coordinate maintenance
        windows for that reason).

        Stream fences: ``restore_watermarks=False`` (default) keeps the
        current per-stream epoch watermarks — correct whenever the
        stream resumes from its EXISTING checkpoint: Spark's source
        does not re-deliver consumed input, epoch numbering continues,
        and the rolled-back epochs are simply gone from the table
        (reset posture: the feed rows themselves were bad).
        ``restore_watermarks=True`` restores the target's fences
        (streams unknown at the target revert to −1 = never applied) —
        for the narrow case where the stream's CHECKPOINT was also
        restored to a matching older copy, keeping fence and epoch
        numbering in sync. It does NOT by itself make a pipeline
        replay anything: with the old checkpoint the source never
        re-emits the consumed files, and with a FRESH checkpoint epoch
        numbering restarts at 0, which a restored fence would wrongly
        skip. To reprocess a fixed feed, roll back and restart with a
        fresh checkpoint AND a fresh ``stream_id`` (fence −1): the
        full-feed replay is idempotent — LSN fencing folds re-applied
        events to the same final state.

        Incremental consumers: ``changes()`` refuses ranges that cross
        a rollback commit — re-sync from a snapshot read (Iceberg's
        incremental scans likewise support only append-style
        snapshots).
        """
        base = self.manifest()
        cur = base["version"]
        if not (1 <= version < cur):
            raise ValueError(
                f"rollback target must satisfy 1 <= version < current ({cur}); got {version}"
            )
        target = self.manifest(version)
        missing = [
            f["path"]
            for f in target["files"]
            if not os.path.exists(os.path.join(self.root, f["path"]))
        ]
        if missing:
            raise FileNotFoundError(
                f"rollback to v{version} needs {len(missing)} vacuumed data "
                f"file(s), e.g. {missing[0]} — the target is outside the "
                "retention window"
            )
        wm_update = None
        if restore_watermarks:
            tgt_wm = target.get("watermarks", {})
            wm_update = {k: tgt_wm.get(k, -1) for k in set(base.get("watermarks", {})) | set(tgt_wm)}
        return self._next_commit(
            base,
            [],
            self._tagged({**(summary or {}), "rollback_of": version}, "rollback"),
            watermarks_update=wm_update,
            keep=lambda _fresh: list(target["files"]),
            schema=_schema_of(target),
        )

    # ------------------------------------------------------ maintenance
    def vacuum(self, keep_versions: int = 1, grace_seconds: float = 600.0) -> list[str]:
        """Delete data files unreferenced by the last ``keep_versions``
        manifests (crash orphans + copy-on-write leftovers) and their
        ``.crc`` sidecars; a commit dir holding no live file goes whole.
        Live means in a manifest's ``files`` or ``dead_files``. Temporary
        manifests a writer killed inside ``_commit`` left in ``_meta/``
        go once they pass the grace window.

        Concurrency safety: data files land BEFORE their manifest, so a
        file can be legitimately unreferenced because its writer hasn't
        committed yet. Two guards keep vacuum from breaking an
        in-flight commit: (a) commit dirs whose version hint is newer
        than the latest manifest are skipped wholesale — that version
        hasn't committed; (b) files younger than ``grace_seconds`` are
        skipped — covers conflict-retry windows where a writer re-lands
        under a fresh version number."""
        cur = self.current_version() or 0
        live: set[str] = set()
        for v in range(max(1, cur - keep_versions + 1), cur + 1):
            man = self.manifest(v)
            live |= {f["path"] for f in man["files"] + man.get("dead_files", [])}
        removed = []
        now = time.time()
        data_root = os.path.join(self.root, DATA_DIR)

        def _version_hint(entry: str) -> int | None:
            if entry.startswith("c") and "-" in entry:
                head = entry[1:].split("-", 1)[0]
                if head.isdigit():
                    return int(head)
            return None

        def young(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) < grace_seconds
            except FileNotFoundError:
                return False

        commit_dirs = sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []
        for entry in commit_dirs:
            d = os.path.join(data_root, entry)
            if not os.path.isdir(d):
                continue
            hint = _version_hint(entry)
            if hint is not None and hint > cur:
                continue  # in-flight writer: data landed, manifest pending
            files = [os.path.join(dp, n) for dp, _dirs, ns in os.walk(d) for n in ns]
            parquet = [p for p in files if p.endswith(".parquet")]
            dead = [p for p in parquet if os.path.relpath(p, self.root) not in live and not young(p)]
            removed += [os.path.relpath(p, self.root) for p in dead]
            if len(dead) == len(parquet) and not any(map(young, files)):
                shutil.rmtree(d, ignore_errors=True)
                continue
            for p in dead:
                for q in (p, os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")):
                    if os.path.exists(q):
                        os.unlink(q)
        for n in os.listdir(self.meta_dir) if os.path.isdir(self.meta_dir) else []:
            p = os.path.join(self.meta_dir, n)
            if n.startswith(".tmp-") and n.endswith(".json") and not young(p):
                os.unlink(p)
                removed.append(os.path.relpath(p, self.root))
        return removed

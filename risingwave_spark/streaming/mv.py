"""Materialized-view runtime: incrementally-maintained query results over
changelog streams — the reference's core product, re-expressed on Spark.

Reference semantics being reproduced (SURVEY.md §1.2, §2.2):
- StreamChunk ops: every row carries Op ∈ {Insert, Delete, ...}
  (`src/common/src/array/stream_chunk.rs:45-50`). Here: an `__op` column
  (+1 insert / -1 delete). UpdateDelete/UpdateInsert = a -1/+1 pair.
- Materialize executor (`src/stream/src/executor/mview/materialize.rs:45`):
  the MV table is upserted per epoch. Here: per micro-batch, a new parquet
  snapshot version with an atomic pointer swap (Delta MERGE stand-in; the
  container has no Delta jars).
- HashAgg with retraction (`src/stream/src/executor/hash_agg.rs:64`):
  value-state aggs (count/sum) fold deltas directly — `ValueAggMv` adds
  each batch's signed per-group deltas to the MV's own rows and keeps no
  copy of its input; MaterializedInput aggs (min/max) need the input rows
  of affected groups (`aggregation/minput.rs`) — `MaterializedView` keeps
  a values-state table and re-aggregates ONLY the groups touched by the
  batch. Project/Filter keep no state (`ProjectMv`).

Scale posture: all per-batch work is bounded by the touched groups
(semi-join on affected keys), state tables are key-partitioned parquet,
and every operation is a DataFrame plan — no driver-side row loops.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

OP_COL = "__op"


def _statically_empty(df: DataFrame) -> bool:
    """True when Catalyst folds the plan to an empty LocalRelation —
    e.g. `with_ops(df, 1).filter(op < 0)` on an insert-only chunk. A
    driver-side optimizer pass (milliseconds), NOT a Spark job; lets
    fold() skip the tombstone write entirely for insert-only batches."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return "LocalRelation <empty>" in plan.toString().splitlines()[0] or (
            plan.getClass().getSimpleName() == "LocalRelation" and plan.data().isEmpty()
        )
    except Exception:
        return False


def _chunk_files(path: str) -> list[str]:
    """Parquet files of a local chunk dir — flat, or nested one level
    under `__bucket=N/` leaves."""
    import glob as _glob

    return _glob.glob(os.path.join(path, "*.parquet")) + _glob.glob(
        os.path.join(path, "*", "*.parquet")
    )


def _parquet_rows(path: str) -> int:
    """Row count of a just-written local parquet dir from file footers —
    a driver-side metadata read, NOT a Spark job (state dirs are local;
    on a cluster this would be the sink's commit-message row count)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _chunk_files(path))


def _parquet_spark_schema(path: str):
    """Spark schema of a just-written local parquet dir, from one file's
    footer — driver-side metadata, no Spark job (same contract as
    `_parquet_rows`; skips the schema-inference job a bare
    spark.read.parquet would run). None if the dir has no files."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for f in _chunk_files(path):
        return from_arrow_schema(pq.ParquetFile(f).schema_arrow)
    return None


def _parquet_tree_schema(root: str):
    """Spark schema of the first parquet file anywhere under `root`
    (arbitrary chunk/bucket nesting) — the recursive variant of
    `_parquet_spark_schema`. Chunk schemas are constant within a state
    generation (compaction rewrites into a NEW directory), so one footer
    stands for the tree; partition-style `__bucket=N` dirs contribute no
    column because the reads use recursiveFileLookup (which disables
    partition discovery) — exactly what schema inference returned."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                return from_arrow_schema(
                    pq.ParquetFile(os.path.join(dirpath, fn)).schema_arrow
                )
    return None


#: a fold's chunk files are read driver-side (`ChunkedState.fold_columns`)
#: only up to this many rows; a larger batch takes the Spark paths
KEYSET_MAX_ROWS = 200_000
#: a key set becomes a literal IN list only up to this many distinct
#: values; a wider one filters by a semi/anti join against its key frame
KEYSET_MAX_DISTINCT = 8192


def key_values_filter(col_name: str, vals: list, has_null: bool):
    """Never-NULL boolean `col ∈ vals` (null-safe: a NULL key matches iff
    the batch carried one). Must be 2-valued — the untouched-rows branch
    negates it, and a NULL there would silently drop MV rows.

    Built as ONE parsed SQL expression, NOT Column.isin(): PySpark's
    isin() makes a py4j round trip PER literal — measured 15.9 s to
    CONSTRUCT a 1500-element isin vs 3 ms for the equivalent SQL IN
    list (and the py4j object flood drags the whole driver afterwards).
    The expr resolves by column name, so it must be applied to frames
    where `col_name` is unambiguous (single-frame filters only)."""
    qn = "`" + col_name.replace("`", "``") + "`"
    if vals:
        if isinstance(vals[0], str):
            # Spark SQL default string literals process backslash
            # escapes — escape backslash first, then the quote
            lits = ",".join(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for v in vals
            )
        else:
            lits = ",".join(str(int(v)) for v in vals)
        in_expr = f"{qn} IN ({lits})"
    else:
        in_expr = "false"
    return F.expr(
        f"(CASE WHEN {qn} IS NULL THEN {str(has_null).lower()} ELSE {in_expr} END)"
    )


#: open `non_strict_analysis` spans per session: [count, the ANSI value
#: the first span found]. The independent MV branches of one DML
#: statement fold on concurrent threads; their spans overlap, and the
#: session stays non-strict until the last one closes
_NON_STRICT_SPANS: dict = {}
_NON_STRICT_LOCK = threading.Lock()


@contextmanager
def non_strict_analysis(spark: SparkSession):
    """Context manager: plans CONSTRUCTED inside the block analyze under
    ansi=false, so compute errors (div/0, bad casts) pad NULL per
    expression instead of failing the fold — the reference's non-strict
    streaming evaluation (`e2e_test/streaming/non_strict_mode.slt`,
    issue 4625; every streaming executor wraps its expressions in
    NonStrictExpression). Spark bakes the eval mode into expressions at
    ANALYSIS, so the toggle pins legacy semantics into the streaming
    plan without touching ad-hoc batch behavior. `spark.sql.ansi.enabled`
    is session-wide: spans on any thread nest, the first one in sets
    ansi=false and the last one out restores the session's value."""
    with _NON_STRICT_LOCK:
        span = _NON_STRICT_SPANS.get(spark)
        if span is None:
            old = spark.conf.get("spark.sql.ansi.enabled", "true")
            span = _NON_STRICT_SPANS[spark] = [0, old]
            spark.conf.set("spark.sql.ansi.enabled", "false")
        span[0] += 1
    try:
        yield
    finally:
        with _NON_STRICT_LOCK:
            span[0] -= 1
            if not span[0]:
                del _NON_STRICT_SPANS[spark]
                spark.conf.set("spark.sql.ansi.enabled", span[1])


def chunk_base(changelog_dir: str) -> int:
    """Durable changelog-id offset: compaction RESETS the state's chunk
    seq to 1 (ChunkedState.compact), but subscription cursors are plain
    high-water marks over chunk ids — a post-compaction chunk reusing an
    already-acked id would be silently never delivered. The base absorbs
    every reset so chunk ids stay monotonic across compactions while the
    replay-idempotence contract (same seq → same id) is preserved."""
    try:
        with open(os.path.join(changelog_dir, "CHUNK_BASE")) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return 0


def bump_chunk_base(changelog_dir: str, delta: int) -> None:
    if delta <= 0:
        return
    os.makedirs(changelog_dir, exist_ok=True)
    path = os.path.join(changelog_dir, "CHUNK_BASE")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(chunk_base(changelog_dir) + delta))
    os.replace(tmp, path)


def write_changelog(changelog_dir: str, cid: int, chunk: DataFrame) -> None:
    """Write changelog chunk `c{cid}` (at most 4 files; overwrite, so a
    redelivered batch replaces its own chunk) and its commit timestamp
    marker (reference epoch commit_ts): cursors positioned with SINCE
    <unix_ms> bound against it. The underscore prefix hides the marker
    from Spark's parquet reader."""
    import time as _time

    d = os.path.join(changelog_dir, f"c{cid}")
    chunk.coalesce(4).write.mode("overwrite").parquet(d)
    with open(os.path.join(d, "_COMMIT_TS_MS"), "w") as f:
        f.write(str(int(_time.time() * 1000)))


def with_ops(df: DataFrame, op: int = 1) -> DataFrame:
    """Tag a DataFrame as a changelog chunk (op=+1 insert, -1 delete)."""
    return df.withColumn(OP_COL, F.lit(op))


def key_bucket_expr(keys: list[str], n_buckets: int):
    """Bucket = crc32(concat_ws(keys)) % n. crc32 (not Murmur3) so the
    SAME bucket is computable driver-side in Python (zlib.crc32) from a
    batch's already-written chunk files — see `KeySet`, whose buckets
    must agree row-for-row with this expression."""
    joined = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    return F.pmod(F.crc32(joined.cast("binary")), F.lit(n_buckets))


def key_bucket_sql(keys: list[str], n_buckets: int) -> str:
    """SQL text of `key_bucket_expr` (value-identical, pinned by
    `test_key_bucket_sql_equals_expr`): lets hot paths render bucket
    predicates as ONE parsed expression instead of a py4j call chain —
    the same plan-construction economics as `key_values_filter` (r12
    change #14: isin()/Column chains pay a py4j round trip per node;
    F.expr parses JVM-side in one call)."""
    args = ",".join(["'\x1f'"] + [f"CAST(`{k.replace('`', '``')}` AS STRING)" for k in keys])
    return f"pmod(crc32(CAST(concat_ws({args}) AS BINARY)), {n_buckets})"


def nullsafe_cond(a: DataFrame, b: DataFrame, cols_a: list[str], cols_b: list[str] | None = None):
    """Conjunction of null-safe equalities (SQL `<=>`): group/join keys can
    legitimately be NULL (GROUP BY groups nulls together), and a plain `=`
    in the splice joins would silently strand null-key rows."""
    cols_b = cols_b or cols_a
    cond = None
    for ca, cb in zip(cols_a, cols_b):
        c = a[ca].eqNullSafe(b[cb])
        cond = c if cond is None else (cond & c)
    return cond


class _BucketedMvTable:
    """Keyed state table with epoch-committed versions: the one state
    store of MVs and operators (the reference keeps every MV and operator
    state in one keyed state-table format, its Materialize executor
    upserting by key, `mview/materialize.rs:45`; Delta MERGE is the
    cluster-scale analog, not available in this sandbox).

    Layout: `<dir>/e{n}/*.parquet` epoch directories plus a MANIFEST json
    mapping each of `n_buckets` key buckets (`key_bucket_expr`) to the
    epoch holding its current rows. A write materializes only the
    touched buckets into a new epoch and flips the manifest last
    (os.replace — crash-safe: a partial epoch dir is simply overwritten
    on retry); untouched buckets' rows are never rewritten.

    An epoch is read through ONE filter: the bucket expr IN the buckets
    the manifest maps to it (none when it holds every bucket). Its other
    rows are stale (their buckets moved to a newer epoch) and stay on
    disk until no bucket maps to the epoch, so at most `n_buckets` epochs
    are live, plus the ones retired by the last write.
    """

    # class-level defaults so partially-constructed instances (tests
    # build via __new__) still take the cold path of the §B caches
    _bucket_col = None
    _schema_struct_src: str | None = None
    _schema_struct = None

    def __init__(self, spark: SparkSession, path: str, keys: list[str], n_buckets: int = 16):
        import json

        self.spark = spark
        self.path = path
        self.keys = keys
        self.n_buckets = n_buckets
        os.makedirs(path, exist_ok=True)
        self._json = json
        self._manifest = self._read_manifest()
        if not self.exists():
            self._adopt_versioned()
        # Plan-construction caches (r13 §B, guide §1.2 driver work):
        # Column objects are immutable name-resolved expression trees —
        # reusable across DataFrames — and the MV schema is fixed per
        # manifest, so neither needs rebuilding through py4j on every
        # read/write of the fold loop (measured: bucket_expr 68 ms and
        # StructType.fromJson+conversion per call in the mv fold profile).
        self._bucket_col = None
        self._schema_struct_src: str | None = None
        self._schema_struct = None

    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return self._json.load(f)
        except (FileNotFoundError, ValueError):
            return {"epoch": -1, "buckets": {}, "schema": None, "retired": []}

    def _flip_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            self._json.dump(self._manifest, f)
        os.replace(tmp, self._manifest_path())

    def _adopt_versioned(self) -> None:
        """Adopt the single-version layout of older warehouses (a
        `CURRENT` pointer to a `v{n}` dir, one prior version kept):
        `v{n}` becomes epoch `e{n}` holding every bucket and its schema
        comes from a footer. A crash before the MANIFEST flips re-runs the
        adoption; one after it leaves only the unread pointer behind."""
        try:
            with open(os.path.join(self.path, "CURRENT")) as f:
                n = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return
        epoch_dir = os.path.join(self.path, f"e{n}")
        if not os.path.isdir(epoch_dir):
            os.rename(os.path.join(self.path, f"v{n}"), epoch_dir)
        self._manifest.update(
            epoch=n,
            buckets={str(b): n for b in range(self.n_buckets)},
            schema=self._json.dumps(_parquet_spark_schema(epoch_dir).jsonValue()),
        )
        self._flip_manifest()
        os.remove(os.path.join(self.path, "CURRENT"))
        shutil.rmtree(os.path.join(self.path, f"v{n - 1}"), ignore_errors=True)

    def exists(self) -> bool:
        return self._manifest["epoch"] >= 0

    def applied(self, batch_ns: str | None) -> int | None:
        """Last batch id of namespace `batch_ns` whose write flipped the
        manifest (see `overwrite_buckets`' `applied`), or None."""
        return self._manifest.get("applied", {}).get(batch_ns or "")

    def bucket_expr(self):
        """See `key_bucket_expr`: crc32 so the same bucket is computable
        driver-side with zero extra Spark jobs (`KeySet.buckets`).
        Collisions are harmless (buckets only co-locate); what matters is
        that the two computations agree per key. Cached — the Column is
        an immutable unresolved-attribute tree, valid on any frame that
        carries the key columns."""
        if self._bucket_col is None:
            self._bucket_col = key_bucket_expr(self.keys, self.n_buckets)
        return self._bucket_col

    def touched_buckets(self, affected_keys: DataFrame) -> list[int]:
        """Distinct buckets of an affected-keys frame — ≤ n_buckets values,
        the one small driver-side collect of the write path."""
        rows = (
            affected_keys.select(self.bucket_expr().alias("__bucket"))
            .distinct()
            .collect()
        )
        return sorted(r[0] for r in rows)

    def _schema(self):
        from pyspark.sql.types import StructType

        src = self._manifest["schema"]
        if self._schema_struct is None or self._schema_struct_src != src:
            self._schema_struct = StructType.fromJson(self._json.loads(src))
            self._schema_struct_src = src
        return self._schema_struct

    def _read_epoch(self, epoch: int) -> DataFrame:
        """Every row in epoch `epoch`'s files, under the manifest schema.
        recursiveFileLookup also reads the `__bucket=b` leaves of epochs
        written by older versions, and adds no discovered `__bucket`
        column to them."""
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .schema(self._schema())
            .parquet(os.path.join(self.path, f"e{epoch}"))
        )

    def read(self) -> DataFrame:
        return self.read_buckets(
            [int(b) for b in self._manifest["buckets"]]
        )

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """Rows of exactly these buckets: each epoch the manifest maps
        one of them to, filtered by the bucket expr to the buckets it
        holds — an epoch may physically retain rows of buckets whose
        current version has since moved to a newer epoch. An epoch that
        holds every bucket is read unfiltered."""
        want = set(buckets)
        per_epoch: dict[int, list[int]] = {}
        for b, ep in self._manifest["buckets"].items():
            if int(b) in want:
                per_epoch.setdefault(ep, []).append(int(b))
        out = None
        for ep, bs in sorted(per_epoch.items()):
            rows = self._read_epoch(ep)
            if len(bs) < self.n_buckets:
                # ONE parsed IN predicate, not Column.isin(): isin makes a
                # py4j round trip per literal (r12 #14; measured 120 ms per
                # flat-epoch read in the mv fold profile vs ~2 ms parsed)
                rows = rows.filter(F.expr(
                    f"({key_bucket_sql(self.keys, self.n_buckets)}) IN "
                    f"({','.join(str(b) for b in bs)})"
                ))
            out = rows if out is None else out.unionByName(rows)
        if out is None:
            return self.spark.createDataFrame([], self._schema())
        return out

    def overwrite_buckets(
        self,
        df: DataFrame,
        touched: list[int] | None,
        before_flip=None,
        applied: tuple | None = None,
    ) -> None:
        """Write `df` (the complete new content of `touched` buckets; pass
        None on first materialization to mean "all") as a new epoch, then
        flip the manifest — ONE Spark job. The epoch is plain coalesced
        parquet (at most one file per touched bucket and 8 in all; no
        shuffle), so a narrow batch writes few files; the manifest maps every
        touched bucket to it, and readers filter it by the bucket expr,
        so a touched bucket with no rows in `df` simply reads empty.
        `before_flip(rows)`, if given, runs between the two with a frame
        reading the epoch just written: a caller derives what it must
        persist before the flip (the changelog) from those files instead
        of re-running `df`'s plan. If it raises, the manifest is left as
        it was. `applied=(batch_ns, batch_id)` records the batch as
        applied in the same manifest flip as the epoch (`applied()` reads
        it back)."""
        epoch = self._manifest["epoch"] + 1
        files = 8 if touched is None else max(1, min(len(touched), 8))
        df.coalesce(files).write.mode("overwrite").parquet(
            os.path.join(self.path, f"e{epoch}")
        )
        if self._manifest["schema"] is None:
            self._manifest["schema"] = self._json.dumps(df.schema.jsonValue())
        if before_flip is not None:
            before_flip(self._read_epoch(epoch))
        buckets = {int(b): ep for b, ep in self._manifest["buckets"].items()}
        prev_referenced = set(buckets.values())
        buckets.update(
            dict.fromkeys(range(self.n_buckets) if touched is None else touched, epoch)
        )
        now_referenced = set(buckets.values())
        # GC: epochs retired by the PREVIOUS write (grace period for lazy
        # DataFrames handed downstream) that are still unreferenced now
        for ep in self._manifest.get("retired", []):
            if ep not in now_referenced:
                shutil.rmtree(os.path.join(self.path, f"e{ep}"), ignore_errors=True)
        self._manifest["retired"] = sorted(prev_referenced - now_referenced)
        self._manifest.pop("flat", None)  # older versions' layout list
        self._manifest["buckets"] = {str(b): ep for b, ep in buckets.items()}
        self._manifest["epoch"] = epoch
        if applied is not None:
            self._manifest.setdefault("applied", {})[applied[0] or ""] = applied[1]
        self._flip_manifest()

    def splice(
        self,
        recomputed,
        keyset: "KeySet",
        changelog: bool = False,
        log=None,
        applied: tuple | None = None,
    ) -> DataFrame | None:
        """Replace the rows of `keyset`'s keys by `recomputed`: the touched
        buckets' prior rows outside the key set ∪ `recomputed` become the
        next epoch (`recomputed` alone on first materialization, which
        writes every bucket). `recomputed` may be a callable taking the
        key set's prior rows (None on first materialization) — a delta
        fold adds to them. `applied` passes to `overwrite_buckets`. With
        `changelog`, return the write's
        changelog, read back from files instead of re-running the
        recompute: −1 the key set's rows of the prior epochs, which the
        write keeps until the next one, +1 those of the epoch just
        written. `log(changelog)` runs before the manifest flips, so on a
        crash in between a redelivered batch overwrites the same chunk.
        A literal key set makes the changelog two filtered file scans; a
        key frame may derive from an upstream's plan, so the changelog is
        checkpointed, or plans would compound down an MV chain —
        exponential plan text (driver-heap OOM in the listener)."""
        touched = prev = None
        if self.exists():
            touched = keyset.buckets
            if touched is None:
                touched = self.touched_buckets(keyset.frame)
            prev = self.read_buckets(touched)
            if callable(recomputed):
                recomputed = recomputed(keyset.semi(prev, self.keys))
            content = keyset.anti(prev, self.keys).unionByName(recomputed)
        else:
            if callable(recomputed):
                recomputed = recomputed(None)
            content = recomputed
        if not changelog:
            self.overwrite_buckets(content, touched, applied=applied)
            return None
        out = None

        def before_flip(new_rows: DataFrame) -> None:
            nonlocal out
            out = with_ops(keyset.semi(new_rows, self.keys), 1)
            if prev is not None:
                out = with_ops(keyset.semi(prev, self.keys), -1).unionByName(out)
            if keyset.vals is None:
                out = out.localCheckpoint(eager=True)
            if log is not None:
                log(out)

        self.overwrite_buckets(content, touched, before_flip=before_flip, applied=applied)
        return out

    def write(self, df: DataFrame) -> None:
        """Full write: `df` becomes the content of every bucket (a first
        backfill, or an operator state rewritten whole each batch)."""
        self.overwrite_buckets(df, None)


class ChunkedState:
    """Row-level operator state as append-only insert chunks + sequenced
    delete tombstones (the Delta data-files/deletion-vectors pattern):
    per-batch write cost is O(batch), NOT O(state) — the property that
    survives 100 TB. Reads anti-join the tombstones; a real deployment
    compacts chunks+tombstones periodically (Delta OPTIMIZE).

    Chunks and tombstones carry batch sequence numbers: a delete in batch
    n masks inserts from batches < n only, so an UpdateDelete/UpdateInsert
    pair (delete old version + re-insert same row id) within one batch
    works. Insert-then-delete of a NEW row inside a single chunk is not
    supported (split the chunk).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        row_id: str | list[str],
        bucket_cols: list[str] | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        # single- or composite-key row identity (reference tables support
        # multi-column PRIMARY KEY; tombstones then match on all pk cols)
        self.row_ids = [row_id] if isinstance(row_id, str) else list(row_id)
        self.row_id = self.row_ids[0]
        # Optional read-path bucketing (the state analog of
        # _BucketedMvTable): chunks whose rows carry all `bucket_cols`
        # are written under `b{seq}/__bucket=N/` using the SAME crc32
        # key-bucket as the MV, so a recompute that knows its touched
        # buckets can prune the state SCAN to those leaf dirs —
        # per-batch read cost O(state of touched buckets), not O(state).
        # Chunks missing a bucket col (derived keys) write flat and are
        # always read; pruning is a file-level superset filter either way.
        self.bucket_cols = list(bucket_cols) if bucket_cols else None
        self.n_buckets = n_buckets
        #: leaf dirs of the last pruned read (None = full scan) — scale
        #: tests assert bytes-read proportionality from this
        self.last_read_paths: list[str] | None = None
        self.base = path
        os.makedirs(path, exist_ok=True)
        #: footer-derived Spark schema per chunk-tree root (schemas are
        #: constant within a generation; compaction uses new dir keys)
        self._schema_cache: dict = {}
        # generation pointer: compaction writes a NEW generation directory
        # and flips this pointer last (same epoch-commit discipline as
        # _BucketedMvTable) — a crash mid-compaction leaves the old
        # generation live and the half-written new one ignored.
        self._gen = self._read_gen()
        # legacy layout (pre-generation dirs): adopt as generation 0
        if self._gen == 0:
            for old, new in (("values", "values_g0"), ("tombstones", "tombs_g0")):
                op, np_ = os.path.join(path, old), os.path.join(path, new)
                if os.path.isdir(op) and not os.path.exists(np_):
                    os.rename(op, np_)
        # GC generations orphaned by a crash between the GEN flip and the
        # old-generation rmtree in compact() (they are never read again)
        import re as _re

        for d in os.listdir(path):
            m = _re.fullmatch(r"(?:values|tombs)_g(\d+)", d)
            if m and int(m.group(1)) != self._gen:
                shutil.rmtree(os.path.join(path, d), ignore_errors=True)
        self.values_dir = os.path.join(path, f"values_g{self._gen}")
        self.tombs_dir = os.path.join(path, f"tombs_g{self._gen}")
        self._has_values = bool(os.path.isdir(self.values_dir) and os.listdir(self.values_dir))
        self._has_tombs = bool(os.path.isdir(self.tombs_dir) and os.listdir(self.tombs_dir))
        # recovery: resume numbering past BOTH chunk and tombstone seqs —
        # a delete-only batch leaves no insert rows, only tombstones
        self._seq = 0
        if self._has_values:
            vmax = self._read_dir(self.values_dir).agg(F.max("__seq")).first()[0]
            self._seq = (vmax if vmax is not None else -1) + 1
        if self._has_tombs:
            tmax = self._read_dir(self.tombs_dir).agg(F.max("__del_seq")).first()[0]
            self._seq = max(self._seq, (tmax if tmax is not None else -1) + 1)
        # batch-id pointers override data-derived seq: files written by a
        # batch that CRASHED before its pointer flip must be overwritten
        # on redelivery, not sequenced past. Pointers are per upstream
        # namespace (LAST_BATCH / LAST_BATCH_<ns>); the committed horizon
        # is the max seq any of them recorded.
        ptr_seqs = [
            ptr[1]
            for ns in self._batch_namespaces()
            if (ptr := self._read_last_batch(ns)) is not None
        ]
        if ptr_seqs:
            self._seq = max(ptr_seqs) + 1
        #: metadata of the LAST fold's chunk files (paths + footer row
        #: counts), recorded by fold(): callers derive the batch's
        #: affected keys / emptiness from the already-written local files
        #: instead of re-evaluating the upstream batch plan (one fewer
        #: Spark job + no duplicate source scan per fold). None until a
        #: fold happens in this process (or after a replay skip).
        self.last_fold: dict | None = None

    def _gen_pointer(self) -> str:
        return os.path.join(self.base, "GEN")

    def _read_gen(self) -> int:
        try:
            with open(self._gen_pointer()) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return 0

    def _read_dir(self, path: str, schema_root: str | None = None) -> DataFrame:
        # chunks live in per-batch subdirs (idempotent overwrite target).
        # Explicit footer-derived schema: a bare spark.read.parquet runs a
        # schema-INFERENCE Spark job per read — one job per fold that the
        # footer (driver-side, cached per generation dir) already answers.
        r = self.spark.read.option("recursiveFileLookup", "true")
        sch = self._tree_schema(schema_root or path)
        if sch is not None:
            r = r.schema(sch)
        return r.parquet(path)

    def _tree_schema(self, root: str):
        sch = self._schema_cache.get(root)
        if sch is None:
            sch = _parquet_tree_schema(root)
            if sch is not None:
                self._schema_cache[root] = sch
        return sch

    def _read_paths(self, paths: list[str], schema_root: str) -> DataFrame:
        """Multi-path chunk read with the same explicit-schema contract
        as `_read_dir` (the schema of any file under `schema_root` stands
        for all pruned leaves beneath it)."""
        r = self.spark.read.option("recursiveFileLookup", "true")
        sch = self._tree_schema(schema_root)
        if sch is not None:
            r = r.schema(sch)
        return r.parquet(*paths)

    def _batch_pointer(self, ns: str | None = None) -> str:
        fn = "LAST_BATCH" if ns is None else f"LAST_BATCH_{ns}"
        return os.path.join(os.path.dirname(self.values_dir), fn)

    def _batch_namespaces(self) -> list[str | None]:
        """Every namespace with a committed pointer (None = default)."""
        out: list[str | None] = []
        for fn in os.listdir(self.base):
            if fn == "LAST_BATCH":
                out.append(None)
            elif fn.startswith("LAST_BATCH_") and not fn.endswith(".tmp"):
                out.append(fn[len("LAST_BATCH_"):])
        return out

    def _read_last_batch(self, ns: str | None = None):
        """(last committed batch_id, seq it used) or None."""
        try:
            with open(self._batch_pointer(ns)) as f:
                bid, seq = f.read().strip().split(":")
                return int(bid), int(seq)
        except (FileNotFoundError, ValueError):
            return None

    def _seq_times_path(self) -> str:
        return os.path.join(self.base, "SEQ_TIMES")

    def seq_times(self) -> dict[int, float]:
        """Per-chunk commit timestamps (epoch seconds) recorded at fold
        time — the basis for TTL reads and FOR SYSTEM_TIME AS OF (the
        reference's per-epoch Hummock version timestamps). Monotone in
        seq. Compaction collapses history into the new base chunk, so
        entries older than the last compaction are gone — time travel
        beyond it raises, the reference's bounded-retention contract.
        The record is one small JSON entry per fold, rewritten on
        append (driver-side, ~µs at test scale); a deployment that
        never compacts a table pays O(folds) per rewrite — compaction
        cadence (the production norm) bounds it, same as Hummock's
        version-log truncation."""
        import json as _json

        try:
            with open(self._seq_times_path()) as f:
                return {int(k): float(v) for k, v in _json.load(f).items()}
        except (FileNotFoundError, ValueError):
            return {}

    def _record_seq_time(self, seq: int, ts: float) -> None:
        import json as _json

        times = self.seq_times()
        times[seq] = ts
        tmp = self._seq_times_path() + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({str(k): v for k, v in times.items()}, f)
        os.replace(tmp, self._seq_times_path())

    def max_seq_asof(self, ts: float) -> int:
        """Largest chunk seq committed at or before `ts`; raises if the
        history floor (oldest retained chunk) is already past `ts` —
        mirroring the reference's `time travel: version not found for
        epoch` error when Hummock's retained versions don't reach back."""
        times = self.seq_times()
        ok = [s for s, t in times.items() if t <= ts]
        if not ok:
            raise ValueError(
                f"time travel: version not found for epoch {ts} (history "
                "starts at "
                + (repr(min(times.values())) if times else "<empty>")
                + "; older versions were compacted away)"
            )
        return max(ok)

    def fold(
        self,
        inserts: DataFrame,
        deletes: DataFrame,
        batch_id: int | None = None,
        tomb_extra_cols: list[str] | None = None,
        batch_ns: str | None = None,
        commit_ts: float | None = None,
    ) -> bool:
        """Append one batch's inserts and delete tombstones (row ids).

        Exactly-once under redelivery (§2.9, the reference's epoch-commit
        contract; Spark foreachBatch re-runs a batch after failure):
        pass the sink's `batch_id` — an id ≤ the committed LAST_BATCH
        pointer is skipped; a batch that crashed before its pointer flip
        is re-run under the SAME seq (recovery resumes from the pointer)
        into seq-named subdirs with overwrite, replacing its own partial
        files instead of duplicating them. The pointer (batch_id:seq)
        flips last. Returns False if skipped as already applied.

        `batch_ns` scopes the pointer to one upstream id sequence
        (LAST_BATCH_<ns>): state fed by several independent streams keeps
        one monotonic pointer per stream instead of comparing unrelated
        sequences against a single pointer (ADVICE r4 #5).
        """
        if batch_id is not None:
            last = self._read_last_batch(batch_ns)
            if last is not None and batch_id <= last[0]:
                self.last_fold = None  # replayed batch: no fresh chunks
                return False
        # Per-batch chunks write FLAT (one cheap parallel write, no
        # partitionBy fan-out): the LSM shape — compaction periodically
        # rewrites the accumulated state into __bucket=N leaf dirs, so a
        # pruned read costs O(touched buckets of the compacted base) +
        # O(recent flat chunks), and the per-batch write cost stays the
        # round-3 cost exactly.
        vw = inserts.withColumn("__seq", F.lit(self._seq)).coalesce(4)
        vchunk = os.path.join(self.values_dir, f"b{self._seq}")
        vw.write.mode("overwrite").parquet(vchunk)
        self._has_values = True
        self.last_fold = {
            "values": vchunk,
            "v_rows": _parquet_rows(vchunk),
            "tombs": None,
            "t_rows": 0,
        }
        schema_file = os.path.join(self.base, "SCHEMA")
        if not os.path.exists(schema_file):
            import json as _json

            tmp = schema_file + ".tmp"
            with open(tmp, "w") as f:
                _json.dump(inserts.schema.jsonValue(), f)
            os.replace(tmp, schema_file)
        # tomb_extra_cols (e.g. the MV's group keys) ride along in the
        # tombstone files so the driver can derive a delete batch's
        # affected groups from local footers without a Spark job.
        # Insert-only batches fold the delete branch to an empty
        # LocalRelation — skip the write with NO job at all; otherwise
        # write and decide emptiness from the written footers (also
        # job-free) — an isEmpty() probe either way would cost an extra
        # Spark job per batch for the same information.
        if not _statically_empty(deletes):
            keep = list(
                dict.fromkeys(
                    self.row_ids
                    + [c for c in (tomb_extra_cols or []) if c in deletes.columns]
                )
            )
            dl = deletes.select(*keep, F.lit(self._seq).alias("__del_seq"))
            tomb_chunk = os.path.join(self.tombs_dir, f"b{self._seq}")
            dl.coalesce(1).write.mode("overwrite").parquet(tomb_chunk)
            t_rows = _parquet_rows(tomb_chunk)
            if t_rows > 0:
                self._has_tombs = True
                self.last_fold.update(tombs=tomb_chunk, t_rows=t_rows)
            else:
                shutil.rmtree(tomb_chunk, ignore_errors=True)
        import time as _time

        self._record_seq_time(
            self._seq, commit_ts if commit_ts is not None else _time.time()
        )
        self._seq += 1
        if batch_id is not None:
            tmp = self._batch_pointer(batch_ns) + ".tmp"
            with open(tmp, "w") as f:
                f.write(f"{batch_id}:{self._seq - 1}")
            os.replace(tmp, self._batch_pointer(batch_ns))
        return True

    def _pruned_paths(self, root: str, buckets: list[int]) -> list[str]:
        """Leaf dirs of `root` covering exactly `buckets`: bucketed chunk
        dirs contribute only the wanted `__bucket=N` leaves; flat chunks
        (pre-bucketing or missing-key batches) contribute whole dirs.
        Driver-side local listing — on an object store this would be the
        commit manifest, same as _BucketedMvTable."""
        want = {f"__bucket={b}" for b in buckets}
        out: list[str] = []
        for chunk in sorted(os.listdir(root)):
            cdir = os.path.join(root, chunk)
            if not os.path.isdir(cdir):
                continue
            subs = [d for d in os.listdir(cdir) if d.startswith("__bucket=")]
            if subs:
                out.extend(os.path.join(cdir, s) for s in subs if s in want)
            else:
                out.append(cdir)
        return out

    def _empty(self) -> DataFrame:
        import json as _json

        from pyspark.sql.types import StructType

        try:
            with open(os.path.join(self.base, "SCHEMA")) as f:
                schema = StructType.fromJson(_json.load(f))
        except FileNotFoundError:
            raise ValueError(
                f"state at {self.base} has never been folded and has no "
                "recorded schema"
            ) from None
        return self.spark.createDataFrame([], schema)

    def _bounded_chunk_dirs(
        self, root: str, min_seq: int | None, max_seq: int | None
    ) -> list[str]:
        """Chunk dirs `b{seq}` of `root` with min_seq <= seq <= max_seq —
        TTL and time-travel prune EXPIRED/FUTURE chunks at FILE level
        (whole directories skipped, the scan shrinks with the data)."""
        out = []
        for chunk in sorted(os.listdir(root)):
            m = re.fullmatch(r"b(\d+)", chunk)
            if not m:
                continue
            s = int(m.group(1))
            if (min_seq is None or s >= min_seq) and (max_seq is None or s <= max_seq):
                out.append(os.path.join(root, chunk))
        return out

    def read_bounded(
        self, min_seq: int | None = None, max_seq: int | None = None
    ) -> DataFrame:
        """State restricted to chunk seqs in [min_seq, max_seq]:
        `max_seq` = the FOR SYSTEM_TIME AS OF read (tombstones newer than
        the horizon don't apply); `min_seq` = the TTL read on append-only
        tables (chunks older than the retention window are skipped
        entirely — no tombstones exist on append-only state)."""
        if not self._has_values:
            return self._empty()
        vpaths = self._bounded_chunk_dirs(self.values_dir, min_seq, max_seq)
        if not vpaths:
            return self._empty()
        v = self._read_paths(vpaths, self.values_dir)
        if self._has_tombs:
            tpaths = self._bounded_chunk_dirs(self.tombs_dir, min_seq, max_seq)
            if tpaths:
                v = self._unmasked(v, self._read_paths(tpaths, self.tombs_dir))
        return v.drop("__seq")

    def _unmasked(self, v: DataFrame, t: DataFrame) -> DataFrame:
        """Chunk rows `v` minus those a tombstone in `t` deletes: a delete
        in batch n masks inserts from batches < n. Row ids match
        null-safe — composite row ids may carry NULL components (e.g. the
        null-padded side of an outer-join changelog feeding a downstream
        MV) and must still be deletable."""
        cond = v["__seq"] < t["__del_seq"]
        for c in self.row_ids:
            cond = cond & (v[c].eqNullSafe(t[c]))
        return v.join(t, on=cond, how="left_anti")

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        """Current state (chunks minus tombstones). With `buckets`, the
        scan is pruned at FILE level to those key-buckets' leaf dirs — a
        superset of the wanted keys' rows (callers still apply their
        exact key filter); per-batch read cost becomes O(state of
        touched buckets) instead of O(state)."""
        if not self._has_values:
            # never folded (e.g. one side of a join before its first
            # chunk): empty frame with the recorded schema if any
            return self._empty()
        self.last_read_paths = None
        # pruning a full bucket set is a no-op — take the plain recursive
        # scan (one listing) instead of assembling every leaf path
        if buckets is not None and len(set(buckets)) >= self.n_buckets:
            buckets = None
        if buckets is not None and self.bucket_cols:
            vpaths = self._pruned_paths(self.values_dir, buckets)
            self.last_read_paths = vpaths
            if not vpaths:
                return self._empty()
            v = self._read_paths(vpaths, self.values_dir)
            if self._has_tombs:
                tpaths = self._pruned_paths(self.tombs_dir, buckets)
                self.last_read_paths = vpaths + tpaths
                if tpaths:
                    v = self._unmasked(v, self._read_paths(tpaths, self.tombs_dir))
            return v.drop("__seq")
        v = self._read_dir(self.values_dir)
        if self._has_tombs:
            v = self._unmasked(v, self._read_dir(self.tombs_dir))
        return v.drop("__seq")

    def fold_columns(self, cols: list[str]):
        """`cols` of the last fold's rows — its value chunk and its
        tombstone chunk — as a `pyarrow.Table`, read driver-side from the
        just-written local files: no Spark job, and the only driver-side
        read of `last_fold`. None on a replay (no fresh fold), when a
        chunk lacks one of the columns, or past KEYSET_MAX_ROWS rows."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        lf = self.last_fold
        if lf is None or lf["v_rows"] + lf["t_rows"] > KEYSET_MAX_ROWS:
            return None
        tabs = []
        for path, rows in ((lf["values"], lf["v_rows"]), (lf["tombs"], lf["t_rows"])):
            if not path or not rows:
                continue
            for f in _chunk_files(path):
                pf = pq.ParquetFile(f)
                if pf.metadata.num_rows == 0:
                    continue
                if not set(cols) <= set(pf.schema_arrow.names):
                    return None
                tabs.append(pf.read(columns=cols))
        if not tabs:
            return pa.table({c: pa.array([], pa.null()) for c in cols})
        # the two chunks may differ in nullability (a literal column is
        # non-null on one side only); promotion unifies that
        return pa.concat_tables(tabs, promote_options="default")

    def fold_frame(self, cols: list[str]) -> DataFrame | None:
        """`cols` of the last fold's rows as a Spark frame over its chunk
        files (explicit footer schema — no schema-inference job): the
        Spark-side twin of `fold_columns`, for batches the driver should
        not hold. None on a replay, an empty fold, or a missing column."""
        lf = self.last_fold
        if lf is None:
            return None
        parts = []
        for path, rows in ((lf["values"], lf["v_rows"]), (lf["tombs"], lf["t_rows"])):
            if path and rows:
                schema = _parquet_spark_schema(path)
                if schema is None or not set(cols) <= set(schema.names):
                    return None
                parts.append(self.spark.read.schema(schema).parquet(path).select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def compact_on_cadence(
        self,
        every: int | None,
        folded: bool,
        keyset: "KeySet | None" = None,
        changelog_dir: str | None = None,
    ) -> None:
        """Compact when a fresh fold lands on the cadence seq (every N
        folded batches; None = never). Amortizes the O(state) rewrite over
        N O(batch) folds — the schedule trade-off of the reference's
        Hummock compaction / Delta OPTIMIZE cadence — and lands the
        bucketed base layer pruned reads depend on. A skipped replay never
        compacts. `keyset` is pinned first (compaction GCs the chunk files
        its lazy frame reads); `changelog_dir`'s chunk base absorbs the
        seq reset, so changelog chunk ids stay monotonic."""
        if not (folded and every and self._seq % every == 0):
            return
        if keyset is not None:
            keyset.pin()
        pre = self._seq
        self.compact()
        if changelog_dir is not None:
            bump_chunk_base(changelog_dir, pre - self._seq)

    def compact(self, transform=None) -> None:
        """Rewrite chunks minus tombstones into one generation and drop
        the tombstone set (the Delta OPTIMIZE / LSM-compaction analog —
        the reference's Hummock compactor role). Read cost returns to a
        plain scan; sequence numbering restarts above the survivors.

        `transform(survivors) -> DataFrame` rewrites the rows during the
        compaction pass — the schema-evolution hook (ALTER TABLE
        ADD/DROP COLUMN rewrites the table exactly once, reference
        `handler/alter_table_column.rs` versioned-schema rewrite); the
        recorded SCHEMA file is refreshed to the transformed schema.

        Crash-atomic: survivors are written into generation g+1, the GEN
        pointer flips last (os.replace), and only then is generation g
        garbage-collected. A crash before the flip leaves g intact (the
        orphan g+1 dir is overwritten by the next compaction); a crash
        after the flip merely delays GC — the old tombstones can never
        apply to the new generation's rows.
        """
        survivors = self.read()
        if transform is not None:
            survivors = transform(survivors)
            import json as _json

            tmp = os.path.join(self.base, "SCHEMA") + ".tmp"
            with open(tmp, "w") as f:
                _json.dump(survivors.schema.jsonValue(), f)
            os.replace(tmp, os.path.join(self.base, "SCHEMA"))
        nxt = self._gen + 1
        new_values = os.path.join(self.base, f"values_g{nxt}")
        sw = survivors.withColumn("__seq", F.lit(0)).coalesce(4)
        base_chunk = os.path.join(new_values, "b0")
        if self.bucket_cols and set(self.bucket_cols) <= set(survivors.columns):
            # the compacted base is the BUCKETED layer (LSM L1): pruned
            # reads skip untouched buckets at file level; per-batch flat
            # chunks on top stay cheap to write and small to scan
            sw.withColumn(
                "__bucket", key_bucket_expr(self.bucket_cols, self.n_buckets)
            ).write.mode("overwrite").partitionBy("__bucket").parquet(base_chunk)
            if not any(s.startswith("__bucket=") for s in os.listdir(base_chunk)):
                # zero survivors: partitionBy wrote no data files — keep a
                # flat empty chunk so schema inference stays alive
                sw.coalesce(1).write.mode("overwrite").parquet(base_chunk)
        else:
            sw.write.mode("overwrite").parquet(base_chunk)
        tmp = self._gen_pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(nxt))
        os.replace(tmp, self._gen_pointer())
        old_values, old_tombs = self.values_dir, self.tombs_dir
        self._gen = nxt
        self.values_dir = new_values
        self.tombs_dir = os.path.join(self.base, f"tombs_g{nxt}")
        shutil.rmtree(old_values, ignore_errors=True)
        shutil.rmtree(old_tombs, ignore_errors=True)
        self._has_tombs = False
        self._seq = 1
        # history collapsed into the new base chunk: reset the commit-time
        # record — time travel reaches back only to the compaction point
        # (the reference's Hummock time-travel retention bound)
        import json as _json
        import time as _time

        tmp = self._seq_times_path() + ".tmp"
        with open(tmp, "w") as f:
            _json.dump({"0": _time.time()}, f)
        os.replace(tmp, self._seq_times_path())


class KeySet:
    """The keys one fold touched — the single place a maintained view
    (group agg, stream join, over-window, delta-folded MV) decides which
    groups a batch affects and how to filter by them. Built once per
    folded side, from the fold's just-written chunk files (`of_fold`),
    so no Spark job re-derives what the fold already wrote; a view with
    no state of its own takes them from its producer or one capped
    collect of the batch (`of_batch`); `of_arrow` turns the key columns
    into the first two answers. It holds:

    - `vals` / `has_null`: the distinct non-null values and whether a
      NULL key occurred, for a single int or string key of at most
      KEYSET_MAX_DISTINCT values — filters become one null-safe IN
      predicate instead of semi/anti joins with broadcast-build jobs;
    - `buckets`: crc32 over the distinct key tuples, equal to
      `key_bucket_expr` — prunes the state read and the MV splice;
    - `frame`: the key tuples as a DataFrame, built lazily and only when
      `vals` is None — a read of the chunk files, or the batch plan on a
      replay or for keys derived through `key_of`;
    - `empty`: the fold wrote no row (from the footers); None when only a
      probe of the batch plan can tell (`is_empty`).

    `names` are the set's own column names (the view's splice keys); the
    filters map them onto any frame's `cols` positionally."""

    def __init__(self, names: list[str], make_frame=None, empty: bool | None = False):
        self.names = list(names)
        self.vals: list | None = None
        self.has_null = False
        self.buckets: list[int] | None = None
        self.empty = empty
        self._make_frame = make_frame
        self._frame: DataFrame | None = None
        #: the frame reads the state's chunk files (pin before compaction)
        self._chunked = False
        self._conds: dict = {}

    @classmethod
    def of_fold(
        cls,
        state: ChunkedState,
        keys: list[str],
        plan=None,
        names: list[str] | None = None,
        derived: bool = False,
    ) -> "KeySet":
        """Key set of `state`'s last fold over its columns `keys`,
        renamed to `names`. `plan()` returns the batch's key tuples (named
        `keys`) when the chunk files cannot: on a replay, or when the keys
        are `derived` from the input columns rather than stored in them."""
        names = list(names or keys)

        def from_plan():
            df = plan()
            return df.select(*[F.col(k).alias(n) for k, n in zip(keys, names)])

        lf = state.last_fold
        if lf is None:
            return cls(names, from_plan, empty=None)
        if lf["v_rows"] + lf["t_rows"] == 0 or derived:
            ks = cls(names, from_plan, empty=lf["v_rows"] + lf["t_rows"] == 0)
            if ks.empty:
                ks.vals, ks.buckets = [], []
            return ks

        def from_chunks():
            df = state.fold_frame(keys)
            if df is None:
                return from_plan()
            if names != list(keys):
                df = df.select(*[F.col(k).alias(n) for k, n in zip(keys, names)])
            return df

        tab = state.fold_columns(keys)
        if tab is None:
            ks = cls(names, from_chunks)
        else:
            ks = cls.of_arrow(tab, keys, state.n_buckets, names, from_chunks)
        ks._chunked = True
        return ks

    @classmethod
    def of_arrow(
        cls, tab, keys: list[str], n_buckets: int, names: list[str] | None = None, make_frame=None
    ) -> "KeySet":
        """Key set of the rows of `tab` (a `pyarrow.Table`) over its
        columns `keys`, renamed to `names`: crc32 buckets when every key
        is an int or string column (their text agrees with Spark's cast),
        and the literal values of a single key. `make_frame()` builds the
        Spark key frame when the filters need it."""
        import zlib

        import pyarrow as pa

        ks = cls(names or keys, make_frame, empty=tab.num_rows == 0)
        if ks.empty:
            ks.vals, ks.buckets = [], []
            return ks
        if not all(
            pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)
            for t in tab.select(list(keys)).schema.types
        ):
            return ks
        rows = tab.group_by(list(keys), use_threads=False).aggregate([])
        tuples = list(zip(*(rows.column(k).to_pylist() for k in keys)))
        ks.buckets = sorted(
            {
                zlib.crc32(
                    b"\x1f".join(str(v).encode() for v in t if v is not None)
                )
                % n_buckets
                for t in tuples
            }
        )
        if len(keys) == 1:
            vals = sorted(t[0] for t in tuples if t[0] is not None)
            if len(vals) <= KEYSET_MAX_DISTINCT:
                ks.vals, ks.has_null = vals, len(vals) < len(tuples)
        return ks

    @classmethod
    def of_batch(cls, batch: DataFrame, keys: list[str], n_buckets: int) -> "KeySet":
        """Key set of a changelog batch no state of the caller folded —
        a delta-folded MV's input. A producer that knows the batch's keys
        already hangs `batch._rw_keys(keys, n_buckets) -> KeySet | None`
        on it (`fold_keys`, `_DeltaView._forward`). Otherwise one
        driver-side collect of the key columns, capped at
        KEYSET_MAX_ROWS: the batch is small and materialized (a VALUES
        relation, a checkpointed DELETE/UPDATE, a changelog read back
        from files). Past the cap the keys stay a Spark frame."""
        hint = vars(batch).get("_rw_keys")
        ks = hint(keys, n_buckets) if hint is not None else None
        if ks is not None:
            return ks

        import pyarrow as pa

        def frame():
            return batch.select(*keys).distinct()

        # a plain collect: a VALUES batch answers without a job, and the
        # Arrow collect path costs more than it saves at these sizes
        rows = batch.select(*keys).limit(KEYSET_MAX_ROWS + 1).collect()
        if len(rows) > KEYSET_MAX_ROWS:
            return cls(keys, frame)
        try:
            tab = pa.table({k: pa.array([r[i] for r in rows]) for i, k in enumerate(keys)})
        except (pa.ArrowException, TypeError, ValueError):
            return cls(keys, frame, empty=not rows)
        return cls.of_arrow(tab, keys, n_buckets, make_frame=frame)

    @property
    def frame(self) -> DataFrame:
        if self._frame is None:
            self._frame = self._make_frame()
        return self._frame

    def union(self, other: "KeySet") -> "KeySet":
        """Keys touched by either set (the two sides of a join) — literal
        when both are and their values share a type (int or string)."""
        if self.empty is False or other.empty is False:
            empty = False
        else:
            empty = None if None in (self.empty, other.empty) else True
        if self.empty or other.empty:
            src = other if self.empty else self
            out = KeySet(self.names, lambda: src.frame, empty)
        else:
            out = KeySet(
                self.names,
                lambda: self.frame.unionByName(other.frame).distinct(),
                empty,
            )
        out._chunked = self._chunked or other._chunked
        if self.buckets is not None and other.buckets is not None:
            out.buckets = sorted(set(self.buckets) | set(other.buckets))
        if self.vals is not None and other.vals is not None:
            vals = set(self.vals) | set(other.vals)
            types = {type(v) for v in vals}
            if types <= {int} or types <= {str}:
                out.vals = sorted(vals)
                out.has_null = self.has_null or other.has_null
        return out

    def is_empty(self) -> bool:
        """Whether the fold touched no key: known from the footers, else
        one take(1) probe of the batch plan."""
        if self.empty is None:
            self.empty = not self.frame.take(1)
        return self.empty

    def pin(self) -> None:
        """Checkpoint a frame that reads the state's chunk files — run
        before compaction, which GCs them. A literal set holds its keys
        driver-side; nothing to pin."""
        if self._chunked and self.vals is None:
            self._frame = self.frame.localCheckpoint(eager=True)
            self._chunked = False

    def _cond(self, cols: list[str]):
        """(is-a-key, not-a-key) Columns over `cols`, built once per
        column set and reused on every frame (each Column built through
        py4j costs a round trip)."""
        c = self._conds.get(tuple(cols))
        if c is None:
            if self.empty:
                cond = F.lit(False)
            else:
                cond = key_values_filter(cols[0], self.vals, self.has_null)
            c = self._conds[tuple(cols)] = (cond, ~cond)
        return c

    def semi(self, df: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """Rows of `df` whose `cols` (default: the set's names) are a key
        of the set, NULL-safe."""
        cols = cols or self.names
        if self.vals is not None:
            return df.filter(self._cond(cols)[0])
        f = self.frame
        return df.join(f, nullsafe_cond(df, f, cols, self.names), "left_semi")

    def anti(self, df: DataFrame, cols: list[str] | None = None) -> DataFrame:
        """Rows of `df` whose `cols` are not a key of the set, NULL-safe."""
        cols = cols or self.names
        if self.vals is not None:
            return df.filter(self._cond(cols)[1])
        f = self.frame
        return df.join(f, nullsafe_cond(df, f, cols, self.names), "left_anti")


def fold_keys(state: ChunkedState):
    """`KeySet.of_batch` hint for the batch `state` just folded: the key
    set read from its chunk files, while that fold is still the state's
    last one and its chunks hold the key columns (a table's insert
    chunk holds every column; its tombstones hold only the pk)."""
    lf = state.last_fold

    def keys_of(cols: list[str], n_buckets: int) -> KeySet | None:
        if lf is None or state.last_fold is not lf:
            return None
        tab = state.fold_columns(list(cols))
        if tab is None:
            return None
        return KeySet.of_arrow(tab, cols, n_buckets, make_frame=lambda: state.fold_frame(list(cols)))

    return keys_of


class _RetractableView:
    """Shared per-batch maintenance loop (the reference's HashAgg +
    MaterializedInput pattern): fold the chunk into ChunkedState, then
    recompute ONLY the groups the batch touched (its `KeySet`) and splice
    them into the MV (untouched ∪ recomputed). `_DeltaView` subclasses
    keep no ChunkedState and fold each batch into the MV itself."""

    #: compact the chunked state every N folded batches (None = never).
    #: Amortizes the O(state) rewrite over N O(batch) folds — the same
    #: schedule trade-off as the reference's Hummock compaction / Delta
    #: OPTIMIZE cadence. 16 keeps read amplification (chunk count +
    #: tombstone anti-join size) bounded without noticeable write cost.
    compact_every: int | None = 16

    def __init__(self, spark: SparkSession, state_dir: str, keys: list[str], row_id: str):
        self.spark = spark
        self.keys = keys
        self.row_id = row_id
        self.mv = _BucketedMvTable(spark, os.path.join(state_dir, "mv"), keys)
        self.state = self._open_state(state_dir)
        # MV-on-MV (reference `docs/dev/src/design/mv-on-mv.md`): this
        # view's per-batch diff (−1 old affected rows, +1 recomputed
        # rows — the Update pair) is itself a changelog, forwarded to
        # subscribed downstream views.
        self.downstream: list["_RetractableView"] = []
        # subscription changelog log (reference CREATE SUBSCRIPTION,
        # `create_subscription.rs`): when enabled, every batch's diff
        # (−1 old affected rows / +1 recomputed — the Update pair) is
        # persisted as a chunk that durable named cursors consume
        # (streaming/subscription.py). Off by default: one extra write
        # per batch is only paid when someone subscribes.
        self.changelog_dir = os.path.join(state_dir, "changelog")
        self.emit_changelog = False
        # group keys DERIVED from input columns (e.g. GROUP BY k % 2):
        # key_of(rows) ANNOTATES rows with this view's key columns (the
        # reference's dispatch-key derivation). Default: identity — the
        # keys are already input columns.
        self.key_of = None

    def _open_state(self, state_dir: str) -> ChunkedState | None:
        # state bucketed by the same crc32 key-buckets as the MV: the
        # per-batch recompute then prunes its state READ to the touched
        # buckets, the read-side analog of the O(touched-buckets) write
        return ChunkedState(
            self.spark,
            os.path.join(state_dir, "state"),
            self.row_id,
            bucket_cols=self.keys,
            n_buckets=self.mv.n_buckets,
        )

    def _recompute(self, rows: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        """Per-MV parallelism wrapper (reference
        `handler/alter_parallelism.rs` — each streaming job carries its
        own parallelism; Spark's analog is the shuffle-partition count
        of this MV's maintenance fold). Statements serialize under the
        engine lock, and the engine folds a branch holding such an MV
        alone, after the concurrent branches (`Engine._fan_out`), so the
        session-wide conf swap never interleaves with another fold."""
        par = getattr(self, "parallelism", None)
        if not par:
            return self._apply_batch_inner(batch, batch_id, batch_ns)
        prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(par))
        try:
            return self._apply_batch_inner(batch, batch_id, batch_ns)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", prev)

    def _apply_batch_inner(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        """Fold one changelog chunk (needs an __op column) into the MV.

        With `batch_id` (foreachBatch redelivery protection): a replayed
        batch skips the state fold, but the affected-group recompute +
        MV write still run — they are idempotent (full recompute from
        state, not a delta), which closes the crash window between the
        state commit and the MV version flip. `batch_ns` scopes the
        redelivery pointer per upstream stream (see ChunkedState.fold).
        """
        # parsed-SQL one-call forms (r13 §B: Column chains pay a py4j
        # round trip per node; where(str)+drop(str) is 2 per side)
        inserts = batch.where(f"`{OP_COL}` > 0").drop(OP_COL)
        deletes = batch.where(f"`{OP_COL}` < 0").drop(OP_COL)
        did_fold = self.state.fold(
            inserts,
            deletes,
            batch_id=batch_id,
            tomb_extra_cols=self.keys if self.key_of is None else None,
            batch_ns=batch_ns,
        )
        # The batch's key set, read once from its just-written chunk
        # files (zero Spark jobs when the keys fit driver-side): its
        # buckets prune the state scan AND the MV splice, and its filters
        # pick the affected groups. Built BEFORE compaction — the
        # compacted generation's single chunk spans every bucket, the
        # batch itself does not.
        annotate = self.key_of or (lambda d: d)
        keyset = KeySet.of_fold(
            self.state,
            self.keys,
            plan=lambda: annotate(batch).select(*self.keys).distinct(),
            derived=self.key_of is not None,
        )
        # the cadence runs on empty batches too — an empty batch landing
        # on a cadence seq must not defer the O(state) rewrite
        self.state.compact_on_cadence(
            self.compact_every, did_fold, keyset, self.changelog_dir
        )
        if self.mv.exists() and keyset.is_empty():
            # empty batch (e.g. an upstream pushed-down filter dropped
            # everything): the state fold is committed, and recompute /
            # splice / downstream forward are no-ops. Emptiness comes
            # from the just-written chunk footers — zero Spark jobs. (The
            # FIRST apply must still run the splice to materialize the
            # empty MV + schema.)
            return
        self._splice(keyset, batch_id=batch_id, batch_ns=batch_ns)

    def retouch(self, affected: DataFrame) -> None:
        """Recompute + splice the given key tuples from CURRENT state
        without any new input rows — the Now-executor tick path
        (reference `src/stream/src/executor/now.rs`: time moving is an
        input too). State gets an empty fold first so changelog chunk
        numbering stays unique for subscriptions."""
        self.state.fold(
            self.state.read().limit(0), self.state.read().limit(0)
        )
        self._splice(KeySet(self.keys, lambda: affected))

    def _splice(
        self,
        keyset: KeySet,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        """Recompute the key set's groups from state and splice them into
        the MV (`_BucketedMvTable.splice`) — the only job that runs the
        recompute. A downstream view or a subscription gets the changelog
        the splice reads back from files; it is logged before the
        manifest flips and forwarded after it."""
        annotate = self.key_of or (lambda d: d)
        st = annotate(self.state.read(buckets=keyset.buckets))
        out_changelog = self.mv.splice(
            self._recompute(keyset.semi(st)),
            keyset,
            changelog=bool(self.downstream or self.emit_changelog),
            log=self._log_changelog if self.emit_changelog else None,
        )
        # batch_id rides along so the whole MV chain shares one
        # redelivery horizon: a replayed parent batch re-forwards the
        # (identical, state-derived) changelog and each child skips its
        # own already-committed fold. The namespace passes through
        # unchanged — this view has one upstream, so its children see
        # the same id sequence it did.
        for d in self.downstream:
            d.apply_batch(out_changelog, batch_id=batch_id, batch_ns=batch_ns)

    def _log_changelog(self, chunk: DataFrame) -> None:
        write_changelog(
            self.changelog_dir,
            chunk_base(self.changelog_dir) + self.state._seq - 1,
            chunk,
        )

    def result(self) -> DataFrame:
        return self.mv.read()


class MaterializedView(_RetractableView):
    """Generic retractable MV: `recompute(rows)` is any DataFrame
    transform of the affected groups' state rows (its output must include
    the group keys). The CREATE MATERIALIZED VIEW surface: arbitrary
    per-group query shapes get incremental maintenance + retraction from
    the shared fold/splice loop."""

    def __init__(self, spark, state_dir, keys, row_id, recompute):
        super().__init__(spark, state_dir, keys, row_id)
        self._fn = recompute

    def _recompute(self, rows: DataFrame) -> DataFrame:
        return self._fn(rows)


#: hidden per-group row count of a `ValueAggMv`; a sum's non-null count
#: is `__rw_nn_<select index>`
ROWS_COL = "__rw_rows"


def _qcol(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def value_agg(keys: list[str], cols: list[str], sums: dict[str, str]):
    """`fn(rows)` folding signed contribution rows (columns `cols`: the
    MV's visible columns, then ROWS_COL and the sums' non-null counts)
    into one row per group: every non-key column summed, groups whose
    row count is 0 dropped, and a sum NULL when its non-null count
    (`sums[sum column]`) is 0. The prior rows of a group are one more
    contribution, so the same `fn` serves first materialization and
    every later batch."""
    aggs = [F.sum(_qcol(c)).alias(c) for c in cols if c not in keys]
    out = [
        F.when(_qcol(sums[c]) == 0, F.lit(None)).otherwise(_qcol(c)).alias(c)
        if c in sums
        else _qcol(c)
        for c in cols
    ]
    group = [_qcol(k) for k in keys]
    live = _qcol(ROWS_COL) > 0

    def fn(rows: DataFrame) -> DataFrame:
        return rows.groupBy(*group).agg(*aggs).where(live).select(*out)

    return fn


class _DeltaView(_RetractableView):
    """An MV that folds each batch into its materialization and keeps
    no copy of its input: no ChunkedState, no state chunk write, no
    state scan and no compaction. Per batch: the key set
    (`KeySet.of_batch`), then one `_BucketedMvTable.splice` whose new
    rows `_new_rows(batch, prior)` builds from the batch and the key
    set's prior rows. The first materialization writes `_new_rows` of
    the whole input without collecting a key. `state_cols` are hidden
    columns of the materialization: result(), the forwarded changelog
    and subscription chunks drop them. The MANIFEST records `kind`, so
    a reopened warehouse keeps each MV on the path that wrote it."""

    kind = ""
    #: rows are unique on `keys` — a ProjectMv may read this MV
    unique_keys = True

    def __init__(self, spark, state_dir, keys, fn, state_cols=()):
        super().__init__(spark, state_dir, keys, None)
        self._fn = fn
        self.state_cols = list(state_cols)
        if not self.mv.exists():
            self.mv._manifest["kind"] = self.kind

    def _open_state(self, state_dir: str) -> None:
        return None

    def _new_rows(self, batch: DataFrame, prior: DataFrame | None) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def _redelivered(self, batch_id: int | None, batch_ns: str | None) -> bool:
        return False

    def _apply_batch_inner(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        with non_strict_analysis(self.spark):
            if not self.mv.exists():
                keyset = KeySet(
                    self.keys, lambda: batch.select(*self.keys).distinct(), empty=None
                )
            else:
                keyset = KeySet.of_batch(batch, self.keys, self.mv.n_buckets)
                if keyset.is_empty():
                    return
            if self._redelivered(batch_id, batch_ns):
                # already in the MV: hand downstream what a recompute
                # would (−current +current of the key set), write nothing
                if self.downstream:
                    cur = keyset.semi(self.mv.read_buckets(
                        keyset.buckets if keyset.buckets is not None
                        else self.mv.touched_buckets(keyset.frame)
                    ), self.keys)
                    self._forward(
                        with_ops(cur, -1).unionByName(with_ops(cur, 1)),
                        keyset, batch_id, batch_ns,
                    )
                return
            out = self.mv.splice(
                lambda prior: self._new_rows(batch, prior),
                keyset,
                changelog=bool(self.downstream or self.emit_changelog),
                log=self._log_changelog if self.emit_changelog else None,
                applied=None if batch_id is None else (batch_ns, batch_id),
            )
            if self.downstream:
                self._forward(out, keyset, batch_id, batch_ns)

    def _forward(self, changelog: DataFrame, keyset: KeySet, batch_id, batch_ns) -> None:
        """Hand the changelog, hidden columns dropped, to every downstream
        view, with this batch's key set as its `_rw_keys` hint: a view
        keyed like this one (a ProjectMv) needs no collect."""
        out = self._visible(changelog)
        n = self.mv.n_buckets
        out._rw_keys = lambda cols, nb: (
            keyset if list(cols) == keyset.names and nb == n else None
        )
        for d in self.downstream:
            d.apply_batch(out, batch_id=batch_id, batch_ns=batch_ns)

    def _log_changelog(self, chunk: DataFrame) -> None:
        # chunk id = the epoch being written: monotonic, and a batch
        # redelivered after a crash before the flip rewrites its chunk
        write_changelog(
            self.changelog_dir,
            self.mv._manifest["epoch"] + 1,
            self._visible(chunk),
        )

    def _visible(self, df: DataFrame) -> DataFrame:
        return df.drop(*self.state_cols) if self.state_cols else df

    def result(self) -> DataFrame:
        return self._visible(self.mv.read())


class ValueAggMv(_DeltaView):
    """GROUP BY MV whose aggregates are all count(*), count(x) and
    integer sum(x) — the reference HashAgg's value-state aggregates
    (`aggregation/agg_group.rs`; only min/max/string_agg keep
    materialized input, `minput.rs`). `contrib(batch)` maps each batch
    row to its signed contribution (`__op` for the row count, `__op * x`
    for a sum, ...); `fn` (see `value_agg`) adds the contributions and
    the key set's prior rows up per group. Hidden per group: ROWS_COL
    and each sum's non-null count.

    Not idempotent: a batch id at or below the MANIFEST's applied
    pointer for its namespace is skipped (the pointer flips with the
    epoch it wrote)."""

    kind = "value"

    def __init__(self, spark, state_dir, keys, contrib, fn, state_cols):
        super().__init__(spark, state_dir, keys, fn, state_cols)
        self._contrib = contrib

    def _redelivered(self, batch_id: int | None, batch_ns: str | None) -> bool:
        last = self.mv.applied(batch_ns) if batch_id is not None else None
        return last is not None and batch_id <= last

    def _new_rows(self, batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        rows = self._contrib(batch)
        if prior is not None:
            rows = rows.unionByName(prior)
        return self._fn(rows)


class ProjectMv(_DeltaView):
    """Row-grain projection/filter MV over an MV whose rows are unique on
    its keys (the reference's stateless Project/Filter): each touched key
    is replaced by `fn` of the batch's +1 rows — the upstream changelog
    carries a key's whole new row, so the splice is idempotent and needs
    no applied pointer."""

    kind = "project"

    def _new_rows(self, batch: DataFrame, prior: DataFrame | None) -> DataFrame:
        return self._fn(batch.where(f"`{OP_COL}` > 0").drop(OP_COL))


class DeltaPlan:
    """A delta-folded MV body, as the SQL compile path built it from its
    state classifier. Kind "value": `contrib(batch)` maps a changelog
    batch (with `__op`) to one signed contribution row per input row —
    `__rw_c<i>` per select item, then ROWS_COL and `__rw_nn_<i>` for
    each select index `i` in `sums`. Kind "project": the MV's recompute
    is the projection."""

    def __init__(self, kind: str, contrib=None, sums=()):
        self.kind = kind
        self.contrib = contrib
        self.sums = list(sums)

    def view(self, spark, state_dir, keys, recompute, empty: DataFrame):
        """The delta view of the MV at `state_dir`, or None to keep the
        materialized-input path: the directory holds an MV written
        without this state kind (a `state/` copy of its input, or a
        MANIFEST without the kind), or the delta rows would change the
        names or types of the columns `recompute` gives over `empty` (the
        input with no rows) — a sum over a decimal or float column does."""
        import json

        if os.path.isdir(os.path.join(state_dir, "state")):
            return None
        try:
            with open(os.path.join(state_dir, "mv", "MANIFEST")) as f:
                if json.load(f).get("kind") != self.kind:
                    return None
        except (FileNotFoundError, ValueError):
            pass
        if self.kind == "project":
            return ProjectMv(spark, state_dir, keys, recompute)
        with non_strict_analysis(spark):
            want = recompute(empty).schema
            names = want.fieldNames()
            hidden = [ROWS_COL] + [f"__rw_nn_{i}" for i in self.sums]
            cols = names + hidden
            if len(set(cols)) != len(cols):
                return None
            fn = value_agg(keys, cols, {names[i]: f"__rw_nn_{i}" for i in self.sums})

            def contrib(batch: DataFrame) -> DataFrame:
                return self.contrib(batch).toDF(*cols)

            try:
                got = fn(contrib(with_ops(empty, 1))).schema
            except AnalysisException:
                return None  # e.g. sum over an interval: no BIGINT cast
        if [(f.name, f.dataType) for f in got.fields[: len(names)]] != [
            (f.name, f.dataType) for f in want.fields
        ]:
            return None
        return ValueAggMv(spark, state_dir, keys, contrib, fn, hidden)


class MaterializedGroupAgg(_RetractableView):
    """Incrementally-maintained `GROUP BY keys` aggregate MV with full
    retraction support (insert AND delete inputs): count / exact-cents sum
    / min / max / avg per group. Groups whose count drops to 0 disappear
    (the reference emits a Delete for those)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        row_id: str,
        value_col: str,
    ):
        super().__init__(spark, state_dir, keys, row_id)
        self.value_col = value_col
        # agg Columns built once (r13 §B): they are constant expression
        # trees over fixed column names — rebuilding them per fold cost
        # 180 ms/fold of py4j construction in the profile
        v = F.col(value_col)
        self._agg_cols = [
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.round(v * 10000, 0).cast("long")) / 10000.0).alias("total"),
            F.min(v).alias("vmin"),
            F.max(v).alias("vmax"),
        ]

    def _recompute(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.keys).agg(*self._agg_cols)


class MaterializedOverWindow(_RetractableView):
    """Incrementally-maintained window-function MV with retraction
    (reference OverWindow general executor, `over_window/general.rs:48` +
    `over_partition.rs`): on every batch, the window functions are
    recomputed for exactly the PARTITIONS the batch touched (the
    reference's delta-based affected-range recompute, here at partition
    granularity) and spliced into the MV.

    `project(rows, w)` receives the affected partitions' rows and the
    partition-ordered WindowSpec and returns the output rows (must
    include the partition keys).
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        order_cols: list[str],
        row_id: str,
        project,
    ):
        super().__init__(spark, state_dir, keys, row_id)
        self.order_cols = order_cols
        self.project = project
        self._wspec = None

    def _recompute(self, rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        # WindowSpec cached (r13 §B): constant over fixed key/order
        # names, and callers may key their own Column caches on its
        # identity (see stream_over_window's project)
        if self._wspec is None:
            self._wspec = W.partitionBy(*self.keys).orderBy(
                *[F.asc(c) for c in self.order_cols]
            )
        return self.project(rows, self._wspec)


def run_changelog(
    spark: SparkSession,
    state_dir: str,
    batches: list[DataFrame],
    keys: list[str],
    row_id: str,
    value_col: str,
) -> DataFrame:
    """Drive a MaterializedGroupAgg over a sequence of changelog chunks
    (the test/driver entry for snapshot-equivalence checks)."""
    mv = MaterializedGroupAgg(spark, state_dir, keys, row_id, value_col)
    for b in batches:
        mv.apply_batch(b)
    return mv.result()


class AppendOnlyGroupTopN:
    """Incrementally-maintained per-group top-k over an append-only stream
    (reference AppendOnlyGroupTopN, `top_n/group_top_n.rs:64` +
    `top_n_appendonly.rs`): state is BOUNDED at k rows per group — each
    batch ranks (previous top-k ∪ new rows) and keeps k.

    At scale this is the exact pattern that survives 100 TB: per-batch
    work is |batch| + k·|touched groups|, state never grows past
    k·|groups|, and the rank is a keyed window over that bounded set.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        order_col: str,
        tiebreak: str,
        k: int,
    ):
        self.keys = keys
        self.order_col = order_col
        self.tiebreak = tiebreak
        self.k = k
        self.state = _BucketedMvTable(spark, os.path.join(state_dir, "topn"), keys)

    def apply_batch(self, batch: DataFrame) -> None:
        from pyspark.sql import Window as W

        cand = batch.select(*self.keys, self.order_col, self.tiebreak)
        if self.state.exists():
            cand = self.state.read().unionByName(cand)
        w = W.partitionBy(*self.keys).orderBy(
            F.desc(self.order_col), F.asc(self.tiebreak)
        )
        topk = (
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.k)
            .drop("__rn")
        )
        self.state.write(topk)

    def result(self) -> DataFrame:
        from pyspark.sql import Window as W

        w = W.partitionBy(*self.keys).orderBy(
            F.desc(self.order_col), F.asc(self.tiebreak)
        )
        return self.state.read().withColumn("rk", F.row_number().over(w))


def _next_seq_index(path: str, prefix: str) -> int:
    """max existing `<prefix><N>` entry + 1 (NOT the entry count: gaps
    from GC'd zero-row emissions would otherwise make a restart reuse —
    and overwrite — a live index)."""
    nxt = 0
    if os.path.isdir(path):
        for d in os.listdir(path):
            m = re.fullmatch(rf"{prefix}(\d+)", d)
            if m:
                nxt = max(nxt, int(m.group(1)) + 1)
    return nxt


def _parse_duration_seconds(text: str) -> float:
    """Seconds of a Spark interval string like '1 hour' / '10 minutes'
    (fractional values allowed — '0.5 seconds' is a legal tumble)."""
    m = re.fullmatch(r"\s*(\d+(?:\.\d+)?)\s*(second|minute|hour|day)s?\s*", text, re.I)
    if not m:
        raise ValueError(f"unsupported window duration {text!r}")
    n = float(m.group(1))
    return n * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        m.group(2).lower()
    ]


def _parquet_ts_minmax(path: str, col: str):
    """(min, max) of a timestamp column across a just-written local
    parquet dir — driver-side metadata/column read, no Spark job (the
    same contract as `_parquet_rows`; this is the sink-commit statistic a
    cluster sink would report). Falls back from footer stats to a
    vectorized column read when stats are absent."""
    import glob as _glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import datetime as _dt

    mn = mx = None

    def norm(v):
        # keep tz-AWARE stats aware (normalized to UTC): F.lit() of an
        # aware datetime binds the exact instant regardless of the
        # session time zone (SET TIME ZONE must not shift watermarks);
        # naive values come from NTZ columns, where wall-clock semantics
        # are already session-independent
        if isinstance(v, _dt.datetime) and v.tzinfo is not None:
            return v.astimezone(_dt.timezone.utc)
        return v

    def fold(lo, hi):
        nonlocal mn, mx
        lo, hi = norm(lo), norm(hi)
        if lo is not None and (mn is None or lo < mn):
            mn = lo
        if hi is not None and (mx is None or hi > mx):
            mx = hi

    for f in _glob.glob(os.path.join(path, "*.parquet")):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        if md.num_rows == 0:
            continue
        idx = pf.schema_arrow.names.index(col)
        stats_ok = True
        los, his = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                stats_ok = False
                break
            los.append(st.min)
            his.append(st.max)
        if stats_ok and los:
            fold(min(los), max(his))
        else:
            mm = pc.min_max(pf.read(columns=[col]).column(0))
            fold(mm["min"].as_py(), mm["max"].as_py())
    return mn, mx


class EowcTumbleAgg:
    """Emit-on-window-close tumbling-window aggregate (reference EOWC:
    `sort.rs:20` buffer + `over_window/eowc.rs:88`, EMIT ON WINDOW CLOSE
    MVs): rows buffer until the watermark (max event time − delay) passes
    the window end, then the window's aggregate is emitted exactly once
    (append-only output). Rows arriving for an already-closed window are
    LATE and dropped — the reference's WatermarkFilter policy
    (`watermark_filter.rs:34-36`).

    Buffer layout (round-12 optimization, guide §1.2/§2.4 — fewer jobs
    and no O(buffer) rewrite per batch): batches append as immutable
    chunk files; the watermark and the did-any-window-close decision come
    from the chunks' FOOTER min/max timestamp statistics (driver-side,
    zero Spark jobs — previously one agg job over buffer∪batch per
    batch). Emission scans only the chunks whose ts range overlaps the
    newly-closed window span (E, wm] — file-level pruning — and fully
    emitted chunks are garbage-collected instead of rewriting the
    surviving buffer every batch (previously one O(buffer) write per
    batch). Per-batch cost: ONE O(batch) chunk write, plus one pruned
    aggregation job only when windows actually close. State stays
    bounded by delay × arrival rate, same as before, via chunk GC.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        ts_col: str,
        window_duration: str,
        delay_seconds: int,
    ):
        self.spark = spark
        self.ts_col = ts_col
        self.window_duration = window_duration
        self._win_sec = _parse_duration_seconds(window_duration)
        self.delay_seconds = delay_seconds
        self.chunks_dir = os.path.join(state_dir, "buffer")
        # EOWC output is append-only by construction (each window emitted
        # exactly once) → one new emission dir per close, never rewritten
        self.out_path = os.path.join(state_dir, "out")
        self._emitted_any = os.path.isdir(self.out_path) and any(
            os.scandir(self.out_path)
        )
        self._watermark = None  # monotonic
        #: highest window end already emitted (windows ending at/before
        #: this are closed-and-emitted; late rows for them are dropped)
        self._emit_horizon = None
        # restart over an existing state dir: adopt surviving chunks
        # (ts ranges from footers — no Spark job) and resume numbering
        self._chunk_stats: dict[str, tuple] = {}  # path -> (min_ts, max_ts)
        self._n = 0
        if os.path.isdir(self.chunks_dir):
            for d in sorted(os.listdir(self.chunks_dir)):
                m = re.fullmatch(r"b(\d+)", d)
                if not m:
                    continue
                p = os.path.join(self.chunks_dir, d)
                mn, mx = _parquet_ts_minmax(p, ts_col)
                self._n = max(self._n, int(m.group(1)) + 1)
                if mx is None:
                    shutil.rmtree(p, ignore_errors=True)
                    continue
                self._chunk_stats[p] = (mn, mx)
        self._emit_n = _next_seq_index(self.out_path, "e")
        # explicit schemas for the chunk/output re-reads: parquet schema
        # inference is a (small) Spark job per read — the schemas are
        # already known driver-side, so skip those jobs entirely
        self._in_schema = None
        self._out_schema = None

    def _window_end(self, ts):
        """End of the tumble window containing `ts` (Spark window()
        alignment: origin 1970-01-01 UTC)."""
        import datetime

        epoch = datetime.datetime(1970, 1, 1, tzinfo=ts.tzinfo)
        off = (ts - epoch).total_seconds()
        return epoch + datetime.timedelta(
            seconds=((off // self._win_sec) + 1) * self._win_sec
        )

    def apply_batch(self, batch: DataFrame) -> None:
        import datetime

        chunk = os.path.join(self.chunks_dir, f"b{self._n}")
        self._n += 1
        if self._in_schema is None:
            self._in_schema = batch.schema  # driver-side analysis only
        batch.coalesce(4).write.mode("overwrite").parquet(chunk)
        mn, mx = _parquet_ts_minmax(chunk, self.ts_col)
        if mx is None:  # empty batch: drop the empty chunk, nothing to do
            shutil.rmtree(chunk, ignore_errors=True)
            return
        self._chunk_stats[chunk] = (mn, mx)
        wm = mx - datetime.timedelta(seconds=self.delay_seconds)
        if self._watermark is not None and wm < self._watermark:
            wm = self._watermark
        self._watermark = wm
        prev_horizon = self._emit_horizon

        # chunks that can hold rows of a newly-closed window (window end
        # in (prev_horizon, wm]): footer-range pruning — a chunk whose
        # LAST row's window already emitted, or whose FIRST row's window
        # is still open, contributes nothing; a stalled watermark
        # (wm <= horizon) closes nothing, so skip the emission job
        cand = (
            []
            if prev_horizon is not None and wm <= prev_horizon
            else [
                c
                for c, (cmn, cmx) in self._chunk_stats.items()
                if self._window_end(cmn) <= wm
                and (prev_horizon is None or self._window_end(cmx) > prev_horizon)
            ]
        )
        if cand:
            win = F.window(self.ts_col, self.window_duration)
            rows = self.spark.read.schema(self._in_schema).parquet(*cand)
            closing = F.col("__we") <= F.lit(wm)
            if prev_horizon is not None:
                closing = closing & (F.col("__we") > F.lit(prev_horizon))
            emitted = (
                rows.withColumn("__we", win.getField("end"))
                .filter(closing)
                .groupBy(win.getField("start").alias("ws"))
                .agg(F.count(F.lit(1)).alias("n"))
            )
            out_dir = os.path.join(self.out_path, f"e{self._emit_n}")
            self._emit_n += 1
            if self._out_schema is None:
                self._out_schema = emitted.schema
            emitted.coalesce(1).write.mode("overwrite").parquet(out_dir)
            if _parquet_rows(out_dir) > 0:
                self._emitted_any = True
            else:
                shutil.rmtree(out_dir, ignore_errors=True)
        # every window ending at/before wm is now emitted (or had no rows)
        self._emit_horizon = wm
        # GC chunks whose every row's window has emitted — the buffer
        # bound (delay × arrival rate), kept by file-level retention
        # instead of a per-batch rewrite
        for c, (_, cmx) in list(self._chunk_stats.items()):
            if self._window_end(cmx) <= wm:
                shutil.rmtree(c, ignore_errors=True)
                del self._chunk_stats[c]

    def feed(self, batch: DataFrame) -> None:
        """Drop late rows (event time behind the watermark), then fold."""
        if self._watermark is not None:
            batch = batch.filter(F.col(self.ts_col) >= F.lit(self._watermark))
        self.apply_batch(batch)

    def result(self) -> DataFrame:
        if not self._emitted_any:
            # nothing emitted yet (or only empty batches so far): return an
            # empty, correctly-typed frame instead of a path-not-found error
            return self.spark.createDataFrame([], "ws timestamp, n bigint")
        r = self.spark.read.option("recursiveFileLookup", "true")
        if self._out_schema is not None:
            r = r.schema(self._out_schema)
        return r.parquet(self.out_path)


class EowcAggMv:
    """EMIT ON WINDOW CLOSE aggregate MV — the SQL-surface runtime behind
    `CREATE MATERIALIZED VIEW ... FROM TUMBLE(t, ts, INTERVAL ...) GROUP
    BY window_start ... EMIT ON WINDOW CLOSE` over a table declaring
    `WATERMARK FOR ts AS ts - INTERVAL ...` (reference: watermark binding
    `src/frontend/src/binder/relation/watermark.rs`, EOWC plan
    enforcement `src/frontend/src/optimizer/mod.rs:474-630`, runtime
    sort buffer `src/stream/src/executor/sort.rs:20`).

    Semantics: rows buffer until the event-time watermark (max ts seen −
    delay, monotonic, DURABLE) passes their tumble window's end; each
    closed window's rows then run through `recompute` (the MV body over
    the closed rows, with window_start/window_end attached) and the
    result is APPENDED exactly once — closed rows leave the buffer, and
    late rows at/behind the watermark are dropped at the door
    (WatermarkFilter, `watermark_filter.rs:34-36`). Output is
    append-only by construction; deletes on the base table are rejected
    loudly (the reference requires an append-only input for EOWC).

    State = open-window rows only (bounded by delay × arrival rate) plus
    one durable watermark timestamp — the reference's sort-buffer state
    shape. Per-batch work is O(batch + closed rows), never O(history).

    Buffer layout (round-12, same design as EowcTumbleAgg): batches
    append as immutable chunk files; watermark advancement and the
    did-any-window-close decision come from the chunks' parquet footer
    min/max ts statistics (driver-side, no Spark job — previously one
    agg job over buffer∪batch per feed); emission reads only the chunks
    whose ts range overlaps the newly-closed span (prev-wm, wm], and
    fully-emitted chunks are GC'd instead of rewriting the surviving
    buffer every feed. Restart recovery needs no extra metadata: the
    durable WM file IS the emit horizon (everything at/before it was
    emitted) and chunk stats rebuild from the footers.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        ts_col: str,
        window_duration: str,
        delay_seconds: float,
        recompute,
        empty_input,
    ):
        self.spark = spark
        self.ts_col = ts_col
        self.window_duration = window_duration
        self._win_sec = _parse_duration_seconds(window_duration)
        self.delay_seconds = delay_seconds
        self.recompute = recompute
        self.empty_input = empty_input  # () -> empty typed input frame
        self.chunks_dir = os.path.join(state_dir, "buffer")
        self.out_path = os.path.join(state_dir, "out")
        self._emitted_any = os.path.isdir(self.out_path) and any(
            os.scandir(self.out_path)
        )
        self._wm_path = os.path.join(state_dir, "WM")
        self._watermark = self._read_wm()
        # restart recovery: open-window chunks are whatever chunk files
        # exist; their ts ranges come from the footers (no Spark job)
        self._chunk_stats: dict[str, tuple] = {}
        self._n = 0
        if os.path.isdir(self.chunks_dir):
            for d in sorted(os.listdir(self.chunks_dir)):
                m = re.fullmatch(r"b(\d+)", d)
                if not m:
                    continue
                p = os.path.join(self.chunks_dir, d)
                mn, mx = _parquet_ts_minmax(p, ts_col)
                if mx is None:
                    shutil.rmtree(p, ignore_errors=True)
                    continue
                self._chunk_stats[p] = (mn, mx)
                self._n = max(self._n, int(m.group(1)) + 1)
        self._in_schema = None
        self._out_schema = None
        self._emit_n = _next_seq_index(self.out_path, "e")
        self.downstream: list = []  # EOWC MVs have no retraction changelog
        # EOWC output is append-only by construction, so its changelog is
        # insert-only chunks — one per emission (the reference's
        # force_append_only sink path needs exactly this). Enabled by
        # CREATE SUBSCRIPTION / CREATE SINK like every other MV.
        self.changelog_dir = os.path.join(state_dir, "changelog")
        self.emit_changelog = False

    def exists(self) -> bool:
        return bool(
            self._emitted_any or self._chunk_stats or self._watermark is not None
        )

    def _read_wm(self):
        import datetime

        try:
            with open(self._wm_path) as f:
                return datetime.datetime.fromisoformat(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def _write_wm(self) -> None:
        tmp = self._wm_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self._watermark.isoformat())
        os.replace(tmp, self._wm_path)

    def _annotate(self, df: DataFrame) -> DataFrame:
        win = F.window(self.ts_col, self.window_duration)
        return df.withColumn("window_start", win.getField("start")).withColumn(
            "window_end", win.getField("end")
        )

    def apply_batch(self, batch: DataFrame, batch_id: int | None = None, batch_ns: str | None = None) -> None:
        deletes = batch.where(f"`{OP_COL}` < 0")
        if not _statically_empty(deletes) and deletes.limit(1).count() > 0:
            raise ValueError(
                "EMIT ON WINDOW CLOSE requires an append-only input: "
                "DELETE/UPDATE on the base table cannot retract an "
                "already-emitted window (reference EOWC constraint)"
            )
        self.feed(batch.where(f"`{OP_COL}` > 0").drop(OP_COL))

    def _window_end(self, ts):
        """End of the tumble window containing `ts` (Spark window()
        alignment: origin 1970-01-01 UTC)."""
        import datetime

        epoch = datetime.datetime(1970, 1, 1, tzinfo=ts.tzinfo)
        off = (ts - epoch).total_seconds()
        return epoch + datetime.timedelta(
            seconds=((off // self._win_sec) + 1) * self._win_sec
        )

    def feed(self, batch: DataFrame) -> None:
        import datetime

        if self._watermark is not None:
            # WatermarkFilter: late rows at/behind the watermark dropped
            batch = batch.filter(F.col(self.ts_col) > F.lit(self._watermark))
        chunk = os.path.join(self.chunks_dir, f"b{self._n}")
        self._n += 1
        if self._in_schema is None:
            self._in_schema = batch.schema  # driver-side analysis only
        batch.coalesce(4).write.mode("overwrite").parquet(chunk)
        mn, mx = _parquet_ts_minmax(chunk, self.ts_col)
        if mx is None:  # empty batch: drop the empty chunk, nothing to do
            shutil.rmtree(chunk, ignore_errors=True)
            return
        self._chunk_stats[chunk] = (mn, mx)
        prev_wm = self._watermark
        wm = mx - datetime.timedelta(seconds=self.delay_seconds)
        if prev_wm is not None and wm < prev_wm:
            wm = prev_wm
        self._watermark = wm

        # chunks that can hold rows of a newly-closed window (end in
        # (prev_wm, wm]): footer-range pruning, no Spark job; a stalled
        # watermark (wm <= prev_wm) closes nothing — skip the emission
        cand = (
            []
            if prev_wm is not None and wm <= prev_wm
            else [
                c
                for c, (cmn, cmx) in self._chunk_stats.items()
                if self._window_end(cmn) <= wm
                and (prev_wm is None or self._window_end(cmx) > prev_wm)
            ]
        )
        if cand:
            rows = self.spark.read.schema(self._in_schema).parquet(*cand)
            annotated = self._annotate(rows)
            closing = F.col("window_end") <= F.lit(wm)
            if prev_wm is not None:
                closing = closing & (F.col("window_end") > F.lit(prev_wm))
            out = self.recompute(annotated.filter(closing))
            if self.emit_changelog:
                # one insert-only chunk per emission; chunk index = count
                # of existing chunks (idempotent overwrite on redelivery)
                out = out.localCheckpoint(eager=True)
                k = 0
                while os.path.isdir(os.path.join(self.changelog_dir, f"c{k}")):
                    k += 1
                write_changelog(self.changelog_dir, k, with_ops(out, 1).coalesce(2))
            out_dir = os.path.join(self.out_path, f"e{self._emit_n}")
            self._emit_n += 1
            if self._out_schema is None:
                self._out_schema = out.schema
            out.coalesce(2).write.mode("overwrite").parquet(out_dir)
            if _parquet_rows(out_dir) > 0:
                self._emitted_any = True
            else:
                shutil.rmtree(out_dir, ignore_errors=True)
        # WM durability AFTER the emission write: the stored WM doubles
        # as the emit horizon on restart, so a crash between the two must
        # leave the OLD horizon in place — the un-emitted span's chunks
        # survive (GC below also gates on it) and the next feed re-runs
        # the emission, exactly the old buffer's at-least-once recovery.
        self._write_wm()
        # GC chunks whose every row's window has emitted (file-level
        # retention instead of the previous per-feed buffer rewrite)
        for c, (_, cmx) in list(self._chunk_stats.items()):
            if self._window_end(cmx) <= wm:
                shutil.rmtree(c, ignore_errors=True)
                del self._chunk_stats[c]

    def result(self) -> DataFrame:
        if not self._emitted_any:
            # typed empty frame: the MV body over zero input rows
            return self.recompute(self._annotate(self.empty_input())).limit(0)
        r = self.spark.read.option("recursiveFileLookup", "true")
        if self._out_schema is not None:
            r = r.schema(self._out_schema)
        return r.parquet(self.out_path)


def stream_to_mv(
    source: DataFrame,
    mv: MaterializedGroupAgg,
    checkpoint_dir: str,
    query_name: str = "mv_stream",
):
    """Attach the MV to a streaming source: each micro-batch becomes an
    insert-only changelog chunk (retractions arrive via CDC-style sources
    that carry their own op column — pass them through unchanged)."""

    def sink(batch_df: DataFrame, batch_id: int):
        if OP_COL not in batch_df.columns:
            batch_df = with_ops(batch_df, 1)
        mv.apply_batch(batch_df, batch_id=batch_id)

    return (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )

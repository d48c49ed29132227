"""Incremental sketch-table maintenance: a persistent ``(keys -> sketch)``
parquet table updated delta-by-delta, never rescanning history.

This is the production pattern mergeable sketches exist for (the reference
states it as the point of the serialized aggregator contract,
``HyperLogLogPlusPlus.java:60-96``: serialize partial state, merge later):
at 10^12-turn scale you cannot re-aggregate the full history when a day of
data arrives. Instead a snapshot table holds one serialized sketch per key
group; each arriving delta is sketched alone (one scan of the delta only)
and its partial states are merged into the snapshot. Cost per update is
O(delta + n_keys), independent of history size.

Where the merge runs is one size rule. The delta's partial states are
staged as parquet (one Spark job); then, when the uncompressed bytes of
the files the fold would load — the prior snapshot plus this table's
staged partial column, read from the parquet footers — are at most
``LOCAL_FOLD_BYTES``, the driver folds them with pyarrow (partials first,
then the prior snapshot, per key) and writes the new snapshot itself: no
further Spark job. Above the cap the same files feed the distributed
merge: one shuffle on the key columns, prior rows + delta partials
co-located by key. ``read``, ``results`` and ``rollup`` follow the same
rule over the snapshot they read: a small one is loaded (and merged and
extracted) on the driver and returned as a local DataFrame, so
collecting ``results`` / ``rollup`` starts no Spark job, and SQL over
``read`` plans no exchange. A larger one is scanned with the Spark
schema its parquet footer records, so no schema-inference job runs
either.

Storage layout (parquet stand-in for an Iceberg snapshot table, same seam
note as ``operators/checkpoint.py``)::

    table_dir/
      v00001/…parquet        keys…, sketch binary, rows_seen long
      v00002/…parquet
      v00003/_partials/      the staged delta partials, inside the writer's
                             reserved version dir; removed once the fold
                             commits (readers skip ``_`` names)
      snapshots.jsonl        append-only: one record per attempted commit —
                             version, parent version, the fingerprints NEW
                             in that version, n_keys, ts
      LATEST                 commit pointer — written last, atomically

Crash safety: a version directory — and its snapshots.jsonl record — is
garbage until the committed chain reaches it. ``update`` reserves the new
version's directory, stages the delta's partials inside it, writes the
new snapshot's parquet there, then appends the snapshot record, then
atomically replaces ``LATEST``; a crash anywhere before that last rename
leaves the previous snapshot fully readable (staged partials included,
it is an orphan directory ``vacuum`` collects), and the next update
writes to a fresh version number (max existing dir + 1), never reusing
the orphan.
``applied_fingerprints`` walks the parent chain from the committed
``LATEST`` only, so an orphan record from a writer that died between the
log append and the commit is never counted as applied — a replay of that
crashed delta folds in normally instead of being silently skipped.

Each record stores only the fingerprints new in its version (the
cumulative set is reconstructed by the chain walk), so the log is
O(versions + total fingerprints), not O(versions × fingerprints).

Idempotence: pass ``fingerprint`` (e.g. the delta's
``checkpoint.input_fingerprint`` or an Iceberg snapshot id) and a replayed
delta becomes a no-op — exactly-once table state under at-least-once
delivery of update jobs.

Concurrency: updates are optimistic single-writer. ``update`` records the
committed version it built on and re-checks it immediately before the
``LATEST`` rename; if another writer committed in between, it raises
``ConcurrentUpdateError`` instead of publishing a snapshot that silently
drops the other writer's delta — callers retry the whole ``update`` (the
fingerprint makes retries idempotent). Log appends, the check-then-rename
commit, and ``vacuum``'s whole read-compact-replace all hold an exclusive
``flock`` on the table's ``.lock`` file, so on one host the commit point
is atomic and a vacuum can never drop a record a concurrent writer just
appended. flock does not span hosts on most distributed filesystems, so
cross-host multi-writer deployments must still serialize updates
externally (one maintenance job per table — the module's intended
deployment); the optimistic check turns the easy race (a retried job
overlapping the next scheduled one) from silent data loss into a loud
error.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from zetasketch_spark.operators.agg import (
    PARTITION_COL,
    ROWS_COL,
    SKETCH_COL,
    driver_fold,
    sketch_merge,
    sketch_partial,
    sketch_result,
    sql_type,
)
from zetasketch_spark.sketches.base import SketchFamily

# 5-OR-MORE digits: f"v{n:05d}" grows to 6 digits at version 100000 (a
# 10s-trigger streaming sink gets there in ~12 days); a fixed {5} would
# stop counting those dirs and brick version allocation at rollover
_VDIR = re.compile(r"v(\d{5,})$")

#: a fold or read whose parquet inputs hold at most this many uncompressed
#: bytes (footer ``total_byte_size``) runs on the driver with pyarrow;
#: above it, the distributed merge runs over the same files
LOCAL_FOLD_BYTES = 64 << 20

# staged delta partials, inside the writer's reserved version directory
_STAGE = "_partials"
# the footer key under which Spark records a parquet file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_files(path: str) -> list[str]:
    """Data files of a snapshot or stage directory, in name (= task)
    order; ``_``/``.``-prefixed entries are metadata or staging, as Spark
    treats them."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and f[0] not in "._")


def _footer_bytes(files: list[str], columns=None) -> int:
    """Uncompressed bytes of ``columns`` (all when None) in ``files``,
    summed from the parquet footers — nothing is loaded."""
    total = 0
    for f in files:
        md = pq.read_metadata(f)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if columns is None:
                total += rg.total_byte_size
            else:
                total += sum(rg.column(j).total_uncompressed_size
                             for j in range(rg.num_columns)
                             if rg.column(j).path_in_schema in columns)
    return total


def _snapshot_schema(key_fields) -> StructType:
    """``keys…, sketch, rows_seen`` — nullable throughout, as Spark reads
    any parquet file back."""
    return StructType(
        [StructField(f.name, f.dataType) for f in key_fields]
        + [StructField(SKETCH_COL, BinaryType()),
           StructField(ROWS_COL, LongType())])


def _spark_schema(path: str) -> StructType:
    """The Spark schema that Spark (and ``_write_snapshot``) records in a
    parquet file's footer — the types ``spark.read.parquet`` returns,
    ``timestamp_ntz`` kept apart from ``timestamp``."""
    return StructType.fromJson(json.loads(
        pq.read_schema(path).metadata[_SPARK_SCHEMA_KEY]))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema taken from the first
    data file's footer instead of inferred: no schema-inference job."""
    return spark.read.schema(_spark_schema(_parquet_files(path)[0])) \
        .parquet(path)


def _load(files: list[str], columns: dict[str, str],
          schema: StructType) -> pa.Table:
    """``files``' ``columns`` (``{file column: output name}``) as one
    table cast to the Arrow form of ``schema``: INT96 timestamps decode as
    microseconds and become ``timestamp[us, tz=UTC]``, the UTC instants
    Spark reads them as."""
    arrow = to_arrow_schema(schema)
    parts = [pq.read_table(f, columns=list(columns),
                           coerce_int96_timestamp_unit="us")
             .select(list(columns))
             .rename_columns(list(columns.values())).cast(arrow)
             for f in files]
    return pa.concat_tables(parts) if parts else arrow.empty_table()


def _write_snapshot(table: pa.Table, schema: StructType, vpath: str) -> None:
    """One parquet file in the Arrow form of ``schema``, recording the
    Spark schema in the footer as Spark does, so ``spark.read.parquet``
    and the driver read it back with the same types."""
    arrow = to_arrow_schema(schema).with_metadata(
        {_SPARK_SCHEMA_KEY: schema.json()})
    pq.write_table(table.cast(arrow), os.path.join(vpath, "part-00000.parquet"))


def _merge_by_key(table: pa.Table, keys: list[str],
                  family: SketchFamily) -> pa.Table:
    """``keys…, sketch, rows_seen`` with one row per distinct key of
    ``table``: its states merged in row order (``agg.driver_fold``;
    ``merge_serialized``'s bytes) and its ``rows_seen`` summed."""
    groups = driver_fold(table, keys, family)
    rows = table.column(ROWS_COL).to_numpy()
    first = [int(idx[0]) for idx, _ in groups.values()]
    cols = {k: table.column(k).take(first) for k in keys}
    cols[SKETCH_COL] = pa.array(
        [family.serialize(family.make() if s is None else s)
         for _, s in groups.values()], pa.binary())
    cols[ROWS_COL] = pa.array(
        [int(rows[idx].sum()) for idx, _ in groups.values()], pa.int64())
    return pa.table(cols)


def _local_frame(spark: SparkSession, columns: dict, schema: StructType):
    """A DataFrame over driver-held columns: built from Arrow it is a
    LocalRelation, so collecting it (or a filter over it) starts no Spark
    job. Result values convert as a pandas UDF's do (NaN -> null, unsafe
    numeric casts)."""
    arrow = to_arrow_schema(schema)
    arrays = [c if isinstance(c, (pa.Array, pa.ChunkedArray))
              else pa.array(c, from_pandas=True).cast(arrow.field(n).type,
                                                      safe=False)
              for n, c in columns.items()]
    return spark.createDataFrame(pa.table(arrays, schema=arrow), schema)


class ConcurrentUpdateError(RuntimeError):
    """Another writer committed a snapshot while this update was running.

    Nothing was published: the half-built version directory and its log
    record are orphans the committed chain never reaches. Retry the whole
    ``update`` — the fingerprint check makes the retry idempotent against
    whatever the other writer already folded in.
    """


class SketchTable:
    """A versioned parquet table of serialized sketch states per key group.

    One instance = one (keys, value column, family) aggregation identity.
    ``update`` folds a delta DataFrame in; ``read`` returns the latest
    snapshot as ``keys… , sketch, rows_seen``; ``results`` extracts the
    family's result fields (estimates stay exact across any delta split —
    merge associativity is the core sketch contract).
    """

    def __init__(self, table_dir: str, keys: list[str], col: str,
                 family: SketchFamily):
        self.table_dir = table_dir
        self.keys = list(keys)
        self.col = col
        self.family = family
        # test seam: called after the log append, before the commit check
        self._before_commit = None
        # test seam: called inside vacuum's locked section, after the log
        # read — a racing writer started here must block on the lock
        self._during_vacuum = None
        os.makedirs(table_dir, exist_ok=True)
        self._check_identity()

    def _identity(self) -> dict:
        # family identity = class + its scalar/tuple parameters (JSON-safe,
        # deterministic across processes; cached arrays etc. are excluded;
        # runtime caches are not parameters, SketchFamily.params).
        params = {}
        for k, v in sorted(self.family.params().items()):
            if isinstance(v, tuple):
                v = list(v)
            if v is None or isinstance(v, (int, float, str, bool, list)):
                # canonicalize through JSON so NESTED tuples (e.g. the
                # quantile families' result_fields list of pairs) compare
                # equal to what a reopen loads back from meta.json —
                # (a, b) != [a, b] in Python, so without this a reopened
                # KLL/DD table would false-fail the identity guard
                params[k] = json.loads(json.dumps(v))
        return {"keys": self.keys, "col": self.col,
                "family": type(self.family).__name__,
                "family_params": params}

    def _check_identity(self) -> None:
        """One table dir = one (keys, value column, family) aggregation
        identity, pinned in meta.json at creation: opening an existing
        table with a DIFFERENT identity must fail loudly — folding a
        delta sketched with other parameters would silently merge
        incompatible states (merging across families/precisions is
        exactly the corruption the reference's type-check surface exists
        to prevent, SURVEY.md §2 O21)."""
        meta_path = os.path.join(self.table_dir, "meta.json")
        ident = self._identity()
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                existing = json.load(f)
            # compare the identity keys only: meta.json also carries
            # state pinned later (value_domain, below), which a fresh
            # open legitimately doesn't know yet
            if {k: existing.get(k) for k in ident} != ident:
                raise ValueError(
                    f"SketchTable identity mismatch at {self.table_dir}: "
                    f"table was created as {existing}, opened as {ident}")
        else:
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(ident, f)
            os.replace(tmp, meta_path)

    def _check_value_domain(self, delta: DataFrame) -> None:
        """An HLL-like family with ``value_type=None`` derives its hash
        recipe from each delta's DECLARED column type
        (``pin_value_type``), which the identity guard cannot see:
        upstream schema drift (int → bigint) across deltas would merge
        registers hashed through two different recipes — silently wrong
        estimates. Pin the first delta's derived domain in ``meta.json``
        and reject mismatching deltas loudly; a caller whose column
        legitimately changed representation declares ``value_type``
        explicitly on the family instead."""
        if getattr(self.family, "value_type", "n/a") is not None:
            return
        from zetasketch_spark.functions.sketch_udfs import (
            SPARK_TYPE_TO_HASH_DOMAIN)

        domain = SPARK_TYPE_TO_HASH_DOMAIN.get(
            delta.schema[self.col].dataType.simpleString())
        meta_path = os.path.join(self.table_dir, "meta.json")
        with self._log_lock():
            with open(meta_path) as f:
                meta = json.load(f)
            if "value_domain" in meta:
                if meta["value_domain"] != domain:
                    raise ValueError(
                        f"SketchTable value-domain mismatch at "
                        f"{self.table_dir}: the table pinned hash domain "
                        f"{meta['value_domain']!r} from its first delta's "
                        f"schema; this delta's {self.col!r} column derives "
                        f"{domain!r} — folding it in would mix incompatible "
                        f"hash recipes. If the column type legitimately "
                        f"changed representation, declare value_type on "
                        f"the family explicitly.")
            else:
                meta["value_domain"] = domain
                tmp = meta_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(meta, f)
                os.replace(tmp, meta_path)

    # -- snapshot bookkeeping -------------------------------------------

    @contextlib.contextmanager
    def _log_lock(self):
        """Exclusive flock over the table's log/commit metadata.

        Held by (a) ``update``'s log append, (b) ``update``'s
        commit-check + ``LATEST`` rename, and (c) the whole of
        ``vacuum``'s read-compact-replace — so a writer's just-appended
        record can never fall between vacuum reading ``snapshots.jsonl``
        and atomically replacing it (losing the record would make
        ``applied_fingerprints`` forget history and double-fold a
        replayed delta). flock serializes across processes on one host;
        on a distributed store the module's single-maintenance-job
        deployment note still applies."""
        path = os.path.join(self.table_dir, ".lock")
        with open(path, "w") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)

    def latest_version(self) -> int:
        """Committed version (0 = empty table). Only ``LATEST`` counts:
        orphan v-dirs from a crashed writer are invisible."""
        p = os.path.join(self.table_dir, "LATEST")
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return int(f.read().strip())

    def _next_version(self) -> int:
        """1 + max over ALL version dirs (committed or orphaned) so a
        rewrite after a crash never collides with a half-written dir."""
        versions = [0]
        for name in os.listdir(self.table_dir):
            m = _VDIR.fullmatch(name)
            if m:
                versions.append(int(m.group(1)))
        return max(versions) + 1

    def _log_records(self) -> dict[int, dict]:
        log = os.path.join(self.table_dir, "snapshots.jsonl")
        recs: dict[int, dict] = {}
        if os.path.exists(log):
            with open(log) as f:
                for line in f:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        # a torn line is ALWAYS an uncommitted orphan: the
                        # commit rename happens only after its record's
                        # append returned, so a committed version's line
                        # is never partial — and _append_log_record heals
                        # the tail before writing, so later records never
                        # merge into the torn fragment. Skipping it keeps
                        # the table fully usable after a mid-append crash
                        # (the crash-safety contract).
                        continue
                    recs[rec["version"]] = rec
        return recs

    def _append_log_record(self, rec: dict) -> None:
        """Append one record under the log lock, healing a torn tail
        first: if a crashed writer left the file without a trailing
        newline, start a fresh line so THIS record can't be swallowed
        into the garbage fragment (a committed version whose record is
        unreadable would silently forget its chain's fingerprints)."""
        log = os.path.join(self.table_dir, "snapshots.jsonl")
        with self._log_lock():
            lead = ""
            if os.path.exists(log) and os.path.getsize(log) > 0:
                with open(log, "rb") as f:
                    f.seek(-1, os.SEEK_END)
                    if f.read(1) != b"\n":
                        lead = "\n"
            with open(log, "a") as f:
                f.write(lead + json.dumps(rec) + "\n")

    def applied_fingerprints(self) -> set[str]:
        """Fingerprints folded into the committed snapshot chain.

        Walks parent pointers from the committed ``LATEST`` version only:
        a record whose version never became an ancestor of ``LATEST`` (a
        writer that crashed between the log append and the commit, or
        that lost an optimistic-concurrency race) is an orphan and its
        fingerprints are NOT applied — comparing ``version <= committed``
        would falsely count them once any later delta commits, silently
        skipping a replay of the lost delta."""
        recs = self._log_records()
        out: set[str] = set()
        v = self.latest_version()
        while v > 0:
            rec = recs.get(v)
            if rec is None:
                break
            if "fingerprints" in rec:
                # pre-r5 record format stored the cumulative set — it
                # already contains the whole chain below it
                out.update(rec["fingerprints"])
                break
            out.update(rec.get("new_fingerprints", []))
            v = rec.get("parent", 0)
        return out

    def _vpath(self, version: int) -> str:
        return os.path.join(self.table_dir, f"v{version:05d}")

    # -- core operations ------------------------------------------------

    def _snapshot_path(self, version: int | None) -> str | None:
        """The directory of a committed snapshot (see ``read``); None only
        for an empty table's latest."""
        if version is None:
            v = self.latest_version()
            return self._vpath(v) if v > 0 else None
        chain = self._chain_versions()
        if version not in chain or not os.path.isdir(self._vpath(version)):
            raise ValueError(
                f"version {version} is not a readable committed snapshot "
                f"of {self.table_dir} (retained chain: {sorted(chain)}): "
                f"either an orphan from a crashed/raced writer (never "
                f"published), never written, or compacted away by "
                f"vacuum()")
        return self._vpath(version)

    def _load_small(self, path: str):
        """``(table, spark schema)`` of the snapshot at ``path`` when its
        footers put it at most ``LOCAL_FOLD_BYTES``, else None."""
        files = _parquet_files(path)
        if not files or _footer_bytes(files) > LOCAL_FOLD_BYTES:
            return None
        schema = _spark_schema(files[0])
        return _load(files, {n: n for n in schema.names}, schema), schema

    # -- core operations ------------------------------------------------

    def read(self, spark: SparkSession,
             version: int | None = None) -> DataFrame | None:
        """A committed snapshot (``keys…, sketch, rows_seen``), with the
        schema and rows ``spark.read.parquet`` of its directory gives.

        ``version=None`` reads the latest; an explicit ``version`` is a
        time-travel read of a historical snapshot (the Iceberg
        ``VERSION AS OF`` shape) and must be a readable member of the
        committed chain. Everything else is rejected loudly: orphan
        versions from crashed/raced writers were never published, and
        versions below a ``vacuum`` compaction checkpoint no longer
        exist (their history is folded into the checkpoint). Returns
        None only for an empty table's latest.

        A snapshot at most ``LOCAL_FOLD_BYTES`` is read eagerly into
        driver memory (bounded by that cap) and returned as a
        one-partition local frame: building it starts no Spark job, and a
        ``GROUP BY`` over it (the SQL ``hll_count_merge`` read) plans no
        exchange; collecting it as is starts one JVM-only job. A larger
        one is a lazy parquet scan with the footer's schema.
        """
        path = self._snapshot_path(version)
        if path is None:
            return None
        small = self._load_small(path)
        if small is None:
            return _read_parquet(spark, path)
        table, schema = small
        return _local_frame(spark, {n: table.column(n) for n in schema.names},
                            schema).coalesce(1)

    def _base(self, fingerprint: str | None) -> tuple[int, dict | None]:
        """``(committed version to build on, the no-op metrics when
        fingerprint is already applied in its chain, else None)``."""
        base_version = self.latest_version()
        if fingerprint is not None and \
                fingerprint in self.applied_fingerprints():
            return base_version, {"version": base_version, "applied": False,
                                  "reason": "fingerprint already applied",
                                  "fingerprint": fingerprint}
        return base_version, None

    def _reserve_version(self) -> int:
        """Allocate + RESERVE a version dir under the lock: two same-host
        writers that both scanned the same max would otherwise pick the
        same number and interleave parquet files into one directory
        (mode('errorifexists') is a non-atomic check-then-act) — silent
        snapshot corruption instead of the loud race error. A crash after
        the reservation leaves an orphan dir: invisible (never
        committed), number burned, vacuum collects it."""
        with self._log_lock():
            version = self._next_version()
            os.makedirs(self._vpath(version), exist_ok=False)
        return version

    def update(self, spark: SparkSession, delta: DataFrame,
               fingerprint: str | None = None,
               tree_levels: int = 1,
               delta_is_partials: bool = False) -> dict:
        """Fold ``delta`` into the table; returns a metrics dict.

        One Spark job scans ONLY the delta and stages its stage-1
        partials as parquet in the new version's directory. At or under
        ``LOCAL_FOLD_BYTES`` (the staged partials plus the prior
        snapshot, already one compact row per key) the driver folds them
        and writes the snapshot; above it they shuffle once on the key
        columns, and ``tree_levels=2`` salts that merge for hot keys,
        same contract as ``sketch_agg``. With ``fingerprint`` set, a
        replay of an already-applied delta is a committed no-op that
        starts no Spark job.

        ``delta_is_partials=True`` treats ``delta`` as ALREADY-COMPUTED
        stage-1 partials (``keys…, sketch, rows_seen, partition_id`` —
        the `sketch_partial`/`multi_sketch_partial` output shape) and
        skips the scan stage entirely. The states must come from THIS
        table's family identity — the bytes are opaque, so that cannot
        be validated here; `update_tables` (which derives the partials
        from each table's own family) is the safe producer.

        Raises ``ConcurrentUpdateError`` if another writer committed
        between the snapshot read and the commit rename (see module
        docstring) — retry the whole call.
        """
        t0 = time.time()
        if delta_is_partials:
            missing = {*self.keys, SKETCH_COL, ROWS_COL,
                       PARTITION_COL} - set(delta.columns)
            if missing:
                raise ValueError(
                    f"delta_is_partials=True but the frame is missing "
                    f"partial-stage columns {sorted(missing)}")
        else:
            self._check_value_domain(delta)
        base_version, noop = self._base(fingerprint)
        if noop is not None:
            return noop

        partials = (delta.select(*self.keys, SKETCH_COL, ROWS_COL,
                                 PARTITION_COL)
                    if delta_is_partials else
                    sketch_partial(delta, self.keys, self.col, self.family))
        version = self._reserve_version()
        stage = os.path.join(self._vpath(version), _STAGE)
        partials.write.parquet(stage)
        out = self._fold(spark, base_version, version, stage,
                         partials.schema, SKETCH_COL, fingerprint,
                         tree_levels, t0)
        shutil.rmtree(stage)
        return out

    def _fold(self, spark: SparkSession, base_version: int, version: int,
              stage: str, stage_schema: StructType, blob_col: str,
              fingerprint: str | None, tree_levels: int, t0: float) -> dict:
        """Merge the staged partials' ``blob_col`` with snapshot
        ``base_version`` into the reserved ``version``, then log and
        commit it."""
        vpath = self._vpath(version)
        try:
            stage_files = _parquet_files(stage)
            # read the EXACT version this update builds on (not latest-at-
            # read time) so the committed chain's parent pointer is always
            # the snapshot whose states were actually folded in
            prior_files = (_parquet_files(self._vpath(base_version))
                           if base_version > 0 else [])
            if (_footer_bytes(stage_files,
                              {*self.keys, blob_col, ROWS_COL})
                    + _footer_bytes(prior_files) <= LOCAL_FOLD_BYTES):
                n_keys = self._fold_local(stage_files, stage_schema,
                                          blob_col, prior_files, vpath)
            else:
                n_keys = self._fold_spark(spark, stage, stage_schema,
                                          blob_col, base_version, vpath,
                                          tree_levels)
        except Exception:
            # the prior snapshot is read by this fold; if a
            # concurrent vacuum collected our base version meanwhile the
            # failure is a confusing FileNotFound — re-check and surface
            # it as the retryable race error the caller's retry loop
            # expects
            if self.latest_version() != base_version:
                raise ConcurrentUpdateError(
                    f"table advanced past v{base_version} while this "
                    f"update was executing (its snapshot may have been "
                    f"vacuumed); this delta (fingerprint={fingerprint!r}) "
                    f"was NOT applied — retry update()")
            raise
        # log record BEFORE the commit pointer: a crash here orphans the
        # record (the chain walk never reaches it — harmless); the reverse
        # order could commit a version whose fingerprints were never
        # logged, so a replay would double-fold the delta
        # `is not None`, matching the idempotence check above: a
        # falsy-but-set fingerprint ('' from a missing upstream field)
        # must still be logged, or its replay would pass the applied
        # check and double-fold
        self._append_log_record({"version": version,
                                 "parent": base_version,
                                 "new_fingerprints":
                                     [fingerprint]
                                     if fingerprint is not None else [],
                                 "n_keys": n_keys,
                                 "ts": time.time()})
        if self._before_commit is not None:
            self._before_commit()  # test seam: interleave a racing writer
        with self._log_lock():
            # optimistic-concurrency check immediately before the rename: a
            # writer that lost the race must not publish a snapshot built on
            # a stale parent (it would silently drop the winner's delta)
            now_committed = self.latest_version()
            if now_committed != base_version:
                raise ConcurrentUpdateError(
                    f"table advanced v{base_version}->v{now_committed} "
                    f"during update; this delta (fingerprint="
                    f"{fingerprint!r}) was NOT applied — retry update()")
            # commit point: snapshot becomes visible only now
            tmp = os.path.join(self.table_dir, "LATEST.tmp")
            with open(tmp, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(self.table_dir, "LATEST"))
        return {"version": version, "applied": True, "n_keys": n_keys,
                "fingerprint": fingerprint, "parent": base_version,
                "seconds": round(time.time() - t0, 3)}

    def _fold_local(self, stage_files, stage_schema, blob_col, prior_files,
                    vpath) -> int:
        """The driver fold: per key, the staged partials then the prior
        snapshot's state (the Spark path's union order), written as the
        new snapshot with pyarrow. Returns n_keys."""
        schema = _snapshot_schema([stage_schema[k] for k in self.keys])
        table = pa.concat_tables([
            _load(stage_files, {**{k: k for k in self.keys},
                                blob_col: SKETCH_COL, ROWS_COL: ROWS_COL},
                  schema),
            _load(prior_files, {n: n for n in schema.names}, schema)])
        merged = _merge_by_key(table, self.keys, self.family)
        _write_snapshot(merged, schema, vpath)
        return merged.num_rows

    def _fold_spark(self, spark, stage, stage_schema, blob_col,
                    base_version, vpath, tree_levels) -> int:
        """The distributed fold, for folds above ``LOCAL_FOLD_BYTES``: one
        shuffle on the key columns. Returns n_keys."""
        partials = spark.read.schema(stage_schema).parquet(stage).select(
            *self.keys, F.col(blob_col).alias(SKETCH_COL), ROWS_COL,
            PARTITION_COL)
        if base_version > 0:
            # the prior snapshot is itself a valid partial per key; tag it
            # with a partition id outside the delta's range so the salted
            # merge treats it as one more state to fold in
            prior = _read_parquet(spark, self._vpath(base_version)) \
                .withColumn(PARTITION_COL, F.lit(-1).cast("int"))
            partials = partials.unionByName(prior)
        merged = sketch_merge(partials, self.keys, self.family,
                              tree_levels=tree_levels)
        # 'append' adds the snapshot beside the stage it reads from, in
        # our freshly reserved dir ('overwrite' would delete the stage)
        merged.select(*self.keys, SKETCH_COL, ROWS_COL) \
              .write.mode("append").parquet(vpath)
        # the written files' footers hold the row count: no read job
        return sum(pq.read_metadata(f).num_rows
                   for f in _parquet_files(vpath))

    def results(self, spark: SparkSession, keep_sketch: bool = False,
                version: int | None = None) -> DataFrame | None:
        """Extract the family's result fields from a snapshot (latest by
        default; pass ``version`` for a time-travel read):
        ``keys…, [sketch,] rows_seen, result fields``. A snapshot at most
        ``LOCAL_FOLD_BYTES`` is extracted on the driver and returned as a
        local DataFrame (collecting it starts no Spark job); a larger one
        through the distributed result UDF, over a parquet scan with the
        footer's schema."""
        path = self._snapshot_path(version)
        if path is None:
            return None
        small = self._load_small(path)
        if small is None:
            return sketch_result(_read_parquet(spark, path), self.family,
                                 keep_sketch=keep_sketch)
        return self._result_frame(spark, *small, keep_sketch)

    def _result_frame(self, spark, table, schema, keep_sketch):
        """``table``'s columns plus each row's result fields as a local
        DataFrame, in ``sketch_result``'s layout."""
        fam = self.family
        res = [fam.result(fam.deserialize(b))
               for b in table.column(SKETCH_COL).to_pylist()]
        fields = [StructField(n, sql_type(t)) for n, t in fam.result_fields]
        cols = {n: table.column(n) for n in schema.names}
        cols.update(zip([f.name for f in fields],
                        zip(*res) if res else [[]] * len(fields)))
        out = StructType(list(schema.fields) + fields)
        if not keep_sketch:
            del cols[SKETCH_COL]
            out = StructType([f for f in out.fields if f.name != SKETCH_COL])
        return _local_frame(spark, cols, out)

    def rollup(self, spark: SparkSession, keys: list[str],
               keep_sketch: bool = False, version: int | None = None,
               tree_levels: int = 1, where=None) -> DataFrame | None:
        """Aggregate navigation: derive a COARSER grouping from the
        snapshot by merging its sketch states (``keys`` ⊆ the table's
        keys) — one pass over n_keys compact rows, never over history.
        Exact by merge associativity: a (role, day) table answers every
        (role) / (day) / () query a dedicated table would, byte-equal for
        HLL (the rollups-are-free invariant, DESIGN.md §1).

        ``where`` (a Column predicate over the table's key columns)
        restricts which fine-grain states fold in BEFORE the merge — the
        sliding-window shape: distinct-over-the-last-7-days from a
        (role, day) table is ``rollup(["role"],
        where=F.col("day") >= cutoff)``, merging only the selected days'
        states instead of rescanning any raw history.

        A snapshot at most ``LOCAL_FOLD_BYTES`` is filtered (by Spark, on
        a local frame), merged and extracted on the driver, and returned
        as a local DataFrame whose collect starts no Spark job; a larger
        one merges distributed over a parquet scan with the footer's
        schema, ``tree_levels=2`` salting hot coarse keys."""
        missing = set(keys) - set(self.keys)
        if missing:
            raise ValueError(
                f"rollup keys {sorted(missing)} are not grouping keys of "
                f"this table (keys={self.keys}); a rollup can only DROP "
                f"keys, never invent them")
        path = self._snapshot_path(version)
        if path is None:
            return None
        small = self._load_small(path)
        if small is None:
            return self._rollup_spark(_read_parquet(spark, path), keys,
                                      keep_sketch, tree_levels, where)
        table, schema = small
        if where is not None:
            # Spark evaluates the predicate on the driver
            # (ConvertToLocalRelation): only the kept row numbers return
            row = "__row__"
            frame = _local_frame(
                spark, {**{n: table.column(n) for n in schema.names},
                        row: np.arange(table.num_rows)},
                StructType(list(schema.fields)
                           + [StructField(row, LongType())]))
            table = table.take([r[0] for r in
                                frame.filter(where).select(row).collect()])
        return self._result_frame(
            spark, _merge_by_key(table, list(keys), self.family),
            _snapshot_schema([schema[k] for k in keys]), keep_sketch)

    def _rollup_spark(self, snap, keys, keep_sketch, tree_levels, where):
        """The distributed rollup, for snapshots above the cap."""
        if where is not None:
            snap = snap.filter(where)
        partials = snap.select(*keys, SKETCH_COL, ROWS_COL)
        if tree_levels >= 2:
            # salt for hot coarse keys: many fine-grain states fold into
            # one coarse key, same fan-in story as the update merge
            partials = partials.withColumn(
                PARTITION_COL, F.spark_partition_id())
        merged = sketch_merge(partials, list(keys), self.family,
                              tree_levels=tree_levels)
        return sketch_result(merged, self.family, keep_sketch=keep_sketch)

    # -- maintenance ------------------------------------------------------

    def history(self) -> list[dict]:
        """Committed-chain metadata, newest first: one dict per reachable
        log record (version, parent, new_fingerprints / compacted
        cumulative checkpoint, n_keys, ts). Orphan records are excluded —
        this is the table's auditable lineage."""
        recs = self._log_records()
        return [recs[v] for v in self._chain_versions() if v in recs]

    def _chain_versions(self) -> list[int]:
        """Committed chain, newest first (LATEST, its parent, ...)."""
        recs = self._log_records()
        out = []
        v = self.latest_version()
        while v > 0:
            out.append(v)
            rec = recs.get(v)
            if rec is None or "fingerprints" in rec:
                break  # chain root (or a pre-r5 cumulative checkpoint)
            v = rec.get("parent", 0)
        return out

    def vacuum(self, keep_versions: int = 1) -> dict:
        """Garbage-collect superseded snapshot versions and compact the log.

        Deletes version directories that are (a) committed-chain ancestors
        older than the newest ``keep_versions`` snapshots, or (b) orphans
        from crashed/raced writers — but ONLY below the committed LATEST:
        a directory numbered above it may belong to a writer that is mid
        update right now, and is left alone (its number stays burned).

        The log is rewritten so the oldest kept chain version becomes a
        cumulative checkpoint record (the same ``fingerprints`` format the
        chain walk already treats as a terminator), so
        ``applied_fingerprints`` — and therefore replay idempotence — is
        exactly preserved while dropping every record the chain no longer
        needs. Records above LATEST are preserved verbatim for the same
        in-flight-writer reason as the directories.

        In-flight READERS: a snapshot above ``LOCAL_FOLD_BYTES`` is read
        lazily, so a concurrent job still consuming a superseded
        version's files when it is deleted fails with a FileNotFound-style
        error (an in-flight ``update`` re-checks LATEST and converts this
        to the retryable ``ConcurrentUpdateError``); a smaller one is
        loaded when ``read`` / ``results`` / ``rollup`` is called. When
        readers/writers overlap vacuum,
        run it with ``keep_versions`` large enough to cover their
        read horizon.
        """
        # the WHOLE read-compact-replace runs under the log lock: without
        # it, a concurrent update's record appended between _log_records()
        # and the os.replace below would be silently dropped from the
        # rewritten log — applied_fingerprints() would then forget that
        # delta and a replay would double-fold it (the exact corruption
        # the fingerprint chain exists to prevent). The lock also freezes
        # LATEST (commits take it too), so committed/chain/cumulative are
        # one consistent snapshot.
        with self._log_lock():
            committed = self.latest_version()
            chain = self._chain_versions()
            keep = set(chain[:max(keep_versions, 1)])
            cumulative = self.applied_fingerprints()
            recs = self._log_records()
            if self._during_vacuum is not None:
                self._during_vacuum()  # test seam: racing writer blocks

            removed_dirs = []
            for name in sorted(os.listdir(self.table_dir)):
                m = _VDIR.fullmatch(name)
                if not m:
                    continue
                v = int(m.group(1))
                if v < committed and v not in keep:
                    shutil.rmtree(os.path.join(self.table_dir, name))
                    removed_dirs.append(v)

            oldest_kept = min(keep) if keep else 0
            new_log = []
            for v in sorted(recs):
                if v == oldest_kept:
                    base = recs[v]
                    new_log.append({
                        "version": v,
                        "fingerprints": sorted(cumulative),
                        "n_keys": base.get("n_keys"),
                        "ts": base.get("ts"),
                        "compacted": True,
                    })
                elif v in keep or v > committed:
                    new_log.append(recs[v])
            log = os.path.join(self.table_dir, "snapshots.jsonl")
            tmp = log + ".tmp"
            with open(tmp, "w") as f:
                for rec in new_log:
                    f.write(json.dumps(rec) + "\n")
            os.replace(tmp, log)
        return {"removed_versions": removed_dirs,
                "kept_versions": sorted(keep),
                "log_records": len(new_log)}


def update_tables(spark: SparkSession, delta: DataFrame,
                  tables: dict[str, SketchTable],
                  fingerprint: str | None = None,
                  tree_levels: int = 1) -> dict:
    """Fold ONE delta into several sketch tables with a SINGLE scan.

    The daily north-star pipeline maintains an HLL-distinct table, a
    Count-Min heavy-hitter table, and a quantile table over the same
    arriving transcripts; updated independently, each table re-scans the
    delta. Here `multi_sketch_partial` computes every table's stage-1
    partials from one pass (each family's Arrow kernel on the shared
    batch), and ONE parquet write stages the tiny partial-state frame in
    the first pending table's reserved version directory
    (``vNNNNN/_partials``). Each table then folds its own column of the
    stage under the same size rule as ``update``: on the driver at or
    under ``LOCAL_FOLD_BYTES`` — so a first delivery starts one Spark
    job in all — and distributed above it.

    All tables must share the same group keys. Each table logs the
    fingerprint in its OWN chain, so a crash between folds is safe:
    replaying the whole call no-ops the tables that committed and folds
    only the ones that did not — exactly-once per table, same contract
    as calling update() per table. A redelivery every table has applied
    starts no Spark job.

    Returns ``{name: update-metrics}``.
    """
    from zetasketch_spark.operators.multi import multi_sketch_partial

    if not tables:
        return {}
    keys_sets = {tuple(t.keys) for t in tables.values()}
    if len(keys_sets) != 1:
        raise ValueError(
            f"update_tables needs one shared key set; got {sorted(keys_sets)}")
    keys = list(next(iter(keys_sets)))
    reserved = {*keys, SKETCH_COL, ROWS_COL, PARTITION_COL}
    clash = reserved & set(tables)
    if clash:
        raise ValueError(
            f"table names {sorted(clash)} collide with key/partial columns")
    specs = {name: (t.col, t.family) for name, t in tables.items()}
    # the partials path inside update() cannot see the raw delta's schema,
    # so run each table's value-domain drift guard here, against the
    # delta each partial state is actually derived from
    for t in tables.values():
        t._check_value_domain(delta)
    # scan only for the tables that have not applied this fingerprint: a
    # redelivered delta runs no Spark job at all
    pending = {name: spec for name, spec in specs.items()
               if fingerprint is None
               or fingerprint not in tables[name].applied_fingerprints()}
    # one scan, one write: O(partitions × keys) serialized states that
    # every pending table's fold reads back instead of rescanning
    host = next(iter(pending), None)
    if host is not None:
        version = tables[host]._reserve_version()
        stage = os.path.join(tables[host]._vpath(version), _STAGE)
        parts = multi_sketch_partial(delta, keys, pending)
        parts.write.parquet(stage)
    out = {}
    for name, t in tables.items():
        t0 = time.time()
        # re-checked per table: one that committed this fingerprint since
        # the pending check above no-ops instead of folding it twice
        base_version, noop = t._base(fingerprint)
        out[name] = noop or t._fold(
            spark, base_version,
            version if name == host else t._reserve_version(), stage,
            parts.schema, name, fingerprint, tree_levels, t0)
    if host is not None:
        shutil.rmtree(stage)
    return out


def sketch_table_sink(table: SketchTable, stream_id: str,
                      tree_levels: int = 1):
    """``foreachBatch`` sink that folds each streaming micro-batch into a
    ``SketchTable`` — the persistent-table complement of
    ``streaming/agg.py``'s state-store aggregation::

        q = (stream.writeStream
             .foreachBatch(sketch_table_sink(table, "events-hll-v1"))
             .option("checkpointLocation", ckpt).start())

    Exactly-once table state under streaming's at-least-once batch
    delivery: each batch is fingerprinted ``{stream_id}/batch-{batch_id}``,
    and after a crash/restart Spark re-delivers the in-flight batch with
    the SAME batch id (that is the foreachBatch contract), which the
    fingerprint check turns into a committed no-op. ``stream_id`` must be
    unique per (query, table) pairing — reusing one across different
    queries writing the same table would alias their batch ids.

    Single-writer per table, as per the SketchTable concurrency contract:
    a lost optimistic race raises ConcurrentUpdateError, which fails the
    batch and lets the streaming engine retry it (idempotently).
    """

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        table.update(batch_df.sparkSession, batch_df,
                     fingerprint=f"{stream_id}/batch-{batch_id}",
                     tree_levels=tree_levels)

    return fold


def sketch_tables_sink(tables: dict[str, SketchTable], stream_id: str,
                       tree_levels: int = 1):
    """``foreachBatch`` sink folding each micro-batch into SEVERAL sketch
    tables from one scan (`update_tables`) — the streaming form of the
    one-scan daily rollup. Same exactly-once contract as
    ``sketch_table_sink``, held PER TABLE: the shared
    ``{stream_id}/batch-{batch_id}`` fingerprint means a re-delivered
    batch (or a batch that crashed between folds) no-ops the tables that
    already committed it and folds only the rest."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        update_tables(batch_df.sparkSession, batch_df, tables,
                      fingerprint=f"{stream_id}/batch-{batch_id}",
                      tree_levels=tree_levels)

    return fold

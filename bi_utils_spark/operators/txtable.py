"""Manifest-log transactional parquet tables (X110, r7) — the ACID
engine that lets `merge.merge_into_table`'s semantics EXECUTE in a
plain-parquet deployment, no Delta/Iceberg jars required.

The reference's M1 merge (`utils.py:237-296`) runs against a
database with a transaction log; Spark-on-parquet has no such log, so
prior rounds carried `merge_into_table` as a capability-gated codegen
path. This module supplies the missing piece: a minimal write-ahead
manifest log in the style of the (public) Delta Lake protocol spec —
ordered JSON commits, each listing the data files it adds and
removes; a snapshot at version v is the fold of commits 0..v.

Layout::

    <path>/_txlog/00000000000000000000.json   commit 0, 1, ...
    <path>/_txlog/00000000000000000010.ckpt.json  folded checkpoint
    <path>/data/<commit-uuid>/part-*.parquet  (or .../<pcol>=<v>/...)

Why this scales to 100 TB:

- **Readers never LIST the data directory.** The live file set comes
  from the log fold — O(#commits since last checkpoint) driver-side
  JSON reads, bounded by automatic checkpoints every
  ``CHECKPOINT_EVERY`` commits. Object-store listing of a million
  files never happens.
- **Partition pruning is manifest-level.** Each file's partition
  values are recorded at commit time; a pruned read hands Spark only
  the matching files, so probe I/O is proportional to the selected
  partitions by construction (same discipline as
  `vector_index.ivf_index_probe`).
- **Merge is copy-on-write at PARTITION granularity.** A merge into a
  date-partitioned 100 TB table whose source touches 3 days rewrites
  3 partitions; every other file survives by reference (asserted in
  test_txtable by file-list identity). Unpartitioned tables fall back
  to full-snapshot rewrite — documented, and the reason production
  tables declare partition columns.
- **Compaction and vacuum are metadata swaps.** `compact_table`
  rewrites live files into fewer and commits (added, removed) — old
  versions still resolve for time travel until `vacuum_table` drops
  files unreferenced by any retained version.
- **Concurrency is optimistic, commit-claim = put-if-absent.** A
  commit claims the next version slot through the installed
  `LogStore` backend (r10 seam, the public Delta LogStore pattern):
  the default `LinkingLogStore` stages the JSON then `os.link`s it —
  EEXIST means another writer won — correct wherever link creation
  is atomic (local fs, NFS, HDFS-like). An object-store deployment
  installs a conditional-PUT backend via `set_log_store` — a
  BACKEND, not a rewrite; the double in tests/test_txlogstore.py
  pins the required semantics. Appends rebase automatically on a
  lost race; rewriting commits re-validate and raise
  `ConcurrentWriteError` if their read snapshot went stale (the
  Delta protocol's conflict rule).
- **Exactly-once streaming.** `foreach_batch_sink` stamps commits
  with (app_id, batch_id); a redelivered micro-batch finds its
  batch_id already in the log and commits nothing (idempotent sink,
  the foreachBatch half of Structured Streaming's end-to-end
  exactly-once contract).
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import time
import uuid
from dataclasses import dataclass, field
from typing import Sequence
from urllib.parse import unquote

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bi_utils_spark.operators.materialize import materialize

LOG_DIR = "_txlog"
DATA_DIR = "data"
# commit-time CHANGE DATA files (the public Delta `_change_data`
# pattern): rewriting commits of a cdc-enabled table persist their
# typed change rows at commit time, so the change feed is a pure SCAN
# for those commits — no pk requirement, no read-time join
CDC_DIR = "_change_data"
CHECKPOINT_EVERY = 10
_V_WIDTH = 20

# change-feed column names (Delta readChangeFeed parity)
CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"


class LogStore:
    """Pluggable commit-log backend (the public Delta LogStore
    pattern): the ONLY atomicity the tx protocol ever needs is
    PUT-IF-ABSENT of one immutable blob per commit slot — every
    conflict rule above builds on "exactly one writer owns version
    N". Subclass for storage whose rename/link is not atomic.

    Contract per method:

    - ``put_if_absent(full_path, data)``: atomically create
      ``full_path`` with ``data`` iff it does not exist; True on
      success, False when ANY other writer owns it (losing must be
      detectable, never silent overwrite). Durability: the bytes must
      survive a crash once True is returned.
    - ``list_names(log_dir)``: the directory's current entry names
      ([] when absent). Listings may lag writes on eventually-
      consistent stores ONLY for entries this process did not write —
      read-your-own-writes is required (version math folds from it).
    - ``read_bytes(full_path)``: the blob's content. Commit blobs are
      immutable once a put succeeded, so caching is always legal.
      The base-class default reads the local filesystem — override
      it together with put_if_absent for a pure-API object store.

    Which backend guarantees what: `LinkingLogStore` (the default) is
    correct wherever hard-link creation is atomic-and-exclusive —
    local filesystems, NFS, HDFS-like mounts. S3-style object stores
    need a conditional-PUT implementation (`If-None-Match: *` /
    DynamoDB mutex — the public S3DynamoDBLogStore design); the test
    double in tests/test_txlogstore.py pins the semantics such a
    backend must satisfy, including lost-race and transient-failure
    injection.

    Scope: the seam covers the whole LOG lifecycle — claims and
    checkpoints (put_if_absent), listing (list_names), and entry
    reads (read_bytes), so a pure-API object-store backend needs no
    local files for the log itself. DATA files (parquet, DV
    sidecars, change files) read through Spark/pyarrow and therefore
    still need a filesystem or connector the executors can see (s3a
    etc.) — the normal lakehouse arrangement. Maintenance that
    REWRITES log entries in place (`forget_keys`' history scrub)
    documents exclusive access and uses the local filesystem."""

    def put_if_absent(self, full_path: str, data: bytes) -> bool:
        raise NotImplementedError

    def list_names(self, log_dir: str) -> list[str]:
        raise NotImplementedError

    def read_bytes(self, full_path: str) -> bytes:
        with open(full_path, "rb") as fh:
            return fh.read()


class LinkingLogStore(LogStore):
    """Default backend: write a tmp file (fsync'd), then ``os.link``
    it to the target — EEXIST means another writer won. Atomic and
    durable on rename-atomic filesystems; follows
    `streaming/scd.py`'s `_VERSION` precedent."""

    def put_if_absent(self, full_path: str, data: bytes) -> bool:
        d = os.path.dirname(full_path)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "wb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, full_path)
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def list_names(self, log_dir: str) -> list[str]:
        if not os.path.isdir(log_dir):
            return []
        return os.listdir(log_dir)


_LOG_STORE: LogStore = LinkingLogStore()


def set_log_store(store: LogStore | None) -> LogStore:
    """Install a commit-log backend (None restores the default
    `LinkingLogStore`); returns the previous one. Process-global,
    like the Delta LogStore config — all tables this process writes
    claim through it."""
    global _LOG_STORE
    prev = _LOG_STORE
    _LOG_STORE = store if store is not None else LinkingLogStore()
    return prev


class ConcurrentWriteError(RuntimeError):
    """A rewriting commit (overwrite/merge/compact) lost an optimistic
    race: the snapshot it read is no longer the latest version."""


class ProtocolError(RuntimeError):
    """The table requires a log feature this library version does not
    implement. Raised instead of silently misreading: a reader that
    ignored an unknown feature (say, deletion vectors) would return
    rows the log says are gone."""


# Table-features protocol (the Delta Lake reader/writer-features
# analog): a commit that first USES a feature stamps the log with a
# ``protocol`` record naming it; every later fold sees the record.
# Readers refuse tables whose required reader features they don't
# implement (misreading is the alternative); writers additionally
# refuse tables whose writer features they can't maintain (an
# oblivious writer would, e.g., compact a file and silently drop its
# deletion vector). Feature sets are MONOTONE — commits record the
# full union so far, never a delta — so fold order can't lose one.
SUPPORTED_READER_FEATURES = frozenset(
    {"deletionVectors", "columnMapping"}
)
SUPPORTED_WRITER_FEATURES = frozenset(
    {"deletionVectors", "columnMapping", "generatedColumns",
     "identityColumns", "checkConstraints", "changeDataFeed"}
)


# ---------------------------------------------------------------------------
# log primitives
# ---------------------------------------------------------------------------


def _log_path(path: str) -> str:
    return os.path.join(path, LOG_DIR)


def _commit_file(path: str, version: int) -> str:
    return os.path.join(_log_path(path), f"{version:0{_V_WIDTH}d}.json")


def _ckpt_file(path: str, version: int) -> str:
    return os.path.join(_log_path(path), f"{version:0{_V_WIDTH}d}.ckpt.json")


def _load_entry(path: str, version: int) -> dict:
    """One parsed commit entry, read through the installed LogStore
    (commit blobs are immutable — backends may cache)."""
    return json.loads(_LOG_STORE.read_bytes(_commit_file(path, version)))


def _load_ckpt(path: str, version: int) -> dict:
    return json.loads(_LOG_STORE.read_bytes(_ckpt_file(path, version)))


def _list_log(path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions), each sorted ascending."""
    commits, ckpts = [], []
    for name in _LOG_STORE.list_names(_log_path(path)):
        if name.endswith(".ckpt.json"):
            stem = name[: -len(".ckpt.json")]
            if stem.isdigit():
                ckpts.append(int(stem))
        elif name.endswith(".json"):
            stem = name[: -len(".json")]
            if stem.isdigit():  # index sidecars live here too
                commits.append(int(stem))
    return sorted(commits), sorted(ckpts)


def latest_version(path: str) -> int:
    """Highest committed version, or -1 for a nonexistent table."""
    commits, _ = _list_log(path)
    return commits[-1] if commits else -1


@dataclass
class Snapshot:
    """The resolved state of the table at one version."""

    version: int
    schema: str  # StructType json
    partition_cols: list[str]
    # file relpath -> {"commit_dir": str, "partition_values": dict}
    files: dict = field(default_factory=dict)
    # (app_id) -> highest batch_id committed
    app_batches: dict = field(default_factory=dict)
    # {"reader": [...], "writer": [...]} — table features in use
    protocol: dict = field(default_factory=dict)
    # {col: sql expr} — generated-column definitions (writer-enforced)
    generated: dict = field(default_factory=dict)
    # {col: {"start": int, "step": int}} — identity-column definitions
    identity: dict = field(default_factory=dict)
    # {col: last allocated value} — identity high-water marks
    identity_hwm: dict = field(default_factory=dict)
    # {name: sql expr} — persisted CHECK constraints (writer-enforced)
    constraints: dict = field(default_factory=dict)
    # change-data-feed property: rewriting writers persist their typed
    # change rows as _change_data files at commit time
    cdc_enabled: bool = False

    def spark_schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema))


def _fold(path: str, version: int | None = None) -> Snapshot:
    """Fold the log into a snapshot at ``version`` (default: latest),
    starting from the newest checkpoint at or below it."""
    commits, ckpts = _list_log(path)
    if not commits:
        raise FileNotFoundError(f"no tx table at {path}")
    target = commits[-1] if version is None else version
    if target not in commits:
        raise ValueError(
            f"version {target} not in log (have {commits[0]}..{commits[-1]})"
        )
    base = max((c for c in ckpts if c <= target), default=None)
    if base is not None:
        raw = _load_ckpt(path, base)
        snap = Snapshot(
            version=base,
            schema=raw["schema"],
            partition_cols=raw["partition_cols"],
            files=raw["files"],
            app_batches=raw.get("app_batches", {}),
            protocol=raw.get("protocol", {}),
            generated=raw.get("generated", {}),
            identity=raw.get("identity", {}),
            identity_hwm=raw.get("identity_hwm", {}),
            constraints=raw.get("constraints", {}),
            cdc_enabled=raw.get("cdc_enabled", False),
        )
        start = base + 1
    else:
        snap = Snapshot(version=-1, schema="", partition_cols=[])
        start = commits[0]
    for v in range(start, target + 1):
        entry = _load_entry(path, v)
        for rel in entry.get("removed", []):
            snap.files.pop(rel, None)
        for added in entry.get("added", []):
            meta = {
                "commit_dir": added["commit_dir"],
                "partition_values": added.get("partition_values", {}),
                "stats": added.get("stats", {}),
                "bytes": added.get("bytes"),
                "rows": added.get("rows"),
                "nulls": added.get("nulls", {}),
            }
            if added.get("stats_trunc"):
                meta["stats_trunc"] = added["stats_trunc"]
            if added.get("dv"):  # restore re-points at a DV'd file
                meta["dv"] = added["dv"]
            snap.files[added["path"]] = meta
        for rec in entry.get("dv", []):
            # a merge-on-read delete commit: the file's deletion
            # vector pointer advances (the new sidecar is the UNION
            # of all deletes ever applied to the file, so one pointer
            # per file suffices)
            if rec["file"] in snap.files:
                snap.files[rec["file"]]["dv"] = {
                    "path": rec["dv_path"],
                    "cardinality": rec["cardinality"],
                }
        if entry.get("schema"):
            snap.schema = entry["schema"]
        if entry.get("partition_cols") is not None:
            snap.partition_cols = entry["partition_cols"]
        app = entry.get("app")
        if app:
            prev = snap.app_batches.get(app["app_id"], -1)
            snap.app_batches[app["app_id"]] = max(prev, app["batch_id"])
        if entry.get("protocol"):
            # commits record the full feature union — replace, never merge
            snap.protocol = entry["protocol"]
        if entry.get("generated") is not None:
            snap.generated = entry["generated"]
        if entry.get("identity") is not None:
            snap.identity = entry["identity"]
        if entry.get("constraints") is not None:
            snap.constraints = entry["constraints"]
        if entry.get("cdc_enabled") is not None:
            snap.cdc_enabled = bool(entry["cdc_enabled"])
        for c, hv in (entry.get("identity_hwm") or {}).items():
            # max, not replace: a rebased append's stamp may carry a
            # mark the interleaved commit already exceeded
            prev = snap.identity_hwm.get(c)
            snap.identity_hwm[c] = hv if prev is None else max(prev, hv)
        snap.version = v
    unknown = set(snap.protocol.get("reader", [])) - SUPPORTED_READER_FEATURES
    if unknown:
        raise ProtocolError(
            f"table at {path} requires reader feature(s) "
            f"{sorted(unknown)} this library does not implement — "
            "upgrade before reading (ignoring them would return "
            "incorrect rows)"
        )
    return snap


def _commit_ts(path: str, version: int, entry: dict | None = None) -> float:
    """Commit wall-clock time: the log's ``ts`` field (stamped by
    ``_claim`` since r8), file mtime for pre-ts logs. Pass the
    already-parsed ``entry`` to skip the file read (vacuum does)."""
    if entry is None:
        entry = _load_entry(path, version)
    ts = entry.get("ts")
    if ts is not None:
        return float(ts)
    return os.path.getmtime(_commit_file(path, version))


def _claim(path: str, version: int, payload: dict) -> bool:
    """Atomically claim commit slot ``version`` through the installed
    `LogStore` (put-if-absent — see `LogStore` for the backend
    contract). True on success, False when another writer already
    owns the slot. Every commit is stamped with wall-clock ``ts`` —
    the basis for time-based vacuum retention (and audit)."""
    payload = {**payload, "ts": payload.get("ts", time.time())}
    return _LOG_STORE.put_if_absent(
        _commit_file(path, version), json.dumps(payload).encode()
    )


def _maybe_checkpoint(path: str, snap_version: int) -> None:
    if (snap_version + 1) % CHECKPOINT_EVERY != 0:
        return
    _write_checkpoint(path, snap_version)


def _write_checkpoint(path: str, snap_version: int) -> None:
    """Fold and persist a checkpoint at ``snap_version`` (idempotent;
    losing the link race to a concurrent checkpointer is fine)."""
    snap = _fold(path, snap_version)
    payload = {
        "version": snap.version,
        "schema": snap.schema,
        "partition_cols": snap.partition_cols,
        "files": snap.files,
        "app_batches": snap.app_batches,
        "protocol": snap.protocol,
        "generated": snap.generated,
        "identity": snap.identity,
        "identity_hwm": snap.identity_hwm,
        "constraints": snap.constraints,
        "cdc_enabled": snap.cdc_enabled,
    }
    # losing the put race to a concurrent checkpointer is fine —
    # both fold the same immutable commits
    _LOG_STORE.put_if_absent(
        _ckpt_file(path, snap_version), json.dumps(payload).encode()
    )


def _protocol_upgrade(
    snap: Snapshot, reader: Sequence[str] = (), writer: Sequence[str] = ()
) -> dict | None:
    """The ``protocol`` record a commit must carry when it starts
    using the given features, or None when the snapshot already
    requires them. A reader feature implies the writer form too —
    every later writer must MAINTAIN it (e.g. carry deletion vectors
    through a compaction), not merely tolerate it."""
    cur_r = set(snap.protocol.get("reader", []))
    cur_w = set(snap.protocol.get("writer", []))
    new_r = cur_r | set(reader)
    new_w = cur_w | set(writer) | set(reader)
    if new_r == cur_r and new_w == cur_w:
        return None
    return {"reader": sorted(new_r), "writer": sorted(new_w)}


def _require_writer(snap: Snapshot, path: str) -> None:
    """Refuse to write a table whose in-use features this library
    cannot maintain (fold already gates the reader side)."""
    unknown = set(snap.protocol.get("writer", [])) - SUPPORTED_WRITER_FEATURES
    if unknown:
        raise ProtocolError(
            f"table at {path} requires writer feature(s) "
            f"{sorted(unknown)} this library does not implement — "
            "reads are fine; writing would corrupt the feature's "
            "invariants"
        )


# ---------------------------------------------------------------------------
# staging writes
# ---------------------------------------------------------------------------


_STR_STAT_MAX = 64  # recorded string-bound length cap (chars)


def _str_upper_bound(s: str) -> str | None:
    """A string ≥ every string having prefix ``s[:_STR_STAT_MAX]`` —
    Delta/Iceberg's truncate-and-increment discipline: take the
    prefix, bump its last incrementable code point, drop the tail.
    None when no bound exists (all code points at the maximum)."""
    p = s[:_STR_STAT_MAX]
    for i in range(len(p) - 1, -1, -1):
        cp = ord(p[i])
        if cp < 0x10FFFF:
            return p[:i] + chr(cp + 1)
    return None


def _footer_stats(
    full_path: str, foreign: bool = False
) -> tuple[dict, int, dict, list[str]]:
    """Per-file (zone map, row count, null counts, truncated columns)
    from the parquet FOOTER (no data read): {col: [min, max]} for
    top-level int/float/string/bool columns whose row-group
    statistics are present, plus {col: null_count} where EVERY row
    group reports it. Values are kept JSON-native; columns with
    missing stats are simply absent — readers treat absence as
    'cannot prune' / 'unknown'. The row count sizes deletion-vector
    maintenance decisions (deleted fraction per file).

    String bounds longer than ``_STR_STAT_MAX`` are recorded
    TRUNCATED with conservative semantics — min as a prefix (≤ every
    value), max via truncate-and-increment (≥ every value) — and the
    column is listed in the returned truncated set, so skipping stays
    sound while `table_stats` refuses to call the bound exact (the
    Delta truncation-flag discipline). A manifest never carries
    multi-KB document bodies as zone maps.

    ``foreign=True`` (files NOT staged by this library —
    `convert_to_tx` adoption) marks EVERY string bound truncated:
    the original writer may itself have truncated its footer
    statistics (parquet-mr's truncate-and-increment), which this
    pyarrow version cannot detect — such bounds are still valid
    skip ranges per the parquet spec, but never provably exact
    row values. Files Spark stages here are exempt: Spark's writer
    OMITS over-long string stats rather than truncating (probed),
    so a present bound is a real value."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    num_rows = int(md.num_rows)
    per_rg: list[dict[str, tuple]] = []
    null_rg: list[dict[str, int]] = []
    trunc: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        cur: dict[str, tuple] = {}
        nul: dict[str, int] = {}
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if "." in name:  # nested leaf — skip
                continue
            try:
                st = c.statistics
                if st is None:
                    continue
                if st.null_count is not None:
                    nul[name] = int(st.null_count)
                if not st.has_min_max:
                    continue
                lo, hi = st.min, st.max
            except Exception:  # noqa: BLE001
                # pyarrow refuses some physical types ("Cannot extract
                # statistics for type", e.g. Spark-written decimals) —
                # degrade to no stats for THIS column, never for the
                # whole file (row counts and sibling columns stay)
                continue
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            if not isinstance(lo, (int, float, str, bool)):
                lo, hi = str(lo), str(hi)
            if isinstance(lo, str) and (
                foreign
                or len(lo) > _STR_STAT_MAX
                or len(hi) > _STR_STAT_MAX
            ):
                trunc.add(name)
                if len(lo) > _STR_STAT_MAX or len(hi) > _STR_STAT_MAX:
                    ub = (
                        _str_upper_bound(hi)
                        if len(hi) > _STR_STAT_MAX
                        else hi
                    )
                    if ub is None:
                        continue  # unboundable above — no stat, marked
                    lo, hi = lo[:_STR_STAT_MAX], ub
            cur[name] = (lo, hi)
        per_rg.append(cur)
        null_rg.append(nul)
    if not per_rg:
        return {}, num_rows, {}, sorted(trunc)
    # a column's zone map / null count is valid only when EVERY row
    # group reports it — a gap would leave rows unaccounted for
    names = set(per_rg[0])
    for cur in per_rg[1:]:
        names &= set(cur)
    nnames = set(null_rg[0])
    for nul in null_rg[1:]:
        nnames &= set(nul)
    return (
        {
            n: [
                min(cur[n][0] for cur in per_rg),
                max(cur[n][1] for cur in per_rg),
            ]
            for n in names
        },
        num_rows,
        {n: sum(nul[n] for nul in null_rg) for n in nnames},
        sorted(trunc),
    )


def _stage(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    table_schema: StructType | None = None,
) -> list[dict]:
    """Write ``df`` under a fresh commit dir; return the added-file
    records (relpath, commit dir, partition values parsed from the
    directory layout, per-file zone-map stats from the footers).
    Files are invisible to readers until a commit references them — a
    failed job leaves only unreferenced files for vacuum, never a
    partial table. When ``table_schema`` carries a column mapping,
    the frame's logical names rewrite to their stable PHYSICAL names
    before the write, so every file of the table agrees on the bytes'
    keys regardless of renames."""
    if table_schema is not None:
        pmap = _phys_map(table_schema)
        if pmap:
            df = df.select(
                *[
                    F.col(c).alias(pmap.get(c, c))
                    for c in df.columns
                ]
            )
    commit_dir = os.path.join(DATA_DIR, uuid.uuid4().hex)
    out = os.path.join(path, commit_dir)
    w = df.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(out)
    added = []
    for root, _dirs, names in os.walk(out):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path)
            pvals: dict[str, str] = {}
            for seg in os.path.relpath(root, out).split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    # Spark Hive-escapes specials in partition dirs
                    # ('/'→%2F, '%'→%25, ...); unquote restores the
                    # DATA value so manifest-level comparisons match
                    # str(value) ('%' is itself escaped, so unquote
                    # is a faithful inverse).
                    pvals[k] = unquote(v)
            try:
                stats, nrows, nulls, trunc = _footer_stats(full)
            except Exception:  # noqa: BLE001 — stats are best-effort
                stats, nrows, nulls, trunc = {}, None, {}, []
            try:
                nbytes = os.stat(full).st_size
            except OSError:
                nbytes = 0
            added.append(
                {
                    "path": rel,
                    "commit_dir": commit_dir,
                    "partition_values": pvals,
                    "stats": stats,
                    "bytes": nbytes,
                    "rows": nrows,
                    "nulls": nulls,
                    **({"stats_trunc": trunc} if trunc else {}),
                }
            )
    return added


def _schema_json(df: DataFrame) -> str:
    return json.dumps(df.schema.jsonValue())


# ---------------------------------------------------------------------------
# column mapping: metadata-only rename/drop
# ---------------------------------------------------------------------------

_PHYS_KEY = "__physical"


def _phys_of(field) -> str:
    """A column's PHYSICAL name — what the parquet bytes are keyed by.
    Stable for the column's whole life; the logical name is just the
    manifest's label for it (the public Delta column-mapping 'name'
    mode). Absent metadata means physical == logical — every table
    that never renamed/dropped stays byte-identical in behavior."""
    meta = field.metadata or {}
    return meta.get(_PHYS_KEY, field.name)


def _phys_map(schema: StructType) -> dict:
    """logical -> physical for fields where they differ ({} when the
    mapping is inactive — the common fast path)."""
    out = {}
    for f in schema.fields:
        p = _phys_of(f)
        if p != f.name:
            out[f.name] = p
    return out


def _mapping_enabled(schema: StructType) -> bool:
    """True once rename/drop stamped explicit physical names — from
    then on NEW columns get fresh uuid physical names so a re-added
    logical name can never resurrect a dropped column's bytes."""
    return any(
        _PHYS_KEY in (f.metadata or {}) for f in schema.fields
    )


def _to_physical(schema: StructType) -> StructType:
    """The schema as the FILES spell it (fields renamed to physical,
    mapping metadata stripped)."""
    from pyspark.sql.types import StructField

    return StructType(
        [
            StructField(_phys_of(f), f.dataType, f.nullable)
            for f in schema.fields
        ]
    )


def _translate_cols(d: dict | None, schema: StructType) -> dict | None:
    """Rekey a {logical_col: ...} dict to physical names (zone stats
    and bloom sidecars live in physical space)."""
    if not d:
        return d
    pmap = _phys_map(schema)
    if not pmap:
        return d
    return {pmap.get(k, k): v for k, v in d.items()}


# ---------------------------------------------------------------------------
# table operations
# ---------------------------------------------------------------------------


def _apply_generated(
    df: DataFrame, generated: dict, recompute: bool = False
) -> DataFrame:
    """Enforce generated-column definitions on rows about to be
    written. A missing generated column is COMPUTED (the common
    path — zero extra jobs, the expression fuses into the write
    stage). A caller-provided one is VALIDATED with one bounded probe
    over the delta (``take(1)`` of the violations — the write fails
    before any file stages, never after). ``recompute=True``
    overwrites unconditionally (UPDATE post-images, where a SET on a
    base column staled the derived one)."""
    for col, expr in generated.items():
        if recompute or col not in df.columns:
            df = df.withColumn(col, F.expr(expr))
        else:
            bad = df.filter(
                ~F.col(col).eqNullSafe(F.expr(expr))
            ).take(1)
            if bad:
                raise ValueError(
                    f"generated column {col!r} violates its "
                    f"definition {expr!r}: provided "
                    f"{bad[0][col]!r} for a row where the "
                    "expression disagrees — omit the column to have "
                    "it computed, or fix the value"
                )
    return df


def _apply_identity(
    df: DataFrame, identity: dict, hwms: dict
) -> tuple[DataFrame, dict]:
    """Allocate identity values for every row of ``df``, contiguously
    above the snapshot high-water marks. Returns (df with the columns
    added, {col: new high-water mark}).

    Distributed allocation with NO global sort and NO driver
    round-trip of data: the delta is pinned with one materialization
    (so partition sizes and intra-partition order are stable across
    jobs), per-partition row counts (one tiny count
    job) become a broadcast offset map, and each row's dense rank is
    pure column arithmetic on ``monotonically_increasing_id`` (which
    encodes partition_id << 33 | row_offset). Everything stays in
    whole-stage codegen; cost is one materialization of the DELTA —
    never of the table. No ordering guarantee across partitions
    (same contract as Delta identity columns): uniqueness and
    monotone growth, not insertion order."""
    for col in identity:
        if col in df.columns:
            raise ValueError(
                f"identity column {col!r} is GENERATED ALWAYS — "
                "writers must not supply it"
            )
    df = materialize(df)
    counts = (
        df.select(F.spark_partition_id().alias("__p"))
        .groupBy("__p")
        .count()
        .collect()
    )
    offs: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["__p"]):
        offs[r["__p"]] = acc
        acc += r["count"]
    if acc == 0:
        # nothing to allocate — marks unchanged
        for col, spec in identity.items():
            df = df.withColumn(col, F.lit(None).cast("long"))
        return df, {}
    # offsets land via a BROADCAST join, not a create_map literal —
    # element_at on a map literal is a linear scan per ROW in codegen
    # (the same trap the bloom build's sizing map hit in r8), while a
    # BHJ probe is O(1) per row however many partitions the delta has
    spark = df.sparkSession
    offs_df = F.broadcast(
        spark.createDataFrame(
            [(p, o) for p, o in offs.items()], "__p int, __off long"
        )
    )
    mid = F.monotonically_increasing_id()
    df = (
        df.withColumn("__p", F.shiftright(mid, 33).cast("int"))
        .withColumn(
            "__within", mid.bitwiseAND(F.lit((1 << 33) - 1))
        )
        .join(offs_df, "__p")
    )
    rank = (F.col("__off") + F.col("__within")).cast("long")
    new_hwm: dict[str, int] = {}
    for col, spec in identity.items():
        start = int(spec.get("start", 1))
        step = int(spec.get("step", 1))
        base = hwms.get(col)
        nxt = start if base is None else base + step
        df = df.withColumn(
            col, (F.lit(nxt) + F.lit(step) * rank).cast("long")
        )
        new_hwm[col] = nxt + step * (acc - 1)
    return df.drop("__p", "__within", "__off"), new_hwm


class CheckViolation(ValueError):
    """A batch violated a persisted CHECK constraint; nothing staged."""


def _enforce_constraints(df: DataFrame, constraints: dict) -> None:
    """Gate rows about to be written against every persisted CHECK
    constraint with ONE bounded probe over the delta (SQL CHECK
    semantics: NULL passes, only FALSE violates). The probe runs
    BEFORE anything stages, so a failing batch leaves the table
    untouched; the failure path pays extra per-constraint probes to
    name the violated constraint."""
    if not constraints:
        return
    ok = None
    for expr in constraints.values():
        c = F.coalesce(F.expr(expr), F.lit(True))
        ok = c if ok is None else ok & c
    if not df.filter(~ok).take(1):
        return
    for name, expr in constraints.items():
        bad = df.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))
        ).take(1)
        if bad:
            raise CheckViolation(
                f"CHECK constraint {name!r} ({expr}) violated by row "
                f"{bad[0].asDict()!r} — batch rejected, nothing "
                "written"
            )
    raise CheckViolation(  # pragma: no cover - combined-only flake
        "a CHECK constraint was violated (could not attribute a "
        "single constraint; re-run with one constraint at a time)"
    )


def create_table(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | None = None,
    generated: dict | None = None,
    identity: dict | None = None,
) -> int:
    """Create a tx table at ``path`` as commit 0. Raises if a log
    already exists (use overwrite_table to replace contents).

    ``generated={col: sql_expr}`` declares GENERATED columns (the
    Delta analog): every writer computes a missing generated column
    from its expression and validates a provided one, so the
    invariant ``col == expr`` holds on every row ever written. Declare
    the generated column as a partition column and reads whose
    ``where`` constrains the BASE column prune partitions
    automatically (`q_tx_generated`): the classic
    ``partition by date, filter by timestamp`` pattern with no
    user-visible denormalization. Stamps the ``generatedColumns``
    writer feature — a library build that wouldn't maintain the
    invariant refuses to write.

    ``identity={col: {"start": 1, "step": 1}}`` declares IDENTITY
    columns (GENERATED ALWAYS — writers must not supply them): every
    append allocates values contiguously above the log's high-water
    mark, distributed with no global sort (`_apply_identity`), unique
    across concurrent writers (a lost race that interleaved with
    another allocation re-allocates above the new mark before
    rebasing), and never reused after deletes. Stamps the
    ``identityColumns`` writer feature."""
    if latest_version(path) >= 0:
        raise FileExistsError(f"tx table already exists at {path}")
    pcols = list(partition_cols or [])
    gen = dict(generated or {})
    ident = dict(identity or {})
    for col, expr in gen.items():
        refs = _expr_refs(expr)
        if refs is None:
            raise ValueError(
                f"generated column {col!r}: cannot parse {expr!r}"
            )
        if col.lower() in refs:
            raise ValueError(
                f"generated column {col!r} references itself in "
                f"{expr!r}"
            )
        if col in ident:
            raise ValueError(
                f"{col!r} cannot be both generated and identity"
            )
    for col, spec in ident.items():
        if int(spec.get("step", 1)) < 1:
            raise ValueError(
                f"identity column {col!r}: step must be a positive "
                "integer"
            )
        if col in pcols:
            raise ValueError(
                f"identity column {col!r} cannot partition the table "
                "(every row would get its own partition)"
            )
    if gen:
        df = _apply_generated(df, gen)
    hwm: dict = {}
    if ident:
        df, hwm = _apply_identity(df, ident, {})
    payload = {
        "version": 0,
        "action": "create",
        "added": None,  # filled below — staging needs the final df
        "removed": [],
        "schema": _schema_json(df),
        "partition_cols": pcols,
    }
    feats = (["generatedColumns"] if gen else []) + (
        ["identityColumns"] if ident else []
    )
    if gen:
        payload["generated"] = gen
    if ident:
        payload["identity"] = ident
        if hwm:
            payload["identity_hwm"] = hwm
    if feats:
        payload["protocol"] = _protocol_upgrade(
            Snapshot(version=-1, schema="", partition_cols=[]),
            writer=feats,
        )
    payload["added"] = _stage(df, path, pcols)
    if not _claim(path, 0, payload):
        raise ConcurrentWriteError(f"concurrent create at {path}")
    return 0


def convert_to_tx(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Convert an EXISTING plain-parquet directory into a tx table in
    METADATA time — commit 0 references the files in place, no data
    rewrite (the CONVERT TO DELTA analog; a 100 TB lake converts in
    one directory walk). After conversion every tx operation applies:
    appends/merges write under data/ as usual; a converted file that
    a later rewrite removes leaves the manifest but stays on disk
    (vacuum only reclaims under data/ — conservative by design, the
    original files remain a valid plain-parquet fallback until the
    operator deletes them explicitly).

    ``partition_cols`` must name the directory-encoded partition
    columns if the layout has them (validated against the paths
    found). The one-time LIST this performs is exactly the cost every
    plain-parquet READ was already paying — and the last time anyone
    pays it."""
    if latest_version(path) >= 0:
        raise FileExistsError(f"tx table already exists at {path}")
    pcols = list(partition_cols or [])
    schema = spark.read.parquet(path).schema
    added = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if d not in (LOG_DIR, DATA_DIR)]
        for name in names:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, path)
            pvals: dict[str, str] = {}
            for seg in os.path.relpath(root, path).split(os.sep):
                if "=" in seg:
                    k, _, v = seg.partition("=")
                    pvals[k] = unquote(v)
            if sorted(pvals) != sorted(pcols):
                raise ValueError(
                    f"convert: file {rel!r} has partition dirs "
                    f"{sorted(pvals)}, expected {sorted(pcols)}"
                )
            try:
                # foreign=True: the adopted files' writer may have
                # truncated its own string stats undetectably —
                # bounds skip soundly but are never claimed exact
                stats, nrows, nulls, trunc = _footer_stats(
                    full, foreign=True
                )
            except Exception:  # noqa: BLE001 — stats are best-effort
                stats, nrows, nulls, trunc = {}, None, {}, []
            try:
                nbytes = os.stat(full).st_size
            except OSError:
                nbytes = 0
            added.append(
                {
                    "path": rel,
                    # basePath "." = the table root, so directory-
                    # encoded partition columns re-materialize
                    "commit_dir": ".",
                    "partition_values": pvals,
                    "stats": stats,
                    "bytes": nbytes,
                    "rows": nrows,
                    "nulls": nulls,
                    **({"stats_trunc": trunc} if trunc else {}),
                }
            )
    if not added:
        raise FileNotFoundError(f"convert: no parquet files under {path}")
    payload = {
        "version": 0,
        "action": "create",
        "added": added,
        "removed": [],
        "schema": json.dumps(schema.jsonValue()),
        "partition_cols": pcols,
    }
    if not _claim(path, 0, payload):
        raise ConcurrentWriteError(f"concurrent create at {path}")
    return 0


def _fresh_physical_fields(new_fields: list, base: StructType) -> list:
    """New (widening) columns on a mapping-enabled table get FRESH
    uuid physical names, so a logical name that was dropped earlier
    can never resurrect the dropped column's bytes; guard against a
    new logical name colliding with any physical name in use."""
    if not _mapping_enabled(base):
        return new_fields
    from pyspark.sql.types import StructField

    in_use = {_phys_of(f) for f in base.fields}
    out = []
    for f in new_fields:
        if f.name in in_use:
            raise ValueError(
                f"column {f.name!r} collides with a physical column "
                "name still present in the table's files (a renamed "
                "or dropped column) — pick a different name"
            )
        meta = dict(f.metadata or {})
        meta[_PHYS_KEY] = f"col-{uuid.uuid4().hex[:8]}"
        out.append(StructField(f.name, f.dataType, f.nullable, meta))
    return out


def _append_schema(snap: Snapshot, df: DataFrame) -> str | None:
    """Validate an append against the table schema. New nullable
    columns widen the schema (returned); missing columns are fine
    (old readers fill nulls); type conflicts raise."""
    table = {f.name: f.dataType for f in snap.spark_schema().fields}
    new_fields = []
    for f in df.schema.fields:
        if f.name in table:
            if f.dataType != table[f.name]:
                raise ValueError(
                    f"append column {f.name!r}: {f.dataType} != table "
                    f"{table[f.name]}"
                )
        else:
            new_fields.append(f)
    if not new_fields:
        return None
    base = snap.spark_schema()
    merged = StructType(
        list(base.fields) + _fresh_physical_fields(new_fields, base)
    )
    return json.dumps(merged.jsonValue())


_UPCAST_ORDER = ["byte", "short", "integer", "long"]


def _can_upcast(src_dt, tgt_dt) -> bool:
    """True when a SOURCE value of ``src_dt`` coerces LOSSLESSLY to
    the table's ``tgt_dt`` — the directions Spark's when/otherwise
    coercion resolves to the table type, so the staged parquet still
    agrees with the manifest (integral widening, float→double)."""
    s, t = src_dt.typeName(), tgt_dt.typeName()
    if s == t:
        return src_dt == tgt_dt  # parameterized types compare fully
    if s in _UPCAST_ORDER and t in _UPCAST_ORDER:
        return _UPCAST_ORDER.index(s) <= _UPCAST_ORDER.index(t)
    return s == "float" and t == "double"


def _merge_schema_check(snap: Snapshot, df: DataFrame) -> str | None:
    """merge_tx_table's schema validation — `_append_schema`'s
    contract, but shared columns tolerate LOSSLESS upcasts
    (int source into a long column is fine: merge_upsert's
    when(source, target) coerces to the TABLE type, so the staged
    files match the manifest — appends must stay strict because
    they stage the source bytes as-is). Downcast/cross-kind drift
    (long→int, string→long) still raises: the coerced output would
    disagree with the manifest and brick reads."""
    table = {f.name: f.dataType for f in snap.spark_schema().fields}
    new_fields = []
    for f in df.schema.fields:
        if f.name in table:
            if not _can_upcast(f.dataType, table[f.name]):
                raise ValueError(
                    f"merge column {f.name!r}: {f.dataType} != table "
                    f"{table[f.name]} (and not a lossless upcast)"
                )
        else:
            new_fields.append(f)
    if not new_fields:
        return None
    base = snap.spark_schema()
    merged = StructType(
        list(base.fields) + _fresh_physical_fields(new_fields, base)
    )
    return json.dumps(merged.jsonValue())


def append_table(
    df: DataFrame,
    path: str,
    app: tuple[str, int] | None = None,
    checks: list | None = None,
) -> int:
    """Append ``df``; auto-rebases on commit races (an append
    conflicts with nothing). ``app=(app_id, batch_id)`` makes the
    commit idempotent: a batch_id at or below the app's high-water
    mark is skipped (returns the current version unchanged).

    ``checks`` (a list of `dq.Check` constraints) enforces data
    quality AT THE COMMIT BOUNDARY: the batch is gated by
    `dq.dq_gate` BEFORE any file is staged, so a failing batch
    leaves the table untouched at any isolation level — the
    warehouse CHECK-constraint analog, scanning only the delta.

    Schema widening is recomputed against each rebase predecessor:
    when a concurrent append widened the table with a DIFFERENT new
    column, the rebased commit's schema merges against the actual
    predecessor snapshot (not the pre-race one), so neither writer's
    column is lost — and type validation re-runs per rebase (a
    mid-rebase conflict raises, leaving only unreferenced staged
    files for vacuum's stray pass)."""
    snap = _fold(path)
    _require_writer(snap, path)
    if app is not None and snap.app_batches.get(app[0], -1) >= app[1]:
        return snap.version
    if checks:
        from bi_utils_spark.operators.dq import dq_gate

        dq_gate(df, checks)
    if snap.generated:
        df = _apply_generated(df, snap.generated)
    _enforce_constraints(df, snap.constraints)
    validated_constraints = snap.constraints
    df_pre_identity = df
    my_hwm: dict = {}
    if snap.identity:
        df, my_hwm = _apply_identity(df, snap.identity, snap.identity_hwm)
    _append_schema(snap, df)  # validate before paying the stage write
    # physical names for OUR new (widening) columns are assigned ONCE,
    # before staging — the staged bytes must spell exactly what the
    # committed schema will say, across every rebase
    base = snap.spark_schema()
    my_new = _fresh_physical_fields(
        [f for f in df.schema.fields if f.name not in base.fieldNames()],
        base,
    )
    staged_schema = (
        StructType(list(base.fields) + my_new) if my_new else base
    )
    added = _stage(
        df, path, snap.partition_cols, table_schema=staged_schema
    )
    version = snap.version + 1
    while True:
        widened = _append_schema(snap, df)
        if my_new and _mapping_enabled(base):
            # rebase-stable widening on a mapping-enabled table: the
            # committed schema must carry OUR pre-assigned physical
            # names; a racer claiming the same new logical name with
            # a different physical would silently null our bytes
            pred = snap.spark_schema()
            pred_by_name = {f.name: f for f in pred.fields}
            still_new = []
            for f in my_new:
                ex = pred_by_name.get(f.name)
                if ex is None:
                    still_new.append(f)
                elif _phys_of(ex) != _phys_of(f):
                    raise ConcurrentWriteError(
                        f"append at {path}: a concurrent append "
                        f"added column {f.name!r} with a different "
                        "physical name — re-run the append"
                    )
            widened = (
                json.dumps(
                    StructType(
                        list(pred.fields) + still_new
                    ).jsonValue()
                )
                if still_new
                else None
            )
        payload = {
            "version": version,
            "action": "append",
            "added": added,
            "removed": [],
            "schema": widened,
            "partition_cols": None,
        }
        if app is not None:
            payload["app"] = {"app_id": app[0], "batch_id": app[1]}
        if my_hwm:
            payload["identity_hwm"] = my_hwm
        if _claim(path, version, payload):
            _maybe_checkpoint(path, version)
            return version
        # lost the race: someone committed `version`. Re-check the
        # idempotence mark, then rebase onto the new tip.
        prev_hwm = snap.identity_hwm
        snap = _fold(path)
        if app is not None and snap.app_batches.get(app[0], -1) >= app[1]:
            return snap.version
        if snap.identity and any(
            snap.identity_hwm.get(c) != prev_hwm.get(c)
            for c in snap.identity
        ):
            # an interleaved commit allocated identity values our
            # staged files may collide with — re-allocate above the
            # new mark and re-stage (the old staged files become
            # strays for vacuum; uniqueness beats a cheap rebase)
            df, my_hwm = _apply_identity(
                df_pre_identity, snap.identity, snap.identity_hwm
            )
            added = _stage(
                df, path, snap.partition_cols, table_schema=staged_schema
            )
        if snap.constraints != validated_constraints:
            # an interleaved ALTER ADD CONSTRAINT landed between our
            # validation and the claim — every writer gates its delta,
            # even when it loses the race, so re-validate against the
            # NEW constraint set before rebasing (a violation raises
            # here, leaving only unreferenced staged files for vacuum)
            _enforce_constraints(df, snap.constraints)
            validated_constraints = snap.constraints
        version = snap.version + 1


def _rewrite_commit(
    path: str,
    read_version: int,
    action: str,
    added: list[dict],
    removed: list[str],
    schema: str | None = None,
    partition_cols: list[str] | None = None,
    app: tuple[str, int] | None = None,
    conflict: str = "always",
    touched_partitions: set[tuple] | None = None,
    pcols: Sequence[str] | None = None,
    dv: list[dict] | None = None,
    extra: dict | None = None,
    identity_cols: set | None = None,
) -> int:
    """Commit a rewriting action claimed against ``read_version``'s
    successor slot. ``app`` stamps the commit with an (app_id,
    batch_id) idempotence mark — the same high-water mechanism
    appends use.

    A lost claim race is resolved by the Delta protocol's conflict
    rule, per ``conflict`` mode:

    - ``"always"``: any interleaved commit is a conflict →
      ConcurrentWriteError (overwrite/restore — they reason about
      the WHOLE snapshot).
    - ``"files"``: conflict only when an interleaved commit REMOVED a
      file this rewrite also removes (compaction: an interleaved
      append lands files this rewrite never read — they stay live
      beside the compacted output, the fold composes both).
    - ``"partitions"``: ``"files"`` plus any interleaved file ADDED
      into one of ``touched_partitions`` (tuples of rendered values
      over ``pcols``) conflicts — a merge must have SEEN every row of
      its partitions, so a racing append into one invalidates it,
      while writes to disjoint partitions compose (two merges into
      different days both commit, neither re-merges).

    A disjoint race RE-CLAIMS the next slot with the SAME staged
    files — the rewrite's data job never re-runs. Conservative
    guards in every mode: an interleaved schema change conflicts with
    a schema-changing rewrite, a repartitioning commit conflicts with
    everything, and an interleaved commit bearing OUR (app_id,
    batch_id) mark means a twin worker already applied this batch —
    return its version without committing (exactly-once under
    redelivery races)."""
    version = read_version + 1
    while True:
        payload = {
            "version": version,
            "action": action,
            # the snapshot this rewrite COMPUTED from (Delta's
            # commitInfo.readVersion): under WriteSerializable a
            # rewrite may commit at a later slot after rebasing over
            # blind appends it never read, so its position in the
            # equivalent SERIAL order is read_version, not the commit
            # slot — recorded so audits/replays can reconstruct that
            # order (pinned by tests/test_txfuzz.py).
            "read_version": read_version,
            "added": added,
            "removed": removed,
            "schema": schema,
            "partition_cols": partition_cols,
        }
        if dv:
            payload["dv"] = dv
        if extra:
            payload.update(extra)
        if app is not None:
            payload["app"] = {"app_id": app[0], "batch_id": app[1]}
        if _claim(path, version, payload):
            _maybe_checkpoint(path, version)
            return version
        commits, _ = _list_log(path)
        tip = commits[-1]
        # a rewrite's row-level footprint: the files it removes PLUS
        # the files whose deletion vectors it advances — two writers
        # touching the same file in either way is a lost update
        removed_set = set(removed) | {d["file"] for d in (dv or [])}
        for v in range(version, tip + 1):
            entry = _load_entry(path, v)
            e_app = entry.get("app")
            if (
                app is not None
                and e_app
                and e_app.get("app_id") == app[0]
                and e_app.get("batch_id", -1) >= app[1]
            ):
                return v  # a twin worker already committed this batch
            if conflict == "always":
                raise ConcurrentWriteError(
                    f"{action} at {path}: snapshot v{read_version} is "
                    f"stale (interleaved {entry['action']!r} at v{v})"
                )
            if entry.get("partition_cols") is not None and v > 0:
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved commit v{v} "
                    "repartitioned the table"
                )
            if identity_cols and any(
                c in (entry.get("identity_hwm") or {})
                for c in identity_cols
            ):
                # our staged files carry ids allocated below the
                # interleaved commit's mark — rebasing would commit
                # duplicates; the caller re-runs and re-allocates
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved commit v{v} "
                    "allocated identity values this rewrite's staged "
                    "ids may collide with — re-run to re-allocate"
                )
            if entry.get("schema") and schema is not None:
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved schema change "
                    f"at v{v} conflicts with this rewrite's schema "
                    "change"
                )
            if (
                entry.get("constraints")  # non-empty new set
                and "dropped_constraint" not in entry
            ):
                # an interleaved ADD CONSTRAINT means our staged rows
                # were never validated against it — rebasing would
                # silently break the 'every writer gates its delta'
                # guarantee. (A pure DROP only loosens the set and
                # composes.) The caller re-runs and re-validates.
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved commit v{v} "
                    "added a CHECK constraint this rewrite's rows "
                    "were not validated against — re-run"
                )
            if entry.get("cdc_enabled"):
                # an interleaved enable_change_data: this rewrite
                # staged NO change rows, so rebasing past it would
                # silently starve the feed's 'every rewriting DML
                # from this commit on' guarantee. (Disabling only
                # loosens and composes.) The caller re-runs and
                # persists its typed rows.
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved commit v{v} "
                    "enabled the change data feed this rewrite "
                    "recorded no change rows for — re-run"
                )
            e_touched = set(entry.get("removed", [])) | {
                d["file"] for d in entry.get("dv", [])
            }
            overlap = removed_set & e_touched
            if overlap:
                raise ConcurrentWriteError(
                    f"{action} at {path}: interleaved commit v{v} "
                    f"removed or re-deleted-from {len(overlap)} "
                    "file(s) this rewrite also touches"
                )
            if conflict == "partitions":
                for a in entry.get("added", []):
                    pv = a.get("partition_values", {})
                    key = tuple(pv.get(c) for c in (pcols or []))
                    if key in (touched_partitions or set()):
                        raise ConcurrentWriteError(
                            f"{action} at {path}: interleaved commit "
                            f"v{v} wrote into touched partition "
                            f"{key!r} — this rewrite did not see its "
                            "rows"
                        )
        version = tip + 1  # disjoint: rebase the SAME staged files


def overwrite_table(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] | None = None,
) -> int:
    """Replace the table contents (full snapshot swap); old versions
    remain time-travel-readable until vacuumed."""
    snap = _fold(path)
    _require_writer(snap, path)
    pcols = (
        list(partition_cols)
        if partition_cols is not None
        else snap.partition_cols
    )
    if snap.generated:
        df = _apply_generated(df, snap.generated)
    _enforce_constraints(df, snap.constraints)
    extra = None
    if snap.identity:
        # identity never restarts: an overwrite's rows continue above
        # the existing mark, so ids stay unique across the swap
        df, hwm = _apply_identity(df, snap.identity, snap.identity_hwm)
        if hwm:
            extra = {"identity_hwm": hwm}
    added = _stage(df, path, pcols)
    return _rewrite_commit(
        path,
        snap.version,
        "overwrite",
        added,
        sorted(snap.files),
        schema=_schema_json(df),
        partition_cols=pcols,
        extra=extra,
    )


def _render_pv(value) -> str:
    """Render a Python value the way Spark renders it in a Hive
    partition directory, so manifest-level comparisons are faithful:
    None -> the Hive default-partition sentinel, bool -> 'true'/'false'
    (Python's str(True) is 'True', Spark's is 'true'); dates, ints,
    floats and strings all str() to the directory form."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        return "true" if value else "false"
    return str(value)


def _coerce_pv(value, dt):
    """Normalize a USER-SUPPLIED partition-filter value through the
    column's DECLARED type before rendering — the same type-faithful
    discipline `_bloom_positions_df` applies to point probes. Without
    it, `partition_filter={"price": 1}` against a double partition
    column renders '1' vs the manifest's '1.0' and silently selects
    nothing (r8 ADVICE). Values already of the column's Python type
    pass through unchanged; unknown/complex types fall back to the
    raw value (str rendering, the pre-r9 behavior)."""
    if value is None:
        return None
    t = dt.typeName()
    try:
        if t in ("byte", "short", "integer", "long"):
            return int(value)
        if t in ("double", "float"):
            return float(value)
        if t == "boolean":
            if isinstance(value, str):
                return value.lower() == "true"
            return bool(value)
        if t == "date" and isinstance(value, str):
            import datetime

            return datetime.date.fromisoformat(value)
        if t == "string":
            return str(value)
    except (TypeError, ValueError):
        return value
    return value


def _read_files(
    spark: SparkSession,
    path: str,
    files: dict,
    schema: StructType,
    addresses: bool = False,
) -> DataFrame:
    """Read a manifest-resolved file subset: grouped per commit dir
    (each group one ``basePath`` so directory-encoded partition
    columns re-materialize), then unioned. Files spell columns by
    their PHYSICAL names; the result aliases back to the logical
    schema (a pure projection — no extra plan nodes when the column
    mapping is inactive).

    ``addresses=True`` adds each row's physical address: its file's
    absolute path (``__f``) and its row ordinal within the file
    (``__pos``, parquet ``_metadata.row_index``) — the coordinates
    deletion vectors address rows by. Metadata columns are
    constant-folded by the scan, so the plan stays JVM-only."""
    phys = _to_physical(schema)
    pmap = _phys_map(schema)
    addr = (
        [
            _strip_uri_scheme(F.col("_metadata.file_path")).alias("__f"),
            F.col("_metadata.row_index").alias("__pos"),
        ]
        if addresses
        else []
    )
    groups: dict[str, list[str]] = {}
    for rel, meta in files.items():
        groups.setdefault(meta["commit_dir"], []).append(
            os.path.join(path, rel)
        )
    parts = []
    for commit_dir, names in sorted(groups.items()):
        reader = spark.read.schema(phys).option(
            "basePath", os.path.join(path, commit_dir)
        )
        part = reader.parquet(*sorted(names))
        parts.append(part.select("*", *addr) if addr else part)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if pmap:
        out = out.select(
            *[
                F.col(_phys_of(f)).alias(f.name)
                for f in schema.fields
            ],
            *(["__f", "__pos"] if addr else []),
        )
    return out


# ---------------------------------------------------------------------------
# deletion vectors: merge-on-read row-level deletes
# ---------------------------------------------------------------------------

DELETES_DIR = "deletes"
# above this many TOTAL masked rows in one read, the anti-join stops
# being forced-broadcast (the positions frame would strain the driver)
# and falls back to a shuffled anti-join — still correct, and the
# signal that `materialize_deletes` is overdue
DV_BROADCAST_MAX_ROWS = 4_000_000


def _dv_encode(positions) -> dict:
    """Serialize a set of row ordinals, roaring-style economy: the
    sorted-positions form costs 8 B/row, the bitmap ceil(bits/8) B —
    pick whichever is smaller (sparse deletes stay tiny, dense
    deletes amortize). Explicit little-endian so sidecars are
    portable artifacts, not process state."""
    import base64

    import numpy as np

    pos = np.unique(np.asarray(list(positions), dtype=np.int64))
    card = int(pos.size)
    bits = int(pos[-1]) + 1 if card else 0
    if card * 8 <= (bits + 7) // 8:
        payload, enc = pos.astype("<i8").tobytes(), "pos"
    else:
        buf = np.zeros((bits + 7) // 8, dtype=np.uint8)
        np.bitwise_or.at(
            buf,
            pos >> 3,
            np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)),
        )
        payload, enc = buf.tobytes(), "bitmap"
    return {
        "enc": enc,
        "bits": bits,
        "cardinality": card,
        "payload": base64.b64encode(payload).decode(),
    }


def _dv_decode(rec: dict):
    """Inverse of `_dv_encode`: sorted int64 row ordinals."""
    import base64

    import numpy as np

    raw = base64.b64decode(rec["payload"])
    if rec["enc"] == "pos":
        return np.frombuffer(raw, dtype="<i8").astype(np.int64)
    return np.flatnonzero(
        np.unpackbits(np.frombuffer(raw, dtype=np.uint8), bitorder="little")
    ).astype(np.int64)


def _dv_write(path: str, file_rel: str, positions) -> dict:
    """Persist a deletion vector sidecar (tmp + os.replace, the
    commit-log atomic-write discipline) and return the commit-entry
    record. Sidecars are immutable once linked into a commit — a new
    delete on the same file writes a NEW sidecar holding the union,
    so time travel through the old pointer stays valid until
    vacuum."""
    rec = _dv_encode(positions)
    rel = os.path.join(DELETES_DIR, f"{uuid.uuid4().hex}.json")
    full = os.path.join(path, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    tmp = f"{full}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump({"file": file_rel, **rec}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, full)
    return {
        "file": file_rel,
        "dv_path": rel,
        "cardinality": rec["cardinality"],
    }


def _dv_load(path: str, dv_rel: str) -> dict:
    with open(os.path.join(path, dv_rel)) as fh:
        return json.load(fh)


def _strip_uri_scheme(col):
    """file:/x, file:///x -> /x — aligns `_metadata.file_path` URIs
    with the os.path absolute paths the manifest math derives, so the
    two sides of the DV anti-join agree on the key."""
    return F.regexp_replace(col, "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")


def _dv_positions_frame(
    spark: SparkSession, path: str, dvd: dict
) -> DataFrame:
    """(file absolute path, masked row ordinal) for every DV'd file —
    decoded IN EXECUTORS from one descriptor row per file, so the
    driver never materializes position lists (the bloom-build
    packed-rows discipline, in reverse)."""
    rows = [
        (os.path.abspath(os.path.join(path, rel)), meta["dv"]["path"])
        for rel, meta in dvd.items()
    ]
    desc = spark.createDataFrame(rows, "f string, dv string")

    def _decode(batches):
        import pandas as pd

        for pdf in batches:
            for f, dv_rel in zip(pdf["f"], pdf["dv"]):
                pos = _dv_decode(_dv_load(path, dv_rel))
                yield pd.DataFrame({"f": f, "pos": pos})

    return desc.repartition(max(1, min(len(rows), 64))).mapInPandas(
        _decode, "f string, pos long"
    )


def _dv_total(dvd: dict) -> int:
    return sum(
        int(m["dv"].get("cardinality") or 0) for m in dvd.values()
    )


def _read_files_live_meta(
    spark: SparkSession, path: str, files: dict, schema: StructType
) -> DataFrame:
    """Live rows (deletion vectors applied) WITH their (__f, __pos)
    physical addresses — the working set row-level deletes match
    against. Files without a DV skip the anti-join leg entirely."""
    plain = {r: m for r, m in files.items() if not m.get("dv")}
    dvd = {r: m for r, m in files.items() if m.get("dv")}
    parts = []
    if plain:
        parts.append(_read_files(spark, path, plain, schema, addresses=True))
    if dvd:
        raw = _read_files(spark, path, dvd, schema, addresses=True)
        pos = _dv_positions_frame(spark, path, dvd)
        if _dv_total(dvd) <= DV_BROADCAST_MAX_ROWS:
            pos = F.broadcast(pos)
        cond = (raw["__f"] == pos["f"]) & (raw["__pos"] == pos["pos"])
        parts.append(raw.join(pos, cond, "left_anti"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_files_live(
    spark: SparkSession, path: str, files: dict, schema: StructType
) -> DataFrame:
    """DV-aware snapshot read: files without deletion vectors read
    pure-JVM through `_read_files` (zero extra plan nodes — the
    common path); DV'd files read with physical row addresses and
    drop their masked positions via a LEFT ANTI join, broadcast while
    the manifest-known masked-row total is small, shuffled beyond
    that (the signal `materialize_deletes` is overdue)."""
    plain = {r: m for r, m in files.items() if not m.get("dv")}
    dvd = {r: m for r, m in files.items() if m.get("dv")}
    parts = []
    if plain:
        parts.append(_read_files(spark, path, plain, schema))
    if dvd:
        parts.append(
            _read_files_live_meta(spark, path, dvd, schema).select(
                *[F.col(f.name) for f in schema.fields]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _zone_overlaps(meta: dict, skip: dict) -> bool:
    """True when the file MAY contain rows in every requested range —
    files lacking stats for a column cannot be pruned on it. A
    type-incompatible comparison (string bound vs numeric stats)
    fails open: the file stays."""
    for col, (lo, hi) in skip.items():
        zs = meta.get("stats", {}).get(col)
        if zs is None:
            continue
        fmin, fmax = zs
        try:
            if (hi is not None and fmin > hi) or (
                lo is not None and fmax < lo
            ):
                return False
        except TypeError:
            continue
    return True


# ---------------------------------------------------------------------------
# reading expressions: one walk over Spark's own parse
# ---------------------------------------------------------------------------

# Catalyst classes the walkers match by operator name; any other class
# becomes ("call", <lowercased class name>, args) and matches nothing
_EXPR_OPS = {
    "And": "and",
    "Or": "or",
    "Not": "not",
    "EqualTo": "=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "In": "in",
    "Cast": "cast",
}
# literal types whose rendered value maps to a Python value comparable
# with zone maps; dates and timestamps stay their rendered ISO strings
# (session time zone), the form footer stats and partition values take
_EXPR_LITS = {
    "byte": int,
    "short": int,
    "integer": int,
    "long": int,
    "double": float,
    "decimal": float,
    "string": str,
    "date": str,
    "timestamp": str,
    "boolean": lambda v: v == "true",
}


def _expr_tree(expr):
    """Spark's own unresolved parse of ``expr`` (a Column, or a SQL
    string read through ``F.expr``) as ("call", op, args) /
    ("lit", v) / ("ident", name_parts) nodes — the one place this
    module reads an expression. Catalyst renders the tree as a
    pre-order JSON node list in one JVM round trip. Column-API
    operators arrive as functions named by their symbol (``>=``,
    ``and``, ``in``) and parsed SQL as expression classes; both map to
    the same op names. A cast carries its target type as a trailing
    literal (``cast(x, 'date')``); lambda variables read as idents, so
    a name inside a lambda body still counts as a reference. Raises
    when Spark cannot parse the expression or no session is active —
    callers decide whether that fails open or closed."""
    col = F.expr(expr) if isinstance(expr, str) else expr
    jexpr = SparkSession.active()._jsparkSession.expression(col._jc)
    nodes = iter(json.loads(jexpr.toJSON()))

    def build():
        n = next(nodes)
        cls = n["class"].rsplit(".", 1)[-1]
        args = [build() for _ in range(n["num-children"])]
        if cls in ("UnresolvedAttribute", "UnresolvedNamedLambdaVariable"):
            # nameParts render as "[p1, p2]"
            return ("ident", tuple(n["nameParts"][1:-1].split(", ")))
        if cls == "Literal":
            dtype = n["dataType"].split("(")[0]  # decimal(p,s) -> decimal
            if n["value"] is None:
                return ("lit", None)
            if dtype in _EXPR_LITS:
                return ("lit", _EXPR_LITS[dtype](n["value"]))
            return ("call", dtype, [])
        if cls == "UnresolvedFunction":
            return ("call", n["nameParts"][1:-1].lower(), args)
        if cls == "Cast":
            args.append(("lit", n["dataType"]))
        return ("call", _EXPR_OPS.get(cls, cls.lower()), args)

    return build()


def _expr_refs(expr) -> set[str] | None:
    """Lowercased top-level columns ``expr`` reads: the first name part
    of every column reference in Spark's parse (Spark resolves names
    case-insensitively). None when the expression does not parse —
    the rename/drop/self-reference guards refuse on None."""
    try:
        stack = [_expr_tree(expr)]
    except Exception:  # noqa: BLE001 — the caller fails closed
        return None
    out: set[str] = set()
    while stack:
        node = stack.pop()
        if node[0] == "ident":
            # a name holding ", " splits like a nested path in the
            # rendering; counting the joined form too keeps it found
            out.update((node[1][0].lower(), ", ".join(node[1]).lower()))
        elif node[0] == "call":
            stack.extend(node[2])
    return out


# date_trunc('unit', ts) -> timestamp; trunc(date, 'unit') -> date
_DTRUNC_UNITS = ("year", "month", "week", "day")
_TRUNC_UNITS = {
    "year": "year", "yyyy": "year", "yy": "year",
    "month": "month", "mon": "month", "mm": "month", "week": "week",
}


def _parse_generated_expr(expr: str):
    """Recognize the provably-MONOTONE generated-column forms range
    derivation supports: date truncation (``CAST(x AS DATE)`` /
    ``TO_DATE(x)``), ``YEAR(x)``, string prefix (``SUBSTRING(x, 1,
    n)`` — lexicographic prefix truncation is order-preserving, the
    Iceberg ``truncate`` transform), and calendar truncation
    (``DATE_TRUNC('unit', x)`` returns a timestamp, ``TRUNC(x,
    'unit')`` a date). Returns (kind, base_col, arg) or None —
    unrecognized or unparseable forms simply contribute no pruning
    (fail-open)."""
    try:
        node = _expr_tree(expr)
    except Exception:  # noqa: BLE001 — fail open
        return None
    if node[0] != "call":
        return None
    _, op, args = node
    cols = [a[1] for a in args if a[0] == "ident"]
    lits = [a[1] for a in args if a[0] == "lit"]
    if len(cols) != 1 or len(cols[0]) != 1:
        return None
    if len(cols) + len(lits) != len(args):
        return None
    base = cols[0][0]
    lead = args[0][0] == "ident"
    if (op == "cast" and lits == ["date"]) or (op == "to_date" and not lits):
        return ("date", base, None)
    if op == "year" and not lits:
        return ("year", base, None)
    if (
        op in ("substr", "substring")
        and lead
        and len(lits) == 2
        and lits[0] == 1
        and isinstance(lits[1], int)
        and lits[1] >= 0
    ):
        return ("prefix", base, lits[1])
    unit = str(lits[0]).lower() if len(lits) == 1 else None
    if op == "date_trunc" and not lead and unit in _DTRUNC_UNITS:
        return ("dtrunc", base, unit)
    if op == "trunc" and lead and unit in _TRUNC_UNITS:
        return ("trunc", base, _TRUNC_UNITS[unit])
    return None


def _gen_bound(kind: str, arg, v):
    """Map one predicate bound through a monotone generated
    expression; None = could not derive (that side falls open)."""
    import datetime as _dt

    if kind == "prefix":
        return v[:arg] if isinstance(v, str) else None
    if isinstance(v, _dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
    elif isinstance(v, _dt.date):
        s = v.isoformat()
    elif isinstance(v, str):
        s = v
    else:
        return None
    if not re.match(r"^\d{4}-\d{2}-\d{2}", s):
        return None
    if kind == "date":
        return s[:10]
    if kind == "year":
        return int(s[:4])
    # calendar truncation (date_trunc / trunc): monotone nondecreasing
    try:
        d = _dt.date.fromisoformat(s[:10])
    except ValueError:
        return None
    if arg == "year":
        d = d.replace(month=1, day=1)
    elif arg == "month":
        d = d.replace(day=1)
    elif arg == "week":
        d = d - _dt.timedelta(days=d.weekday())
    # arg == "day": the date itself
    iso = d.isoformat()
    return iso + " 00:00:00" if kind == "dtrunc" else iso


def _extend_generated(skip: dict, generated: dict) -> dict:
    """Extend a {col: (lo, hi)} range map through the table's
    generated-column definitions: a range on the BASE column implies
    a range on every monotone derived column — the mechanism behind
    'partition by generated date, filter by timestamp' pruning. Sides
    that can't be derived fall open (None bound); explicit ranges the
    caller already placed on the derived column are intersected, not
    replaced."""
    out = dict(skip)
    for gcol, expr in (generated or {}).items():
        parsed = _parse_generated_expr(expr)
        if parsed is None:
            continue
        kind, base, arg = parsed
        if base not in out:
            continue
        lo, hi = out[base]
        glo = _gen_bound(kind, arg, lo) if lo is not None else None
        ghi = _gen_bound(kind, arg, hi) if hi is not None else None
        if glo is None and ghi is None:
            continue
        _merge_range(out, gcol, glo, ghi)
    return out


def _pv_stats(meta: dict, ptypes: dict) -> dict:
    """A file's zone maps EXTENDED with its partition values — a
    partition value is an exact [v, v] zone map, so range skipping
    works on partition columns too (footer stats never cover them:
    they are directory-encoded). Integers/floats compare numerically;
    dates/timestamps/strings compare as their rendered ISO strings,
    which order correctly lexicographically."""
    from pyspark.sql import types as T

    out = dict(meta.get("stats") or {})
    for c, dt in ptypes.items():
        raw = meta.get("partition_values", {}).get(c)
        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            continue
        try:
            if isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                v = int(raw)
            elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
                v = float(raw)
            elif isinstance(dt, T.BooleanType):
                v = raw == "true"
            else:
                v = raw
        except (TypeError, ValueError):
            continue
        out.setdefault(c, [v, v])
    return out


def _pf_prune(want: dict, rendered: dict) -> tuple[dict, bool]:
    """Manifest-level partition-filter prune, FAIL-OPEN for files
    written under an older partition spec (after
    :func:`repartition_table` the column is DATA in those files — the
    manifest cannot decide row membership, so the file stays).
    Returns (kept, exact): ``exact`` is False when any kept file was
    admitted fail-open, i.e. a row-level filter must finish the job
    (reads add it automatically; metadata-only answers must refuse)."""
    kept: dict = {}
    exact = True
    for rel, meta in want.items():
        pv = meta["partition_values"]
        keep = True
        decided = True
        for k, rv in rendered.items():
            if k in pv:
                if pv[k] != rv:
                    keep = False
                    break
            else:
                decided = False
        if keep:
            kept[rel] = meta
            if not decided:
                exact = False
    return kept, exact


def _prune_files(
    want: dict, skip: dict, schema: StructType, pcols, generated=None
) -> dict:
    """Shared file-pruning step for every verb that takes a range map
    (read/delete/update): extend ranges through generated columns,
    rekey to physical names, then drop files whose zone maps OR
    partition values prove no row can match."""
    if generated:
        skip = _extend_generated(skip, generated)
    if not skip:
        return want
    skip_p = _translate_cols(skip, schema)
    ptypes = {
        f.name: f.dataType
        for f in schema.fields
        if f.name in (pcols or []) and f.name in skip_p
    }
    if not ptypes:
        return {
            rel: meta
            for rel, meta in want.items()
            if _zone_overlaps(meta, skip_p)
        }
    return {
        rel: meta
        for rel, meta in want.items()
        if _zone_overlaps({"stats": _pv_stats(meta, ptypes)}, skip_p)
    }


# ---------------------------------------------------------------------------
# predicate-derived data skipping
# ---------------------------------------------------------------------------

_PRED_FLIP = {">": "<", ">=": "<=", "<": ">", "<=": ">=", "=": "="}


def _pred_ranges(node) -> dict | None:
    """(lo, hi) bounds per column IMPLIED by the parsed predicate.
    Only AND-conjunctions of ``col <op> literal`` (either side),
    BETWEEN and IN-lists of non-NULL literals contribute; every other
    shape returns None for its subtree — under AND an unknown conjunct
    simply contributes no constraint, which keeps the derived ranges a
    sound implication (never narrower than the predicate)."""
    if node[0] != "call":
        return None
    _, op, args = node
    if op == "and":
        out: dict = {}
        for a in args:
            for c, (lo, hi) in (_pred_ranges(a) or {}).items():
                _merge_range(out, c, lo, hi)
        return out or None
    if op in _PRED_FLIP and len(args) == 2 and args[1][0] == "ident":
        op, args = _PRED_FLIP[op], args[::-1]
    if len(args) < 2 or args[0][0] != "ident":
        return None
    if any(a[0] != "lit" or a[1] is None for a in args[1:]):
        return None
    col, vals = ".".join(args[0][1]), [a[1] for a in args[1:]]
    if op in _PRED_FLIP and len(vals) == 1:
        v = vals[0]
        if op in (">", ">="):
            return {col: (v, None)}
        if op in ("<", "<="):
            return {col: (None, v)}
        return {col: (v, v)}
    if op == "between" and len(vals) == 2:
        return {col: (vals[0], vals[1])}
    if op == "in":
        return {col: (min(vals), max(vals))}
    return None


def _merge_range(out: dict, col: str, lo, hi) -> None:
    plo, phi = out.get(col, (None, None))
    nlo = plo if lo is None else (lo if plo is None else max(lo, plo))
    nhi = phi if hi is None else (hi if phi is None else min(hi, phi))
    out[col] = (nlo, nhi)


def predicate_skip_ranges(condition) -> dict:
    """Zone-map skip ranges IMPLIED by a predicate — the automatic
    half of data skipping. Reads a Column or a SQL string through
    Spark's own parse (`_expr_tree`), so both forms — and ``F.expr``
    Columns — derive the same ranges from the simple conjunctive
    shapes (``col <op> literal`` under ANDs, BETWEEN, literal
    IN-lists); anything it cannot prove implied (ORs, NOTs,
    function-wrapped columns, cross-column terms, NULL literals)
    contributes NOTHING, so the returned dict is always safe to hand
    to `read_table(skip=)` / `delete_from_table` — pruning with it can
    only drop files that contain no matching row. Returns {} when
    nothing is derivable or the predicate does not parse
    (fail-open)."""
    try:
        return dict(_pred_ranges(_expr_tree(condition)) or {})
    except Exception:  # noqa: BLE001 — fail open
        return {}


def version_at_timestamp(path: str, ts) -> int:
    """The version that was LIVE at wall-clock ``ts`` — the newest
    commit whose stamp is <= ts (Delta's TIMESTAMP AS OF resolution).
    ``ts`` is a unix-seconds float, a datetime, or an ISO-8601
    string. Raises if ``ts`` predates the first commit. Resolution is
    one driver-side pass over the commit stamps — O(log length),
    no data touched."""
    import datetime

    if isinstance(ts, str):
        # stream options arrive stringly. Calendar forms win over the
        # numeric unix-seconds reading: a bare year like '2024' (or
        # '2024-06', or any ISO date/datetime) resolves as a date —
        # never as epoch seconds (~1970). Only a string that is not a
        # calendar form at all takes the numeric path.
        s = ts.strip()
        m = re.match(r"^(\d{4})(?:-(\d{1,2}))?$", s)
        if m:
            ts = datetime.datetime(
                int(m.group(1)), int(m.group(2) or 1), 1
            )
        else:
            try:
                ts = datetime.datetime.fromisoformat(s)
            except ValueError:
                ts = float(s)
    if isinstance(ts, datetime.datetime):
        ts = ts.timestamp()
    ts = float(ts)
    commits, _ = _list_log(path)
    if not commits:
        raise FileNotFoundError(f"no tx table at {path}")
    best = None
    for v in commits:
        if _commit_ts(path, v) <= ts:
            best = v  # stamps are claim-ordered; keep the newest
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {path}"
        )
    return best


def read_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
    partition_filter: dict | None = None,
    skip: dict | None = None,
    point: dict | None = None,
    where=None,
) -> DataFrame:
    """Read the table at ``version`` (default latest). The file set
    comes from the log fold — no directory listing. With
    ``partition_filter={col: value}``, pruning happens at the
    MANIFEST level: Spark receives only the matching files. With
    ``skip={col: (lo, hi)}``, zone-map pruning drops every file whose
    footer min/max range (recorded at commit time) cannot intersect
    the requested range — data skipping on NON-partition columns,
    effective when the layout clusters the column
    (:func:`compact_table` with ``zorder_by``). With
    ``point={col: value}``, files whose bloom filter
    (:func:`build_bloom_index`) proves the value absent are dropped —
    the point-lookup complement for UNCLUSTERED columns; files
    without a filter always stay. ``skip``/``point`` prune FILES
    only; apply the row-level ``.where`` as usual — results are
    identical with or without them, only I/O changes.

    ``timestamp`` is TIMESTAMP AS OF: the snapshot that was live at
    that wall-clock instant (:func:`version_at_timestamp`) — mutually
    exclusive with ``version``. Keep `vacuum_table(retain_hours=)` at
    least as long as the lookback you query.

    Files are read per commit-group (each group one ``basePath`` so
    directory-encoded partition columns re-materialize), then
    unioned; compaction folds old groups so the union stays narrow.
    Files carrying deletion vectors (:func:`delete_from_table` with
    ``mode="mor"``) have their masked rows dropped transparently;
    ``skip``/``point`` pruning stays sound because file stats are a
    SUPERSET of the live rows.

    ``where`` (Column or SQL string) is the one-argument form of
    predicate + pruning: the row filter is applied AND its implied
    zone-map ranges (`predicate_skip_ranges`) merge into ``skip``
    automatically — ``read_table(where="cents > 100")`` and
    ``read_table(where=F.col("cents") > 100)`` prune files and filter
    rows in one call, fail-open to a full scan when the predicate is
    not derivable.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "read_table: version and timestamp are mutually "
                "exclusive"
            )
        version = version_at_timestamp(path, timestamp)
    snap = _fold(path, version)
    schema = snap.spark_schema()
    want = snap.files
    if where is not None:
        derived = predicate_skip_ranges(where)
        if derived:
            merged = dict(skip or {})
            for c, (lo, hi) in derived.items():
                _merge_range(merged, c, lo, hi)
            skip = merged
    pf_exact = True
    if partition_filter:
        types = {f.name: f.dataType for f in schema.fields}
        rendered = {
            k: _render_pv(
                _coerce_pv(v, types[k]) if k in types else v
            )
            for k, v in partition_filter.items()
        }
        want, pf_exact = _pf_prune(want, rendered)
    if skip:
        want = _prune_files(
            want, skip, schema, snap.partition_cols, snap.generated
        )
    if point:
        want = _bloom_prune(
            spark, path, want, _translate_cols(point, schema)
        )
    if not want:
        out = spark.createDataFrame([], schema)
    else:
        out = _read_files_live(spark, path, want, schema)
    if partition_filter and not pf_exact:
        # files from an older partition spec survived fail-open — a
        # row-level filter finishes the job (a no-op on current-spec
        # files, where every row already matches)
        for k, v in partition_filter.items():
            cv = _coerce_pv(v, types[k]) if k in types else v
            out = out.where(
                F.col(k).isNull() if cv is None else F.col(k) == F.lit(cv)
            )
    if where is not None:
        out = out.where(
            F.expr(where) if isinstance(where, str) else where
        )
    return out


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """The commit log as a DataFrame: one row per version with the
    action, commit wall-clock time (epoch seconds — the stamp
    `version_at_timestamp` resolves against), and file-count deltas
    (the audit surface a warehouse `DESCRIBE HISTORY` exposes)."""
    commits, _ = _list_log(path)
    rows = []
    for v in commits:
        e = _load_entry(path, v)
        rows.append(
            (
                v,
                e["action"],
                float(_commit_ts(path, v, e)),
                len(e.get("added", [])),
                len(e.get("removed", [])),
                (e.get("app") or {}).get("app_id"),
                (e.get("app") or {}).get("batch_id"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, action string, commit_ts double, n_added int, "
        "n_removed int, app_id string, batch_id long",
    )


# ---------------------------------------------------------------------------
# merge (partition-scoped copy-on-write)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# commit-time change data: typed change rows persisted BY THE WRITER
# ---------------------------------------------------------------------------


def enable_change_data(path: str) -> int:
    """Turn on commit-time CHANGE DATA for the table (the public
    Delta ``delta.enableChangeDataFeed`` analog): from this commit
    on, every rewriting DML commit (merge / delete / update) also
    persists its typed change rows — ``insert`` / ``delete`` /
    ``update_preimage`` / ``update_postimage`` — as parquet files
    under ``_change_data/``, referenced by the commit entry.

    What this buys at 100 TB:

    - **The change feed becomes a pure SCAN for those commits.**
      `table_changes_cdf` and the stream's ``changeFeed`` mode read
      the persisted rows file-per-task — no read-time pre/post join,
      no single-task funnel, cost proportional to the CHANGES.
    - **No primary-key requirement.** The join-derived feed needs
      caller-asserted-unique pks; commit-time rows are recorded by
      the DML that computed them, so a table without a unique key
      streams its feed too (pass no pks).

    The price is Delta's: each DML pays one extra write of its change
    rows (appends pay nothing — the feed derives inserts from the
    added files directly). Stamps the ``changeDataFeed`` WRITER
    feature so an enforcement-oblivious build refuses to write rather
    than silently starve the feed. Disable with
    ``drop_table_feature(spark, path, "changeDataFeed")``.
    Idempotent; composes with concurrent appends."""
    snap = _fold(path)
    _require_writer(snap, path)
    if snap.cdc_enabled:
        return snap.version
    up = _protocol_upgrade(snap, writer=["changeDataFeed"])
    return _rewrite_commit(
        path,
        snap.version,
        "set_cdc",
        [],
        [],
        conflict="files",
        extra={"cdc_enabled": True, **({"protocol": up} if up else {})},
    )


def _stage_change_data(
    spark: SparkSession,
    path: str,
    change_df: DataFrame,
    table_schema: StructType,
) -> list[dict]:
    """Write typed change rows (table columns + ``_change_type``)
    under a fresh ``_change_data/<uuid>/`` dir and return the
    commit-entry records ``[{path, rows, bytes}]``. Columns land
    under their PHYSICAL names (column-mapping discipline, same as
    `_stage`), so the files survive renames; partition columns land
    as plain data columns (change files are not partitioned — each
    parquet file is one independent stream/scan task).
    ``_commit_version`` is stamped at READ time: a lost claim race
    rebases to a different slot, so the version cannot be baked into
    the bytes. Files are invisible until a commit references them —
    a failed job leaves only strays for vacuum."""
    pmap = _phys_map(table_schema)
    cols = [
        F.col(f.name).alias(pmap.get(f.name, f.name))
        for f in table_schema.fields
    ]
    cols.append(F.col(CDF_TYPE_COL))
    rel_dir = os.path.join(CDC_DIR, uuid.uuid4().hex)
    out = os.path.join(path, rel_dir)
    change_df.select(*cols).write.mode("overwrite").parquet(out)
    recs = []
    for root, _dirs, names in os.walk(out):
        for name in names:
            if not name.endswith(".parquet"):
                continue
            full = os.path.join(root, name)
            try:
                _stats, nrows, _nulls, _trunc = _footer_stats(full)
            except Exception:  # noqa: BLE001 — keep the file, rows unknown
                nrows = None
            if nrows == 0:
                # empty part files would become empty read tasks
                os.unlink(full)
                crc = os.path.join(root, f".{name}.crc")
                if os.path.exists(crc):  # Hadoop checksum sibling
                    os.unlink(crc)
                continue
            recs.append(
                {
                    "path": os.path.relpath(full, path),
                    "rows": nrows,
                    "bytes": os.stat(full).st_size,
                }
            )
    return recs


def _typed_change_rows(
    pre: DataFrame,
    post: DataFrame,
    pks: Sequence[str],
    schema: StructType,
) -> DataFrame:
    """ONE full-outer pk-join of a rewrite's pre-image vs post-image
    into typed change rows: pk only in post → ``insert``, only in
    pre → ``delete``, in both with different payloads → an
    ``update_preimage`` + ``update_postimage`` pair, identical
    payloads (rows merely MOVED by the rewrite) → nothing. The
    structs carry the whole payload through the join, so change rows
    project straight out of it. Returns schema columns +
    ``_change_type``."""
    data_cols = [f.name for f in schema.fields if f.name not in pks]
    if data_cols:
        pre_p = pre.select(
            *pks, F.struct(*[F.col(c) for c in data_cols]).alias("__pre")
        )
        post_p = post.select(
            *pks, F.struct(*[F.col(c) for c in data_cols]).alias("__post")
        )
    else:
        pre_p = pre.select(*pks, F.lit(1).alias("__pre"))
        post_p = post.select(*pks, F.lit(1).alias("__post"))
    j = post_p.join(pre_p, list(pks), "full_outer")

    def _ent(p: str, t: str):
        return F.struct(F.col(p).alias("p"), F.lit(t).alias("t"))

    # a 1- or 2-entry array per key; unchanged keys explode away on
    # the NULL array
    entries = (
        F.when(F.col("__pre").isNull(), F.array(_ent("__post", "insert")))
        .when(F.col("__post").isNull(), F.array(_ent("__pre", "delete")))
        .when(
            ~F.col("__pre").eqNullSafe(F.col("__post")),
            F.array(
                _ent("__pre", "update_preimage"),
                _ent("__post", "update_postimage"),
            ),
        )
    )
    keyed = j.select(*pks, F.explode(entries).alias("__e")).select(
        *pks,
        F.col("__e.p").alias("__p"),
        F.col("__e.t").alias(CDF_TYPE_COL),
    )
    cols = [F.col(f.name) for f in schema.fields]
    if data_cols:
        cols = [
            F.col(f.name)
            if f.name in pks
            else F.col("__p").getField(f.name).alias(f.name)
            for f in schema.fields
        ]
    return keyed.select(*cols, F.col(CDF_TYPE_COL))


def _retry_on_vacuumed_snapshot(verb):
    """Row-level verbs read their snapshot's data files and deletion-
    vector sidecars in Spark jobs well after resolving it. When a
    concurrent commit plus a vacuum removes one of those files first,
    the job dies on the missing file. That is the same lost optimistic
    race a commit-time conflict reports, so it surfaces as
    ConcurrentWriteError, chained from the engine error, and the
    caller's retry resolves a fresh snapshot. The snapshot checked is
    the latest version when the verb starts, the one it resolves."""

    @functools.wraps(verb)
    def guarded(spark, path, *args, **kwargs):
        read_version = latest_version(path)
        try:
            return verb(spark, path, *args, **kwargs)
        except (PySparkException, Py4JJavaError, FileNotFoundError) as e:
            moved = latest_version(path) > read_version
            files = _fold(path, read_version).files if moved else {}
            dvs = [m["dv"]["path"] for m in files.values() if m.get("dv")]
            if any(not os.path.exists(os.path.join(path, r)) for r in [*files, *dvs]):
                raise ConcurrentWriteError(
                    f"files of snapshot {read_version} at {path} were "
                    "vacuumed after a concurrent commit"
                ) from e
            raise

    return guarded


@_retry_on_vacuumed_snapshot
def merge_tx_table(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    pks: Sequence[str] | str,
    now=None,
    delete_col: str | None = None,
    broadcast_deletes: bool = True,
    merge_schema: bool = False,
    app: tuple[str, int] | None = None,
    max_source_partitions: int = 100_000,
    checks: list | None = None,
    on_partition_move: str = "migrate",
) -> int:
    """MERGE ``source`` into the tx table with `merge.merge_upsert`'s
    exact reference semantics (M1), executed as copy-on-write:

    - **Partitioned table:** only partitions PRESENT IN THE SOURCE
      are read, merged, and rewritten; every file in an untouched
      partition survives by reference (file-list identity asserted in
      test_txtable). Contract (same as Delta's practical rule): a
      row's partition value is merge-stable — updates arriving with a
      CHANGED partition value would strand the old row, so source
      rows whose pk matches a target row OUTSIDE the touched
      partitions are a caller error; enable full correctness by
      merging on an unpartitioned table or repartitioning first.
      ``on_partition_move`` decides what happens when a source row's
      partition value CHANGED (its old target row lives outside the
      touched partitions — trivial to hit with a generated partition
      column, where updating the base timestamp moves the derived
      partition): ``"migrate"`` (default) pulls the files holding
      moved keys into the rewrite so the old copies retire —
      correctness by construction, priced at one tiny source-range
      agg, zone-map prefiltering of the untouched files on the pk
      ranges, and one column-pruned semi-join over the survivors;
      ``"error"`` raises loudly BEFORE anything commits;
      ``"ignore"`` restores the scope-strict behavior for
      upstreams that contractually never move keys (zero extra cost,
      strands duplicates if the contract is broken).
    - **Unpartitioned table:** full-snapshot rewrite (the honest
      granularity without a file-level pk index).

    ``delete_col`` names a boolean source column flagging deletes —
    the ``WHEN MATCHED THEN DELETE`` clause: flagged keys are dropped
    from the result (upserts fold first, then deletes win — so a key
    both updated and delete-flagged in one batch deletes, matching
    the CDC net-effect convention); unmatched delete flags are
    no-ops. The column itself never lands in the table.
    ``broadcast_deletes=False`` drops the broadcast hint on the
    delete-key anti-join — for UNBOUNDED delete sets ("forget this
    whole country") that must shuffle, not ship to every executor;
    AQE still picks a broadcast at runtime when the set turns out
    small, so the flag only removes the forced plan.

    Schema evolution: by default, source-only columns are silently
    dropped — the target schema wins, `merge_upsert`'s reference
    semantics. ``merge_schema=True`` is the Delta ``autoMerge``
    analog: NEW nullable source columns widen the table schema at
    the commit (same validation as append — type conflicts on shared
    columns raise), target rows read null-filled for them, and
    untouched partitions' files stay byte-identical (widening is a
    manifest-schema change; old files null-fill at read, exactly
    like a widened append).

    Concurrency (r9): a lost commit race REBASES when every
    interleaved commit's file footprint is disjoint from this
    merge's touched partitions — two merges into different days both
    commit, the loser re-claims the next slot with the SAME staged
    files, no re-merge. A genuinely overlapping race (an interleaved
    write into a touched partition, or a rewrite removing the same
    files) still raises ConcurrentWriteError — the caller re-reads
    and retries, folding against the racer's committed state.

    ``max_source_partitions`` bounds the driver-side collect of the
    source's distinct partition values: beyond it the merge raises
    instead of silently materializing millions of tuples — at that
    scale the source touches most of the table, so merge into an
    unpartitioned layout (full rewrite) or split the source into
    waves.

    ``app=(app_id, batch_id)`` makes the merge IDEMPOTENT under
    redelivery — the append high-water mechanism applied to a
    rewrite: a batch_id at or below the app's mark returns the
    current version and changes nothing. This is what
    :func:`foreach_batch_merge_sink` rides for exactly-once
    streaming upserts.
    """
    from bi_utils_spark.operators.merge import merge_upsert

    snap = _fold(path)
    _require_writer(snap, path)
    if app is not None and snap.app_batches.get(app[0], -1) >= app[1]:
        return snap.version
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    if checks:
        # commit-boundary CHECK constraints, append_table's contract
        # extended to upserts: gate the rows that will LAND (delete-
        # flagged rows only remove — a tombstone carrying nulls must
        # not fail a not-null check) BEFORE anything stages, so a
        # failing batch leaves the table untouched
        from bi_utils_spark.operators.dq import dq_gate

        landing = (
            source.where(~F.coalesce(F.col(delete_col), F.lit(False)))
            .drop(delete_col)
            if delete_col is not None
            else source
        )
        dq_gate(landing, checks)
    del_keys = None
    if delete_col is not None:
        del_keys = (
            source.where(F.col(delete_col)).select(*pks).distinct()
        )
        source = source.drop(delete_col)
    if snap.identity:
        supplied = [c for c in snap.identity if c in source.columns]
        if supplied:
            raise ValueError(
                f"merge into {path}: identity column(s) {supplied} "
                "are GENERATED ALWAYS — the source must not supply "
                "them (matched rows keep their target id, inserted "
                "rows allocate at commit)"
            )
    if snap.generated:
        # upserted rows are the only NEW values — computing/validating
        # on the source keeps the cost at the delta, not the rewrite
        source = _apply_generated(source, snap.generated)
    if snap.constraints:
        # persisted CHECK constraints gate the rows that will LAND
        # (tombstones only remove), same contract as the checks= arg
        _enforce_constraints(
            source.join(
                del_keys, list(pks), "left_anti"
            ) if del_keys is not None else source,
            snap.constraints,
        )
    # Managed timestamp columns never come from the source
    # (merge_upsert's contract), so they neither widen the schema nor
    # participate in type validation. Shared columns are ALWAYS
    # type-validated — a type-drifted CDC source would otherwise
    # stage parquet files that disagree with the manifest schema and
    # brick every subsequent read — but lossless upcasts pass (the
    # merge coerces them to the table type); only the WIDENING is
    # gated behind merge_schema.
    from bi_utils_spark.operators.merge import INSERT_TS_COL, UPDATE_TS_COL

    src_schema_view = source.drop(INSERT_TS_COL, UPDATE_TS_COL)
    widened = _merge_schema_check(snap, src_schema_view)
    if not merge_schema:
        widened = None  # validation ran; target schema wins
    schema = (
        StructType.fromJson(json.loads(widened))
        if widened
        else snap.spark_schema()
    )

    def _apply(target: DataFrame) -> DataFrame:
        merged = merge_upsert(target, source, pks, now=now)
        if del_keys is not None:
            dk = (
                F.broadcast(del_keys) if broadcast_deletes else del_keys
            )
            merged = merged.join(dk, list(pks), "left_anti")
        return merged

    def _allocate(merged: DataFrame) -> tuple[DataFrame, dict]:
        # identity under MERGE: matched rows kept their target id
        # through the fold; inserted rows surfaced with a NULL id.
        # One materialization of the rewrite set (so the split
        # below doesn't run the merge join twice), then only
        # the null-id slice pays allocation. An interleaved
        # allocation is a commit-time CONFLICT, not a rebase — ids
        # are baked into the staged files (see _rewrite_commit).
        if not snap.identity:
            return merged, {}
        merged = materialize(merged)
        idc = list(snap.identity)
        have = None
        for c in idc:
            n = F.col(c).isNotNull()
            have = n if have is None else have & n
        keep = merged.where(have)
        need = merged.where(~have).drop(*idc)
        need, hwm = _apply_identity(need, snap.identity, snap.identity_hwm)
        return keep.unionByName(need), hwm

    pcols = snap.partition_cols
    if pcols:
        # LIMIT bound+1 caps the driver-side materialization: the
        # guard costs nothing when the source is well-behaved and
        # cannot OOM the driver when it is not. Plain escalating
        # take(): the child's top is the distinct's EXCHANGE, so
        # later take rounds reuse the map stage's shuffle files —
        # escalation is nearly free here, while the r12 one-job probe
        # forced an all-partitions first round and regressed
        # q_tx_merge_raw 0.97→1.37 s (r12 VERDICT #1; interleaved
        # r13 A/B confirmed the take form faster on both tx rows).
        touched_rows = (
            source.select(*pcols)
            .distinct()
            .limit(max_source_partitions + 1)
            .collect()
        )
        if len(touched_rows) > max_source_partitions:
            raise ValueError(
                f"merge_tx_table: source touches more than "
                f"{max_source_partitions} distinct partitions — the "
                "partition-scoped merge would collect that many "
                "tuples driver-side and rewrite most of the table "
                "anyway. Merge unpartitioned (full rewrite), raise "
                "max_source_partitions explicitly, or split the "
                "source into waves."
            )
        touched = [
            tuple(_render_pv(r[c]) for c in pcols) for r in touched_rows
        ]
        touched_set = set(touched)
        removed = [
            rel
            for rel, meta in snap.files.items()
            if tuple(meta["partition_values"].get(c) for c in pcols)
            in touched_set
        ]
        # files written under an OLDER partition spec (before a
        # repartition_table) are always part of the merge: the
        # manifest cannot scope them by the current partitioning, and
        # a source key may live in any of them. They re-stage under
        # the current spec — every merge migrates them a little, and
        # compact_table migrates them all at once.
        stale = [
            rel
            for rel, meta in snap.files.items()
            if set(meta["partition_values"]) != set(pcols)
        ]
        if stale:
            removed = sorted(set(removed) | set(stale))
        if on_partition_move not in ("migrate", "error", "ignore"):
            raise ValueError(
                f"merge_tx_table: on_partition_move must be "
                f"'migrate' | 'error' | 'ignore', got {on_partition_move!r}"
            )
        removed_set = set(removed)
        outside = {
            rel: meta
            for rel, meta in snap.files.items()
            if rel not in removed_set
        }
        if outside and on_partition_move != "ignore":
            # a source row whose partition value CHANGED (trivial to
            # hit with a generated partition column — update the base
            # timestamp and the derived partition moves) matches a
            # target row OUTSIDE the touched partitions; left there it
            # becomes a duplicate key. Candidates are prefiltered by
            # the source's per-pk-column value ranges against each
            # file's zone maps (one tiny agg job; fail-open on
            # non-comparable types), then one COLUMN-PRUNED semi-join
            # finds the files actually holding moved keys.
            rng = source.select(
                *[F.min(c).alias(f"__lo_{c}") for c in pks],
                *[F.max(c).alias(f"__hi_{c}") for c in pks],
            ).first()
            pk_ranges = {
                c: (rng[f"__lo_{c}"], rng[f"__hi_{c}"])
                for c in pks
                if rng[f"__lo_{c}"] is not None
            }
            cand = (
                _prune_files(outside, pk_ranges, schema, pcols)
                if pk_ranges
                else outside
            )
            if cand:
                hit_rows = (
                    _read_files_live_meta(spark, path, cand, schema)
                    .select("__f", *pks)
                    .join(
                        source.select(*pks).distinct(),
                        list(pks),
                        "left_semi",
                    )
                    .select("__f")
                    .distinct()
                    .collect()
                )
                if hit_rows and on_partition_move == "error":
                    raise ValueError(
                        f"merge_tx_table: {len(hit_rows)} file(s) hold "
                        "target rows OUTSIDE the source's partitions "
                        "whose keys the source matches — their "
                        "partition value changed, and a "
                        "partition-scoped merge would strand the old "
                        "rows. Use the default "
                        "on_partition_move='migrate', or include the "
                        "rows' OLD partition value in the source."
                    )
                if hit_rows:
                    cand_abs = {
                        os.path.abspath(os.path.join(path, rel)): rel
                        for rel in cand
                    }
                    moved = [cand_abs[r["__f"]] for r in hit_rows]
                    # the hit files join the rewrite: moved keys' old
                    # copies retire, bystander rows restage into their
                    # own (unchanged) partitions
                    removed = sorted(set(removed) | set(moved))
        scope: dict = {
            "conflict": "partitions",
            "touched_partitions": touched_set,
            "pcols": list(pcols),
        }
    else:
        # unpartitioned: the whole snapshot is the rewrite's scope
        removed, scope = list(snap.files), {}
    if removed:
        target = _read_files_live(
            spark, path, {rel: snap.files[rel] for rel in removed}, schema
        )
    else:
        target = spark.createDataFrame([], schema)
    merged, hwm = _allocate(_apply(target))
    added = _stage(merged, path, pcols, table_schema=schema)
    extra: dict = {"identity_hwm": hwm} if hwm else {}
    if snap.cdc_enabled:
        extra["cdc"] = _merge_change_data(
            spark, path, target, added, pks, schema
        )
    return _rewrite_commit(
        path,
        snap.version,
        "merge",
        added,
        sorted(removed),
        schema=widened,
        app=app,
        # only an ALLOCATING rewrite can collide with an interleaved
        # allocation — a merge with zero inserts stages only existing
        # ids at or below the old mark
        identity_cols=set(snap.identity) if hwm else None,
        extra=extra or None,
        **scope,
    )


def _merge_change_data(
    spark: SparkSession,
    path: str,
    target: DataFrame,
    added: list[dict],
    pks: Sequence[str],
    schema: StructType,
) -> list[dict]:
    """A merge commit's change rows, persisted at commit time: the
    pre-image is the rewrite's target (the removed files' live rows,
    already a pure file scan), the post-image is read BACK from the
    just-staged files (another pure scan — never a re-run of the
    merge join), and `_typed_change_rows` classifies. Bystander rows
    the rewrite merely restaged are identical pre/post and emit
    nothing."""
    staged = {
        rec["path"]: {
            "commit_dir": rec["commit_dir"],
            "partition_values": rec.get("partition_values", {}),
        }
        for rec in added
    }
    post = (
        _read_files(spark, path, staged, schema)
        if staged
        else spark.createDataFrame([], schema)
    )
    return _stage_change_data(
        spark,
        path,
        _typed_change_rows(target, post, pks, schema),
        schema,
    )


# ---------------------------------------------------------------------------
# row-level DELETE and UPDATE: merge-on-read (deletion vectors) or
# copy-on-write, one body
# ---------------------------------------------------------------------------


def _dv_records(
    path: str, matched: DataFrame, want: dict
) -> tuple[list[dict], int]:
    """Write the deletion-vector sidecars for the (__f, __pos) rows of
    ``matched`` EXECUTOR-SIDE and return (commit records, rows newly
    masked). Rows shuffle once by file; each group's task unions its
    positions with the file's previous sidecar, encodes, and writes
    its own sidecar with the tmp+os.replace discipline (`_dv_write`
    run where the data is). The driver receives only one (file,
    dv_path, cardinality, newly masked) row per touched file, never
    the positions, so masking any fraction of a 100 TB table streams
    through executors. Requires executors to share the table's
    filesystem with the driver — the same property staged data files
    already rely on. A crash leaves unreferenced sidecars (strays)
    that readers never consult and vacuum reaps after the age guard.
    Nothing matched: no task runs, no sidecar is written."""
    info = {
        os.path.abspath(os.path.join(path, rel)): (
            rel,
            (meta.get("dv") or {}).get("path"),
        )
        for rel, meta in want.items()
    }
    root = os.path.abspath(path)

    def _pack_write(key, pdf):
        import numpy as np
        import pandas as pd

        rel, old_rel = info[key[0]]
        new = np.unique(pdf["__pos"].to_numpy(dtype="int64"))
        pos = (
            np.union1d(new, _dv_decode(_dv_load(root, old_rel)))
            if old_rel
            else new
        )
        rec = _dv_write(root, rel, pos)
        return pd.DataFrame(
            {
                "file": [rel],
                "dv_path": [rec["dv_path"]],
                "cardinality": [rec["cardinality"]],
                "masked": [new.size],
            }
        )

    rows = (
        matched.select("__f", "__pos")
        .groupBy("__f")
        .applyInPandas(
            _pack_write,
            "file string, dv_path string, cardinality long, masked long",
        )
        .collect()
    )
    records = [
        {
            "file": r["file"],
            "dv_path": r["dv_path"],
            "cardinality": int(r["cardinality"]),
        }
        for r in rows
    ]
    return records, sum(int(r["masked"]) for r in rows)


def _row_level_dml(
    spark: SparkSession,
    path: str,
    condition,
    set_exprs: dict | None,
    mode: str,
    partition_filter: dict | None,
    skip: dict | None,
) -> dict:
    """The one body of `delete_from_table` and `update_table`. DELETE
    is the case with no post-image (``set_exprs`` None); UPDATE stages
    the matched rows' post-images beside the same mask or rewrite.

    Steps: prune the candidate files (``partition_filter`` at the
    manifest, then zone maps on ``skip`` or the ranges derived from
    the predicate), scan their LIVE rows with physical addresses, and
    either rewrite the files holding matches (``cow``) or mask the
    matches with deletion vectors (``mor``); then one ``files``-scoped
    commit. With change data on, matched rows that feed more than one
    job (the mask, the post-image, the change rows) are materialized
    once; a COW delete's matched rows feed only its change rows."""
    is_update = set_exprs is not None
    verb = "update" if is_update else "delete"
    fn = "update_table" if is_update else "delete_from_table"
    if mode not in ("mor", "cow"):
        raise ValueError(f"{fn}: unknown mode {mode!r}")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    pred_repr = condition if isinstance(condition, str) else str(condition)
    extra: dict = {"predicate": pred_repr}
    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    names = schema.fieldNames()
    if is_update:
        for c in set_exprs:
            if c not in names:
                raise ValueError(f"{fn}: SET column {c!r} not in table")
            if c in snap.partition_cols:
                raise ValueError(
                    f"{fn}: {c!r} is a partition column — a row "
                    "changing partitions is a delete+insert; use "
                    "merge_tx_table"
                )
            if c in snap.generated:
                raise ValueError(
                    f"{fn}: {c!r} is a generated column — SET its "
                    "base column(s) and it recomputes automatically"
                )
            if c in snap.identity:
                raise ValueError(
                    f"{fn}: {c!r} is an identity column "
                    "(GENERATED ALWAYS) — it cannot be SET"
                )
        set_cols = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in set_exprs.items()
        }
        extra["set"] = sorted(set_exprs)
    want = snap.files
    if partition_filter:
        types = {f.name: f.dataType for f in schema.fields}
        rendered = {
            k: _render_pv(_coerce_pv(v, types[k]) if k in types else v)
            for k, v in partition_filter.items()
        }
        want, pf_exact = _pf_prune(want, rendered)
        if not pf_exact:
            # older-spec files survived fail-open: the partition
            # scope becomes part of the row predicate so no row
            # outside it can match
            for k, v in partition_filter.items():
                cv = _coerce_pv(v, types[k]) if k in types else v
                cond = cond & (
                    F.col(k).isNull() if cv is None else F.col(k) == F.lit(cv)
                )
    if skip is None:
        skip = predicate_skip_ranges(cond)
    if skip:
        want = _prune_files(
            want, skip, schema, snap.partition_cols, snap.generated
        )
    count_key = f"rows_{verb}d"
    none = {"version": None, "mode": mode, count_key: 0, "files_touched": 0}
    if not want:
        return none
    hit = F.coalesce(cond, F.lit(False))

    def _post_image(pre: DataFrame) -> DataFrame:
        # SET expressions see the ORIGINAL row: compute all the new
        # values from the input columns before any replacement
        out = pre
        tmp = {}
        for c, e in set_cols.items():
            tmp[c] = f"__set_{c}"
            out = out.withColumn(tmp[c], e)
        for c, t in tmp.items():
            field = next(f for f in schema.fields if f.name == c)
            out = out.withColumn(c, F.col(t).cast(field.dataType))
        out = out.drop(*tmp.values())
        if snap.generated:
            # a SET on a base column stales its derived columns —
            # recompute unconditionally on the post-image rows
            out = _apply_generated(out, snap.generated, recompute=True)
        post = out.select(*names)
        _enforce_constraints(post, snap.constraints)
        return post

    live = _read_files_live_meta(spark, path, want, schema)
    if mode == "cow":
        hit_rows = (
            live.where(hit)
            .groupBy("__f")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        if not hit_rows:
            return none
        abs_to_rel = {
            os.path.abspath(os.path.join(path, rel)): rel for rel in want
        }
        touched = {
            abs_to_rel[r["__f"]]: want[abs_to_rel[r["__f"]]]
            for r in hit_rows
        }
        n = sum(int(r["n"]) for r in hit_rows)
        src = _read_files_live(spark, path, touched, schema)
        pre = src.where(hit)
        if snap.cdc_enabled and is_update:
            pre = materialize(pre)
        post = _post_image(pre) if is_update else None
        kept = src.where(~hit)
        added = _stage(
            kept if post is None else kept.unionByName(post),
            path,
            snap.partition_cols,
            table_schema=schema,
        )
        removed, dv = sorted(touched), None
    else:
        # the NEWLY-matched set: existing DVs were applied by the live
        # read, so re-running a predicate masks nothing new
        pre = live.where(hit)
        if snap.cdc_enabled:
            pre = materialize(pre)
        post = _post_image(pre) if is_update else None
        dv, n = _dv_records(path, pre, want)
        if not n:
            return none
        # post-images land before the commit that references them — a
        # crash leaves only vacuum-able strays
        added = (
            []
            if post is None
            else _stage(post, path, snap.partition_cols, table_schema=schema)
        )
        removed = []
        up = _protocol_upgrade(snap, reader=["deletionVectors"])
        if up:
            extra["protocol"] = up
    if snap.cdc_enabled:
        # the statement knows its change rows by construction — no
        # join and no pk requirement: the matched rows are the deletes
        # or the update pre-images, the post-images the updates
        if post is None:
            changes = pre.select(*names).withColumn(
                CDF_TYPE_COL, F.lit("delete")
            )
        else:
            changes = (
                pre.select(*names)
                .withColumn(CDF_TYPE_COL, F.lit("update_preimage"))
                .unionByName(
                    post.withColumn(CDF_TYPE_COL, F.lit("update_postimage"))
                )
            )
        extra["cdc"] = _stage_change_data(spark, path, changes, schema)
    version = _rewrite_commit(
        path,
        snap.version,
        verb,
        added,
        removed,
        conflict="files",
        dv=dv,
        extra=extra,
    )
    return {
        "version": version,
        "mode": mode,
        count_key: n,
        "files_touched": len(removed or dv),
    }


@_retry_on_vacuumed_snapshot
def delete_from_table(
    spark: SparkSession,
    path: str,
    condition,
    mode: str = "mor",
    partition_filter: dict | None = None,
    skip: dict | None = None,
) -> dict:
    """Row-level ``DELETE FROM <table> WHERE condition`` — the verb
    the reference's pipelines reach through SQL DELETE, with Delta
    Lake's two execution strategies:

    - ``mode="mor"`` (merge-on-read, the default): NO data file is
      rewritten. The matched rows' physical addresses (file, row
      ordinal from parquet ``_metadata.row_index``) are folded into
      per-file DELETION VECTOR sidecars and one metadata commit
      advances each touched file's DV pointer. Deleting 0.1% of a
      100 TB table costs one predicate scan plus kilobytes of
      bitmap — not a rewrite of every touched file. Readers apply
      DVs transparently (see `read_table`); `materialize_deletes`
      or any compaction/merge rewrite later makes them physical.
    - ``mode="cow"`` (copy-on-write): files containing matches are
      rewritten without them (file-granularity, finer than the
      merge path's partition granularity); files with no match
      survive by reference. Right for bulk deletes where the masked
      fraction would be large.

    SQL NULL semantics: rows where ``condition`` is NULL are KEPT
    (DELETE removes only rows where the predicate is true).
    ``condition`` is a Column or a SQL string. ``partition_filter``
    prunes the candidate scan at the manifest level first — a
    date-scoped delete touches only its partitions' files.
    Zone-map pruning of the candidate scan is AUTOMATIC for simple
    conjunctive predicates, given as a Column or a SQL string alike
    (`predicate_skip_ranges` derives the implied per-column bounds
    from Spark's parse; anything underivable fails open to a full
    candidate scan). ``skip={col: (lo, hi)}`` overrides the
    derivation — CAUTION: a manual range must be IMPLIED BY
    ``condition`` (files outside it are never scanned, so matching
    rows there would silently survive); it is an I/O hint, not a
    second predicate.

    A MOR delete computes the NEWLY-matched set against the LIVE
    rows (existing DVs applied), so re-running the same predicate
    commits nothing and the change feed emits each row's delete
    exactly once. New sidecars hold the UNION of a file's masked
    rows; the old sidecar stays for time travel until vacuum. Each
    touched file's task writes its own sidecar executor-side
    (`_dv_records`) and the driver collects only (file, pointer,
    cardinality) rows, so masking any fraction succeeds in MOR mode
    with no driver bound. (When the masked fraction is large,
    ``mode="cow"`` is usually still cheaper than carrying huge
    masks.)

    Concurrency: appends compose (WriteSerializable — the delete
    applies to rows as of its snapshot); any interleaved commit that
    removed OR re-deleted-from a touched file conflicts; disjoint
    rewrites rebase with the same sidecars. Returns
    ``{"version", "mode", "rows_deleted", "files_touched"}`` —
    ``version`` None when nothing matched (no commit).
    """
    return _row_level_dml(
        spark, path, condition, None, mode, partition_filter, skip
    )


@_retry_on_vacuumed_snapshot
def update_table(
    spark: SparkSession,
    path: str,
    condition,
    set: dict,
    mode: str = "mor",
    partition_filter: dict | None = None,
) -> dict:
    """Row-level ``UPDATE <table> SET col = expr WHERE condition`` —
    the last DML verb (INSERT=`append_table`, MERGE=`merge_tx_table`,
    DELETE=`delete_from_table`), with Delta's deletion-vector UPDATE
    shape:

    - ``mode="mor"`` (default): matched rows are MASKED in their
      files via deletion vectors (written executor-side, as for
      DELETE) and their updated images land as newly-staged files,
      all in ONE commit — cost is the matched ROWS (scan + small
      write), never a rewrite of every touched file. Updating 0.1%
      of a 100 TB table writes 0.1% of the data.
    - ``mode="cow"``: files containing matches are rewritten with
      the SET applied in place (file-granularity copy-on-write) —
      right when the matched fraction is large.

    ``set`` maps column name -> Column/SQL-string expression,
    evaluated against the matched row (``{"cents": "cents * 2"}``).
    Unknown columns raise; partition columns cannot be SET (a row
    changing partitions is a delete+insert — express it through
    `merge_tx_table`, which owns that contract). SQL NULL semantics:
    predicate-NULL rows are untouched. Candidate files prune via
    `predicate_skip_ranges` automatically, for a Column or a SQL
    string condition alike. The change feed emits the
    update as ``update_postimage`` (plus ``update_preimage`` when
    asked) by joining the commit's masked pre-image against its
    staged post-image — exactly the Delta readChangeFeed rendering.

    Concurrency matches DELETE: appends compose, any interleaved
    commit touching the same files conflicts, disjoint rewrites
    rebase. Returns ``{"version", "mode", "rows_updated",
    "files_touched"}`` (version None when nothing matched)."""
    return _row_level_dml(
        spark, path, condition, set, mode, partition_filter, None
    )


def materialize_deletes(
    spark: SparkSession, path: str, min_dv_rows: int = 1
) -> int | None:
    """Rewrite every live file whose deletion vector masks at least
    ``min_dv_rows`` rows — physically dropping the masked rows (the
    Delta ``REORG TABLE ... APPLY (PURGE)`` analog). Read results are
    identical before and after; what changes is that the rows stop
    existing in any live parquet byte (the GDPR prerequisite —
    `forget_keys` runs this first) and reads stop paying the DV
    anti-join. Files without a DV survive by reference; the rewrite
    uses the grouped compaction topology, so task count scales with
    the bytes rewritten. Returns the new version, or None when no
    file qualifies. Old sidecars/files stay time-travel-readable
    until vacuum."""
    snap = _fold(path)
    _require_writer(snap, path)
    dvd = {
        rel: m
        for rel, m in snap.files.items()
        if m.get("dv")
        and int(m["dv"].get("cardinality") or 0) >= min_dv_rows
    }
    if not dvd:
        return None
    return _rewrite_files(spark, path, snap, list(dvd), "purge")


# ---------------------------------------------------------------------------
# maintenance
# ---------------------------------------------------------------------------


def _identity_seeds(spark: SparkSession, n: int) -> dict[int, int]:
    """For every shuffle bucket b in [0, n): a long seed s with
    ``pmod(hash(s), n) == b`` — found by probing Spark's OWN hash
    (Murmur3, the exact function `repartition(n, col)` partitions by)
    over a tiny `spark.range`. Tagging each row group with its
    bucket's seed and repartitioning on the seed column places every
    group in ITS OWN task deterministically: no hash collisions, so a
    rewrite planned as Σ groups tasks writes EXACTLY one file per
    group. Cost: one driver-side job over ~8n rows (coupon-collector
    bound; the loop extends the probe range for stragglers) — noise
    next to the terabytes the rewrite moves."""
    seeds: dict[int, int] = {}
    start, step = 0, max(8 * n, 1024)
    while len(seeds) < n:
        batch = (
            spark.range(start, start + step)
            .select(
                F.col("id"),
                F.pmod(F.hash("id"), F.lit(n)).alias("b"),
            )
            .groupBy("b")
            .agg(F.min("id").alias("s"))
            .collect()
        )
        for r in batch:
            seeds.setdefault(int(r["b"]), int(r["s"]))
        start += step
    return seeds


def _partition_key_expr(pcols: Sequence[str]):
    """Row-side partition key rendered EXACTLY like the manifest's
    directory-derived partition_values (Spark's string cast is the
    directory form for every partitionable primitive; NULL is the
    Hive sentinel), joined with a separator no partition value
    contains ('/' is illegal in directory-encoded values)."""
    return F.concat_ws(
        "\x1f",
        *[
            F.coalesce(
                F.col(c).cast("string"),
                F.lit("__HIVE_DEFAULT_PARTITION__"),
            )
            for c in pcols
        ],
    )


def _group_counts(
    snap: Snapshot,
    path: str,
    rels: Sequence[str],
    target_files: int,
    target_bytes: int | None,
    spark: SparkSession | None = None,
) -> dict[tuple, int]:
    """Per-partition output-file counts for a rewrite of ``rels``:
    ``target_files`` per partition, or ⌈partition_bytes/target_bytes⌉
    when ``target_bytes`` is set (sizes from the manifest, one
    os.stat fallback per pre-r9 file lacking the ``bytes`` field).

    Files written under an OLDER partition spec (after
    :func:`repartition_table`) cannot be attributed to a current-spec
    partition from the manifest — their rows may land in ANY
    partition of the new spec. Those files get one bounded scan of
    the current partition columns (r12: compaction IS the documented
    spec migration, and the plan used to miss every key an old-spec
    file contributed, tripping `_compaction_layout`'s divergence
    guard); bytes are apportioned by row share. Cost is a
    column-pruned scan of exactly the files being rewritten anyway."""
    pcols = list(snap.partition_cols)
    sizes: dict[tuple, int] = {}
    stale: list[str] = []

    def _bytes_of(rel: str) -> int:
        b = snap.files[rel].get("bytes")
        if b is None:
            try:
                b = os.stat(os.path.join(path, rel)).st_size
            except OSError:
                b = 0
        return b

    for rel in rels:
        meta = snap.files[rel]
        if pcols and list(meta["partition_values"]) != pcols:
            stale.append(rel)
            continue
        key = tuple(meta["partition_values"].get(c) for c in pcols)
        sizes[key] = sizes.get(key, 0) + _bytes_of(rel)
    if stale:
        if spark is None:
            raise ValueError(
                "_group_counts: mixed-spec rewrite needs a "
                "SparkSession to derive old-spec files' partition "
                "keys (internal: caller must pass spark)"
            )
        stale_bytes = sum(_bytes_of(rel) for rel in stale)
        df = _read_files(
            spark,
            path,
            {rel: snap.files[rel] for rel in stale},
            snap.spark_schema(),
        )
        grouped = (
            df.groupBy(
                *[
                    F.coalesce(
                        F.col(c).cast("string"),
                        F.lit("__HIVE_DEFAULT_PARTITION__"),
                    ).alias(c)
                    for c in pcols
                ]
            )
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        total_n = sum(int(r["__n"]) for r in grouped) or 1
        for r in grouped:
            key = tuple(
                None if r[c] == "__HIVE_DEFAULT_PARTITION__" else r[c]
                for c in pcols
            )
            b = int(stale_bytes * int(r["__n"]) / total_n)
            sizes[key] = sizes.get(key, 0) + b
    if target_bytes:
        return {
            k: max(1, math.ceil(b / target_bytes))
            for k, b in sizes.items()
        }
    return {k: max(1, target_files) for k in sizes}


def _zorder_bounds_from_manifest(
    snap: Snapshot, rels: Sequence[str], cols: Sequence[str]
) -> dict[str, tuple[float, float]] | None:
    """Per-column (lo, hi) over the rewrite's input files, read from
    the MANIFEST's zone-map stats — zero data scanned. Returns None
    when any file lacks numeric stats for any column (pre-stats file,
    string column, …); the caller then falls back to one bounded agg.
    Bucketing only needs bounds that COVER the data (values clamp to
    edge buckets), so footer-derived bounds are exactly as good as
    scanned ones."""
    pmap = _phys_map(snap.spark_schema())
    lo: dict[str, float] = {}
    hi: dict[str, float] = {}
    for rel in rels:
        stats = snap.files[rel].get("stats") or {}
        for c in cols:
            zs = stats.get(pmap.get(c, c))
            if (
                zs is None
                or not isinstance(zs[0], (int, float))
                or isinstance(zs[0], bool)
            ):
                return None
            lo[c] = min(lo.get(c, float(zs[0])), float(zs[0]))
            hi[c] = max(hi.get(c, float(zs[1])), float(zs[1]))
    if len(lo) != len(cols):
        return None
    return {c: (lo[c], hi[c]) for c in cols}


def _compaction_layout(
    spark: SparkSession,
    df: DataFrame,
    pcols: Sequence[str],
    counts: dict[tuple, int],
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 12,
    zorder_bounds: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Shuffle the rewrite's rows into Σ group tasks — the write
    topology that scales with BYTES REWRITTEN, never a single task
    (the r8 scale defect: ``repartition(target_files, pcols)`` capped
    the whole rewrite at ``target_files`` tasks, default ONE).

    Plain path: each row takes a group number (whole-row hash mod its
    partition's count), the (partition, group) pair maps to a global
    group id, and an identity-seed column (:func:`_identity_seeds`)
    places each group in its own task EXACTLY — so per-partition
    output file counts honor the plan, not a hash-collision
    approximation. Partition→count routing rides one broadcast join
    (|partitions| rows), never a plan-bloating map literal.

    Z-order path: one `repartitionByRange` on (partition cols, Morton
    key) with Σ groups tasks + a within-task sort — range sampling
    byte-balances the files, each file covers a contiguous curve
    segment of ONE partition, and the zone maps recorded at commit
    become selective on every listed dimension (Delta's OPTIMIZE
    ZORDER topology). File counts per partition are then
    sampling-proportional rather than exact — clustering is the verb.
    """
    total = int(sum(counts.values()))
    if zorder_by:
        from bi_utils_spark.operators.layout import (
            minmax_bucket,
            zorder_key,
        )

        if zorder_bounds is None:
            # fallback: one bounded agg over the rewrite's rows —
            # callers pass manifest-derived bounds when the footers
            # have them, making this pass free
            row = df.agg(
                *[F.min(c).alias(f"__lo_{c}") for c in zorder_by],
                *[F.max(c).alias(f"__hi_{c}") for c in zorder_by],
            ).first()
            zorder_bounds = {
                c: (float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"]))
                for c in zorder_by
            }
        bucketed = [
            minmax_bucket(
                c, zorder_bounds[c][0], zorder_bounds[c][1], zorder_bits
            )
            for c in zorder_by
        ]
        keyed = df.withColumn("__z", zorder_key(bucketed, zorder_bits))
        parts = [F.col(c) for c in pcols] + [F.col("__z")]
        return (
            keyed.repartitionByRange(max(total, 1), *parts)
            .sortWithinPartitions(*parts)
            .drop("__z")
        )
    if total <= 1:
        return df.coalesce(1)
    offsets: dict[tuple, int] = {}
    acc = 0
    for key in sorted(counts, key=lambda t: tuple(map(str, t))):
        offsets[key] = acc
        acc += counts[key]
    plan_df = spark.createDataFrame(
        [
            (
                "\x1f".join(
                    "__HIVE_DEFAULT_PARTITION__" if v is None else v
                    for v in key
                ),
                counts[key],
                offsets[key],
            )
            for key in counts
        ],
        "__pk string, __n long, __off long",
    )
    seeds = _identity_seeds(spark, total)
    seed_df = spark.createDataFrame(
        sorted(seeds.items()), "__gid long, __seed long"
    )
    data_cols = [c for c in df.columns if c not in pcols]
    grp_hash = (
        F.xxhash64(*[F.col(c) for c in data_cols])
        if data_cols
        else F.lit(0).cast("long")
    )
    # LEFT joins: a plan miss can never DROP rows; the guard inside
    # the shuffle key (not a pruned side column) makes a manifest/row
    # rendering divergence fail loudly instead of silently misplacing
    # a file
    guarded_seed = F.when(
        F.col("__seed").isNotNull(), F.col("__seed")
    ).otherwise(
        F.assert_true(
            F.col("__seed").isNotNull(),
            F.concat(
                F.lit(
                    "compaction: partition key not in plan "
                    "(manifest/row rendering diverged): "
                ),
                F.col("__pk"),
            ),
        ).cast("long")
    )
    out = (
        df.withColumn("__pk", _partition_key_expr(pcols))
        .join(F.broadcast(plan_df), "__pk", "left")
        .withColumn(
            "__gid", F.col("__off") + F.pmod(grp_hash, F.col("__n"))
        )
        .join(F.broadcast(seed_df), "__gid", "left")
        .repartition(total, guarded_seed)
        .drop("__pk", "__n", "__off", "__gid", "__seed")
    )
    return out


def _rewrite_files(
    spark: SparkSession,
    path: str,
    snap: Snapshot,
    rels: Sequence[str],
    action: str,
    target_files: int = 1,
    target_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 12,
) -> int:
    """Rewrite the live rows of the files ``rels`` of ``snap`` into
    per-partition groups (:func:`_group_counts`), optionally
    Z-ordered with manifest-derived bounds, and commit the swap as
    ``action`` under ``conflict="files"`` — an interleaved commit
    rebases past it when it touches none of ``rels``. Deletion
    vectors apply on the read, so masked rows are not rewritten. The
    one body of `compact_table`, `compact_partitions` and
    `materialize_deletes`; returns the new version."""
    schema = snap.spark_schema()
    df = (
        _read_files_live(
            spark, path, {rel: snap.files[rel] for rel in rels}, schema
        )
        if rels
        else spark.createDataFrame([], schema)
    )
    counts = _group_counts(
        snap, path, rels, target_files, target_bytes, spark=spark
    )
    bounds = (
        _zorder_bounds_from_manifest(snap, rels, zorder_by)
        if zorder_by
        else None
    )
    df = _compaction_layout(
        spark,
        df,
        snap.partition_cols,
        counts,
        zorder_by,
        zorder_bits,
        zorder_bounds=bounds,
    )
    added = _stage(df, path, snap.partition_cols, table_schema=schema)
    return _rewrite_commit(
        path, snap.version, action, added, sorted(rels), conflict="files"
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
    target_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 12,
) -> int:
    """Rewrite the live file set into ``target_files`` files PER
    PARTITION — or ⌈partition_bytes/target_bytes⌉ when
    ``target_bytes`` is set, the byte-sized production form
    (metadata swap — row content identical, old versions still
    resolve). The anti-small-files maintenance a streaming-append
    table needs; also folds the read path's per-commit union back to
    one group. The rewrite runs as Σ per-partition groups tasks
    (:func:`_compaction_layout`) — task count scales with the bytes
    rewritten, and each output file gets its own task.

    With ``zorder_by``, the rewrite clusters rows along the Morton
    curve of those (numeric) columns so the per-file zone maps
    recorded at commit time become SELECTIVE on every listed column
    and ``read_table(skip=...)`` prunes files on non-partition
    predicates. The OPTIMIZE ZORDER maintenance verb, as a metadata
    swap."""
    snap = _fold(path)
    _require_writer(snap, path)
    return _rewrite_files(
        spark,
        path,
        snap,
        list(snap.files),
        "compact",
        target_files,
        target_bytes,
        zorder_by,
        zorder_bits,
    )


def _truncate_history(path: str, version: int) -> None:
    """Scrub everything the log remembers about versions before
    ``version``: write a (forced) checkpoint at ``version``, delete
    every older commit and checkpoint JSON, and rewrite the kept
    commit with its ``removed`` list emptied. Readers fold from the
    checkpoint, so the emptied list is never consulted; what it
    bought: removed-file RELPATHS can embed partition VALUES
    (``pk=123/part-*.parquet``), which for a forgotten partition key
    is residue. Time travel before ``version`` raises ValueError
    afterwards. Callers hold effective exclusive access (documented
    on forget_keys)."""
    _write_checkpoint(path, version)
    commits, ckpts = _list_log(path)
    for v in commits:
        if v < version:
            os.unlink(_commit_file(path, v))
    for v in ckpts:
        if v < version:
            os.unlink(_ckpt_file(path, v))
    cf = _commit_file(path, version)
    with open(cf) as fh:
        entry = json.load(fh)
    if entry.get("removed"):
        entry["removed"] = []
        entry["removed_scrubbed"] = True
        tmp = f"{cf}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(entry, fh)
        os.replace(tmp, cf)


def expire_log(
    path: str,
    retain_versions: int = 100,
    retain_hours: float | None = None,
) -> dict:
    """Bound COMMIT-LOG growth — the Delta ``logRetentionDuration``
    cleanup. Checkpoints bound how many JSONs a fold READS, but the
    log directory itself grows one file per commit forever: at one
    commit a minute, two years is ~a million files, and every
    `_list_log` pays that os.listdir. This verb writes a (forced)
    checkpoint at the retention cutoff and deletes every commit and
    checkpoint JSON below it, so the listing stays proportional to
    the retention window.

    Retention mirrors `vacuum_table`'s contract: the last
    ``retain_versions`` commits always stay, and with
    ``retain_hours`` every version live inside the wall-clock window
    (plus its predecessor) stays too. Time travel below the cutoff
    raises afterwards (the log no longer has those versions) — run
    `vacuum_table` with a retention at least as long, or old DATA
    files become unreachable-but-undeleted strays. Incremental
    consumers (`table_changes*`) whose high-water mark predates the
    cutoff get the existing truncation diagnosis and must
    re-baseline. Like vacuum, callers run this on the maintenance
    cadence, not per-write. Returns
    {"cutoff_version", "commits_deleted", "checkpoints_deleted"}."""
    commits, ckpts = _list_log(path)
    if not commits:
        return {
            "cutoff_version": None,
            "commits_deleted": 0,
            "checkpoints_deleted": 0,
        }
    cutoff = commits[max(0, len(commits) - retain_versions)]
    if retain_hours is not None:
        boundary = time.time() - retain_hours * 3600.0
        inside = [v for v in commits if _commit_ts(path, v) >= boundary]
        if inside:
            older = [v for v in commits if v < min(inside)]
            # the predecessor was the live table when the window
            # opened — keep it, the vacuum contract
            window_cut = max(older) if older else commits[0]
        else:
            window_cut = commits[-1]
        cutoff = min(cutoff, window_cut)
    if cutoff <= commits[0]:
        return {
            "cutoff_version": cutoff,
            "commits_deleted": 0,
            "checkpoints_deleted": 0,
        }
    n_c = sum(1 for v in commits if v < cutoff)
    n_k = sum(1 for v in ckpts if v < cutoff)
    _truncate_history(path, cutoff)
    return {
        "cutoff_version": cutoff,
        "commits_deleted": n_c,
        "checkpoints_deleted": n_k,
    }


def compact_partitions(
    spark: SparkSession,
    path: str,
    max_files: int = 8,
    target_files: int = 1,
    target_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    zorder_bits: int = 12,
) -> int | None:
    """Partition-scoped small-file compaction — the OPTIMIZE WHERE
    form: rewrite ONLY partitions whose live file count exceeds
    ``max_files``; every file in a healthy partition survives by
    reference. This is the maintenance verb a streaming-append table
    actually runs on a cadence: at 100 TB, `compact_table` is a
    full-snapshot rewrite (right after a schema change or for a
    global Z-order), while this touches the day's hot partitions and
    nothing else — cost tracks the APPEND RATE, like every other
    steady-state path in this module. Partition selection is pure
    manifest metadata (no listing, no data read). Returns the new
    version, or None when no partition qualifies (nothing commits).
    Old versions stay time-travel-readable until vacuum, as with any
    rewrite.

    ``target_files`` is PER PARTITION (``target_bytes`` sizes the
    counts from manifest bytes instead); the rewrite runs as Σ
    groups tasks via :func:`_compaction_layout`, so the nightly verb
    scales with the fragmented bytes, never a single task.
    ``zorder_by`` curve-clusters the rewritten partitions — the
    OPTIMIZE WHERE ZORDER form a streaming table needs to keep its
    HOT partitions skippable without a full-table rewrite.

    An interleaved APPEND no longer aborts the rewrite: the commit
    rebases when every interleaved commit's file footprint is
    disjoint from the rewritten set (``conflict="files"`` — an
    appended file in a compacted partition simply stays live beside
    the compacted output)."""
    snap = _fold(path)
    _require_writer(snap, path)
    groups: dict[tuple, list[str]] = {}
    for rel, meta in snap.files.items():
        key = tuple(sorted(meta["partition_values"].items()))
        groups.setdefault(key, []).append(rel)
    removed = [
        rel
        for rels in groups.values()
        if len(rels) > max_files
        for rel in rels
    ]
    if not removed:
        return None
    return _rewrite_files(
        spark,
        path,
        snap,
        removed,
        "compact",
        target_files,
        target_bytes,
        zorder_by,
        zorder_bits,
    )


def maintain_table(
    spark: SparkSession,
    path: str,
    max_files: int = 8,
    target_files: int = 1,
    target_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    retain_versions: int = 2,
    retain_hours: float | None = None,
    bloom_cols: Sequence[str] | None = None,
    bloom_fpp: float = 0.01,
    refresh_symlink_manifest: bool = False,
    refresh_iceberg_export: bool | str = False,
    purge_dv_rows: int | None = None,
    log_retain_versions: int | None = None,
) -> dict:
    """Nightly maintenance as one verb, in the only order that
    composes correctly: (1) partition-scoped compaction of
    fragmented partitions (`compact_partitions` — healthy partitions
    untouched), (2) vacuum under the retention contract
    (`retain_versions` ∪ the `retain_hours` window), (3) incremental
    bloom refresh for ``bloom_cols`` — compaction replaced the hot
    partitions' files, so their filters are exactly what
    ``only_new=True`` re-scans, while every untouched file keeps its
    filter byte-identical and vacuumed entries drop. Each step's
    cost tracks the append rate; the whole verb is safe to run while
    writers append (compaction is an optimistic rewrite — a lost
    race raises ConcurrentWriteError and the next run picks it up;
    vacuum's stray-age guard protects in-flight stages). Returns an
    audit dict: compacted version (None when nothing was
    fragmented), files reclaimed, and per-column indexed-file
    counts. If a bloom index was built with a different ``fpp``, the
    k mismatch triggers a full (still executor-packed) rebuild for
    that column.

    Two guards keep the composite honest: a compaction that loses
    its optimistic race (a busy append stream committed mid-rewrite)
    is RECORDED (``compaction_raced=True``) instead of aborting —
    vacuum and bloom refresh never conflict with writers, so they
    must still run or a perpetually-racing table would never reclaim
    disk nor refresh its indexes; and on an UNPARTITIONED table the
    compaction step is skipped (``compaction_skipped`` gives the
    reason) — there every live file is one group, so "partition-
    scoped" would degrade to a full-snapshot rewrite per night; use
    the explicit `compact_table` when that cost is intended.

    ``purge_dv_rows`` adds a step 0: files whose deletion vector
    masks at least that many rows are rewritten without them
    (`materialize_deletes`) before compaction, so MOR delete debt is
    paid on the same nightly cadence that pays the small-file debt
    (``purged_version`` in the audit dict; a lost purge race is
    recorded like a compaction race). ``log_retain_versions`` adds a
    final `expire_log` step so the commit log's file count stays
    bounded on the same cadence — pass a horizon at least as long as
    the vacuum retention, or time travel dies before its data
    does.

    The EXPORT refreshes (r12, the operational interop story): both
    run AFTER compaction so external readers see the post-rewrite
    layout, and keep the vacuum retention longer than the export
    cadence so an exported file list always outlives its readers.
    ``refresh_symlink_manifest=True`` rebuilds the Hive symlink
    tree; ``refresh_iceberg_export`` re-exports the Iceberg metadata
    tree (``True`` refuses DV'd snapshots like the direct call;
    ``"deletes"``/``"materialize"`` pass through as its ``on_dv``).
    An export REFUSAL (DVs on the symlink path, renamed columns,
    a dropped old-spec partition column) must not abort the nightly
    run — compaction/vacuum/bloom already did their work — so it is
    caught and surfaced verbatim in the audit dict
    (``symlink_refused`` / ``iceberg_refused``), each message naming
    the unblocking verb (materialize_deletes / compact_table /
    the iceberg export), and the corresponding result key stays
    None. Note compaction itself often clears the refusal a night
    later: it rewrites DV'd files clean and migrates old-spec files
    to the current spec."""
    compacted = None
    raced = False
    skipped = None
    purged = None
    if purge_dv_rows is not None:
        try:
            purged = materialize_deletes(
                spark, path, min_dv_rows=purge_dv_rows
            )
        except ConcurrentWriteError:
            raced = True
    if not _fold(path).partition_cols:
        skipped = (
            "unpartitioned table: partition-scoped compaction would "
            "be a full-snapshot rewrite; run compact_table explicitly"
        )
    else:
        try:
            compacted = compact_partitions(
                spark,
                path,
                max_files=max_files,
                target_files=target_files,
                target_bytes=target_bytes,
                zorder_by=zorder_by,
            )
        except ConcurrentWriteError:
            raced = True  # a writer committed mid-rewrite; next run retries
    deleted = vacuum_table(
        path,
        retain_versions=retain_versions,
        retain_hours=retain_hours,
    )
    bloom_files: dict[str, int] = {}
    for col in bloom_cols or []:
        idx = build_bloom_index(
            spark, path, col, fpp=bloom_fpp, only_new=True
        )
        bloom_files[col] = len(idx["files"])
    manifest = None
    symlink_refused = None
    if refresh_symlink_manifest:
        # after compaction, so external readers see the new layout; a
        # refusal is surfaced, never fatal (the audit dict carries
        # the actionable message, the rest of the night ran)
        try:
            manifest = write_symlink_manifest(path)
        except ValueError as e:
            symlink_refused = str(e)
    iceberg = None
    iceberg_refused = None
    if refresh_iceberg_export:
        from bi_utils_spark.operators.iceberg import export_iceberg_metadata

        on_dv = (
            refresh_iceberg_export
            if isinstance(refresh_iceberg_export, str)
            else "error"
        )
        try:
            iceberg = export_iceberg_metadata(
                path, spark=spark, on_dv=on_dv
            )
        except ValueError as e:
            iceberg_refused = str(e)
    expired = None
    if log_retain_versions is not None:
        expired = expire_log(
            path,
            retain_versions=log_retain_versions,
            retain_hours=retain_hours,
        )
    return {
        "compacted_version": compacted,
        "compaction_raced": raced,
        "compaction_skipped": skipped,
        "purged_version": purged,
        "files_reclaimed": len(deleted),
        "bloom_files": bloom_files,
        "symlink_manifest": manifest,
        "symlink_refused": symlink_refused,
        "iceberg_export": iceberg,
        "iceberg_refused": iceberg_refused,
        "log_expired": expired,
    }


def forget_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    pks: Sequence[str] | str,
    broadcast_keys: bool = True,
) -> dict:
    """Right-to-be-forgotten: remove every row matching ``keys`` from
    the table, its history, AND the log's metadata, verifiably. Five
    steps in one call:

    1. a delete-merge commits the key removal (copy-on-write — the
       files that held the rows are rewritten without them);
    2. ``vacuum_table(retain_versions=1)`` physically deletes every
       data file of every PRIOR version, so no time-travel read can
       resurface the rows (the deliberate cost: history dies — that
       is what forgetting means);
    3. the log is checkpoint-truncated at the delete commit
       (`_truncate_history`) — old commit/checkpoint JSONs carry
       per-file zone-map min/max (a forgotten pk that was a file's
       min or max persists VERBATIM there), partition_values, and
       removed-file relpaths; scrubbing metadata is part of
       forgetting, not an optimization;
    4. every bloom sidecar is dropped (a bloom filter stays
       membership-TESTABLE for forgotten keys via its hash probes) —
       rebuild with :func:`build_bloom_index` afterwards, from the
       clean files;
    5. a verification anti-probe re-reads the live table and counts
       surviving matches (must be 0, returned for the audit log).

    ``broadcast_keys=False`` drops the broadcast hints on the keyset
    joins (locate + delete + verify) for UNBOUNDED forget-lists
    ("everyone in this jurisdiction") that must shuffle — results are
    identical, AQE may still broadcast a runtime-small side.

    Steps 2–4 assume no concurrent time-travel readers or writers
    (vacuum + history truncation); run forget_keys with effective
    exclusive access, like any Delta VACUUM at retention 0.

    Converted-in-place files (``convert_to_tx``) live OUTSIDE data/
    where vacuum cannot reach; the returned ``unreclaimed`` count
    discloses any such files dropped from the manifest but still on
    disk — delete them out-of-band to complete the erasure."""
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    # Step 0: MOR-deleted rows are MASKED, not gone — a file whose DV
    # hides a matching row would never be located by the live-read
    # semi-join below, leaving the bytes on disk. Materialize every
    # deletion vector first so erasure reasons over physical rows.
    materialize_deletes(spark, path)
    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    keyset = keys.select(*pks).distinct()
    bkeys = F.broadcast(keyset) if broadcast_keys else keyset
    # Partitioned tables: the delete-merge rewrites only partitions
    # PRESENT IN THE SOURCE, so locate which partitions hold the keys
    # first (one semi-join — the honest cost of finding who holds a
    # key without a global pk index; a bloom index on the pk turns
    # this into a file-pruned probe).
    anchor_cols = list(pks) + [
        c for c in snap.partition_cols if c not in pks
    ]
    anchors = (
        read_table(spark, path)
        .join(bkeys, list(pks), "left_semi")
        .select(*anchor_cols)
        .distinct()
    )
    have = set(anchor_cols)
    src_cols = []
    for f in schema.fields:
        if f.name in have:
            src_cols.append(F.col(f.name))
        else:
            src_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    source = anchors.select(*src_cols).withColumn(
        "__forget", F.lit(True)
    )
    version = merge_tx_table(
        spark,
        path,
        source,
        pks,
        delete_col="__forget",
        broadcast_deletes=broadcast_keys,
    )
    # stray_age_seconds=0: erasure must also reclaim never-committed
    # staged debris (a crashed job's file may hold forgotten rows);
    # forget_keys already requires exclusive access, so the in-flight
    # protection the default buys is moot here
    deleted_files = vacuum_table(
        path, retain_versions=1, stray_age_seconds=0.0
    )
    live = _fold(path)
    unreclaimed = sum(
        1
        for rel, meta in {**snap.files}.items()
        # files OUTSIDE data/ — convert_to_tx adoptions (".") and
        # shallow-clone borrows ("../src/...") — are beyond vacuum's
        # reach; disclose any dropped from the manifest but on disk
        if not meta["commit_dir"].startswith(DATA_DIR)
        and rel not in live.files
        and os.path.exists(os.path.join(path, rel))
    )
    blooms_dropped = _drop_bloom_sidecars(path)
    _truncate_history(path, version)
    survivors = (
        read_table(spark, path)
        .join(bkeys, list(pks), "left_semi")
        .count()
    )
    return {
        "version": version,
        "files_reclaimed": len(deleted_files),
        "unreclaimed": unreclaimed,
        "surviving_matches": int(survivors),
        "history_truncated": True,
        "bloom_indexes_dropped": blooms_dropped,
    }


def rename_column(path: str, old: str, new: str) -> int:
    """Metadata-only column RENAME — the Delta column-mapping 'name'
    mode: the manifest schema relabels the field while its stable
    PHYSICAL name (what every parquet file keys the bytes by) stays;
    zero files rewritten, old versions time-travel with their old
    labels. First use stamps every field's physical name explicitly,
    after which NEW columns get fresh uuid physical names (so a later
    add can never collide with renamed/dropped bytes). Partition
    columns can't rename (the directory layout is physical).
    Readers/writers translate transparently; zone-map skips, bloom
    indexes, and zorder bounds key by physical name so every index
    survives the rename. `write_symlink_manifest` refuses
    mapping-enabled tables — external engines would read physical
    names."""
    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    if old not in schema.fieldNames():
        raise ValueError(f"rename_column: no column {old!r}")
    if new in schema.fieldNames():
        raise ValueError(f"rename_column: column {new!r} exists")
    if old in snap.partition_cols:
        raise ValueError(
            f"rename_column: {old!r} is a partition column — the "
            "directory layout is physical; repartition the table "
            "instead"
        )
    for gcol, gexpr in snap.generated.items():
        refs = _expr_refs(gexpr)
        if old == gcol or refs is None or old.lower() in refs:
            raise ValueError(
                f"rename_column: {old!r} participates in generated "
                f"column {gcol!r} = {gexpr!r} — expressions are "
                "stored by logical name and would dangle"
            )
    if old in snap.identity:
        raise ValueError(
            f"rename_column: {old!r} is an identity column — its "
            "definition and high-water mark are stored by logical "
            "name and would dangle"
        )
    in_use = {_phys_of(f) for f in schema.fields}
    if new in in_use:
        raise ValueError(
            f"rename_column: {new!r} collides with a physical column "
            "name still present in the table's files"
        )
    from pyspark.sql.types import StructField

    fields = []
    for f in schema.fields:
        meta = dict(f.metadata or {})
        meta[_PHYS_KEY] = _phys_of(f)  # stamp everyone explicitly
        name = new if f.name == old else f.name
        fields.append(StructField(name, f.dataType, f.nullable, meta))
    return _rewrite_commit(
        path,
        snap.version,
        "rename_column",
        [],
        [],
        schema=json.dumps(StructType(fields).jsonValue()),
        conflict="files",
        extra={
            "renamed": [old, new],
            **(
                {"protocol": up}
                if (up := _protocol_upgrade(snap, reader=["columnMapping"]))
                else {}
            ),
        },
    )


def drop_column(path: str, col: str) -> int:
    """Metadata-only column DROP: the field leaves the manifest
    schema; its bytes stay in the files (invisible to every reader)
    until a rewrite naturally sheds them — compact/merge/update write
    only the live schema's columns. Old versions time-travel with the
    column intact. Re-adding the same logical name later gets a FRESH
    physical name, so the dropped bytes can never resurface. For
    contractual erasure of the VALUES (not just the label), follow
    with `compact_table` — the forget_keys-grade rewrite. Partition
    columns can't drop."""
    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    if col not in schema.fieldNames():
        raise ValueError(f"drop_column: no column {col!r}")
    if col in snap.partition_cols:
        raise ValueError(
            f"drop_column: {col!r} is a partition column — "
            "repartition the table instead"
        )
    for gcol, gexpr in snap.generated.items():
        refs = _expr_refs(gexpr)
        if col == gcol or refs is None or col.lower() in refs:
            raise ValueError(
                f"drop_column: {col!r} participates in generated "
                f"column {gcol!r} = {gexpr!r} — expressions are "
                "stored by logical name and would dangle"
            )
    if col in snap.identity:
        raise ValueError(
            f"drop_column: {col!r} is an identity column — its "
            "definition and high-water mark are stored by logical "
            "name and would dangle"
        )
    if len(schema.fields) == 1:
        raise ValueError("drop_column: cannot drop the last column")
    from pyspark.sql.types import StructField

    fields = []
    for f in schema.fields:
        if f.name == col:
            continue
        meta = dict(f.metadata or {})
        meta[_PHYS_KEY] = _phys_of(f)
        fields.append(
            StructField(f.name, f.dataType, f.nullable, meta)
        )
    return _rewrite_commit(
        path,
        snap.version,
        "drop_column",
        [],
        [],
        schema=json.dumps(StructType(fields).jsonValue()),
        conflict="files",
        extra={
            "dropped": col,
            **(
                {"protocol": up}
                if (up := _protocol_upgrade(snap, reader=["columnMapping"]))
                else {}
            ),
        },
    )


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Persist a CHECK constraint in the table metadata (the Delta
    ``ALTER TABLE ADD CONSTRAINT`` analog): from this commit on,
    EVERY writer gates its delta — appends, merge landings, update
    post-images, overwrites — with one bounded probe before staging
    (SQL semantics: NULL passes, FALSE rejects the whole batch).
    Adding the constraint validates ALL existing live rows first (one
    scan — the price of the guarantee, same as Delta), and conflicts
    with ANY concurrent write (rows we did not validate). Stamps the
    ``checkConstraints`` writer feature so an enforcement-oblivious
    build refuses to write rather than silently let violations in."""
    snap = _fold(path)
    _require_writer(snap, path)
    if name in snap.constraints:
        raise ValueError(
            f"add_check_constraint: {name!r} already exists "
            f"({snap.constraints[name]!r}) — drop it first"
        )
    F.expr(expr)  # parse errors surface here, not at first append
    if snap.files:
        live = _read_files_live(
            spark, path, snap.files, snap.spark_schema()
        )
        _enforce_constraints(live, {name: expr})
    up = _protocol_upgrade(snap, writer=["checkConstraints"])
    return _rewrite_commit(
        path,
        snap.version,
        "add_constraint",
        [],
        [],
        conflict="always",  # unvalidated concurrent rows = conflict
        extra={
            "constraints": {**snap.constraints, name: expr},
            **({"protocol": up} if up else {}),
        },
    )


def drop_check_constraint(path: str, name: str) -> int:
    """Remove a persisted CHECK constraint (metadata-only; the
    ``checkConstraints`` feature stays required until
    :func:`drop_table_feature` retires it with the last one)."""
    snap = _fold(path)
    _require_writer(snap, path)
    if name not in snap.constraints:
        raise ValueError(
            f"drop_check_constraint: no constraint {name!r} "
            f"(have {sorted(snap.constraints)})"
        )
    remaining = {
        k: v for k, v in snap.constraints.items() if k != name
    }
    return _rewrite_commit(
        path,
        snap.version,
        "drop_constraint",
        [],
        [],
        conflict="files",
        extra={"constraints": remaining, "dropped_constraint": name},
    )


def add_column(path: str, name: str, dtype: str) -> int:
    """Metadata-only ADD COLUMN: the field joins the manifest schema
    as nullable; every existing file simply lacks it, so readers
    null-fill — zero files rewritten, zero data read, the 100 TB
    ALTER TABLE in one JSON commit. On a mapping-enabled table the
    new column takes a fresh uuid physical name so it can never
    collide with renamed/dropped bytes. (Appends could already widen
    implicitly; this is the explicit form that needs no batch.)"""
    from pyspark.sql.types import StructField, _parse_datatype_string

    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    if name in schema.fieldNames():
        raise ValueError(f"add_column: column {name!r} exists")
    dt = _parse_datatype_string(dtype)
    new_field = StructField(name, dt, True)
    if _mapping_enabled(schema):
        new_field = _fresh_physical_fields([new_field], schema)[0]
    return _rewrite_commit(
        path,
        snap.version,
        "add_column",
        [],
        [],
        schema=json.dumps(
            StructType(list(schema.fields) + [new_field]).jsonValue()
        ),
        conflict="files",
        extra={"added_column": name},
    )


def widen_column_type(path: str, col: str, new_type: str) -> int:
    """Metadata-only TYPE WIDENING (the Delta type-widening feature):
    relabel a column to a strictly wider type — integral widening or
    float→double, exactly `_can_upcast`'s lossless directions — and
    Spark's parquet reader upcasts the existing files' narrower
    physical values at scan time (verified against Spark 4.1). Zero
    files rewritten; zone maps and bloom probes stay valid because
    the VALUES are unchanged. Partition columns are refused (their
    type is baked into directory-string coercion)."""
    from pyspark.sql.types import StructField, _parse_datatype_string

    snap = _fold(path)
    _require_writer(snap, path)
    schema = snap.spark_schema()
    if col not in schema.fieldNames():
        raise ValueError(f"widen_column_type: no column {col!r}")
    if col in snap.partition_cols:
        raise ValueError(
            f"widen_column_type: {col!r} is a partition column"
        )
    cur = next(f for f in schema.fields if f.name == col)
    dt = _parse_datatype_string(new_type)
    if cur.dataType == dt:
        raise ValueError(
            f"widen_column_type: {col!r} is already {new_type}"
        )
    if not _can_upcast(cur.dataType, dt):
        raise ValueError(
            f"widen_column_type: {cur.dataType.simpleString()} -> "
            f"{dt.simpleString()} is not a lossless widening "
            "(integral up-chain or float->double only)"
        )
    fields = [
        StructField(f.name, dt if f.name == col else f.dataType,
                    f.nullable, f.metadata)
        for f in schema.fields
    ]
    return _rewrite_commit(
        path,
        snap.version,
        "widen_column",
        [],
        [],
        schema=json.dumps(StructType(fields).jsonValue()),
        conflict="files",
        extra={"widened": [col, new_type]},
    )


def repartition_table(
    path: str, new_partition_cols: Sequence[str]
) -> int:
    """PARTITION EVOLUTION (the Iceberg analog, which Delta lacks):
    change the table's partition spec in ONE metadata commit — zero
    files rewritten. New writes lay out under the new spec; files
    written under the old spec stay live and correct because every
    file's manifest record carries ITS OWN partition values:

    - reads with ``partition_filter`` prune new-spec files at the
      manifest and keep old-spec files FAIL-OPEN with an automatic
      row-level filter (the column is plain data there);
    - DELETE/UPDATE fold the partition scope into the row predicate
      the same way;
    - MERGE treats old-spec files as always-touched (a source key
      could live in any of them), re-staging them under the current
      spec — each merge migrates a little;
    - ``table_stats`` with a partition filter answers None rather
      than guess while old-spec files remain;
    - ``compact_table`` rewrites everything under the current spec —
      the one-shot migration that restores full manifest pruning.

    Every new partition column must be an existing schema column
    with an undiverged physical name (the directory layout is
    physical); identity columns are refused (one row per
    partition)."""
    snap = _fold(path)
    _require_writer(snap, path)
    new_pcols = list(new_partition_cols)
    if new_pcols == snap.partition_cols:
        raise ValueError(
            f"repartition_table: table is already partitioned by "
            f"{new_pcols}"
        )
    schema = snap.spark_schema()
    by_name = {f.name: f for f in schema.fields}
    for c in new_pcols:
        f = by_name.get(c)
        if f is None:
            raise ValueError(
                f"repartition_table: no column {c!r} in the schema"
            )
        if _phys_of(f) != c:
            raise ValueError(
                f"repartition_table: {c!r} has a divergent physical "
                "name — partition directories are physical"
            )
        if c in snap.identity:
            raise ValueError(
                f"repartition_table: {c!r} is an identity column — "
                "every row would get its own partition"
            )
    return _rewrite_commit(
        path,
        snap.version,
        "repartition",
        [],
        [],
        partition_cols=new_pcols,
        conflict="always",  # any concurrent write raced the spec
    )


def drop_table_feature(spark: SparkSession, path: str, feature: str) -> int:
    """Downgrade the table's protocol: stop REQUIRING ``feature`` so
    older library builds can use the table again (the Delta
    ``DROP FEATURE`` analog). Because the protocol is versioned like
    every other table property, no history truncation is needed:
    time travel to a version where the feature was in use still
    carries its stamp and still refuses an incapable reader — only
    the table's PRESENT (and future) requires less.

    Per-feature preconditions, checked before the commit:

    - ``deletionVectors``: no LIVE file may carry a deletion vector —
      run :func:`materialize_deletes` first (historical DVs are fine,
      their versions keep the stamp).
    - ``columnMapping``: every field's physical name must equal its
      logical name — after a rename the mismatch is permanent (bytes
      on disk spell the physical name), so this only succeeds when
      mapping was enabled but never diverged.
    - ``generatedColumns`` / ``identityColumns``: REMOVES the
      definitions in the same commit — the columns stay as plain
      data, writers stop computing/validating/allocating, and (for
      identity) the high-water mark is retired with the feature.
    - ``checkConstraints``: REMOVES all persisted constraints in the
      same commit (use :func:`drop_check_constraint` to retire one).
    - ``changeDataFeed``: writers stop persisting commit-time change
      rows; the feed falls back to the pk-join derivation for later
      commits, and existing ``_change_data`` files stay readable for
      their versions until vacuum.
    """
    snap = _fold(path)
    _require_writer(snap, path)
    have_r = set(snap.protocol.get("reader", []))
    have_w = set(snap.protocol.get("writer", []))
    if feature not in have_r | have_w:
        raise ValueError(
            f"drop_table_feature: {feature!r} is not required by "
            f"{path} (protocol: {snap.protocol or {}})"
        )
    extra: dict = {}
    if feature == "deletionVectors":
        dv_files = [
            rel for rel, meta in snap.files.items() if meta.get("dv")
        ]
        if dv_files:
            raise ValueError(
                f"drop_table_feature: {len(dv_files)} live file(s) "
                "still carry deletion vectors — run "
                "materialize_deletes(spark, path) first "
                f"(first: {dv_files[0]!r})"
            )
    elif feature == "columnMapping":
        mismatched = [
            f.name
            for f in snap.spark_schema().fields
            if _phys_of(f) != f.name
        ]
        if mismatched:
            raise ValueError(
                "drop_table_feature: column mapping has diverged — "
                f"{mismatched} have physical names differing from "
                "their logical names, which older readers would "
                "misread; this is permanent for renamed columns"
            )
    elif feature == "generatedColumns":
        extra["generated"] = {}
    elif feature == "identityColumns":
        extra["identity"] = {}
        extra["identity_hwm_retired"] = snap.identity_hwm
    elif feature == "checkConstraints":
        extra["constraints"] = {}
    elif feature == "changeDataFeed":
        # writers stop persisting change rows; already-written
        # _change_data files stay readable for their versions until
        # vacuum reclaims them
        extra["cdc_enabled"] = False
    else:
        raise ValueError(
            f"drop_table_feature: unknown feature {feature!r}"
        )
    proto = {
        "reader": sorted(have_r - {feature}),
        "writer": sorted(have_w - {feature}),
    }
    return _rewrite_commit(
        path,
        snap.version,
        "drop_feature",
        [],
        [],
        conflict="always",  # reasons about the whole snapshot
        extra={"protocol": proto, "dropped_feature": feature, **extra},
    )


def clone_table(
    spark: SparkSession,
    src: str,
    dst: str,
    shallow: bool = True,
    version: int | None = None,
) -> int:
    """CLONE the table at ``src`` (optionally a historical
    ``version``) to a NEW table at ``dst`` — the Delta CLONE analog.

    ``shallow=True`` (default) is METADATA-ONLY: ``dst``'s commit 0
    references ``src``'s data files (and deletion-vector sidecars) in
    place via relative paths — a 100 TB table clones in driver
    milliseconds, zero bytes copied. The clone then lives its own
    life: appends/merges/deletes at ``dst`` stage under ``dst``'s own
    data dir and never touch ``src``; ``vacuum_table(dst)`` walks only
    ``dst``'s directories, so borrowed files are never reclaimed from
    the clone side. The standing Delta caveat applies in reverse:
    VACUUM or forget_keys on the SOURCE can delete files the clone
    still references (the source's log does not know about clones) —
    keep source retention longer than the clone's lifetime, or use a
    deep clone.

    ``shallow=False`` copies the data: one distributed read of the
    source snapshot staged fresh under ``dst`` — fully independent,
    at full I/O cost.

    The dev/test workflow verb: clone prod, run the risky migration
    against the clone, diff, throw it away."""
    snap = _fold(src, version)
    if latest_version(dst) >= 0:
        raise FileExistsError(f"tx table already exists at {dst}")
    if not shallow:
        df = _read_files_live(spark, src, snap.files, snap.spark_schema())
        create_table(
            df,
            dst,
            partition_cols=snap.partition_cols,
            generated=snap.generated or None,
        )
        if snap.identity or snap.constraints or snap.cdc_enabled:
            # existing ids copy over as data; re-arm the identity
            # definition + high-water mark, the persisted CHECK
            # constraints, and the change-data property with a
            # metadata commit, so the clone keeps allocating above
            # the source's mark and keeps ENFORCING/RECORDING what
            # the source did (Delta CLONE carries table properties;
            # a clone that silently stops gating writes or starves
            # its change feed would diverge)
            fresh = _fold(dst)
            want_w = []
            if snap.identity:
                want_w.append("identityColumns")
            if snap.constraints:
                want_w.append("checkConstraints")
            if snap.cdc_enabled:
                want_w.append("changeDataFeed")
            up = _protocol_upgrade(fresh, writer=want_w)
            payload = {
                "version": fresh.version + 1,
                "action": "set_identity",
                "added": [],
                "removed": [],
                **({"protocol": up} if up else {}),
            }
            if snap.identity:
                payload["identity"] = snap.identity
                payload["identity_hwm"] = snap.identity_hwm
            if snap.constraints:
                payload["constraints"] = snap.constraints
            if snap.cdc_enabled:
                payload["cdc_enabled"] = True
            ok = _claim(dst, fresh.version + 1, payload)
            if not ok:
                raise ConcurrentWriteError(
                    f"concurrent write during deep clone at {dst}"
                )
        return latest_version(dst)
    os.makedirs(dst, exist_ok=True)

    def _rebase(rel: str) -> str:
        return os.path.relpath(os.path.join(src, rel), dst)

    added = []
    for rel, meta in snap.files.items():
        rec = {
            "path": _rebase(rel),
            "commit_dir": _rebase(meta["commit_dir"]),
            "partition_values": meta["partition_values"],
            "stats": meta.get("stats", {}),
            "bytes": meta.get("bytes"),
            "rows": meta.get("rows"),
            "nulls": meta.get("nulls", {}),
            **(
                {"stats_trunc": meta["stats_trunc"]}
                if meta.get("stats_trunc")
                else {}
            ),
        }
        if meta.get("dv"):
            rec["dv"] = {
                **meta["dv"],
                "path": _rebase(meta["dv"]["path"]),
            }
        added.append(rec)
    payload = {
        "version": 0,
        "action": "clone",
        "added": added,
        "removed": [],
        "schema": snap.schema,
        "partition_cols": snap.partition_cols,
        "clone_source": os.path.abspath(src),
        "clone_version": snap.version,
    }
    if snap.protocol:  # borrowed DVs etc. bind the clone's readers too
        payload["protocol"] = snap.protocol
    if snap.generated:
        payload["generated"] = snap.generated
    if snap.identity:
        # the clone keeps allocating above the source's mark — ids
        # stay unique WITHIN the clone (and never collide with the
        # borrowed rows), though both tables allocate independently
        # from here on
        payload["identity"] = snap.identity
        if snap.identity_hwm:
            payload["identity_hwm"] = snap.identity_hwm
    if snap.constraints:
        # the clone keeps enforcing the source's CHECK constraints —
        # the protocol copy above already carries the
        # checkConstraints writer feature stamp
        payload["constraints"] = snap.constraints
    if snap.cdc_enabled:
        # the clone keeps recording commit-time change rows (its own,
        # under its own _change_data dir; the borrowed history's
        # change files belong to the source)
        payload["cdc_enabled"] = True
    if not _claim(dst, 0, payload):
        raise ConcurrentWriteError(f"concurrent create at {dst}")
    return 0


def restore_table(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp=None,
) -> int:
    """RESTORE: re-point the live set to ``version``'s files as a NEW
    commit — pure metadata, no data moves, history preserved (the
    bad commits stay inspectable; the restore is itself a commit and
    can be restored away). Fails if vacuum already dropped any file
    the target version references. ``timestamp`` is the RESTORE
    TIMESTAMP AS OF form (mutually exclusive with ``version``):
    restore to whatever was live at that wall-clock instant."""
    if timestamp is not None:
        if version is not None:
            raise ValueError(
                "restore_table: version and timestamp are mutually "
                "exclusive"
            )
        version = version_at_timestamp(path, timestamp)
    if version is None:
        raise ValueError(
            "restore_table: one of version / timestamp is required"
        )
    snap_cur = _fold(path)
    _require_writer(snap_cur, path)
    snap_old = _fold(path, version)
    missing = [
        rel
        for rel in snap_old.files
        if not os.path.exists(os.path.join(path, rel))
    ]
    missing += [
        meta["dv"]["path"]
        for meta in snap_old.files.values()
        if meta.get("dv")
        and not os.path.exists(os.path.join(path, meta["dv"]["path"]))
    ]
    if missing:
        raise FileNotFoundError(
            f"restore to v{version}: {len(missing)} file(s) already "
            f"vacuumed (first: {missing[0]!r})"
        )
    added = [
        {
            "path": rel,
            "commit_dir": meta["commit_dir"],
            "partition_values": meta["partition_values"],
            "stats": meta.get("stats", {}),
            "bytes": meta.get("bytes"),
            "rows": meta.get("rows"),
            "nulls": meta.get("nulls", {}),
            **(
                {"stats_trunc": meta["stats_trunc"]}
                if meta.get("stats_trunc")
                else {}
            ),
            # the restored state's deletion vectors ride the added
            # record — the fold re-attaches them
            **({"dv": meta["dv"]} if meta.get("dv") else {}),
        }
        for rel, meta in snap_old.files.items()
    ]
    removed = sorted(set(snap_cur.files) - set(snap_old.files))
    return _rewrite_commit(
        path,
        snap_cur.version,
        "restore",
        added,
        removed,
        schema=snap_old.schema,
        partition_cols=snap_old.partition_cols,
    )


MANIFEST_DIR = "_symlink_format_manifest"

# the character set Hive/Spark percent-escape in partition directory
# names (escapePathName): control chars, path/URI specials, '%' itself
_HIVE_UNSAFE = (
    {chr(c) for c in range(0x20)}
    | set('"#%\'*/:=?\\{[]^')
    | {chr(0x7F)}
)


def _escape_pv_dir(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE else ch for ch in value
    )


def write_symlink_manifest(
    path: str, version: int | None = None
) -> dict:
    """Export the live snapshot's file list in the Hive
    SYMLINK-MANIFEST format (the Delta ``GENERATE
    symlink_format_manifest`` analog): one text file per partition at
    ``<path>/_symlink_format_manifest/<pcol>=<v>/.../manifest``, each
    line the absolute ``file://`` URI of a live data file. External
    engines (Trino/Presto via SymlinkTextInputFormat, DuckDB/Athena
    via the file lists) then read a CONSISTENT snapshot without
    understanding the commit log — the interop escape hatch for the
    one engine in the stack that speaks only paths.

    The whole tree is rebuilt per call (stale partition dirs from
    earlier exports are removed first) and each manifest file is
    written tmp+rename, so a concurrent external reader sees either
    the old or the new list, never a torn one. The export is a
    SNAPSHOT, not a subscription: re-run after commits (nightly, next
    to `maintain_table`), and keep `vacuum_table`'s retention longer
    than the export cadence so a manifest's files outlive it.
    Returns {"manifest_dir", "n_partitions", "n_files", "version"}.
    """
    import shutil

    snap = _fold(path, version)
    dvd = [rel for rel, m in snap.files.items() if m.get("dv")]
    if dvd:
        raise ValueError(
            f"write_symlink_manifest: {len(dvd)} live file(s) carry "
            "deletion vectors — an external engine reading the "
            "manifest cannot apply them and would resurface deleted "
            "rows; run materialize_deletes(path) first, or use "
            "iceberg.export_iceberg_metadata(path, on_dv='deletes') "
            "which renders DVs as Iceberg position-delete files"
        )
    if _phys_map(snap.spark_schema()):
        raise ValueError(
            "write_symlink_manifest: the table has renamed columns "
            "(column mapping) — external engines reading the files "
            "directly would see the PHYSICAL column names; use "
            "iceberg.export_iceberg_metadata (renames survive via "
            "its name mapping), rewrite via compact_table after an "
            "overwrite-style schema normalization, or read through "
            "read_table"
        )
    mixed = sorted(
        rel
        for rel, m in snap.files.items()
        if list(m["partition_values"]) != list(snap.partition_cols)
    )
    if mixed:
        raise ValueError(
            f"write_symlink_manifest: {len(mixed)} live file(s) were "
            "written under an OLDER partition spec (the table was "
            "repartition_table'd since) — a bare file list would "
            "group them under current-spec directories they don't "
            "belong to, and their own partition column exists only "
            "in the manifest, unreconstructible by an external "
            "engine. Run compact_table(path) to migrate the live set "
            "to the current spec, or use "
            "iceberg.export_iceberg_metadata, which exports true "
            "multi-spec metadata"
        )
    root = os.path.join(path, MANIFEST_DIR)
    if os.path.isdir(root):
        shutil.rmtree(root)
    groups: dict[str, list[str]] = {}
    for rel, meta in snap.files.items():
        segs = [
            f"{c}={_escape_pv_dir(str(meta['partition_values'].get(c)))}"
            for c in snap.partition_cols
        ]
        d = os.path.join(root, *segs) if segs else root
        uri = "file://" + os.path.abspath(os.path.join(path, rel))
        groups.setdefault(d, []).append(uri)
    n_files = 0
    for d, uris in groups.items():
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".manifest.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write("\n".join(sorted(uris)) + "\n")
        os.replace(tmp, os.path.join(d, "manifest"))
        n_files += len(uris)
    return {
        "manifest_dir": root,
        "n_partitions": len(groups) if snap.partition_cols else 0,
        "n_files": n_files,
        "version": snap.version,
    }


def table_file_report(spark: SparkSession, path: str) -> DataFrame:
    """Per-partition live-file inventory (n_files, bytes, avg file
    size) — the probe that decides WHEN to compact, straight from the
    manifest + one os.stat per live file (bounded by the live file
    count, which compaction itself keeps small; the maintenance
    sibling of `maintenance.small_file_report` for log-resolved
    tables)."""
    snap = _fold(path)
    rows = []
    for rel, meta in snap.files.items():
        try:
            size = os.stat(os.path.join(path, rel)).st_size
        except OSError:
            size = 0
        key = json.dumps(meta["partition_values"], sort_keys=True)
        rows.append((key, size))
    agg: dict[str, list[int]] = {}
    for key, size in rows:
        cur = agg.setdefault(key, [0, 0])
        cur[0] += 1
        cur[1] += size
    return spark.createDataFrame(
        [
            (k, n, b, b // max(n, 1))
            for k, (n, b) in sorted(agg.items())
        ],
        "partition_values string, n_files int, total_bytes long, "
        "avg_bytes long",
    )


def table_stats(
    path: str,
    version: int | None = None,
    columns: Sequence[str] | None = None,
    partition_filter: dict | None = None,
) -> dict:
    """Metadata-only statistics — exact COUNT(*), and per-column
    MIN/MAX where provably exact — answered from the manifest fold
    alone: zero data files opened, driver milliseconds on a 100 TB
    table (the Delta/Iceberg metadata-only-query analog; the
    reference pays a full scan for the same answer).

    Returns ``{"version", "num_files", "num_bytes", "num_rows",
    "columns": {name: {"min":…, "max":…} | None}}``.

    - ``num_rows`` = Σ per-file footer row counts − Σ deletion-vector
      cardinalities. Exact by construction (sidecars record exact
      cardinality); ``None`` when any live file predates row-count
      stats — never a guess.
    - Column min/max folds the per-file zone maps, and is reported
      only when provably exact: EVERY live file must contribute a
      zone map for the column and NONE may carry a deletion vector
      (a masked row might hold the recorded extreme — the same caveat
      Delta documents). Otherwise ``None``. Numeric/boolean/decimal
      columns always qualify; STRING columns qualify unless any live
      file recorded the column's bounds TRUNCATED
      (``_STR_STAT_MAX``-char prefix discipline — truncated bounds
      stay sound for skipping but are never reported as exact
      extremes). Column-mapping tables resolve logical names to the
      physical zone-map keys, so stats survive renames.
    - ``partition_filter`` scopes everything at the manifest level
      with the same typed value coercion as :func:`read_table` —
      a per-partition COUNT costs no I/O either.
    """
    snap = _fold(path, version)
    schema = snap.spark_schema()
    want = snap.files
    if partition_filter:
        types = {f.name: f.dataType for f in schema.fields}
        rendered = {
            k: _render_pv(_coerce_pv(v, types[k]) if k in types else v)
            for k, v in partition_filter.items()
        }
        want, pf_exact = _pf_prune(want, rendered)
        if not pf_exact:
            # files from an older partition spec survived fail-open —
            # the manifest cannot count their matching rows; honest
            # unknowns beat a silent overcount (compact_table migrates
            # the old files and restores exactness)
            return {
                "version": snap.version,
                "num_files": len(want),
                "num_bytes": sum(
                    meta.get("bytes") or 0 for meta in want.values()
                ),
                "num_rows": None,
                "columns": {c: None for c in (columns or [])},
                "null_counts": {c: None for c in (columns or [])},
            }
    num_bytes = sum(meta.get("bytes") or 0 for meta in want.values())
    any_dv = any(meta.get("dv") for meta in want.values())
    num_rows: int | None = 0
    for meta in want.values():
        if meta.get("rows") is None:
            num_rows = None
            break
        num_rows += int(meta["rows"])
        if meta.get("dv"):
            num_rows -= int(meta["dv"]["cardinality"])
    out_nulls: dict[str, int | None] = {}
    out_cols: dict[str, dict | None] = {}
    if columns:
        pmap_n = _phys_map(schema)
        for col in columns:
            if col in snap.partition_cols:
                # a partition column's nullness is the directory's:
                # every row of a default-partition file is null, no
                # row elsewhere is — exact even under DVs (masking
                # can't change a file-constant value)
                n = 0
                ok = True
                for meta in want.values():
                    if col not in meta["partition_values"]:
                        # older-spec file: the column is DATA there —
                        # use its footer null count, or give up
                        fn = (meta.get("nulls") or {}).get(col)
                        if fn is None or meta.get("dv"):
                            ok = False
                            break
                        n += int(fn)
                        continue
                    pv = meta["partition_values"].get(col)
                    if pv == "__HIVE_DEFAULT_PARTITION__":
                        if meta.get("rows") is None:
                            ok = False
                            break
                        n += int(meta["rows"])
                        if meta.get("dv"):
                            n -= int(meta["dv"]["cardinality"])
                out_nulls[col] = n if ok else None
                continue
            phys = pmap_n.get(col, col)
            if (
                any_dv  # a masked row may be one of the nulls
                or not want
                or col not in schema.fieldNames()
                or not all(
                    phys in (meta.get("nulls") or {})
                    for meta in want.values()
                )
            ):
                out_nulls[col] = None
            else:
                out_nulls[col] = sum(
                    int(meta["nulls"][phys]) for meta in want.values()
                )
    if columns:
        from pyspark.sql import types as T

        exact_types = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.BooleanType, T.DecimalType,
            T.StringType,
        )
        pmap = _phys_map(schema)
        by_name = {f.name: f for f in schema.fields}
        for col in columns:
            f = by_name.get(col)
            phys = pmap.get(col, col)
            if (
                f is None
                or not isinstance(f.dataType, exact_types)
                or any_dv
                or not want
                or not all(
                    phys in (meta.get("stats") or {})
                    for meta in want.values()
                )
                # a TRUNCATED string bound is a sound skip range but
                # not an exact extreme — None, never a prefix posing
                # as the real min/max (the Delta truncation-flag
                # honesty rule)
                or (
                    isinstance(f.dataType, T.StringType)
                    and any(
                        phys in (meta.get("stats_trunc") or [])
                        for meta in want.values()
                    )
                )
            ):
                out_cols[col] = None
                continue
            los = [meta["stats"][phys][0] for meta in want.values()]
            his = [meta["stats"][phys][1] for meta in want.values()]
            if isinstance(f.dataType, T.DecimalType):
                # footers store decimal extremes as exact strings
                # (JSON-native); compare NUMERICALLY — a lexicographic
                # min('9.5','10.2') would return '10.2'. Decimal
                # arithmetic is exact, so the claim holds.
                import decimal

                try:
                    lo_d = min(decimal.Decimal(str(v)) for v in los)
                    hi_d = max(decimal.Decimal(str(v)) for v in his)
                except decimal.InvalidOperation:
                    out_cols[col] = None
                    continue
                out_cols[col] = {"min": str(lo_d), "max": str(hi_d)}
            else:
                out_cols[col] = {"min": min(los), "max": max(his)}
    return {
        "version": snap.version,
        "num_files": len(want),
        "num_bytes": num_bytes,
        "num_rows": num_rows,
        "columns": out_cols,
        "null_counts": out_nulls,
    }


def describe_table(spark: SparkSession, path: str) -> DataFrame:
    """One-row DESCRIBE DETAIL analog: format metadata, live-set
    size, and every table property (partitioning, protocol features,
    generated/identity definitions, constraints) — all from the
    manifest fold, no data read. `table_history` is the per-commit
    ledger; this is the current-state card."""
    snap = _fold(path)
    st = table_stats(path)
    row = {
        "format": "txtable",
        "location": os.path.abspath(path),
        "version": snap.version,
        "num_files": st["num_files"],
        "size_bytes": st["num_bytes"],
        "num_rows": st["num_rows"],
        "partition_columns": list(snap.partition_cols),
        "reader_features": sorted(snap.protocol.get("reader", [])),
        "writer_features": sorted(snap.protocol.get("writer", [])),
        "generated_columns": json.dumps(snap.generated, sort_keys=True),
        "identity_columns": json.dumps(snap.identity, sort_keys=True),
        "identity_high_water": json.dumps(
            snap.identity_hwm, sort_keys=True
        ),
        "check_constraints": json.dumps(
            snap.constraints, sort_keys=True
        ),
        "change_data_feed": snap.cdc_enabled,
    }
    return spark.createDataFrame(
        [tuple(row.values())],
        "format string, location string, version long, num_files long, "
        "size_bytes long, num_rows long, partition_columns array<string>, "
        "reader_features array<string>, writer_features array<string>, "
        "generated_columns string, identity_columns string, "
        "identity_high_water string, check_constraints string, "
        "change_data_feed boolean",
    )


def vacuum_table(
    path: str,
    retain_versions: int = 2,
    retain_hours: float | None = None,
    stray_age_seconds: float = 3600.0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files referenced by NO retained version; older
    time travel dies — same tradeoff as Delta VACUUM. Returns deleted
    relpaths.

    ``dry_run=True`` returns what WOULD be deleted without touching
    disk (the VACUUM DRY RUN audit step before a retention change).

    Retention is the UNION of two windows: the last
    ``retain_versions`` snapshots always stay, and with
    ``retain_hours`` every version that was LIVE at any point inside
    the wall-clock window stays too — that is, every version
    committed inside the window PLUS the newest version committed
    before it (which was the table until the window's first commit
    superseded it). That is the Delta retention contract — "time
    travel up to N hours back keeps working" — and what shields a
    reader that resolved a snapshot moments before it was
    superseded. Commit times come from the log's ``ts`` stamp, file
    mtime for pre-stamp logs.

    Concurrent-writer safety: a file staged by an in-flight
    append/merge exists on disk BEFORE the commit that references it,
    so at that instant it is referenced by no version at all —
    deleting it would make the imminent commit land pointing at
    missing files. Files referenced by NO commit whatsoever (strays)
    are therefore only reclaimed once older than
    ``stray_age_seconds`` (default 1 h — far beyond any
    stage-to-commit gap; failed-job debris IS eventually collected).
    Files referenced by an unretained commit carry no such race — a
    later commit already superseded them — and are deleted
    immediately."""
    commits, _ = _list_log(path)
    if not commits:
        return []
    retained = set(commits[max(0, len(commits) - retain_versions):])
    # one parse per commit: ts for the retention window, added paths
    # for the stray/referenced split below
    referenced: set[str] = set()
    ts_by_v: dict[int, float] = {}
    cdc_by_v: dict[int, list[str]] = {}
    for v in commits:
        entry = _load_entry(path, v)
        referenced.update(a["path"] for a in entry.get("added", []))
        referenced.update(
            d["dv_path"] for d in entry.get("dv", [])
        )
        referenced.update(
            a["dv"]["path"]
            for a in entry.get("added", [])
            if a.get("dv")
        )
        cdc_by_v[v] = [r["path"] for r in entry.get("cdc", [])]
        referenced.update(cdc_by_v[v])
        ts_by_v[v] = _commit_ts(path, v, entry)
    if retain_hours is not None:
        cutoff = time.time() - retain_hours * 3600.0
        for v in commits:
            if ts_by_v[v] >= cutoff:
                retained.add(v)
        older = [v for v in commits if ts_by_v[v] < cutoff]
        if older:  # the version that was live when the window opened
            retained.add(max(older))
    live: set[str] = set()
    for v in sorted(retained):
        snap_v = _fold(path, v)
        if not dry_run:  # an oblivious vacuum could reclaim a
            _require_writer(snap_v, path)  # future feature's sidecars
        fs = snap_v.files
        live.update(fs)
        live.update(
            m["dv"]["path"] for m in fs.values() if m.get("dv")
        )
    # change-data files belong to their COMMIT, not to any snapshot:
    # they stay readable while the commit is inside the retention
    # window (so the change feed can replay it) and reclaim below it —
    # the Delta rule that CDF range reads are bounded by vacuum
    # retention. In-flight writers' change files are strays and ride
    # the same age guard as staged data.
    min_ret = min(retained)
    for v, ps in cdc_by_v.items():
        if v >= min_ret:
            live.update(ps)
    now = time.time()
    deleted = []
    # deletion-vector sidecars obey the same contract as data files:
    # a sidecar referenced by a retained version stays, one written
    # by an in-flight delete (referenced by no commit yet) is
    # protected by the stray-age guard, everything else reclaims
    sweeps = [
        (os.path.join(path, DATA_DIR), ".parquet"),
        (os.path.join(path, DELETES_DIR), ".json"),
        (os.path.join(path, CDC_DIR), ".parquet"),
    ]
    for sweep_root, suffix in sweeps:
        for root, _dirs, names in os.walk(sweep_root):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, path)
                # ".tmp-" files are crash debris from atomic-write
                # sequences (sidecars, change files) — referenced by
                # nothing, reapable after the age guard
                if (
                    not name.endswith(suffix) and ".tmp-" not in name
                ) or rel in live:
                    continue
                if rel not in referenced:
                    try:
                        if (
                            now - os.path.getmtime(full)
                            < stray_age_seconds
                        ):
                            continue  # possibly an in-flight stage
                    except OSError:
                        continue  # claimed/removed underneath us
                if not dry_run:
                    try:
                        os.unlink(full)
                    except FileNotFoundError:
                        continue  # a racing vacuum reclaimed it first
                deleted.append(rel)
    if not dry_run:
        # debris pass: Hadoop checksum siblings whose payload file is
        # gone, then commit dirs holding nothing (or only _SUCCESS
        # markers) — age-guarded so a just-created in-flight stage
        # dir is never pulled out from under its writer
        for sweep_root, _suffix in sweeps:
            for root, _dirs, _names in os.walk(sweep_root, topdown=False):
                if os.path.abspath(root) == os.path.abspath(sweep_root):
                    continue
                try:
                    entries = os.listdir(root)
                    for n in entries:
                        if (
                            n.startswith(".")
                            and n.endswith(".crc")
                            and n[1:-4] not in entries
                        ):
                            os.unlink(os.path.join(root, n))
                    entries = os.listdir(root)
                    if set(entries) <= {
                        "_SUCCESS",
                        "._SUCCESS.crc",
                    } and (
                        now - os.path.getmtime(root)
                        >= stray_age_seconds
                    ):
                        for n in entries:
                            os.unlink(os.path.join(root, n))
                        os.rmdir(root)
                except OSError:
                    continue  # racing writer — leave it alone
    return sorted(deleted)


# ---------------------------------------------------------------------------
# bloom file index: point-lookup pruning on unclustered columns
# ---------------------------------------------------------------------------


def _bloom_sidecar(path: str, col: str) -> str:
    return os.path.join(_log_path(path), f"bloom.{col}.json")


def _drop_bloom_sidecars(path: str) -> int:
    """Delete every bloom sidecar of the table; returns how many."""
    d = _log_path(path)
    n = 0
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("bloom.") and name.endswith(".json"):
                os.unlink(os.path.join(d, name))
                n += 1
    return n


def _bloom_positions_df(
    spark: SparkSession,
    value,
    k: int,
    ms: list[int],
    col_type: str | None = None,
):
    """The k bit positions of ``value`` for each distinct filter size
    in ``ms`` — computed IN SPARK so the hash function is exactly the
    one the build pass used (JVM xxhash64); one 1-row job. The probe
    value is normalized through the SAME cast chain as the build
    (value -> column type -> string), so a Python int 1 probed
    against a double column hashes '1.0' exactly like the build did —
    a str(value) mismatch would "prove" absence and silently prune
    files that hold the rows."""
    lit_v = F.lit(value)
    if col_type:
        lit_v = lit_v.cast(col_type)
    lit_v = lit_v.cast("string")
    # One parsed SQL projection instead of k x |ms| py4j expression
    # calls: with ~100 distinct filter sizes the per-element F.xxhash64/
    # F.pmod loop cost ~2.4 s of single-threaded driver plan-build per
    # probe (measured on q_tx_point; guide §7.3 — large expression
    # trees built in loops). Literal ints parse to the same types
    # F.lit produces, so positions are bit-identical.
    exprs = [
        "array("
        + ",".join(f"pmod(xxhash64(__v, {i}), {m})" for i in range(k))
        + f") AS `m{m}`"
        for m in ms
    ]
    row = spark.range(1).select(lit_v.alias("__v")).selectExpr(*exprs).first()
    return {m: [int(p) for p in row[f"m{m}"]] for m in ms}


def build_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    fpp: float = 0.01,
    only_new: bool = False,
) -> dict:
    """Build per-FILE bloom filters over ``col`` for every live file —
    the point-lookup index for unclustered high-cardinality columns
    (the case zone maps cannot prune: interleaved ids span every
    file's min/max). The Delta 'bloom filter index' analog, stored as
    a log sidecar keyed by file relpath; files are immutable, so a
    filter stays valid for the file's whole life — files added AFTER
    the build simply have no filter and are never pruned (bloom
    pruning is best-effort by construction).

    ``only_new=True`` is the maintenance cadence: existing entries
    whose file is still live are carried over BYTE-IDENTICAL (their
    files are immutable and never rescanned), entries for
    vacuumed/rewritten files are dropped, and only live files WITHOUT
    an entry are scanned — so a daily refresh of a 100 TB table costs
    the day's append, not the table. (If ``fpp`` changed, the carried
    ``k`` no longer matches and the build falls back to a full
    rescan.)

    Two passes over the scanned files, both executor-side: (1) an
    approx-distinct per file sizes each filter (m_i = 1.1·ñ_i·k/ln 2,
    k = ceil(-log2 fpp) — single-pass partial-aggregable HLL; the 10%
    headroom covers its rsd, and bloom sizing tolerates the slack),
    collecting |files| count rows; (2) bit positions are computed
    JVM-side (xxhash64 ⊕ seed, pmod m) and FOLDED INTO THE PACKED
    BITMAP in the executors — `repartition(file)` puts each file's
    positions in exactly one task, a `mapInPandas` fold ORs them
    batch-by-batch into a numpy uint8 buffer (duplicate positions are
    idempotent, so no dedup pass), and ONE (file, m, base64 bitmap)
    row per file comes back. Driver memory is therefore the index
    itself (~m_i/8 bytes per file) — never raw positions, which at
    10⁹ distinct keys would be a ~50× blowup. Values hash as strings
    (column cast to string) so read-side probes are bit-compatible;
    the sidecar records the column type and probes re-render values
    through it."""
    import base64

    snap = _fold(path)
    k = max(1, math.ceil(-math.log2(fpp)))
    col_type = next(
        (
            f.dataType.simpleString()
            for f in snap.spark_schema().fields
            if f.name == col
        ),
        None,
    )
    kept: dict[str, dict] = {}
    # sidecars key by the PHYSICAL column name, so a rename never
    # orphans an index and probes after the rename still find it
    phys_col = _phys_map(snap.spark_schema()).get(col, col)
    sc_path = _bloom_sidecar(path, phys_col)
    if only_new and os.path.exists(sc_path):
        with open(sc_path) as fh:
            old = json.load(fh)
        if old.get("k") == k:
            kept = {
                rel: entry
                for rel, entry in old["files"].items()
                if rel in snap.files
            }
    todo = {rel: meta for rel, meta in snap.files.items() if rel not in kept}

    def _persist(files: dict) -> dict:
        # tmp + os.replace: a crash mid-write must not leave truncated
        # JSON that bricks every subsequent point probe / only_new
        # rebuild — same atomic-write discipline as commits/checkpoints
        sidecar = {"k": k, "col": col, "type": col_type, "files": files}
        tmp = f"{sc_path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(sidecar, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, sc_path)
        return sidecar

    if not todo:
        return _persist(kept)
    tagged = (
        _read_files(spark, path, todo, snap.spark_schema())
        .select(
            F.col(col).cast("string").alias("__v"),
            F.input_file_name().alias("__f"),
        )
        .where(F.col("__v").isNotNull())
    )
    counts = {
        r["__f"]: int(r["__n"])
        for r in tagged.groupBy("__f")
        .agg(F.approx_count_distinct("__v", 0.02).alias("__n"))
        .collect()
    }
    if not counts:
        return _persist(kept)
    ms = {
        f: max(64, int(math.ceil(1.1 * n * k / math.log(2))))
        for f, n in counts.items()
    }
    # sizing rides a broadcast join, not a map literal — a plan-side
    # create_map over every file would bloat analysis at large file
    # counts; the (file, m) frame is |files| rows either way
    m_df = spark.createDataFrame(
        [(f, m) for f, m in ms.items()], "__f string, __m long"
    )
    pos = tagged.join(F.broadcast(m_df), "__f").select(
        "__f",
        "__m",
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col("__v"), F.lit(i)), F.col("__m"))
                    for i in range(k)
                ]
            )
        ).alias("__p"),
    )

    def _pack(batches):
        import base64 as b64mod

        import numpy as np
        import pandas as pd

        bufs: dict[str, "np.ndarray"] = {}
        sizes: dict[str, int] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("__f", sort=False):
                buf = bufs.get(fname)
                if buf is None:
                    m = int(grp["__m"].iloc[0])
                    buf = np.zeros((m + 7) // 8, dtype=np.uint8)
                    bufs[fname] = buf
                    sizes[fname] = m
                ps = grp["__p"].to_numpy(dtype=np.int64)
                np.bitwise_or.at(
                    buf,
                    ps >> 3,
                    np.left_shift(
                        np.uint8(1), (ps & 7).astype(np.uint8)
                    ),
                )
        rows = [
            (f, sizes[f], b64mod.b64encode(bufs[f].tobytes()).decode())
            for f in bufs
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["f", "m", "b64"])

    packed = (
        pos.repartition("__f")
        .mapInPandas(_pack, "f string, m long, b64 string")
        .collect()
    )
    # file URIs from input_file_name -> manifest relpaths
    abs_root = os.path.abspath(path)
    files = dict(kept)
    for r in packed:
        fpath = r["f"]
        if fpath.startswith("file:"):
            fpath = fpath[len("file:"):]
        rel = os.path.relpath(unquote(fpath), abs_root)
        files[rel] = {"m": int(r["m"]), "b64": r["b64"]}
    return _persist(files)


def _bloom_prune(
    spark: SparkSession, path: str, want: dict, point: dict
) -> dict:
    """Drop files whose bloom filter PROVES a point value absent;
    files without a filter (built later, or no index) always stay."""
    import base64

    for col, value in point.items():
        sc_path = _bloom_sidecar(path, col)
        if not os.path.exists(sc_path):
            continue
        with open(sc_path) as fh:
            idx = json.load(fh)
        k = idx["k"]
        ms = sorted(
            {meta["m"] for rel, meta in idx["files"].items() if rel in want}
        )
        if not ms:
            continue
        positions = _bloom_positions_df(
            spark, value, k, ms, col_type=idx.get("type")
        )
        kept: dict = {}
        for rel, meta in want.items():
            entry = idx["files"].get(rel)
            if entry is None:
                kept[rel] = meta
                continue
            bits = base64.b64decode(entry["b64"])
            if all(
                bits[p // 8] & (1 << (p % 8))
                for p in positions[entry["m"]]
            ):
                kept[rel] = meta
        want = kept
    return want


# ---------------------------------------------------------------------------
# change reads: version diff + incremental append consumption
# ---------------------------------------------------------------------------


def table_diff(
    spark: SparkSession,
    path: str,
    key_cols: Sequence[str],
    from_version: int,
    to_version: int | None = None,
    changed_only: bool = False,
) -> DataFrame:
    """Row-level change feed between two versions — `snapshot.py`'s
    snapshot_diff over two time-travel reads: (key..., change) with
    change ∈ added | removed | changed | unchanged. The audit answer
    to "what did that merge actually do", derivable for ANY retained
    version pair because old snapshots stay resolvable until vacuum.
    Scale: one hash join of the two snapshots on the key — payloads
    never cross the join (content_hash digests do)."""
    from bi_utils_spark.operators.snapshot import snapshot_diff

    old = read_table(spark, path, version=from_version)
    new = read_table(spark, path, version=to_version)
    return snapshot_diff(old, new, key_cols, changed_only=changed_only)


def table_changes(
    spark: SparkSession,
    path: str,
    after_version: int,
    up_to: int | None = None,
) -> DataFrame:
    """Incremental consumption of APPEND-ONLY commits: the rows added
    by commits (after_version, up_to] — read from exactly the files
    those commits added, so the cost is the delta, never the table.
    A consumer loop persists its last-seen version and calls this
    each cycle (the batch pole of a change-data feed; for tables
    that also rewrite, `table_diff` is the row-level form).

    Raises ValueError when the range contains a rewriting commit
    (overwrite/merge/compact) — added files then double-count rows
    that merely moved, which is silent corruption for a consumer
    expecting inserts — or when part of the range was
    checkpoint-truncated away (`forget_keys`): the consumer's
    high-water mark predates surviving history, and resuming past
    the gap would silently skip the truncated commits' rows."""
    snap = _fold(path)  # validates table exists; latest schema
    hi, _ = _cdf_validate_range(
        path, after_version, up_to, verb="table_changes", base=False
    )
    added: dict[str, dict] = {}
    for v in range(after_version + 1, hi + 1):
        e = _load_entry(path, v)
        if e["action"] not in ("append", "create", "clone"):
            raise ValueError(
                f"table_changes: commit v{v} is {e['action']!r} — the "
                "range is not append-only; use table_diff for "
                "row-level changes across rewrites"
            )
        for a in e.get("added", []):
            added[a["path"]] = {
                "commit_dir": a["commit_dir"],
                "partition_values": a.get("partition_values", {}),
            }
    schema = snap.spark_schema()
    if not added:
        return spark.createDataFrame([], schema)
    return _read_files(spark, path, added, schema)


def _cdf_validate_range(
    path: str,
    after_version: int,
    up_to: int | None,
    verb: str = "cdf",
    base: bool = True,
) -> tuple[int, list[int]]:
    """Check the change range (after_version, up_to] against the log;
    return (hi, commits) with hi = up_to or the latest commit.

    Raises ValueError, prefixed ``verb``, when a bound exceeds the
    latest commit (a stale or foreign high-water mark), when the
    bounds are swapped (an empty range is legal only at equality), or
    when a commit the range reads was truncated away (forget_keys,
    expire_log): resuming past the gap would silently skip its rows.
    With ``base`` the snapshot at ``after_version`` is read too (the
    change feed folds it), so that commit must survive as well."""
    commits, _ = _list_log(path)
    if not commits:
        raise FileNotFoundError(f"no tx table at {path}")
    hi = commits[-1] if up_to is None else up_to
    if hi > commits[-1]:
        raise ValueError(
            f"{verb}: up_to=v{hi} exceeds the latest commit v{commits[-1]}"
        )
    if after_version > commits[-1]:
        raise ValueError(
            f"{verb}: after_version=v{after_version} exceeds the latest "
            f"commit v{commits[-1]} — a stale or foreign high-water "
            "mark; silently returning nothing would hide it"
        )
    if up_to is not None and up_to < after_version:
        raise ValueError(
            f"{verb}: up_to=v{up_to} < after_version=v{after_version} — "
            "swapped or stale arguments; an empty range is only legal "
            "at equality (no new commits)"
        )
    cset = set(commits)
    first = max(after_version, 0) if base else after_version + 1
    for v in range(first, hi + 1):
        if v not in cset:
            raise ValueError(
                f"{verb}: commit v{v} is no longer in the log (surviving "
                f"range starts at v{commits[0]}) — history was truncated "
                "(forget_keys, expire_log); re-baseline the consumer "
                "from a full read_table snapshot"
            )
    return hi, commits


def _dv_fresh_mask_rows(
    spark: SparkSession,
    path: str,
    entry: dict,
    live: dict,
    schema: StructType,
) -> DataFrame | None:
    """The rows a commit NEWLY masked: per file, the new sidecar's
    positions minus the previous one's (diffed in executors), with
    payloads from a LEFT SEMI join of the file's raw rows against
    those positions — cost is the commit's own mask footprint, never
    the table. These are a MOR delete's deleted rows and a MOR
    update's pre-images."""
    files: dict[str, dict] = {}
    descs: list[tuple] = []
    total = 0
    for rec in entry.get("dv", []):
        rel = rec["file"]
        meta = live.get(rel)
        if meta is None:
            continue
        files[rel] = {k: x for k, x in meta.items() if k != "dv"}
        old = meta.get("dv")
        descs.append(
            (
                os.path.abspath(os.path.join(path, rel)),
                rec["dv_path"],
                old["path"] if old else None,
            )
        )
        total += int(rec.get("cardinality") or 0)
    if not files:
        return None
    desc = spark.createDataFrame(descs, "f string, new string, old string")

    def _diff(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for f, new, old in zip(pdf["f"], pdf["new"], pdf["old"]):
                pos = _dv_decode(_dv_load(path, new))
                # pandas renders SQL NULL as None or NaN
                if isinstance(old, str):
                    pos = np.setdiff1d(pos, _dv_decode(_dv_load(path, old)))
                yield pd.DataFrame({"f": f, "pos": pos})

    pos = desc.repartition(max(1, min(len(descs), 64))).mapInPandas(
        _diff, "f string, pos long"
    )
    if total <= DV_BROADCAST_MAX_ROWS:
        pos = F.broadcast(pos)
    raw = _read_files(spark, path, files, schema, addresses=True)
    cond = (raw["__f"] == pos["f"]) & (raw["__pos"] == pos["pos"])
    return raw.join(pos, cond, "left_semi").select(
        *[F.col(f.name) for f in schema.fields]
    )


def _cdf_change_file_rows(
    spark: SparkSession,
    path: str,
    entry: dict,
    v: int,
    schema: StructType,
    include_preimage: bool,
) -> DataFrame | None:
    """Typed change rows of a commit that PERSISTED them at commit
    time (``enable_change_data``): a pure scan of the commit's
    ``_change_data`` files — no join, no pk requirement, one read
    task per file. Files spell columns by physical name (column
    mapping); the version stamp is applied here because a rebased
    commit's slot is not known when the bytes are written."""
    recs = entry.get("cdc") or []
    if not recs:
        return None
    missing = [
        r["path"]
        for r in recs
        if not os.path.exists(os.path.join(path, r["path"]))
    ]
    if missing:
        raise ValueError(
            f"cdf: commit v{v}'s change files were already vacuumed "
            f"({len(missing)} missing, first: {missing[0]!r}) — change "
            "data is retained only as long as its commit's vacuum "
            "window (the Delta rule); narrow the range past it "
            f"(after_version >= {v}) or re-baseline the consumer from "
            "a read_table snapshot"
        )
    from pyspark.sql.types import StringType, StructField

    phys = _to_physical(schema)
    read_schema = StructType(
        list(phys.fields) + [StructField(CDF_TYPE_COL, StringType())]
    )
    df = spark.read.schema(read_schema).parquet(
        *sorted(os.path.join(path, r["path"]) for r in recs)
    )
    pmap = _phys_map(schema)
    if pmap:
        df = df.select(
            *[F.col(_phys_of(f)).alias(f.name) for f in schema.fields],
            F.col(CDF_TYPE_COL),
        )
    if not include_preimage:
        df = df.where(F.col(CDF_TYPE_COL) != F.lit("update_preimage"))
    return df.select(
        *[F.col(f.name) for f in schema.fields],
        F.col(CDF_TYPE_COL),
        F.lit(v).cast("long").alias(CDF_VERSION_COL),
    )


def _cdf_commit_rows(
    spark: SparkSession,
    path: str,
    entry: dict,
    v: int,
    live: dict,
    schema: StructType,
    pks: Sequence[str] | None,
    include_preimage: bool = False,
) -> DataFrame | None:
    """Typed change rows of ONE commit, given ``live`` = the file map
    BEFORE it. A commit that persisted its change rows
    (``enable_change_data``) short-circuits to a pure scan of them.
    Appends short-circuit to inserts; a MOR DELETE's freshly-masked
    rows (`_dv_fresh_mask_rows`) type directly as deletes; a MOR
    UPDATE (dv + staged post-images in one commit) feeds its masked
    rows as the PRE-image of the generic pk-join; other rewriting
    commits join the pre-image (this commit's removed files, their
    DVs at pre-commit state applied) against the post-image (its
    genuinely-new files) on pk. Restore's re-added still-live files
    are excluded from the post-image, so unchanged rows emit nothing;
    a purge (DV materialization) emits nothing because its masked
    pre-image equals its post-image. ``pks`` may be None — only the
    generic pk-join leg needs them, and it raises with guidance."""
    if "cdc" in entry:
        return _cdf_change_file_rows(
            spark, path, entry, v, schema, include_preimage
        )
    if entry["action"] in ("compact", "purge"):
        # movement-only by construction: a compaction re-stages the
        # LIVE rows identically and a purge materializes already-
        # emitted DV deletes — the pre/post join would provably yield
        # zero rows, so skip it (and its cost) outright; pk-less
        # tables keep their feed across maintenance
        return None
    added_new = {
        a["path"]: {
            "commit_dir": a["commit_dir"],
            "partition_values": a.get("partition_values", {}),
            **({"dv": a["dv"]} if a.get("dv") else {}),
        }
        for a in entry.get("added", [])
        # manifest-known-empty files (a rewrite with no survivors
        # stages one) contribute no rows and must not defeat the
        # insert-only / delete-only classification below
        if a["path"] not in live and a.get("rows") != 0
    }
    removed_live = {p: live[p] for p in entry.get("removed", []) if p in live}

    def _typed(df: DataFrame, change: str) -> DataFrame:
        return df.select(
            *[F.col(f.name) for f in schema.fields],
            F.lit(change).alias(CDF_TYPE_COL),
            F.lit(v).cast("long").alias(CDF_VERSION_COL),
        )

    if entry["action"] in ("append", "create", "clone"):
        if not added_new:
            return None
        # _read_files_live: identical to the raw read for plain
        # appends; a shallow CLONE of a DV'd source must insert the
        # MASKED rows, not the physical ones
        return _typed(
            _read_files_live(spark, path, added_new, schema), "insert"
        )
    if entry.get("dv") and not added_new:
        masked = _dv_fresh_mask_rows(spark, path, entry, live, schema)
        if masked is None:
            return None
        return _typed(masked, "delete")
    if not added_new and not removed_live and not entry.get("dv"):
        return None  # metadata-only commit: nothing changed row-level
    if not entry.get("dv") and not removed_live:
        # insert-only rewrite (e.g. a merge landing only brand-new
        # partitions): no pre-image exists, so every added row is an
        # insert — join-free and pk-free, like an append
        return _typed(
            _read_files_live(spark, path, added_new, schema), "insert"
        )
    if not entry.get("dv") and not added_new:
        # delete-only rewrite (e.g. a COW delete whose hit files had
        # no survivors): every removed live row is a delete
        return _typed(
            _read_files_live(spark, path, removed_live, schema),
            "delete",
        )
    if pks is None and entry["action"] in ("overwrite", "restore"):
        # blind-rewrite rendering (the Delta overwrite CDF shape):
        # every removed live row reads back as a delete, every
        # genuinely-new row as an insert — join-free and pk-free. A
        # pk'd feed refines the same commit into update rows instead;
        # both replay to the same snapshot.
        return _typed(
            _read_files_live(spark, path, removed_live, schema),
            "delete",
        ).unionByName(
            _typed(
                _read_files_live(spark, path, added_new, schema),
                "insert",
            )
        )
    if pks is None:
        raise ValueError(
            f"cdf: commit v{v} is a rewriting {entry['action']!r} "
            "without commit-time change data — pass pks=... for the "
            "pre/post join (merge/update commits), or "
            "enable_change_data(path) so future DML commits persist "
            "their typed rows"
        )
    if entry.get("dv"):
        # MOR update: masked rows are the pre-image, staged files the
        # post-image — the generic join classifies update/insert
        masked = _dv_fresh_mask_rows(spark, path, entry, live, schema)
        pre = (
            masked
            if masked is not None
            else spark.createDataFrame([], schema)
        )
        post = _read_files_live(spark, path, added_new, schema)
    else:
        pre = (
            _read_files_live(spark, path, removed_live, schema)
            if removed_live
            else spark.createDataFrame([], schema)
        )
        post = (
            _read_files_live(spark, path, added_new, schema)
            if added_new
            else spark.createDataFrame([], schema)
        )
    # ONE full-outer join per commit (`_typed_change_rows` — the same
    # classification the writer persists under enable_change_data):
    # the structs carry the whole payload through the join, so change
    # rows project straight out of it — no key-collection pass, no
    # semi-joins back into the images
    typed = _typed_change_rows(pre, post, pks, schema)
    if not include_preimage:
        typed = typed.where(
            F.col(CDF_TYPE_COL) != F.lit("update_preimage")
        )
    return typed.select(
        "*", F.lit(v).cast("long").alias(CDF_VERSION_COL)
    )


def table_changes_cdf(
    spark: SparkSession,
    path: str,
    pks: Sequence[str] | str | None = None,
    after_version: int | None = None,
    up_to: int | None = None,
    include_preimage: bool = False,
    after_timestamp=None,
    up_to_timestamp=None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED across commits (after_version,
    up_to] — the Delta ``readChangeFeed`` analog, and the form that
    works over REWRITING commits where `table_changes` must refuse:
    per commit, the removed files are the pre-image and the
    genuinely-new added files the post-image of exactly the rewritten
    region, joined on ``pks`` into typed rows — ``insert`` /
    ``update_postimage`` / ``delete`` (+ every table column) stamped
    with ``_commit_version``. A compaction emits NOTHING (its
    pre/post rows are identical); a merge emits exactly its upserts
    and deletes; ``after_version=-1`` replays history from the
    create.

    Scale shape: cost per commit is the commit's own footprint (its
    added + removed files), never the table — the pre/post join
    shuffles only the rewritten partitions' rows, and append commits
    skip the join entirely (pure file reads, like `table_changes`).
    Consumers resume from a persisted version high-water mark, so the
    steady-state cost tracks the write rate. The per-commit frames
    union; bound the range for month-long backfills (the driver plan
    grows linearly with #commits in range).

    Rows are read with the FINAL schema of the range (columns only
    ever widen; old files null-fill), so one stable schema spans the
    feed. `table_diff` remains the two-version NET form; this is the
    per-commit LEDGER. ``include_preimage=True`` additionally emits
    ``update_preimage`` rows (the old payload of every update, same
    version stamp) — full Delta readChangeFeed parity for consumers
    that reconcile deltas.

    Wall-clock bounds: ``after_timestamp`` / ``up_to_timestamp``
    resolve through the log's commit stamps (`version_at_timestamp`,
    the startingTimestamp/endingTimestamp analog) — each is mutually
    exclusive with its version twin; ``after_timestamp`` means
    "changes strictly after the snapshot that was live at that
    instant".

    ``pks`` is OPTIONAL when the range needs no join: appends and MOR
    deletes derive their rows directly, and commits that persisted
    commit-time change data (:func:`enable_change_data`) read as a
    pure scan of their ``_change_data`` files — the pk-less, no-join
    path, with real ``update_preimage`` fidelity recorded by the DML
    itself. A rewriting commit with neither change files nor ``pks``
    raises with guidance (never a silent guess)."""
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    if after_timestamp is not None:
        if after_version is not None:
            raise ValueError(
                "table_changes_cdf: after_version and after_timestamp "
                "are mutually exclusive"
            )
        after_version = version_at_timestamp(path, after_timestamp)
    if after_version is None:
        raise ValueError(
            "table_changes_cdf: one of after_version / after_timestamp "
            "is required (use after_version=-1 for the full history)"
        )
    if up_to_timestamp is not None:
        if up_to is not None:
            raise ValueError(
                "table_changes_cdf: up_to and up_to_timestamp are "
                "mutually exclusive"
            )
        up_to = version_at_timestamp(path, up_to_timestamp)
    hi, _commits = _cdf_validate_range(path, after_version, up_to)
    final = _fold(path, hi)
    schema = final.spark_schema()
    for pk in pks or []:
        if pk not in schema.fieldNames():
            raise ValueError(f"cdf: pk {pk!r} not a table column")
    live: dict[str, dict] = (
        dict(_fold(path, after_version).files) if after_version >= 0 else {}
    )
    parts: list[DataFrame] = []
    for v in range(after_version + 1, hi + 1):
        entry = _load_entry(path, v)
        df = _cdf_commit_rows(
            spark,
            path,
            entry,
            v,
            live,
            schema,
            pks,
            include_preimage=include_preimage,
        )
        if df is not None:
            parts.append(df)
        for p in entry.get("removed", []):
            live.pop(p, None)
        for a in entry.get("added", []):
            live[a["path"]] = {
                "commit_dir": a["commit_dir"],
                "partition_values": a.get("partition_values", {}),
                **({"dv": a["dv"]} if a.get("dv") else {}),
            }
        for rec in entry.get("dv", []):
            if rec["file"] in live:
                live[rec["file"]] = {
                    **live[rec["file"]],
                    "dv": {
                        "path": rec["dv_path"],
                        "cardinality": rec["cardinality"],
                    },
                }
    if not parts:
        return spark.createDataFrame([], schema).select(
            "*",
            F.lit(None).cast("string").alias(CDF_TYPE_COL),
            F.lit(None).cast("long").alias(CDF_VERSION_COL),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cdf_apply_batch(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    pks: Sequence[str] | str,
    app: tuple[str, int] | None = None,
    **merge_kwargs,
) -> int | None:
    """Apply a CDF slice to a DOWNSTREAM tx table so it converges to
    the upstream snapshot: fold to the NET change per pk (latest
    ``_commit_version`` wins — a pk inserted at v1 and updated at v3
    applies once, as the v3 row), then one `merge_tx_table` with the
    delete clause driven by ``_change_type='delete'``. Idempotent
    under ``app`` marks — the building block
    :func:`foreach_batch_cdf_sink` rides."""
    if isinstance(pks, str):
        pks = [c.strip() for c in pks.split(",")]
    from pyspark.sql import Window

    w = Window.partitionBy(*pks).orderBy(
        F.col(CDF_VERSION_COL).desc(),
        # within one commit a pk appears once; tiebreak determinism
        F.col(CDF_TYPE_COL).desc(),
    )
    net = (
        # pre-images are documentation, not state: applying one would
        # resurrect the OLD payload of its own update
        changes.where(F.col(CDF_TYPE_COL) != F.lit("update_preimage"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__is_delete", F.col(CDF_TYPE_COL) == F.lit("delete"))
        .drop(CDF_TYPE_COL, CDF_VERSION_COL)
    )
    if net.isEmpty():
        return None
    return merge_tx_table(
        spark,
        target_path,
        net,
        pks,
        delete_col="__is_delete",
        app=app,
        **merge_kwargs,
    )


# ---------------------------------------------------------------------------
# streaming: exactly-once foreachBatch sink
# ---------------------------------------------------------------------------


def register_tx_table(
    spark: SparkSession,
    name: str,
    path: str,
    version: int | None = None,
) -> DataFrame:
    """Expose the tx table (optionally a historical version) to
    `spark.sql` as a temp view — the log-resolved file set becomes
    the view's scan, so SQL consumers get the same snapshot isolation
    and manifest pruning as the DataFrame API."""
    df = read_table(spark, path, version=version)
    df.createOrReplaceTempView(name)
    return df


def foreach_batch_sink(path: str, app_id: str):
    """An exactly-once `foreachBatch` append sink: each micro-batch
    commits with (app_id, batch_id); on restart-and-replay the
    redelivered batch finds its id at or below the log's high-water
    mark and commits nothing. Pair with a checkpointed writeStream
    for end-to-end exactly-once."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        append_table(batch_df, path, app=(app_id, int(batch_id)))

    return _sink


def _retrying_batch_sink(
    apply, path: str, pks, app_id: str, max_retries: int, kwargs: dict
):
    """A `foreachBatch` function that runs ``apply(spark, path,
    batch_df, pks, app=(app_id, batch_id), **kwargs)`` per non-empty
    micro-batch, retrying a lost optimistic race (ConcurrentWriteError)
    up to ``max_retries`` times; each retry re-reads the snapshot."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        for attempt in range(max_retries + 1):
            try:
                apply(
                    batch_df.sparkSession,
                    path,
                    batch_df,
                    pks,
                    app=(app_id, int(batch_id)),
                    **kwargs,
                )
                return
            except ConcurrentWriteError:
                if attempt == max_retries:
                    raise

    return _sink


def foreach_batch_merge_sink(
    path: str,
    pks: Sequence[str] | str,
    app_id: str,
    max_retries: int = 5,
    **merge_kwargs,
):
    """An exactly-once `foreachBatch` MERGE sink — streaming CDC
    upserts land transactionally (the Delta foreachBatch-merge
    pattern): each micro-batch runs `merge_tx_table` stamped with
    (app_id, batch_id), so a redelivered batch is a no-op, and a
    batch applied twice cannot double-upsert. Lost optimistic races
    against concurrent writers re-read the snapshot and retry up to
    ``max_retries`` times (each retry re-reads, so the merge folds
    against the racer's committed state — the retry is correct, not
    just unstuck). ``merge_kwargs`` pass through (``delete_col`` for
    the CDC delete stream, ``merge_schema`` for drifting sources,
    ...). Pair with a checkpointed writeStream for end-to-end
    exactly-once upserts.

    Empty micro-batches (multi-source triggers, availableNow tails)
    commit nothing: without the guard, an unpartitioned table would
    pay a FULL-SNAPSHOT identity rewrite per empty batch. Skipping
    the app-mark advance is safe — replaying an empty batch is
    trivially idempotent. The session comes from the delivered
    batch_df (the engine's own), so the sink needs no captured
    SparkSession — same shape as :func:`foreach_batch_sink`."""

    return _retrying_batch_sink(
        merge_tx_table, path, pks, app_id, max_retries, merge_kwargs
    )


def foreach_batch_cdf_sink(
    path: str,
    pks: Sequence[str] | str,
    app_id: str,
    max_retries: int = 5,
    **merge_kwargs,
):
    """An exactly-once `foreachBatch` sink for a CHANGE-FEED stream
    (`readStream.format("txtable").option("changeFeed", "true")`):
    each micro-batch of typed change rows folds to its net effect per
    pk and applies via :func:`cdf_apply_batch` — inserts/updates
    upsert, deletes delete — stamped with (app_id, batch_id) so a
    redelivered batch is a no-op. The downstream table CONVERGES to
    the upstream's live snapshot, merges and all: the replication
    half of the Delta CDF pattern, end-to-end over the manifest
    log."""

    return _retrying_batch_sink(
        cdf_apply_batch, path, pks, app_id, max_retries, merge_kwargs
    )

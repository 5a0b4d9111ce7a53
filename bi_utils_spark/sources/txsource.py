"""Python DataSource over manifest-log tx tables (X110, r7) — the
`spark.read.format("txtable")` / `readStream.format("txtable")`
integration of `operators/txtable.py`, built on PySpark 4's public
Python Data Source API (`pyspark.sql.datasource`).

Batch: the log-resolved live file set becomes one InputPartition per
file; executors read their file with pyarrow. Same snapshot isolation
as `read_table` (options: ``path``, ``version``).

Streaming: STREAM OFFSETS ARE COMMIT VERSIONS. `latestOffset` is a
driver-side log stat; `partitions(start, end)` lists exactly the
files added by commits in ``(start, end]`` — each micro-batch reads
the delta, never the table, and replaying any offset range re-reads
the same committed files (the deterministic-replay contract
Structured Streaming recovery requires; commits are immutable).
Rewriting commits (merge/overwrite/compact) are NOT append deltas: by
default the stream FAILS on one (silent double-counting of moved rows
is corruption), ``skipRewrites=true`` opts into skipping them (the
Delta ``ignoreChanges`` analog — downstream must tolerate missing
row-level updates). ``changeFeed=true`` is the FULL answer (r9, finished
r10): every commit — appends AND rewrites — streams as typed
row-level change rows (insert / update_postimage / delete +
``_commit_version``). A table with `txtable.enable_change_data`
streams rewrites from the COMMIT-TIME change files, one task per
file — distributed, no pks needed. Without change files, rewrites
fall back to a per-commit pre/post pk-join in one task, gated by
``pks`` and ``maxRewriteBytesPerTask`` (default 256 MiB of manifest
footprint — beyond it the stream raises with guidance instead of
funneling gigabytes through one Python worker). Pair with
`txtable.foreach_batch_cdf_sink` for an exactly-once replica that
converges to the upstream snapshot. The batch pole of the same feed
is `txtable.table_changes_cdf`.

Scale notes: offset math and file listing are O(commits in range)
driver-side JSON; row I/O happens in executors, one task per delta
file. The pyarrow read path exists because a Python data source reads
in Python workers — for JVM-parquet speed on big batch scans, use
`txtable.read_table`; this source is the STREAMING integration and
the SQL-reader convenience.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from bi_utils_spark.operators import txtable as tx


FORMAT_NAME = "txtable"


class TxFilePartition(InputPartition):
    def __init__(
        self,
        file_path: str,
        partition_values: dict[str, str],
        dv_path: str | None = None,
    ) -> None:
        self.file_path = file_path
        self.partition_values = partition_values
        # absolute path of the file's deletion-vector sidecar (None
        # for files with no masked rows)
        self.dv_path = dv_path


def _coerce(value: str, spark_type: str):
    """Directory-encoded partition values are strings; coerce to the
    schema's type for every partitionable primitive (int/float/bool,
    plus date/timestamp/decimal — Spark renders those ISO-style in
    the directory name, so the stdlib parsers are faithful
    inverses). The Hive default-partition sentinel is a NULL."""
    if value is None or value == "__HIVE_DEFAULT_PARTITION__":
        return None
    t = spark_type.lower()
    if t in ("int", "integer", "smallint", "tinyint", "bigint", "long"):
        return int(value)
    if t in ("double", "float"):
        return float(value)
    if t == "boolean":
        return value.lower() == "true"
    if t == "date":
        import datetime

        return datetime.date.fromisoformat(value)
    if t.startswith("timestamp"):
        import datetime

        return datetime.datetime.fromisoformat(value)
    if t.startswith("decimal"):
        from decimal import Decimal

        return Decimal(value)
    return value


def _dv_positions(dv_path: str) -> set[int]:
    """Masked row ordinals from the deletion-vector sidecar at
    ``dv_path`` (the payload decodes in `txtable._dv_decode`)."""
    with open(dv_path) as fh:
        return set(tx._dv_decode(json.load(fh)).tolist())


def _read_file_rows(
    file_path: str,
    partition_values: dict[str, str],
    schema: StructType,
    dv_path: str | None = None,
) -> Iterator[tuple]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(file_path)
    cols: dict[str, list] = {
        name: tbl.column(name).to_pylist() for name in tbl.column_names
    }
    n = tbl.num_rows
    out_cols = []
    for f in schema.fields:
        # files spell columns by their PHYSICAL name (column mapping)
        pname = (f.metadata or {}).get("__physical", f.name)
        if pname in cols:
            out_cols.append(cols[pname])
        elif f.name in partition_values:
            v = _coerce(
                partition_values[f.name], f.dataType.simpleString()
            )
            out_cols.append([v] * n)
        else:
            out_cols.append([None] * n)  # schema-widened old file
    rows = zip(*out_cols) if n else iter(())
    if dv_path is None:
        yield from rows
        return
    # pyarrow preserves file row order, so the ordinal IS the
    # deletion vector's row_index coordinate
    masked = _dv_positions(dv_path)
    yield from (row for i, row in enumerate(rows) if i not in masked)


class TxBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._path = options["path"]
        v = options.get("version")
        self._version = int(v) if v is not None else None

    def partitions(self) -> list[InputPartition]:
        snap = tx._fold(self._path, self._version)
        return [
            TxFilePartition(
                os.path.join(self._path, rel),
                meta["partition_values"],
                dv_path=(
                    os.path.join(self._path, meta["dv"]["path"])
                    if meta.get("dv")
                    else None
                ),
            )
            for rel, meta in sorted(snap.files.items())
        ]

    def read(self, partition: TxFilePartition) -> Iterator[tuple]:
        return _read_file_rows(
            partition.file_path,
            partition.partition_values,
            self._schema,
            dv_path=partition.dv_path,
        )


CDF_TYPE_COL = "_change_type"
CDF_VERSION_COL = "_commit_version"


class TxCdfPartition(InputPartition):
    """One commit's change rows: ``pre`` = the files it removed (with
    their partition values and pre-commit deletion-vector sidecar
    from the pre-commit live set), ``post`` = the files it genuinely
    added. Appends ship one partition PER ADDED FILE (pre empty —
    pure inserts, full scan parallelism); rewriting commits WITHOUT
    commit-time change data ship ONE partition per commit, because
    the pre/post pk-join needs both images together — admissible only
    under ``maxRewriteBytesPerTask`` (the footprint funnels through
    one Python worker). MOR delete commits carry ``dv_diff`` instead:
    (file, partition values, new sidecar, previous sidecar or None) —
    the newly masked positions read back as typed deletes. Tables
    with `txtable.enable_change_data` never take this shape for
    rewrites: their commits ship `TxCdcFilePartition`s, one per
    change file — the distributed path."""

    def __init__(
        self,
        version: int,
        pre: list[tuple[str, dict, str | None]],
        post: list[tuple[str, dict, str | None]],
        dv_diff: list[tuple[str, dict, str, str | None]] | None = None,
    ) -> None:
        self.version = version
        self.pre = pre
        self.post = post
        self.dv_diff = dv_diff or []


class TxCdcFilePartition(InputPartition):
    """One COMMIT-TIME CHANGE-DATA file (`txtable.enable_change_data`):
    the writer already classified and persisted the commit's typed
    rows, so the stream reads them file-per-task — a rewriting
    commit's feed parallelism scales with its change volume, and no
    pk-join happens at read time."""

    def __init__(self, version: int, file_path: str) -> None:
        self.version = version
        self.file_path = file_path


class TxStreamReader(DataSourceStreamReader):
    """Micro-batch reader: offset = {"version": last consumed}."""

    def __init__(self, schema: StructType, options: dict) -> None:
        self._schema = schema
        self._path = options["path"]
        if "startingTimestamp" in options:
            if "startingVersion" in options:
                raise ValueError(
                    "txtable stream: startingVersion and "
                    "startingTimestamp are mutually exclusive"
                )
            from bi_utils_spark.operators.txtable import (
                version_at_timestamp,
            )

            # "from this instant on": the snapshot live AT the
            # timestamp is the baseline, changes AFTER it stream
            self._start = version_at_timestamp(
                self._path, options["startingTimestamp"]
            )
        else:
            self._start = int(options.get("startingVersion", -1))
        self._skip_rewrites = (
            str(options.get("skipRewrites", "false")).lower() == "true"
        )
        # admission control (Delta's maxFilesPerTrigger analog, in
        # commit units): a backlogged consumer — or a fresh checkpoint
        # on a long-lived table — otherwise gets the ENTIRE backlog as
        # ONE micro-batch, which at 100 TB is an operational wall.
        # Capping latestOffset slices the catch-up into bounded
        # batches; each is still deterministic (offsets are versions).
        # The floor the cap advances from starts at startingVersion
        # and is re-learned from partitions()/commit() offsets. On a
        # RESTART the engine re-primes partitions() with the
        # checkpoint's offsets BEFORE asking latestOffset (verified in
        # test_txsource restart assertions), so the floor catches up
        # to the committed offset first and the returned offset never
        # falls behind it — catch-up stays exactly-once AND bounded.
        mv = options.get("maxVersionsPerBatch")
        self._max_versions = int(mv) if mv is not None else None
        if self._max_versions is not None and self._max_versions < 1:
            raise ValueError(
                "txtable stream: maxVersionsPerBatch must be >= 1"
            )
        # byte-denominated admission control: versions bound the
        # COUNT of commits per micro-batch, bytes bound their SIZE —
        # one fat backfill commit otherwise lands whole in one batch
        # no matter how low maxVersionsPerBatch is set. Derived from
        # manifest byte records (driver-side JSON); a single commit
        # larger than the cap is still admitted ALONE in its batch
        # (progress beats starvation, the Delta maxBytesPerTrigger
        # contract).
        mb = options.get("maxBytesPerBatch")
        self._max_bytes = int(mb) if mb is not None else None
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError(
                "txtable stream: maxBytesPerBatch must be >= 1"
            )
        self._floor: int | None = self._start
        self._change_feed = (
            str(options.get("changeFeed", "false")).lower() == "true"
        )
        if self._change_feed:
            if self._skip_rewrites:
                raise ValueError(
                    "txtable stream: changeFeed already consumes "
                    "rewrites row-level; skipRewrites conflicts"
                )
            # a rewriting commit WITHOUT commit-time change data
            # joins its pre/post images in ONE task — bounded by this
            # manifest-derived footprint cap (default 256 MiB).
            # Tables with enable_change_data never hit the bound:
            # their rewrites stream file-per-task.
            mrb = options.get("maxRewriteBytesPerTask")
            self._max_rewrite_bytes = (
                int(mrb) if mrb is not None else 256 * 1024 * 1024
            )
            pks = options.get("pks")
            # pks are OPTIONAL: appends, MOR deletes, and change-data
            # commits never join; a joining commit without pks raises
            # at partition-planning time with guidance
            self._pks = (
                [c.strip() for c in str(pks).split(",")] if pks else None
            )
            # Delta readChangeFeed parity: updates can emit BOTH
            # images; default stays the three-type contract
            self._include_preimages = (
                str(options.get("includePreimages", "false")).lower()
                == "true"
            )
            # the TABLE schema (change columns stripped) drives file
            # reads; the two feed columns are appended per row
            self._table_schema = StructType(
                [
                    f
                    for f in schema.fields
                    if f.name not in (CDF_TYPE_COL, CDF_VERSION_COL)
                ]
            )
            missing = [
                c
                for c in (self._pks or [])
                if c not in self._table_schema.fieldNames()
            ]
            if missing:
                raise ValueError(
                    f"txtable stream: pk(s) {missing} not table columns"
                )

    def _learn_floor(self, version: int) -> None:
        if self._floor is None or version > self._floor:
            self._floor = version

    def initialOffset(self) -> dict:
        self._learn_floor(self._start)
        return {"version": self._start}

    def _commit_bytes(self, v: int) -> int:
        """One commit's admission weight from manifest byte records:
        added data files, plus change-data files when streaming the
        feed (the rows a changeFeed batch actually reads). Memoized —
        commits are immutable, and a backlogged stream would
        otherwise re-parse the same JSONs every trigger."""
        cache = getattr(self, "_bytes_cache", None)
        if cache is None:
            cache = self._bytes_cache = {}
        if v in cache:
            return cache[v]
        entry = tx._load_entry(self._path, v)
        n = sum(int(a.get("bytes") or 0) for a in entry.get("added", []))
        if self._change_feed:
            n += sum(
                int(r.get("bytes") or 0) for r in entry.get("cdc", [])
            )
        cache[v] = n
        return n

    def latestOffset(self) -> dict:
        tip = tx.latest_version(self._path)
        if self._max_versions is not None and self._floor is not None:
            tip = max(
                min(tip, self._floor + self._max_versions), self._floor
            )
        if (
            self._max_bytes is not None
            and self._floor is not None
            and tip > self._floor
        ):
            # admit the first pending commit unconditionally, then
            # keep admitting while the running total stays under the
            # cap — a fat commit rides alone, thin commits coalesce
            total = 0
            admitted = self._floor
            for v in range(self._floor + 1, tip + 1):
                b = self._commit_bytes(v)
                if admitted > self._floor and total + b > self._max_bytes:
                    break
                total += b
                admitted = v
            tip = admitted
        self._learn_floor(tip)
        return {"version": tip}

    def _delta_files(
        self, after: int, up_to: int
    ) -> list[TxFilePartition]:
        parts: list[TxFilePartition] = []
        for v in range(after + 1, up_to + 1):
            entry = tx._load_entry(self._path, v)
            if entry["action"] not in ("append", "create", "clone"):
                if self._skip_rewrites:
                    continue
                raise ValueError(
                    f"txtable stream: commit v{v} is "
                    f"{entry['action']!r}, not an append — set "
                    "skipRewrites=true to skip rewriting commits "
                    "(appends-only semantics), or consume row-level "
                    "changes with txtable.table_diff"
                )
            for a in entry.get("added", []):
                parts.append(
                    TxFilePartition(
                        os.path.join(self._path, a["path"]),
                        a.get("partition_values", {}),
                        dv_path=(
                            os.path.join(self._path, a["dv"]["path"])
                            if a.get("dv")
                            else None
                        ),
                    )
                )
        return parts

    def _cdf_partitions(
        self, after: int, up_to: int
    ) -> list[TxCdfPartition]:
        """Deterministic replay: the live-file map folds from the
        immutable log, so any offset range always yields the same
        pre/post images (the recovery contract). Driver cost is
        O(commits in range) JSON reads — same as the append path."""
        live: dict[str, dict] = (
            dict(tx._fold(self._path, after).files) if after >= 0 else {}
        )

        def _dv_abs(meta: dict) -> str | None:
            dv = meta.get("dv")
            return os.path.join(self._path, dv["path"]) if dv else None

        parts: list[InputPartition] = []
        for v in range(after + 1, up_to + 1):
            entry = tx._load_entry(self._path, v)
            if "cdc" in entry:
                # the writer persisted this commit's typed rows at
                # commit time — one partition PER CHANGE FILE, fully
                # distributed, no join, no pks. A stale checkpoint
                # resuming past the vacuum window gets the diagnosis
                # at planning time, not an executor FileNotFound.
                cdc_parts = []
                for rec in entry["cdc"]:
                    fp = os.path.join(self._path, rec["path"])
                    if not os.path.exists(fp):
                        raise ValueError(
                            f"txtable stream: commit v{v}'s change "
                            f"files were already vacuumed "
                            f"({rec['path']!r} missing) — restart "
                            "the feed from a newer startingVersion "
                            "or re-baseline from a snapshot"
                        )
                    cdc_parts.append(TxCdcFilePartition(v, fp))
                parts.extend(cdc_parts)
                self._replay_live(live, entry)
                continue
            if entry["action"] in ("compact", "purge"):
                # movement-only by construction — emits nothing; skip
                # the no-op join task (and its pks/footprint gates)
                self._replay_live(live, entry)
                continue
            added_new = [
                (
                    os.path.join(self._path, a["path"]),
                    a.get("partition_values", {}),
                    _dv_abs(a),
                )
                for a in entry.get("added", [])
                # manifest-known-empty files contribute nothing and
                # must not defeat insert/delete-only classification
                if a["path"] not in live and a.get("rows") != 0
            ]
            removed_live = [
                (
                    os.path.join(self._path, p),
                    live[p]["partition_values"],
                    _dv_abs(live[p]),
                )
                for p in entry.get("removed", [])
                if p in live
            ]
            if entry["action"] in ("append", "create", "clone"):
                parts.extend(
                    TxCdfPartition(v, [], [f]) for f in added_new
                )
            elif entry.get("dv"):
                # MOR delete/update: newly masked positions = new
                # sidecar minus the file's previous one; an update
                # commit also ships its staged post-images so the
                # reader classifies update_postimage vs insert
                diff = [
                    (
                        os.path.join(self._path, rec["file"]),
                        live[rec["file"]]["partition_values"],
                        os.path.join(self._path, rec["dv_path"]),
                        _dv_abs(live[rec["file"]]),
                    )
                    for rec in entry["dv"]
                    if rec["file"] in live
                ]
                if diff or added_new:
                    if added_new:  # an UPDATE joins; a pure delete not
                        self._require_join_ok(v, entry, live)
                    parts.append(
                        TxCdfPartition(v, [], added_new, dv_diff=diff)
                    )
            elif not removed_live and added_new:
                # insert-only rewrite: no pre-image exists — pure
                # inserts, one task per file, no join, no pks
                parts.extend(
                    TxCdfPartition(v, [], [f]) for f in added_new
                )
            elif not added_new and removed_live:
                # delete-only rewrite (COW delete, no survivors):
                # pure deletes, one task per removed file
                parts.extend(
                    TxCdfPartition(v, [f], []) for f in removed_live
                )
            elif added_new or removed_live:
                if self._pks is None and entry["action"] in (
                    "overwrite",
                    "restore",
                ):
                    # blind-rewrite rendering (Delta overwrite CDF):
                    # removed rows stream as deletes, new rows as
                    # inserts — per-file tasks, join-free
                    parts.extend(
                        TxCdfPartition(v, [f], []) for f in removed_live
                    )
                    parts.extend(
                        TxCdfPartition(v, [], [f]) for f in added_new
                    )
                else:
                    self._require_join_ok(v, entry, live)
                    parts.append(
                        TxCdfPartition(v, removed_live, added_new)
                    )
            self._replay_live(live, entry)
        return parts

    @staticmethod
    def _replay_live(live: dict, entry: dict) -> None:
        """Advance the pre-commit live-file map past ``entry``
        (bytes kept — the join-footprint bound reads them)."""
        for p in entry.get("removed", []):
            live.pop(p, None)
        for a in entry.get("added", []):
            live[a["path"]] = {
                "commit_dir": a["commit_dir"],
                "partition_values": a.get("partition_values", {}),
                "bytes": a.get("bytes"),
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

    def _require_join_ok(self, v: int, entry: dict, live: dict) -> None:
        """Gate the ONE-TASK pre/post join a rewriting commit without
        commit-time change data needs: pks must exist and the
        commit's manifest-derived footprint (removed live files +
        genuinely-new added files) must fit ``maxRewriteBytesPerTask``
        — beyond it the single Python worker becomes the wall-clock
        and OOM bottleneck the bound exists to prevent."""
        if self._pks is None:
            raise ValueError(
                f"txtable stream: commit v{v} is a rewriting "
                f"{entry['action']!r} without commit-time change "
                "data and no pks were given — set option('pks', ...) "
                "for the pre/post join, or enable_change_data(path) "
                "so commits persist their typed rows"
            )
        fp = (
            sum(
                int(live[p].get("bytes") or 0)
                for p in entry.get("removed", [])
                if p in live
            )
            + sum(
                int(a.get("bytes") or 0)
                for a in entry.get("added", [])
                if a["path"] not in live
            )
            # a MOR update's pre-image scans the DV'd files themselves
            + sum(
                int(live[rec["file"]].get("bytes") or 0)
                for rec in entry.get("dv", [])
                if rec["file"] in live
            )
        )
        if fp > self._max_rewrite_bytes:
            raise ValueError(
                f"txtable stream: commit v{v} ({entry['action']!r}) "
                f"has a {fp}-byte pre+post footprint, over "
                f"maxRewriteBytesPerTask={self._max_rewrite_bytes} — "
                "the join-derived feed would funnel it through ONE "
                "task. enable_change_data(path) to stream rewrites "
                "file-per-task, replay the range with "
                "txtable.table_changes_cdf (distributed join), or "
                "raise the bound explicitly"
            )

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        self._learn_floor(
            max(int(start["version"]), int(end["version"]))
        )
        if self._change_feed:
            return self._cdf_partitions(
                int(start["version"]), int(end["version"])
            )
        return self._delta_files(int(start["version"]), int(end["version"]))

    def _read_cdf(self, partition) -> Iterator[tuple]:
        schema = self._table_schema
        v = partition.version
        if isinstance(partition, TxCdcFilePartition):
            # commit-time change data: the file already holds typed
            # rows (table columns + _change_type, physical names);
            # update_preimage rows stream only under the opt-in
            # includePreimages=true (Delta readChangeFeed parity)
            from pyspark.sql.types import StringType, StructField

            read_schema = StructType(
                list(schema.fields)
                + [StructField(CDF_TYPE_COL, StringType())]
            )
            for row in _read_file_rows(
                partition.file_path, {}, read_schema
            ):
                if self._include_preimages or row[-1] != "update_preimage":
                    yield (*row[:-1], row[-1], v)
            return

        def _fresh_rows():
            # rows a MOR commit NEWLY masked: (new − old) sidecar
            # positions, read back by file ordinal
            for fp, pvals, new_dv, old_dv in partition.dv_diff:
                fresh = _dv_positions(new_dv)
                if old_dv:
                    fresh -= _dv_positions(old_dv)
                for i, row in enumerate(
                    _read_file_rows(fp, pvals, schema)
                ):
                    if i in fresh:
                        yield row

        if partition.dv_diff and not partition.post:
            # MOR delete: freshly masked rows ARE the deletes
            for row in _fresh_rows():
                yield (*row, "delete", v)
            return
        if not partition.pre and not partition.dv_diff:
            # append/create/clone delta: pure inserts, streamed
            # straight off the file — no keying, no pks needed
            for fp, pvals, dv_path in partition.post:
                for row in _read_file_rows(
                    fp, pvals, schema, dv_path=dv_path
                ):
                    yield (*row, "insert", v)
            return
        if not partition.post and not partition.dv_diff:
            # pre-image-only partition (delete-only rewrite, or the
            # delete leg of a pk-less blind overwrite/restore): every
            # live row of the file reads back as a delete
            for fp, pvals, dv_path in partition.pre:
                for row in _read_file_rows(
                    fp, pvals, schema, dv_path=dv_path
                ):
                    yield (*row, "delete", v)
            return
        pk_idx = [schema.fieldNames().index(c) for c in self._pks]

        def _keyed(files) -> dict[tuple, tuple]:
            out: dict[tuple, tuple] = {}
            for fp, pvals, dv_path in files:
                for row in _read_file_rows(
                    fp, pvals, schema, dv_path=dv_path
                ):
                    out[tuple(row[i] for i in pk_idx)] = row
            return out

        post = _keyed(partition.post)
        pre = _keyed(partition.pre) if partition.pre else {}
        for row in partition.dv_diff and _fresh_rows() or ():
            # MOR update: masked rows are the pre-image
            pre[tuple(row[i] for i in pk_idx)] = row
        for key, row in post.items():
            old = pre.get(key)
            if old is None:
                yield (*row, "insert", v)
            elif old != row:
                if self._include_preimages:
                    yield (*old, "update_preimage", v)
                yield (*row, "update_postimage", v)
        for key, row in pre.items():
            if key not in post:
                yield (*row, "delete", v)

    def read(self, partition) -> Iterator[tuple]:
        if self._change_feed:
            return self._read_cdf(partition)
        return _read_file_rows(
            partition.file_path, partition.partition_values, self._schema
        )

    def commit(self, end: dict) -> None:
        # commits are immutable — nothing to clean up; the completed
        # offset only advances the admission-control floor
        self._learn_floor(int(end["version"]))


class TxTableDataSource(DataSource):
    """``spark.dataSource.register(TxTableDataSource)`` then
    ``spark.read.format("txtable").option("path", p).load()`` or
    ``spark.readStream.format("txtable").option("path", p).load()``.
    Options: path (required), version (batch time travel),
    startingVersion or startingTimestamp / skipRewrites /
    changeFeed (+pks — optional for tables with
    `txtable.enable_change_data`, whose rewrites stream one task per
    persisted change file; includePreimages=true adds
    update_preimage rows, the Delta readChangeFeed parity) /
    maxVersionsPerBatch / maxBytesPerBatch /
    maxRewriteBytesPerTask (streaming)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField

        snap = tx._fold(self.options["path"])
        base = snap.spark_schema()
        if str(self.options.get("changeFeed", "false")).lower() == "true":
            return StructType(
                list(base.fields)
                + [
                    StructField(CDF_TYPE_COL, StringType()),
                    StructField(CDF_VERSION_COL, LongType()),
                ]
            )
        return base

    def reader(self, schema: StructType) -> TxBatchReader:
        return TxBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> TxStreamReader:
        return TxStreamReader(schema, self.options)


def register_txtable_source(spark) -> None:
    """Register the format with this session (idempotent)."""
    spark.dataSource.register(TxTableDataSource)

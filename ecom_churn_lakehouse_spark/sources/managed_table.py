"""Mutable keyed tables on parquet, committed through a Delta log.

Re-expresses the reference's table layer (SURVEY.md §2.1): append sinks
(S4/S5), overwrite (S6), keyed MERGE upsert (S7,
``orders_bronze_to_silver.py:184-195`` et al.), existence probe (S9).

A table directory is laid out as a Delta table, and its transaction log
is the only record of what is committed:

- ``_delta_log/{v:020d}.json`` IS the commit of version ``v``: one JSON
  action per line (commitInfo; protocol and metaData when they change;
  a ``remove`` for every file active at ``v - 1``; an ``add`` for every
  new file). A writer claims ``v`` by ``os.link``-ing a complete action
  file onto that name — the filesystem's atomic put-if-absent, the one
  primitive the Delta protocol asks of its log store. Concurrent
  writers race for ``v``; a loser re-applies its change on top of the
  winner's state and retries (optimistic concurrency, serializable
  outcome — the two-thread racing tests in
  tests/test_managed_table.py).
- Each commit writes a full snapshot dir ``v-{v:08d}-{uuid}``, so
  ``merge`` is a source-wins upsert: new snapshot = source ∪ (current
  ⟕anti source on keys). That equals Delta's
  ``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` for sources
  unique per key, which a key probe observed on the staged write
  enforces (like the DQ gates, it is checked before the claim).
- ``read(version)`` replays the log (from the newest checkpoint) to
  ``version`` and scans that version's snapshot dir with the schema its
  commit logged, so a read launches no Spark job. The dirs of the last
  two versions are retained for time travel.
- Every ``checkpoint_interval``-th commit also writes the protocol's
  checkpoint parquet and ``_last_checkpoint`` pointer.

Every publish is one Spark write plus driver-side bookkeeping.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecom_churn_lakehouse_spark.dq.checks import (
    DQGateFailure,
    DQReport,
    observe_checks,
    report_from_observation,
)
from ecom_churn_lakehouse_spark.logging_util import log_event

__all__ = ["ManagedTable"]

_LOG = "_delta_log"
#: Delta-protocol checkpoint pointer file (literal name per spec).
_LAST_CKPT = "_last_checkpoint"


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every nested field, element and map value nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


class _Snapshot(NamedTuple):
    """A snapshot dir (staged or committed) and the schema a parquet
    read of it yields: the written frame's, every field nullable,
    partition columns last."""

    path: str
    schema: T.StructType

    def scan(self, spark: SparkSession) -> DataFrame:
        # The directory, not the add-file list: a dir is one path to
        # list on the driver, while more than
        # parallelPartitionDiscovery.threshold (32) file paths start a
        # listing job.
        return spark.read.schema(self.schema).parquet(self.path)


class ManagedTable:
    """A keyed, mutable table at a filesystem path."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        checkpoint_interval: int = 10,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.keys = list(keys)
        #: Delta-protocol checkpointing cadence: every Nth commit also
        #: writes ``_delta_log/{v:020d}.checkpoint.parquet`` + the
        #: ``_last_checkpoint`` pointer (protocol default 10), so log
        #: replay is O(commits since checkpoint), not O(all commits).
        self.checkpoint_interval = int(checkpoint_interval)

    # ------------------------------------------------------------- log

    def _log_versions(self) -> list[int]:
        """Committed versions, ascending: the ``{v:020d}.json`` files in
        ``_delta_log``."""
        try:
            names = os.listdir(os.path.join(self.path, _LOG))
        except FileNotFoundError:
            return []
        return sorted(
            int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()
        )

    def _latest_version(self) -> int:
        """The newest committed version (-1 for an empty table)."""
        return (self._log_versions() or [-1])[-1]

    def _actions(self, version: int):
        """The actions of commit ``version``, one dict per log line."""
        with open(os.path.join(self.path, _LOG, f"{version:020d}.json")) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)

    def _commit_info(self, version: int) -> dict | None:
        """The commitInfo action of ``version`` (None once unlogged)."""
        try:
            return next(
                (a["commitInfo"] for a in self._actions(version) if "commitInfo" in a),
                None,
            )
        except FileNotFoundError:
            return None

    # ------------------------------------------------------------ probes

    def exists(self) -> bool:
        """S9 existence probe (DeltaTable.isDeltaTable analogue): the
        log holds a version."""
        return self._latest_version() >= 0

    # ------------------------------------------------------------- reads

    def versions(self) -> list[int]:
        """Retained versions, oldest→newest: the logged versions whose
        snapshot dir is still on disk (the last two)."""
        if not os.path.isdir(self.path):
            return []
        dirs = set(os.listdir(self.path))
        seqs = {self._version_seq(d) for d in dirs if d.startswith("v-")}
        return [
            v
            for v in self._log_versions()
            if v in seqs and (self._commit_info(v) or {}).get("snapshot") in dirs
        ]

    def read(self, version: int | None = None) -> DataFrame:
        """Read ``version`` (the newest by default): replay the log to
        it, then scan its snapshot dir with the logged schema. Time
        travel reaches the retained versions (``versions()``)."""
        return self._snapshot(version).scan(self.spark)

    def _snapshot(self, version: int | None = None) -> _Snapshot:
        """The snapshot dir of ``version`` (the newest by default) and
        the schema in force at it, resolved from the log alone."""
        if version is None:
            version = self._latest_version()
            if version < 0:
                raise FileNotFoundError(f"no committed version at {self.path}")
        name = (self._commit_info(version) or {}).get("snapshot")
        if not name or not os.path.isdir(os.path.join(self.path, name)):
            raise ValueError(
                f"version {version!r} not retained; available: {self.versions()}"
            )
        meta, _ = self.delta_log_state(version)
        return _Snapshot(
            os.path.join(self.path, name),
            T.StructType.fromJson(json.loads(meta["schemaString"])),
        )

    # ------------------------------------------------------------ writes
    #
    # Multi-writer optimistic concurrency. A writer captures the base
    # version, stages its snapshot in a hidden dir built against that
    # base, and then tries to CLAIM base + 1 by hard-linking its
    # complete action file onto ``_delta_log/{base + 1:020d}.json``.
    # Exactly one racer wins a given version; a loser re-applies its
    # change on top of the winner's version and retries.

    def _stage(self, df: DataFrame, partition_by: list[str] | None) -> _Snapshot:
        """Stage a snapshot in a hidden dir (the WRITE half of a
        commit). Runs the Spark action but publishes nothing — readers
        and the vacuum never touch ``.staged-*`` dirs, so a concurrent
        winner's cleanup cannot delete a racer's in-flight write."""
        target = os.path.join(self.path, f".staged-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        parts = list(partition_by or [])
        # a partition column reads back from the path, without metadata
        schema = T.StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [T.StructField(p, df.schema[p].dataType) for p in parts]
        )
        return _Snapshot(target, _nullable(schema))

    def _abandon_staged(self, staged: _Snapshot) -> None:
        shutil.rmtree(staged.path, ignore_errors=True)

    @staticmethod
    def _version_seq(name: str) -> int:
        """Version number embedded in a ``v-{v:08d}-{uuid}`` name."""
        try:
            return int(name.split("-")[1])
        except (IndexError, ValueError):
            return -1

    def _try_publish(
        self,
        staged: _Snapshot,
        base: int,
        partition_by: list[str] | None = None,
    ) -> bool:
        """Claim version ``base + 1`` for ``staged``; False if another
        writer holds it.

        The action file is written in full first (its ``remove`` list is
        the state at ``base``), then the staged dir is renamed to its
        version name, then the file is hard-linked onto
        ``{base + 1:020d}.json``. ``os.link`` fails if the name exists,
        so the claim is an atomic put-if-absent and a claimed version is
        complete the moment it exists. On conflict the rename is undone.
        A crash between the rename and the claim leaves an unclaimed
        ``v-*`` orphan, which a later commit's vacuum collects.
        """
        version = base + 1
        ldir = os.path.join(self.path, _LOG)
        os.makedirs(ldir, exist_ok=True)
        meta, active = self.delta_log_state(base)
        name = f"v-{version:08d}-{uuid.uuid4().hex[:8]}"
        adds = self._delta_files(staged.path, name)
        actions = self._commit_actions(
            name, meta, active, adds, staged.schema, partition_by
        )
        tmp = os.path.join(ldir, f".tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.writelines(json.dumps(a, separators=(",", ":")) + "\n" for a in actions)
        versioned = os.path.join(self.path, name)
        try:
            os.rename(staged.path, versioned)
            os.link(tmp, os.path.join(ldir, f"{version:020d}.json"))
        except FileExistsError:
            os.rename(versioned, staged.path)  # lost the race for this version
            return False
        finally:
            os.remove(tmp)
        live = [*active, *(a["path"] for a in adds)]
        self._vacuum(version, {p.split("/", 1)[0] for p in live})
        if (
            self.checkpoint_interval > 0
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            # Checkpointing is a read-path optimization only: a failed
            # checkpoint (pyarrow import/IO error) must never abort an
            # already-durable commit; skipping it merely costs replay
            # time (r9 ADVICE #3).
            try:
                self._write_checkpoint(version)
            except Exception as exc:  # pragma: no cover - env-specific
                log_event(
                    "checkpoint_skipped",
                    table=self.path,
                    version=version,
                    error=f"{type(exc).__name__}: {exc}",
                )
        return True

    def _vacuum(self, version: int, keep: set[str]) -> None:
        """After claiming ``version``, delete every older snapshot dir
        not in ``keep`` (the dirs holding a file active at ``version``
        or the version before it). That retains two versions for time
        travel and lets a lazily held read() survive one more commit; a
        delayed writer never deletes a newer commit's dir (only lower
        versions go), and unclaimed older orphans are collected.
        ``.staged-*``, ``_delta_log/`` and ``_metadata/`` are never
        touched."""
        for d in os.listdir(self.path):
            if d.startswith("v-") and d not in keep and self._version_seq(d) < version:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    # ---------------------------------------------------- delta protocol
    #
    # Each commit is the actual ``_delta_log/{version:020d}.json`` action
    # file (protocol / metaData / add / remove / commitInfo, one JSON per
    # line — the open Delta transaction-log format, cf. the reference's
    # Delta MERGE publish at ``orders_bronze_to_silver.py:184-195``).

    def _delta_files(self, staged: str, name: str) -> list[dict]:
        """Data files of a staged dir as Delta ``add``-action dicts for
        the snapshot dir ``name`` (paths relative to the TABLE root,
        partitionValues parsed from hive-style path segments)."""
        adds = []
        for root, _, files in os.walk(staged):
            rel_root = os.path.relpath(root, staged)
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                pvals = {
                    seg.split("=", 1)[0]: seg.split("=", 1)[1]
                    for seg in rel_root.split(os.sep)
                    if "=" in seg
                }
                adds.append(
                    {
                        "path": os.path.normpath(os.path.join(name, rel_root, f)),
                        "partitionValues": pvals,
                        "size": os.path.getsize(full),
                        "modificationTime": int(os.path.getmtime(full) * 1000),
                        "dataChange": True,
                    }
                )
        return adds

    def delta_log_state(
        self,
        upto_version: int | None = None,
        use_checkpoint: bool | None = None,
    ) -> tuple[dict | None, dict[str, dict]]:
        """Replay ``_delta_log`` → (last metaData action, active add
        actions by path) — the snapshot-reconstruction half of the
        Delta protocol (what a Delta reader computes before scanning).

        ``use_checkpoint`` defaults to ``checkpoint_interval > 0``, so
        an instance configured with interval<=0 is checkpoint-free on
        the READ path too, not just the write path (r9 ADVICE #2: a
        raw-JSON replay control must not silently read through a
        checkpoint some other writer left behind). Pass explicitly to
        override either way.
        """
        ldir = os.path.join(self.path, _LOG)
        meta: dict | None = None
        active: dict[str, dict] = {}
        if not os.path.isdir(ldir):
            return meta, active
        if use_checkpoint is None:
            use_checkpoint = self.checkpoint_interval > 0
        # Delta checkpointing: start replay from the newest checkpoint
        # at or below the target version (protocol behavior — a reader
        # consults _last_checkpoint, loads the parquet snapshot of the
        # action state, and replays only the JSON commits after it).
        ckpt_v = -1
        if use_checkpoint:
            for fn in os.listdir(ldir):
                if fn.endswith(".checkpoint.parquet"):
                    v = int(fn.split(".")[0])
                    if (
                        upto_version is None or v <= upto_version
                    ) and v > ckpt_v:
                        ckpt_v = v
        if ckpt_v >= 0:
            meta, active = self._read_checkpoint(ckpt_v)
        for v in self._log_versions():
            if v <= ckpt_v:
                continue
            if upto_version is not None and v > upto_version:
                break
            for action in self._actions(v):
                if "metaData" in action:
                    meta = action["metaData"]
                elif "add" in action:
                    active[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    active.pop(action["remove"]["path"], None)
        return meta, active

    def history(self) -> list[dict]:
        """Commit history, newest first — the DESCRIBE HISTORY
        analogue: one dict per commit with version, timestamp,
        operation, and operationParameters from the log's commitInfo
        actions."""
        out: list[dict] = []
        for v in reversed(self._log_versions()):
            info = self._commit_info(v)
            if info is not None:
                out.append(
                    {
                        "version": v,
                        "timestamp": info.get("timestamp"),
                        "operation": info.get("operation"),
                        "operationParameters": info.get("operationParameters", {}),
                    }
                )
        return out

    def _commit_actions(
        self,
        name: str,
        prev_meta: dict | None,
        prev_active: dict[str, dict],
        adds: list[dict],
        schema: T.StructType,
        partition_by: list[str] | None,
    ) -> list[dict]:
        """The Delta-protocol actions of a commit of snapshot dir
        ``name`` on top of the state (``prev_meta``, ``prev_active``).

        Every commit writes a full snapshot, so it is remove(all
        previously active files) + add(all new) — the same shape a
        Delta writer commits for an overwrite; the MERGE semantics live
        in how the snapshot was BUILT. ``schema`` (the staged one) goes
        into metaData when it changes. commitInfo names the snapshot
        dir, so a commit with no data file still resolves to its dir.
        """
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "WRITE",
                    "operationParameters": {
                        "mode": "Overwrite",
                        "partitionBy": json.dumps(partition_by or []),
                    },
                    "engineInfo": "ecom-churn-lakehouse-spark",
                    "txnId": str(uuid.uuid4()),
                    "snapshot": name,
                }
            }
        ]
        schema_string = schema.json()
        if prev_meta is None:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
        if (
            prev_meta is None
            or prev_meta.get("schemaString") != schema_string
            or prev_meta.get("partitionColumns") != (partition_by or [])
        ):
            actions.append(
                {
                    "metaData": {
                        "id": (
                            prev_meta["id"]
                            if prev_meta is not None
                            else str(
                                uuid.uuid5(uuid.NAMESPACE_URL, self.path)
                            )
                        ),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": list(partition_by or []),
                        "configuration": {},
                        "createdTime": (
                            prev_meta["createdTime"]
                            if prev_meta is not None
                            else now_ms
                        ),
                    }
                }
            )
        for path in sorted(prev_active):
            actions.append(
                {
                    "remove": {
                        "path": path,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        actions.extend({"add": a} for a in adds)
        return actions

    # Delta checkpoint parquet schema: one action per row, exactly one
    # of the struct columns non-null — the protocol's checkpoint file
    # shape (partitionValues as map<string,string>). The remove/txn
    # columns are always all-null in our snapshots (a checkpoint only
    # carries LIVE state; removes matter for incremental readers and
    # txn for idempotent streaming writers), but strict Delta clients
    # (delta-rs, Delta Lake on Spark) expect the columns to exist and the
    # metaData struct to carry format/name/description/configuration —
    # r9 ADVICE #1.
    def _ckpt_schema(self):
        import pyarrow as pa

        return pa.schema(
            [
                pa.field(
                    "protocol",
                    pa.struct(
                        [
                            ("minReaderVersion", pa.int32()),
                            ("minWriterVersion", pa.int32()),
                        ]
                    ),
                ),
                pa.field(
                    "metaData",
                    pa.struct(
                        [
                            ("id", pa.string()),
                            ("name", pa.string()),
                            ("description", pa.string()),
                            (
                                "format",
                                pa.struct(
                                    [
                                        ("provider", pa.string()),
                                        (
                                            "options",
                                            pa.map_(
                                                pa.string(), pa.string()
                                            ),
                                        ),
                                    ]
                                ),
                            ),
                            ("schemaString", pa.string()),
                            ("partitionColumns", pa.list_(pa.string())),
                            (
                                "configuration",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            ("createdTime", pa.int64()),
                        ]
                    ),
                ),
                pa.field(
                    "add",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            (
                                "partitionValues",
                                pa.map_(pa.string(), pa.string()),
                            ),
                            ("size", pa.int64()),
                            ("modificationTime", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "remove",
                    pa.struct(
                        [
                            ("path", pa.string()),
                            ("deletionTimestamp", pa.int64()),
                            ("dataChange", pa.bool_()),
                        ]
                    ),
                ),
                pa.field(
                    "txn",
                    pa.struct(
                        [
                            ("appId", pa.string()),
                            ("version", pa.int64()),
                            ("lastUpdated", pa.int64()),
                        ]
                    ),
                ),
            ]
        )

    def _write_checkpoint(self, version: int) -> None:
        """Write ``{version:020d}.checkpoint.parquet`` (the replayed
        action state as one parquet row per action) plus the
        ``_last_checkpoint`` pointer — the protocol's log-compaction
        step, making future replays O(commits since checkpoint)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ldir = os.path.join(self.path, _LOG)
        meta, active = self.delta_log_state(version)
        nulls = {"add": None, "remove": None, "txn": None}
        fmt = meta.get("format") or {"provider": "parquet", "options": {}}
        rows = [
            {
                "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
                "metaData": None,
                **nulls,
            },
            {
                "protocol": None,
                "metaData": {
                    "id": meta["id"],
                    "name": meta.get("name"),
                    "description": meta.get("description"),
                    "format": {
                        "provider": fmt.get("provider", "parquet"),
                        "options": list(
                            (fmt.get("options") or {}).items()
                        ),
                    },
                    "schemaString": meta["schemaString"],
                    "partitionColumns": list(meta["partitionColumns"]),
                    "configuration": list(
                        (meta.get("configuration") or {}).items()
                    ),
                    "createdTime": meta["createdTime"],
                },
                **nulls,
            },
        ]
        for path in sorted(active):
            a = active[path]
            rows.append(
                {
                    "protocol": None,
                    "metaData": None,
                    **nulls,
                    "add": {
                        "path": a["path"],
                        "partitionValues": list(
                            a.get("partitionValues", {}).items()
                        ),
                        "size": a["size"],
                        "modificationTime": a["modificationTime"],
                        "dataChange": a.get("dataChange", True),
                    },
                }
            )
        table = pa.Table.from_pylist(rows, schema=self._ckpt_schema())
        tmp = os.path.join(ldir, f".tmp-ckpt-{uuid.uuid4().hex[:8]}")
        pq.write_table(table, tmp)
        os.rename(
            tmp, os.path.join(ldir, f"{version:020d}.checkpoint.parquet")
        )
        ptr_tmp = os.path.join(ldir, f".tmp-ptr-{uuid.uuid4().hex[:8]}")
        with open(ptr_tmp, "w") as f:
            json.dump({"version": version, "size": len(rows)}, f)
        os.rename(ptr_tmp, os.path.join(ldir, _LAST_CKPT))
        # Keep only the 2 newest checkpoints: older ones are fully
        # superseded, and the _delta_log JSON commits are retained in
        # full, so a replay target below the retained checkpoint window
        # still reconstructs via raw-JSON replay from zero. r9 ADVICE
        # #4 — without this the log accretes one checkpoint per
        # interval for the table's lifetime.
        ckpts = sorted(
            fn
            for fn in os.listdir(ldir)
            if fn.endswith(".checkpoint.parquet")
        )
        for fn in ckpts[:-2]:
            try:
                os.remove(os.path.join(ldir, fn))
            except OSError:
                pass

    def _read_checkpoint(
        self, version: int
    ) -> tuple[dict | None, dict[str, dict]]:
        """Load a checkpoint parquet back into (metaData, active adds)
        — the reader half of the protocol's checkpoint fast path."""
        import pyarrow.parquet as pq

        ldir = os.path.join(self.path, _LOG)
        table = pq.read_table(
            os.path.join(ldir, f"{version:020d}.checkpoint.parquet")
        )
        meta: dict | None = None
        active: dict[str, dict] = {}
        for row in table.to_pylist():
            if row.get("metaData") is not None:
                m = row["metaData"]
                fmt = m.get("format") or {}
                meta = {
                    "id": m["id"],
                    # name/description round-trip (r10 ADVICE): a
                    # checkpoint written FROM checkpoint-recovered
                    # state must not null out fields an external
                    # writer set — read back everything the write
                    # side stores.
                    "name": m.get("name"),
                    "description": m.get("description"),
                    "format": {
                        "provider": fmt.get("provider") or "parquet",
                        "options": dict(fmt.get("options") or []),
                    },
                    "schemaString": m["schemaString"],
                    "partitionColumns": list(m["partitionColumns"]),
                    "configuration": dict(m.get("configuration") or []),
                    "createdTime": m["createdTime"],
                }
            elif row.get("add") is not None:
                a = row["add"]
                active[a["path"]] = {
                    "path": a["path"],
                    "partitionValues": dict(a["partitionValues"] or []),
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": a["dataChange"],
                }
        return meta, active

    def last_checkpoint(self) -> dict | None:
        """Contents of ``_last_checkpoint`` (or None before the first
        checkpoint) — surfaced so tests and operators can assert the
        protocol cadence."""
        p = os.path.join(self.path, _LOG, _LAST_CKPT)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _occ_publish(
        self,
        build,
        partition_by: list[str] | None = None,
        base_dependent: bool = True,
        max_retries: int = 8,
        gate=None,
    ) -> None:
        """Optimistic-concurrency publish loop: capture the base
        version, stage ``build(base)``, and claim ``base + 1``. On
        conflict, re-build against the new base
        (``base_dependent=True``, the MERGE/append path — the frame
        derives from the state at ``base``) or just re-claim with an
        action file rebuilt against the new base
        (``base_dependent=False``, blind overwrite).

        ``gate()`` runs after each stage and before its claim; if it
        raises, the staged dir is abandoned and nothing is committed."""
        staged: _Snapshot | None = None
        try:
            for _ in range(max_retries + 1):
                # captured BEFORE the build reads its base state: a
                # commit that lands while we stage makes the claim fail
                base = self._latest_version()
                if (
                    staged is None
                    or base_dependent
                    or not os.path.isdir(staged.path)
                ):
                    if staged is not None:
                        self._abandon_staged(staged)
                    staged = self._stage(build(base), partition_by)
                    if gate is not None:
                        gate()
                if self._try_publish(staged, base, partition_by):
                    staged = None
                    return
        finally:
            if staged is not None:
                self._abandon_staged(staged)
        raise RuntimeError(
            f"managed-table commit contention: {max_retries + 1} attempts "
            f"lost the log claim at {self.path}"
        )

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None) -> None:
        """S6 initial/overwrite publish (the frame does not derive from
        the table's current state)."""
        self._occ_publish(lambda base: df, partition_by, base_dependent=False)

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        evolve_schema: bool = False,
    ) -> None:
        """S4/S5 append-only sink (bronze, audit log).

        ``evolve_schema=True`` widens the table to the union of the
        current and incoming columns (new columns backfill NULL for
        existing rows — Delta ``mergeSchema`` semantics); without it a
        column mismatch fails loudly, which is the contract-enforcing
        default for pipeline sinks.
        """

        def build(base: int) -> DataFrame:
            if base < 0:
                return df
            return self._snapshot(base).scan(self.spark).unionByName(
                df, allowMissingColumns=evolve_schema
            )

        self._occ_publish(build, partition_by)

    def merge(
        self,
        source: DataFrame,
        checks: Sequence[dict] = (),
        delete_col: str | None = None,
        evolve_schema: bool = False,
    ) -> DQReport:
        """S7 keyed upsert behind blocking DQ gates: update-all when
        matched, insert-all otherwise. Returns the :class:`DQReport`.

        Requires ``source`` unique per key (the reference guarantees
        this upstream via W1 dedup / snapshot grain; we enforce it —
        a non-unique source makes MERGE nondeterministic). That key
        probe also answers every ``unique`` check in ``checks`` whose
        keys are the table's keys; a ``unique`` check on other keys
        raises :class:`ValueError`.

        Nothing runs before the publish: the key probe (rows in
        duplicate key groups, from a ``count`` window over the keys),
        the row and frame checks (``row_count``, ``single_value``) and
        the row count of the upserts are observed (``df.observe``) on
        the staged snapshot write itself and checked before the commit
        claim. A non-unique source or a failing critical check raises
        :class:`~ecom_churn_lakehouse_spark.dq.checks.DQGateFailure`;
        the staged snapshot is abandoned, so the log and the snapshot
        dirs are untouched, exactly like a failed Delta transaction.

        ``delete_col`` names a boolean column in ``source`` marking CDC
        tombstones: matched target rows are DELETED instead of updated,
        and unmatched tombstones are ignored. The flag column itself
        never lands in the table, and tombstones are not gated; the
        report's ``rows_deleted`` is their count.

        ``evolve_schema=True`` lets the source carry columns the table
        doesn't have yet; the table widens and existing rows backfill
        NULL (Delta ``autoMerge`` semantics).
        """
        unique = [c for c in checks if c["type"] == "unique"]
        if any(sorted(c["keys"]) != sorted(self.keys) for c in unique):
            raise ValueError(
                f"merge answers unique checks on its keys {self.keys} only; "
                "other checks must be row-predicate checks"
            )
        row_checks = [c for c in checks if c["type"] != "unique"]
        per_key = F.count(F.lit(1)).over(Window.partitionBy(*self.keys))
        keyed = source.withColumn("__rows_per_key", per_key)
        probe = [F.count(F.when(F.col("__rows_per_key") > 1, 1)).alias("dup_rows")]
        if delete_col is not None:
            probe.append(F.count(F.when(F.col(delete_col), 1)).alias("tombstones"))

        def upserts_of(df: DataFrame) -> DataFrame:
            df = df.drop("__rows_per_key")
            if delete_col is None:
                return df
            return df.filter(~F.col(delete_col)).drop(delete_col)

        attempt: dict = {}

        def build(base: int) -> DataFrame:
            # Fresh Observations per OCC attempt: an observation
            # reports only the first action that consumes it. The probe
            # sits under the tombstone filter, so it sees every row.
            attempt["probe"] = Observation()
            upserts = upserts_of(keyed.observe(attempt["probe"], *probe))
            observed, attempt["checks"] = observe_checks(upserts, row_checks)
            if base < 0:  # first publish
                return observed
            # The state AT the base this attempt claims on top of: a
            # racer that lost the claim re-applies its upserts on top
            # of the winner's version — serializable outcome, no lost
            # update. Read through the source's session: an
            # observation fires only for actions of its own session,
            # and a foreachBatch source lives in a cloned one.
            current = self._snapshot(base).scan(source.sparkSession)
            # Deletes and upserts alike displace the current row for
            # their key; only upserts come back in.
            kept = current.join(
                source.select(*self.keys), on=self.keys, how="left_anti"
            )
            if evolve_schema:
                return kept.unionByName(observed, allowMissingColumns=True)
            extra = set(observed.columns) - set(current.columns)
            if extra:
                raise ValueError(
                    f"merge source has columns not in table: {sorted(extra)}; "
                    "pass evolve_schema=True to widen the table"
                )
            return kept.unionByName(observed.select(*current.columns))

        def gate() -> None:
            found = attempt["probe"].get
            if found["dup_rows"]:
                raise DQGateFailure(f"merge source not unique on keys {self.keys}")
            report = report_from_observation(attempt["checks"], checks)
            report.raise_if_blocked()
            report.rows_deleted = found.get("tombstones", 0)
            attempt["report"] = report

        self._occ_publish(build, None, gate=gate)
        return attempt["report"]

    # ------------------------------------------------------- maintenance

    def compact(
        self,
        target_files: int | None = None,
        sort_by: list[str] | None = None,
        target_file_bytes: int = 128 << 20,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Small-file compaction (Delta OPTIMIZE analogue).

        Streaming/incremental sinks accrete many small files; at scale
        the scan cost becomes file-open-bound, not byte-bound. The
        compaction rewrites the snapshot:

        - ``target_files`` defaults to the logged snapshot bytes /
          128 MiB — the file size object stores and parquet readers
          want;
        - without ``sort_by``: ``coalesce`` (narrow — no shuffle, tasks
          just concatenate input splits);
        - with ``sort_by``: range-partition + sort-within-partitions,
          which clusters the sort keys so parquet row-group min/max
          stats give non-overlapping ranges per file — the flat-file
          form of data skipping (leading column only);
        - with ``zorder_by``: the same, but ordered by a Morton code
          over the given columns (sources/zorder.py), so file stats
          prune on EVERY listed dimension, not just the first.
        """
        if target_files is None:
            total = sum(a["size"] for a in self.delta_log_state()[1].values())
            target_files = max(1, math.ceil(total / target_file_bytes))

        def build(base: int) -> DataFrame:
            # Re-read per OCC attempt: a data commit racing the
            # compaction must not be clobbered by a stale rewrite.
            df = self._snapshot(base).scan(self.spark)
            if zorder_by:
                # True multi-dimensional clustering: range-partition +
                # sort by the Morton code so every file's bounding box
                # is small in EVERY z-ordered dimension
                # (sources/zorder.py) — the flat-parquet analogue of
                # Delta's OPTIMIZE ZORDER BY.
                from ecom_churn_lakehouse_spark.sources.zorder import (
                    with_zorder_value,
                )

                zcol = "__zvalue"
                return (
                    with_zorder_value(df, zorder_by, out=zcol)
                    .repartitionByRange(target_files, F.col(zcol))
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )
            if sort_by:
                return df.repartitionByRange(
                    target_files, *[F.col(c) for c in sort_by]
                ).sortWithinPartitions(*sort_by)
            return df.coalesce(target_files)

        # Partition-dir layout is not preserved: a sorted compaction IS
        # the layout. Callers that need dir partitioning re-publish via
        # overwrite(partition_by=...).
        self._occ_publish(build, None)

    def diff_versions(
        self, old: int, new: int | None = None
    ) -> DataFrame:
        """Row-level changes between two snapshots — the change-data-
        feed analogue over time travel: one row per key whose presence
        or payload differs, ``change_type`` ∈ {insert, update, delete}.

        The output is exactly the "delta keys" feed that
        ``pipelines.incremental.incremental_gold_update`` scopes its
        recompute to — derive it from retained snapshots instead of
        having the writer thread it through.

        Scale: both snapshots project to (keys, payload-struct) before
        ONE full-outer join co-partitioned on the table keys; payloads
        compare with a single null-safe struct equality (no per-column
        fan-out). With Delta's CDF enabled this would read the change
        log instead of two snapshots; the plan here is the general
        form. Payload comparison covers the non-key columns the two
        snapshots share — a column added by schema evolution flags
        rows only through the columns both sides have.
        """
        o = self.read(old)
        n = self.read(new)
        common = sorted(
            (set(o.columns) & set(n.columns)) - set(self.keys)
        )
        # keys-only table: presence is the whole payload — a constant
        # stand-in makes every matched pair compare equal (no updates).
        payload = [F.col(c) for c in common] or [F.lit(0).alias("__none")]
        o_side = o.select(
            *self.keys,
            F.struct(*payload).alias("__old"),
            F.lit(True).alias("__in_old"),
        )
        n_side = n.select(
            *self.keys,
            F.struct(*payload).alias("__new"),
            F.lit(True).alias("__in_new"),
        )
        j = o_side.join(n_side, on=self.keys, how="full_outer")
        change = (
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .when(
                ~F.col("__old").eqNullSafe(F.col("__new")), F.lit("update")
            )
        )
        return j.select(*self.keys, change.alias("change_type")).filter(
            F.col("change_type").isNotNull()
        )

    def file_count(self) -> int:
        """Data files in the current snapshot (compaction observability),
        counted from the log's active ``add`` actions."""
        return len(self.delta_log_state()[1])

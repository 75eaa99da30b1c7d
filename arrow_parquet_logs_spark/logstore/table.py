"""Versioned parquet table with MERGE (upsert) and DELETE — and the ONE
commit protocol of the package. The LogStore's per-session archives
(``store.py``), the streaming CUPED view (``streaming/cuped.py``) and the
cluster-maintenance fold (``operators/dedup.py``) all commit through
:meth:`VersionedTable._commit`; nothing else in the package writes a
``MANIFEST.json`` or reads or swaps a CURRENT pointer.

Protocol:

- every commit writes a fresh ``v<N>/`` directory plus a MANIFEST naming the
  version's files; the table's state changes only at the ``os.replace`` of
  CURRENT, so a crash at any earlier step leaves the previous version live
  and a restart simply overwrites the half-written ``v<N>/``;
- every manifest carries a ``txns`` map ``{app_id: last batch_id}`` copied
  forward on each commit (Delta Lake's ``txn`` action). A streaming writer
  records its batch id IN the commit that applies the batch, so the data
  change and the "batch done" record are one atomic step; a replayed batch
  is skipped by comparing its id with :meth:`VersionedTable.txn`;
- a manifest may reference files from PRIOR version directories (relative
  paths from the table root, like a table-format transaction log), so an
  upsert rewrites only the partitions its updates touch and *carries* every
  other file by reference — copy-on-write at partition granularity, which is
  what bounds a 100 TB upsert to the data it actually changes;
- ``vacuum`` keeps a window of versions anchored at CURRENT (never at the
  directory listing, which may hold an uncommitted ``v<N+1>``) and deletes
  version directories outside it only after removing every file in them that
  a SURVIVING manifest still references — files, not directories, are the
  unit of liveness;
- ``upsert`` commits OPTIMISTICALLY: data staged lock-free under
  ``_staged/<token>/``, conflict-checked at partition granularity inside a
  milliseconds-long commit critical section, rebased when disjoint and
  retried when not (see :meth:`VersionedTable.upsert`);
- every manifest carries per-file min/max STATS for key/partition/timestamp
  columns (footer-harvested at write time, Delta/Iceberg-style), so
  :meth:`VersionedTable.read_where` and predicate-scoped
  :meth:`VersionedTable.changes` prune their file lists before Spark plans
  the scan.

MERGE semantics (`upsert`): matched keys are replaced by the update row,
unmatched update keys are inserted, everything else is untouched — i.e.
``MERGE INTO t USING u ON t.k = u.k WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *``. Keys must be unique within ``updates``.

Reference: this whole module is extension surface — the reference system
(SURVEY.md §2) has no update path at all; its archives only grow.
"""

from __future__ import annotations

import json
import os
import posixpath
import shutil
import uuid
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from arrow_parquet_logs_spark.logstore.locks import DEFAULT_STALE_AFTER, file_lock
from arrow_parquet_logs_spark.session import ensure_runtime_confs


class ConstraintViolation(ValueError):
    """A write/upsert input failed a table CHECK constraint; nothing was
    committed (and for ``write``/``upsert`` nothing was staged either —
    validation runs before any data lands)."""


class VersionedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        partition_col: str | None = None,
        lock_stale_after: float = DEFAULT_STALE_AFTER,
    ):
        self.spark = ensure_runtime_confs(spark)
        self.path = path
        self.key_cols = list(key_cols)
        self.partition_col = partition_col
        self.lock_stale_after = lock_stale_after
        # the directory appears with the first mutation: opening a table
        # only to read it (e.g. an unknown LogStore session) leaves no trace

    # ---- commit protocol --------------------------------------------------
    def _mutate_lock(self):
        """Commit-protocol guard. Full-rewrite operations (write /
        delete_where / optimize / restore / vacuum) hold it for their whole
        run; ``upsert`` is OPTIMISTIC — it stages its data write outside
        any lock and takes this lock only for the commit critical section
        (re-read CURRENT, partition-level conflict check, manifest+CURRENT
        swap — milliseconds, no Spark job). Two concurrent mutations
        racing CURRENT unchecked would both read version N and race to
        commit N+1 — the loser's changes silently vanish (lost update);
        O_EXCL makes the second committer wait its turn instead. A lock
        left by a CRASHED writer expires after ``stale_after``
        (locks.file_lock) rather than wedging the table forever — safe
        because nothing commits before the CURRENT swap, so a takeover
        writer sees the last committed state and the crashed attempt's
        partial files are clobbered by the next overwrite into the same
        version dir (or swept by vacuum's orphan pass)."""
        os.makedirs(self.path, exist_ok=True)
        lock = os.path.join(self.path, ".write.lock")
        return file_lock(
            lock,
            f"another writer holds {lock} — concurrent table mutations "
            "would lose updates; remove the lock if that writer crashed",
            stale_after=self.lock_stale_after,
        )

    #: every Nth commit writes a FULL manifest (a checkpoint); the commits
    #: between write INCREMENTAL manifests (adds/removes/stat deltas vs the
    #: parent) — the Delta-log shape. Under high-frequency CDC a full
    #: manifest per commit costs O(versions × files) storage and write
    #: time; incremental manifests cost O(changed files) per commit, and
    #: the read side resolves at most ``MANIFEST_CHECKPOINT_EVERY − 1``
    #: small JSON files past a checkpoint.
    MANIFEST_CHECKPOINT_EVERY = 10

    #: delta-manifest bookkeeping keys (absent from a resolved manifest)
    _DELTA_KEYS = ("format", "parent", "adds", "removes", "stats_add", "stats_del")

    def _read_manifest_raw(self, vname: str) -> dict:
        with open(os.path.join(self.path, vname, "MANIFEST.json")) as fh:
            return json.load(fh)

    def _resolve_manifest(self, man: dict) -> dict:
        """Resolve a (possibly incremental) manifest into the full form:
        walk the parent chain back to the nearest full checkpoint, then
        replay adds/removes/stat-deltas forward. Non-file fields (schema,
        constraints, dv, timestamps, provenance) are NOT chained — every
        manifest, incremental or not, carries them verbatim, so only the
        O(table)-sized ``files``/``stats`` maps pay the delta encoding.

        Lock-free readers can race ``vacuum``: a reader that loaded a
        SURVIVING delta manifest before vacuum materialized it may walk
        into a doomed parent that vacuum deletes mid-walk. Vacuum
        materializes every survivor to full form BEFORE removing any
        doomed manifest (under the mutate lock), so the recovery is to
        re-read THIS manifest from disk — by the time a parent read can
        fail, the survivor is already full (or about to be; bounded
        retries with backoff cover the window). A FileNotFoundError on
        the re-read itself means the version being read was vacuumed —
        that propagates as the genuine read-of-expired-version error."""
        if man.get("format") != "delta":
            return man
        import time as _time

        for attempt in range(5):
            try:
                chain = self._walk_chain(man)
                break
            except FileNotFoundError:
                _time.sleep(0.05 * (attempt + 1))
                man = self._read_manifest_raw(f"v{man['version']}")
                if man.get("format") != "delta":
                    return man
        else:
            # parents missing yet this manifest never got materialized:
            # not a vacuum race — the chain is genuinely broken
            chain = self._walk_chain(man)
        cur = chain[-1]
        files = set(cur["files"])
        stats = dict(cur.get("stats", {}))
        for d in reversed(chain[:-1]):
            for f in d.get("removes", []):
                files.discard(f)
                stats.pop(f, None)
            files.update(d.get("adds", []))
            for f in d.get("stats_del", []):
                stats.pop(f, None)
            stats.update(d.get("stats_add", {}))
        out = {k: v for k, v in man.items() if k not in self._DELTA_KEYS}
        out["files"] = sorted(files)
        out["stats"] = stats
        return out

    def _walk_chain(self, man: dict) -> list[dict]:
        """Parent chain from a delta manifest back to its full checkpoint
        (inclusive). Raises FileNotFoundError if a parent manifest is gone
        (see _resolve_manifest's vacuum-race recovery)."""
        chain = [man]
        cur = man
        while cur.get("format") == "delta":
            cur = self._read_manifest_raw(f"v{cur['parent']}")
            chain.append(cur)
        return chain

    def _current(self) -> dict:
        cur = os.path.join(self.path, "CURRENT")
        if not os.path.exists(cur):
            return {"version": 0, "files": [], "txns": {}}
        with open(cur) as fh:
            vname = fh.read().strip()
        return self._resolve_manifest(self._read_manifest_raw(vname))

    def txn(self, app_id: str, version: int | None = None) -> int:
        """Last batch id that ``app_id`` recorded in the commit at
        ``version`` (default CURRENT); -1 if it never committed one."""
        return self._manifest_at(version).get("txns", {}).get(app_id, -1)

    def _commit(self, manifest: dict, txn: tuple[str, int] | None = None) -> None:
        """Write ``manifest`` as version ``manifest["version"]`` and swap
        CURRENT to it. ``txn=(app_id, batch_id)`` records, in this same
        commit, that ``app_id``'s batch ``batch_id`` is applied."""
        # Commit wall-clock (µs UTC) for AS-OF-timestamp time travel.
        # Clamped strictly above the previous commit so version order and
        # timestamp order can never disagree (a stepped-back clock would
        # otherwise make `read(as_of=...)` resolve a later version than a
        # re-read of the same instant did before).
        import time as _time

        prev = self._current()
        prev_us = prev.get("committed_at_us", 0)
        manifest.setdefault(
            "committed_at_us", max(_time.time_ns() // 1000, prev_us + 1)
        )
        # CHECK constraints ride every commit unless the committer sets
        # them explicitly (add_constraint / drop_constraint) — a MERGE or
        # OPTIMIZE must never silently shed the table's invariants.
        if prev.get("constraints"):
            manifest.setdefault("constraints", prev["constraints"])
        # stream progress rides every commit the same way; a commit that
        # applies a batch advances its own entry
        txns = dict(prev.get("txns", {}))
        if txn is not None:
            txns[txn[0]] = int(txn[1])
        manifest["txns"] = txns
        # incremental manifest when a parent chain exists and this version
        # is not a checkpoint slot: record file/stat DELTAS vs the parent
        # instead of re-listing the whole live set (class docstring /
        # MANIFEST_CHECKPOINT_EVERY). The payload written is what
        # _resolve_manifest reconstructs bit-for-bit.
        v = manifest["version"]
        payload = manifest
        if (
            prev.get("version") == v - 1
            and prev["version"] > 0
            and v % self.MANIFEST_CHECKPOINT_EVERY != 0
        ):
            old_files, new_files = set(prev["files"]), set(manifest["files"])
            old_stats = prev.get("stats", {})
            new_stats = manifest.get("stats", {})
            payload = {
                k: val for k, val in manifest.items() if k not in ("files", "stats")
            }
            payload.update(
                {
                    "format": "delta",
                    "parent": prev["version"],
                    "adds": sorted(new_files - old_files),
                    "removes": sorted(old_files - new_files),
                    "stats_add": {
                        f: s for f, s in new_stats.items() if old_stats.get(f) != s
                    },
                    "stats_del": sorted(
                        f for f in old_stats if f in new_files and f not in new_stats
                    ),
                }
            )
        os.makedirs(os.path.join(self.path, f"v{v}"), exist_ok=True)
        self._atomic_write(f"v{v}/MANIFEST.json", json.dumps(payload))
        self._atomic_write("CURRENT", f"v{v}")  # the commit point

    def _atomic_write(self, rel: str, text: str) -> None:
        """Write ``<path>/<rel>`` via a temp file + ``os.replace``: readers
        see the old bytes or the new ones, never a torn file."""
        dest = os.path.join(self.path, rel)
        tmp = os.path.join(os.path.dirname(dest), f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, dest)

    def _write_files(self, df: DataFrame, dest_rel: str) -> list[str]:
        """Write ``df`` under ``<path>/<dest_rel>`` and return table-relative
        file paths. Partition directories come from a DUPLICATED ``__pt``
        column, so partitionBy strips the duplicate and the real partition
        column stays in the data files — manifest reads never need Hive
        partition discovery or value restoration (one job, no per-partition
        loop, no string-typed round-trip)."""
        vdir = os.path.join(self.path, dest_rel)
        if self.partition_col:
            df = df.withColumn("__pt", F.col(self.partition_col))
            df.write.mode("overwrite").partitionBy("__pt").parquet(vdir)
        else:
            df.write.mode("overwrite").parquet(vdir)
        return self._parquet_files(dest_rel)

    def _walk(self, dir_rel: str):
        """``(table-relative path, absolute path)`` of every file under
        ``<path>/<dir_rel>`` — relative paths are what manifests name."""
        for root, _, fs in os.walk(os.path.join(self.path, dir_rel)):
            for f in fs:
                p = os.path.join(root, f)
                yield os.path.relpath(p, self.path).replace(os.sep, "/"), p

    def _parquet_files(self, dest_rel: str) -> list[str]:
        """Sorted ``files`` entries for the parquet files under ``dest_rel``."""
        return sorted(rel for rel, _ in self._walk(dest_rel) if rel.endswith(".parquet"))

    def _write_version_files(self, df: DataFrame, version: int, subdir: str = "") -> list[str]:
        dest = f"v{version}/{subdir}" if subdir else f"v{version}"
        return self._write_files(df, dest)

    # ---- per-file column statistics (manifest data skipping) --------------
    @staticmethod
    def _stat_encode(v: Any):
        """JSON-safe encoding preserving order: timestamps → µs ints
        (tagged "ts"), numbers → as-is ("num"), strings → as-is ("str")."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            epoch = _dt.datetime(1970, 1, 1)
            return int((v - epoch).total_seconds() * 1_000_000), "ts"
        if isinstance(v, bool):
            return int(v), "num"
        if isinstance(v, (int, float)):
            return v, "num"
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8"), "str"
            except UnicodeDecodeError:
                return None, None
        if isinstance(v, str):
            return v, "str"
        return None, None

    def _harvest_stats(self, files_rel: list[str]) -> dict:
        """Per-file min/max for the key columns, the partition column and
        every timestamp column, read from the parquet FOOTERS of freshly
        written files (no data scan — the footers were just written and are
        OS-cached). This is the manifest-level data-skipping index every
        table format carries (Delta stats / Iceberg manifests): a keyed
        point read or a time-range ``changes()`` prunes its file list
        BEFORE Spark plans the scan. Returns
        ``{relpath: {col: {"lo": v, "hi": v, "t": "ts"|"num"|"str"}}}``.
        Driver-side loop ∝ files WRITTEN THIS COMMIT (partition-granular,
        not table-sized); a cluster deployment would fold this into the
        write job the way store.compact harvests Z-bounds."""
        import pyarrow.parquet as papq

        want = set(self.key_cols)
        if self.partition_col:
            want.add(self.partition_col)
        out: dict = {}
        for rel in files_rel:
            p = os.path.join(self.path, rel)
            try:
                pf = papq.ParquetFile(p)
            except Exception:
                continue
            md = pf.metadata
            ts_cols = {
                f.name for f in pf.schema_arrow
                if str(f.type).startswith("timestamp")
            }
            cols: dict = {}
            banned: set = set()  # any row group without usable stats bans the column
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    col = row.column(ci)
                    name = col.path_in_schema
                    if (name not in want and name not in ts_cols) or name in banned:
                        continue
                    st = col.statistics
                    lo = hi = tl = th = None
                    if st is not None and st.has_min_max:
                        lo, tl = self._stat_encode(st.min)
                        hi, th = self._stat_encode(st.max)
                    if tl is None or th is None or tl != th:
                        banned.add(name)
                        cols.pop(name, None)
                        continue
                    prev = cols.get(name)
                    if prev is None:
                        cols[name] = {"lo": lo, "hi": hi, "t": tl}
                    else:
                        prev["lo"] = min(prev["lo"], lo)
                        prev["hi"] = max(prev["hi"], hi)
            if cols:
                out[rel] = cols
        return out

    @staticmethod
    def _coerce_pred_value(v: Any, t: str):
        import datetime as _dt

        if t == "ts":
            if isinstance(v, str):
                v = _dt.datetime.fromisoformat(v.replace("Z", "+00:00"))
            if isinstance(v, _dt.datetime):
                if v.tzinfo is not None:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
            return v  # already µs
        return v

    @classmethod
    def _file_maybe_matches(cls, fstats: dict, col: str, op: str, value: Any) -> bool:
        """Can a file with these footer bounds contain a row satisfying
        ``col op value``? Missing stats → True (pruning is best-effort,
        never filtering)."""
        s = (fstats or {}).get(col)
        if s is None:
            return True
        try:
            v = cls._coerce_pred_value(value, s["t"])
            lo, hi = s["lo"], s["hi"]
            if op == "=":
                return lo <= v <= hi
            if op == "<":
                return lo < v
            if op == "<=":
                return lo <= v
            if op == ">":
                return hi > v
            if op == ">=":
                return hi >= v
        except (TypeError, ValueError):
            return True
        return True  # unknown op: no pruning

    def _prune_files(self, man: dict, predicates) -> list[str]:
        stats = man.get("stats", {})
        return [
            f
            for f in man["files"]
            if all(
                self._file_maybe_matches(stats.get(f), c, op, v)
                for c, op, v in predicates
            )
        ]

    @staticmethod
    def _file_partition(relpath: str) -> str | None:
        for part in posixpath.dirname(relpath).split("/"):
            if part.startswith("__pt="):
                return part.split("=", 1)[1]
        return None

    # ---- public API -------------------------------------------------------
    def write(self, df: DataFrame, txn: tuple[str, int] | None = None) -> dict:
        """Full snapshot commit (version N+1 replaces the table); ``txn``
        as in :meth:`_commit`."""
        with self._mutate_lock():
            return self._write_locked(df, txn)

    def _write_locked(self, df: DataFrame, txn: tuple[str, int] | None = None) -> dict:
        man = self._current()
        self._enforce_constraints(df, man.get("constraints", {}))
        new_v = man["version"] + 1
        files = self._write_version_files(df, new_v)
        self._commit(
            {
                "version": new_v,
                "files": files,
                "schema": df.schema.jsonValue(),
                "stats": self._harvest_stats(files),
            },
            txn,
        )
        return {"version": new_v, "files": len(files)}

    def verify(self, version: int | None = None) -> dict:
        """Integrity audit of a version's manifest against the bytes on
        disk — the table-level counterpart of the training-shard export
        manifest (operators/text.py): run it before trusting a table
        handed across team/pipeline boundaries, after a restore from
        backup, or on a shallow clone whose source may have been vacuumed.

        Checks, driver-side over footers only (no data scan):
        - every manifest data file EXISTS and parses as parquet;
        - re-harvested footer stats agree with the manifest's per-file
          stats index (a silently modified/bit-rotted file whose values
          drifted outside the recorded min/max would poison pruned reads
          — exactly the corruption data skipping can't survive);
        - DV parquet files exist and their tombstone count equals the
          manifest's ``dv_rows`` (the broadcast-sizing contract).

        Returns ``{"ok": bool, "files_checked": n, "missing": [...],
        "unreadable": [...], "stats_mismatch": [...], "dv_ok": bool}``.
        Never raises on findings — callers gate on ``ok`` (a monitoring
        probe must report, not crash)."""
        import pyarrow.parquet as papq

        man = self._manifest_at(version)
        missing, unreadable, mismatch = [], [], []
        stats = man.get("stats", {})
        for rel in man["files"]:
            p = os.path.join(self.path, rel)
            if not os.path.exists(p):
                missing.append(rel)
                continue
            try:
                papq.ParquetFile(p)
            except Exception:
                unreadable.append(rel)
                continue
            fresh = self._harvest_stats([rel])
            if rel in stats and fresh.get(rel) != stats[rel]:
                mismatch.append(rel)
        dv_ok = True
        if man.get("dv"):
            for rel in man.get("dv_files", []):
                if not os.path.exists(os.path.join(self.path, rel)):
                    dv_ok = False
            if dv_ok:
                n = 0
                for rel in man.get("dv_files", []):
                    n += papq.ParquetFile(os.path.join(self.path, rel)).metadata.num_rows
                dv_ok = n == man.get("dv_rows", 0)
        ok = not missing and not unreadable and not mismatch and dv_ok
        return {
            "ok": ok,
            "version": man["version"],
            "files_checked": len(man["files"]),
            "missing": sorted(missing),
            "unreadable": sorted(unreadable),
            "stats_mismatch": sorted(mismatch),
            "dv_ok": dv_ok,
        }

    # ---- CHECK constraints ------------------------------------------------
    def _enforce_constraints(self, df: DataFrame, cons: dict | None = None) -> None:
        """Validate ``df`` against the table's CHECK constraints in ONE
        aggregation pass (the Deequ/expectations shape — one job however
        many constraints). SQL CHECK semantics: a row violates only when
        the expression evaluates to definite FALSE; NULL passes."""
        cons = self._current().get("constraints", {}) if cons is None else cons
        if not cons:
            return
        aggs = [
            F.sum(F.when(~F.expr(e), 1).otherwise(0)).cast("long").alias(n)
            for n, e in cons.items()
        ]
        row = df.agg(*aggs).collect()[0]  # bounded: one row, one long per constraint
        bad = {n: row[n] for n in cons if row[n]}
        if bad:
            detail = ", ".join(
                f"{n} ({cons[n]}): {c} row(s)" for n, c in sorted(bad.items())
            )
            raise ConstraintViolation(
                f"CHECK constraint violation at {self.path} — {detail}; "
                "no data was written"
            )

    def add_constraint(self, name: str, expr: str) -> dict:
        """Add a named CHECK constraint (Delta's ``ADD CONSTRAINT``):
        ``expr`` is a SQL boolean over the table's columns, enforced on
        every subsequent ``write``/``upsert`` input BEFORE any data lands.
        Existing data is validated first (one aggregation pass over
        CURRENT) — a constraint the table already violates is refused, so
        a green ``add_constraint`` certifies the whole table, past and
        future (the Delta semantics). Commits a metadata-only version;
        constraints persist in the manifest and survive every commit,
        clone included."""
        if not name or not name.isidentifier():
            raise ValueError(f"constraint name {name!r} must be an identifier")
        with self._mutate_lock():
            man = self._current()
            cons = dict(man.get("constraints", {}))
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists: {cons[name]}")
            if man["version"] > 0:
                self._enforce_constraints(self.read(), {name: expr})
            cons[name] = expr
            new_v = man["version"] + 1
            self._commit(
                {
                    "version": new_v,
                    "files": man["files"],
                    "schema": man.get("schema"),
                    "stats": man.get("stats", {}),
                    "constraints": cons,
                    **self._dv_carry(man),
                }
            )
            return {"version": new_v, "constraints": sorted(cons)}

    def drop_constraint(self, name: str) -> dict:
        """Remove a named CHECK constraint (metadata-only commit)."""
        with self._mutate_lock():
            man = self._current()
            cons = dict(man.get("constraints", {}))
            if name not in cons:
                raise ValueError(f"no constraint named {name!r}")
            del cons[name]
            new_v = man["version"] + 1
            self._commit(
                {
                    "version": new_v,
                    "files": man["files"],
                    "schema": man.get("schema"),
                    "stats": man.get("stats", {}),
                    "constraints": cons,
                    **self._dv_carry(man),
                }
            )
            return {"version": new_v, "constraints": sorted(cons)}

    def clone_to(self, dest_path: str) -> "VersionedTable":
        """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``): a new
        independent table whose v1 manifest references this table's CURRENT
        data files by absolute path — zero data copied, metadata only.
        Writes to either table never touch the other: the clone's upserts
        copy-on-write only the partitions they change into clone-local
        version dirs (untouched partitions stay absolute references), and
        the source keeps evolving underneath without the clone seeing it —
        the clone is pinned to the source SNAPSHOT it was taken from.

        A source deletion vector is carried by REWRITING its keys: source
        DV entries are source-relative paths, but the clone's scans key
        those files by absolute path (``_file_rel_expr``), so the clone
        materializes a remapped DV under its own root — without this,
        soft-deleted rows would silently resurrect in the clone.

        Caveat (same as Delta's): ``vacuum`` on the SOURCE can remove
        files the clone still references once the source's kept-version
        window slides past the cloned snapshot. Clones are for cheap
        experiments/branching, not archival independence; ``write`` a
        full snapshot to sever the dependency. The clone's own vacuum is
        safe — its liveness sweep only ever deletes under its own root.
        The manifest records ``cloned_from`` provenance for ``history()``."""
        man = self._current()
        dst = VersionedTable(
            self.spark, dest_path, self.key_cols, self.partition_col,
            self.lock_stale_after,
        )
        if os.path.abspath(dest_path) == os.path.abspath(self.path):
            raise ValueError("clone destination is the source table itself")
        with dst._mutate_lock():
            if dst._current()["version"] != 0:
                raise ValueError(f"clone destination {dest_path} is not an empty table")
            if man["version"] == 0:
                return dst  # cloning an empty table: an empty table
            src_abs = os.path.abspath(self.path)
            manifest = {
                "version": 1,
                "files": [os.path.join(src_abs, f) for f in man["files"]],
                "schema": man.get("schema"),
                "stats": {
                    os.path.join(src_abs, f): s
                    for f, s in man.get("stats", {}).items()
                },
                "cloned_from": {"path": src_abs, "version": man["version"]},
            }
            if man.get("constraints"):
                manifest["constraints"] = man["constraints"]
            if man.get("dv"):
                dv = self.spark.read.parquet(os.path.join(self.path, man["dv"]))
                remapped = dv.select(
                    F.concat(F.lit(src_abs + "/"), F.col("file")).alias("file"), "ri"
                )
                dv_rel = "v1/dv"
                remapped.write.mode("overwrite").parquet(
                    os.path.join(dest_path, dv_rel)
                )
                manifest["dv"] = dv_rel
                manifest["dv_files"] = dst._parquet_files(dv_rel)
                manifest["dv_rows"] = man.get("dv_rows", 0)
            dst._commit(manifest)
        return dst

    def history(self) -> list[dict]:
        """Commit log of the SURVIVING versions (vacuum prunes old ones),
        oldest first: version, commit wall-clock (ISO-8601 UTC µs), live
        file and tombstone-set presence — the DESCRIBE HISTORY surface a
        table format owes its operators. Reads only manifests, never data."""
        from datetime import datetime, timezone

        out = []
        for v in self.versions():
            man = self._resolve_manifest(self._read_manifest_raw(f"v{v}"))
            ts = man.get("committed_at_us")
            out.append(
                {
                    "version": man["version"],
                    "committed_at": (
                        datetime.fromtimestamp(ts / 1e6, tz=timezone.utc).isoformat()
                        if ts is not None
                        else None
                    ),
                    "n_files": len(man.get("files", [])),
                    "has_dv": bool(man.get("dv")),
                }
            )
        return out

    def version_as_of(self, ts: Any) -> int:
        """Latest surviving version committed at-or-before ``ts`` (ISO-8601
        string or datetime) — Delta's timestamp time travel, resolved from
        commit timestamps the manifests carry. Raises if ``ts`` predates
        every surviving commit (vacuum may have pruned the one that was
        live then) or if no surviving manifest carries a timestamp (tables
        written before this feature)."""
        from datetime import datetime, timezone

        if isinstance(ts, str):
            ts = datetime.fromisoformat(ts.replace("Z", "+00:00"))
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        want_us = int(ts.timestamp() * 1_000_000)
        best = None
        stamped = 0
        for h in self.history():
            if h["committed_at"] is None:
                continue
            stamped += 1
            at_us = int(
                datetime.fromisoformat(h["committed_at"]).timestamp() * 1_000_000
            )
            if at_us <= want_us and (best is None or h["version"] > best):
                best = h["version"]
        if stamped == 0:
            raise ValueError(f"no commit timestamps recorded at {self.path}")
        if best is None:
            raise ValueError(
                f"no surviving version at or before {ts.isoformat()} at {self.path}"
            )
        return best

    def read(self, version: int | None = None, as_of: Any = None) -> DataFrame:
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_as_of(as_of)
        man = self._manifest_at(version)
        files = [os.path.join(self.path, f) for f in man["files"]]
        if not files:
            raise ValueError(f"empty table at {self.path} (no committed version)")
        if man.get("schema"):
            # the manifest carries the table schema (recorded at commit, the
            # table-format design): schema evolution needs no mergeSchema
            # footer sweep — carried files missing newer columns read as
            # nulls under the explicit schema, and one manifest read prices
            # the whole scan regardless of file count
            from pyspark.sql import types as T

            st = T.StructType.fromJson(man["schema"])
            return self._with_dv_filter(self.spark.read.schema(st).parquet(*files), man)
        return self._with_dv_filter(self.spark.read.parquet(*files), man)

    def _manifest_at(self, version: int | None) -> dict:
        if version is None:
            return self._current()
        mpath = os.path.join(self.path, f"v{version}", "MANIFEST.json")
        if not os.path.exists(mpath):
            raise ValueError(f"no version {version} at {self.path}")
        return self._resolve_manifest(self._read_manifest_raw(f"v{version}"))

    def read_where(self, predicates: Sequence[tuple], version: int | None = None) -> DataFrame:
        """Predicate-pruned read: ``predicates`` is a CONJUNCTIVE list of
        ``(col, op, value)`` with op ∈ {=, <, <=, >, >=}. The manifest's
        per-file min/max stats drop files whose bounds cannot satisfy every
        conjunct BEFORE Spark ever sees the file list — a keyed point read
        on a many-file version opens O(matching files), not O(files) — and
        the same predicates are then applied as real row filters, so the
        result is exactly ``read(version).where(...)`` regardless of how
        much (or little) the stats pruned. Files without recorded stats
        (pre-stats manifests) are conservatively kept. Time travel works
        unchanged: pass ``version``."""
        man = self._manifest_at(version)
        if not man["files"]:
            raise ValueError(f"empty table at {self.path} (no committed version)")
        keep = self._prune_files(man, predicates)
        df = self._read_manifest_files(man, keep)
        for c, op, v in predicates:
            col = F.col(c)
            lit = F.lit(v)
            df = df.where(
                {"=": col == lit, "<": col < lit, "<=": col <= lit,
                 ">": col > lit, ">=": col >= lit}[op]
            )
        return df

    def _read_manifest_files(self, man: dict, files_rel: list[str]) -> DataFrame:
        """Read a SUBSET of a manifest's files under the manifest schema —
        the partition-pruned scan for rewrite stages: the manifest maps
        partitions to files, so an upsert/delete/optimize that rewrites K
        partitions opens exactly K partitions' files instead of scanning
        the whole table and filtering (at 100 TB the difference is the
        whole job). Deletion vectors apply here too, so every consumer —
        read, CDF diff, upsert/optimize rewrite scans — sees the same
        post-delete rows and a rewrite can never resurrect a DV-deleted
        row."""
        from pyspark.sql import types as T

        st = T.StructType.fromJson(man["schema"]) if man.get("schema") else None
        if not files_rel:
            return self.spark.createDataFrame([], st) if st else self.spark.createDataFrame(
                [], "dummy string"
            )
        files = [os.path.join(self.path, f) for f in files_rel]
        df = (
            self.spark.read.schema(st).parquet(*files)
            if st is not None
            else self.spark.read.parquet(*files)
        )
        return self._with_dv_filter(df, man)

    # ---- deletion vectors (merge-on-read deletes) --------------------------

    @staticmethod
    def _dv_carry(man: dict) -> dict:
        """Manifest fragment carrying the previous version's deletion
        vector forward. Entries naming files absent from the new manifest
        are inert (the read-side anti-join simply never matches them), so
        partial rewrites carry the whole DV verbatim — correctness never
        depends on trimming it, only broadcast size does, and OPTIMIZE
        re-materializes files which retires their tombstones."""
        if not man.get("dv"):
            return {}
        return {
            "dv": man["dv"],
            "dv_files": man.get("dv_files", []),
            "dv_rows": man.get("dv_rows", 0),
        }

    def _file_rel_expr(self):
        """Canonical manifest key of the scanned file, from the parquet
        scan's ``_metadata.file_path`` (a ``file:`` URI over this local
        store): table-relative for files under this table's root, plain
        absolute path for files outside it (shallow-clone references) —
        exactly the forms ``files``/DV entries use."""
        prefix = "file:" + os.path.abspath(self.path) + "/"
        return F.regexp_replace(
            F.replace(F.col("_metadata.file_path"), F.lit(prefix), F.lit("")),
            "^file:", "",
        )

    #: DVs at or under this many tombstones broadcast in the read-side
    #: anti-join; above it (a mass delete that really belonged in
    #: `delete_where`) the join is left to the planner rather than forcing
    #: a driver-sized broadcast. The manifest carries the count (`dv_rows`)
    #: so the decision never costs a scan.
    DV_BROADCAST_MAX_ROWS = 5_000_000

    def _with_dv_filter(self, scan: DataFrame, man: dict) -> DataFrame:
        """Apply the manifest's deletion vector, if any: anti-join the scan
        on (table-relative file path, parquet row index). The DV set is the
        deleted-row count in size — broadcast while that stays under
        DV_BROADCAST_MAX_ROWS, a shuffle anti-join beyond. Must run on
        the raw scan DataFrame (``_metadata`` is only resolvable there)."""
        if not man.get("dv"):
            return scan
        dv = self.spark.read.parquet(os.path.join(self.path, man["dv"]))
        if man.get("dv_rows", 0) <= self.DV_BROADCAST_MAX_ROWS:
            dv = F.broadcast(dv)
        cols = scan.columns
        keyed = scan.select(
            "*",
            self._file_rel_expr().alias("__dv_f"),
            F.col("_metadata.row_index").alias("__dv_ri"),
        )
        return (
            keyed.join(
                dv,
                (keyed["__dv_f"] == dv["file"]) & (keyed["__dv_ri"] == dv["ri"]),
                "left_anti",
            ).select(*cols)
        )

    def delete_where_dv(self, condition: Any) -> dict:
        """Merge-on-read delete: rows matching ``condition`` are recorded in
        a DELETION VECTOR — (file, row_index) tombstones the read path
        anti-joins away — instead of rewriting their files. On a 100 TB
        table, deleting three rows from a 1 GB file costs a few KB of
        tombstones here versus a 1 GB rewrite in `delete_where`; the trade
        is a broadcast anti-join on every read until OPTIMIZE or a
        partition rewrite re-materializes the files (both of which read
        through the DV filter, so compaction naturally erases the debt for
        the files it touches). Data files are untouched; old versions stay
        time-travelable; `changes()` reads through DVs on both sides so the
        CDF emits the deletes. Delta Lake ships the same mechanism under
        the same name (public docs); the parquet row-index comes from
        Spark's ``_metadata.row_index``."""
        with self._mutate_lock():
            return self._delete_dv_locked(condition)

    def _delete_dv_locked(self, condition: Any) -> dict:
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self._current()
        if man["version"] == 0:
            raise ValueError("empty table")
        from pyspark.sql import types as T

        st = T.StructType.fromJson(man["schema"]) if man.get("schema") else None
        files = [os.path.join(self.path, f) for f in man["files"]]
        scan = (
            self.spark.read.schema(st).parquet(*files)
            if st is not None
            else self.spark.read.parquet(*files)
        )
        keyed = scan.select(
            "*",
            self._file_rel_expr().alias("file"),
            F.col("_metadata.row_index").alias("ri"),
        )
        matched = keyed.where(cond).select("file", "ri")
        if man.get("dv"):
            old = self.spark.read.parquet(os.path.join(self.path, man["dv"]))
            # rows already dead must not be re-counted as newly deleted
            matched = matched.join(F.broadcast(old), ["file", "ri"], "left_anti")
            merged = old.unionByName(matched).distinct()
        else:
            merged = matched.distinct()
        n_new = matched.count()
        dv_rows = man.get("dv_rows", 0) + n_new
        new_v = man["version"] + 1
        dv_rel = f"v{new_v}/dv"
        merged.write.mode("overwrite").parquet(os.path.join(self.path, dv_rel))
        self._commit(
            {
                "version": new_v,
                "files": man["files"],
                "schema": man.get("schema"),
                "stats": man.get("stats", {}),
                "dv": dv_rel,
                "dv_files": self._parquet_files(dv_rel),
                "dv_rows": dv_rows,
            }
        )
        return {"version": new_v, "rows_deleted": n_new, "rewritten_files": 0}

    def upsert(
        self, updates: DataFrame, max_retries: int = 3,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """MERGE with OPTIMISTIC concurrency (Delta-style): the data write
        — the expensive part — runs against a lock-free snapshot of
        CURRENT into a unique ``_staged/<token>/`` directory; the lock is
        held only for the commit critical section (re-read CURRENT,
        conflict check, manifest swap — no Spark job inside). Two upserts
        touching DISJOINT partition sets therefore overlap their data
        writes fully: the second committer sees CURRENT moved, checks that
        the partitions that changed since its snapshot don't intersect its
        own affected set, and REBASES — carries the new CURRENT's files
        for untouched partitions and commits on top. An OVERLAPPING pair
        conflicts: the loser discards its staged files and retries the
        whole merge against the new snapshot (bounded by ``max_retries``).

        Conflict granularity is the partition set (the same granularity
        Delta's WriteSerializable uses): concurrent upserts must not carry
        the same KEY — route CDC shards to writers by key/partition, the
        standard contract. A non-partitioned table always conflicts (every
        upsert rewrites everything), degrading to serialized-with-retry.

        Crash-safety is unchanged: nothing becomes visible before the
        CURRENT swap; abandoned staged directories age out via vacuum's
        staged-orphan sweep. ``txn`` as in :meth:`_commit`."""
        for _ in range(1 + max_retries):
            man0 = self._current()
            # constraints gate the merge INPUT before anything stages;
            # existing rows were validated when each constraint was added,
            # so input-only validation keeps the whole table certified.
            # Validated per-attempt against THIS snapshot's constraint set:
            # a conflict retry (including the constraints-changed conflict
            # in _upsert_conflicts) re-validates against whatever
            # constraints landed meanwhile.
            self._enforce_constraints(updates, man0.get("constraints", {}))
            if man0["version"] == 0:
                with self._mutate_lock():
                    if self._current()["version"] == 0:
                        return self._write_locked(updates, txn)
                continue  # someone initialized the table meanwhile: re-merge
            plan = self._stage_upsert(updates, man0)
            try:
                with self._mutate_lock():
                    man1 = self._current()
                    if man1["version"] == man0["version"] or not self._upsert_conflicts(
                        man0, man1, plan
                    ):
                        return self._commit_staged(plan, man1, txn)
            except RuntimeError:
                # lock held by a live writer: don't leave this attempt's
                # staged files for vacuum to age out
                shutil.rmtree(
                    os.path.join(self.path, "_staged", plan["token"]), ignore_errors=True
                )
                raise
            # conflict: drop this attempt's staged files, retry on new snapshot
            shutil.rmtree(
                os.path.join(self.path, "_staged", plan["token"]), ignore_errors=True
            )
        raise RuntimeError(
            f"upsert conflicted {max_retries + 1} times at {self.path} — "
            "concurrent writers keep touching the same partitions; shard "
            "updates by partition or serialize these writers"
        )

    def _stage_upsert(self, updates: DataFrame, man: dict) -> dict:
        """Merge ``updates`` against snapshot ``man`` and write the result
        for the affected partitions under ``_staged/<token>/`` — no lock
        held; everything here is against the frozen snapshot."""
        token = uuid.uuid4().hex
        dest = f"_staged/{token}"
        target = self._read_manifest_files(man, man["files"])
        if self.partition_col:
            # affected partitions = where updates land ∪ where their keys
            # CURRENTLY live — an update may move a key across partitions,
            # and the old copy must be rewritten away, not carried
            new_parts = updates.select(self.partition_col).distinct()
            old_parts = target.join(
                updates.select(*self.key_cols), self.key_cols, "left_semi"
            ).select(self.partition_col).distinct()
            affected = [r[0] for r in new_parts.unionByName(old_parts).distinct().collect()]
            affected_strs = {str(a) for a in affected}
            # rewrite scan opens ONLY the affected partitions' files — the
            # manifest is the partition index, no full-table filter scan
            tgt_part = self._read_manifest_files(
                man,
                [f for f in man["files"] if self._file_partition(f) in affected_strs],
            )
            # allowMissingColumns = schema evolution: updates may ADD columns
            # (old rows read as null via the manifest schema) or omit target
            # columns (replaced rows get null — full-row MERGE semantics)
            merged = tgt_part.join(
                updates.select(*self.key_cols), self.key_cols, "left_anti"
            ).unionByName(updates, allowMissingColumns=True)
        else:
            affected_strs = None  # whole table: conflicts with any commit
            merged = target.join(
                updates.select(*self.key_cols), self.key_cols, "left_anti"
            ).unionByName(updates, allowMissingColumns=True)
        new_files = self._write_files(merged, dest)
        return {
            "token": token,
            "files": new_files,
            "affected": affected_strs,
            "schema": merged.schema.jsonValue(),
            "base_version": man["version"],
            "base_schema": man.get("schema"),
            "stats": self._harvest_stats(new_files),
        }

    @classmethod
    def _partition_file_map(cls, man: dict) -> dict:
        out: dict = {}
        for f in man["files"]:
            out.setdefault(cls._file_partition(f), []).append(f)
        return {k: sorted(v) for k, v in out.items()}

    def _upsert_conflicts(self, man0: dict, man1: dict, plan: dict) -> bool:
        """True if commits between snapshot ``man0`` and current ``man1``
        touched anything this staged upsert depends on: its affected
        partitions, any non-partitioned file, or the table schema (the
        merge used the snapshot's schema)."""
        if plan["affected"] is None:
            return True
        if man1.get("schema") != plan["base_schema"]:
            return True
        # a DV change (e.g. a concurrent delete_where_dv) moves no data
        # files, so the partition map below can't see it — but the staged
        # rewrite anti-joined only man0's DV, and the carried man1 DV
        # entries point at files this commit drops (inert on read), so
        # rebasing would silently resurrect the concurrently-tombstoned
        # rows. Any DV delta therefore conflicts.
        if man0.get("dv_files", []) != man1.get("dv_files", []):
            return True
        # constraint change: the merge input was validated against man0's
        # constraint set; committing under a different set would carry a
        # constraint the input was never checked against, breaking the
        # "green add_constraint certifies the whole table" invariant. The
        # retry path re-validates against the new snapshot's constraints.
        if man0.get("constraints", {}) != man1.get("constraints", {}):
            return True
        a, b = self._partition_file_map(man0), self._partition_file_map(man1)
        changed = {p for p in set(a) | set(b) if a.get(p) != b.get(p)}
        if None in changed:
            return True
        return not changed.isdisjoint(plan["affected"])

    def _commit_staged(
        self, plan: dict, man1: dict, txn: tuple[str, int] | None = None
    ) -> dict:
        """Commit a staged upsert on top of ``man1`` (== the snapshot, or a
        rebase target whose intervening commits were verified disjoint).
        Carried files keep their recorded stats."""
        new_v = man1["version"] + 1
        if plan["affected"] is not None:
            keep_files = [
                f for f in man1["files"] if self._file_partition(f) not in plan["affected"]
            ]
        else:
            keep_files = []
        old_stats = man1.get("stats", {})
        stats = {f: old_stats[f] for f in keep_files if f in old_stats}
        stats.update(plan["stats"])
        self._commit(
            {
                "version": new_v,
                "files": sorted(keep_files) + plan["files"],
                "schema": plan["schema"],
                "stats": stats,
                **self._dv_carry(man1),
            },
            txn,
        )
        return {
            "version": new_v,
            "rewritten_files": len(plan["files"]),
            "carried_files": len(keep_files),
            "rebased": man1["version"] != plan["base_version"],
        }

    def delete_where(self, condition: Any) -> dict:
        """Anti-filter commit: rows matching ``condition`` (a Column or SQL
        string) disappear from the new version — the takedown/GDPR path.
        Full rewrite of matching partitions (or the table without a
        partition column); old versions remain time-travelable until
        vacuum."""
        with self._mutate_lock():
            return self._delete_locked(condition)

    def _delete_locked(self, condition: Any) -> dict:
        cond = F.expr(condition) if isinstance(condition, str) else condition
        man = self._current()
        if man["version"] == 0:
            raise ValueError("empty table")
        target = self.read()
        new_v = man["version"] + 1
        if self.partition_col:
            affected = [
                r[0]
                for r in target.where(cond).select(self.partition_col).distinct().collect()
            ]
            affected_strs = {str(a) for a in affected}
            keep_files = [
                f for f in man["files"] if self._file_partition(f) not in affected_strs
            ]
            # the rewrite re-scan is partition-pruned via the manifest (the
            # affected-partition DISCOVERY above is a full scan — condition
            # is arbitrary — but runs no rewrite work)
            kept_rows = self._read_manifest_files(
                man,
                [f for f in man["files"] if self._file_partition(f) in affected_strs],
            ).where(~cond)
            new_files = self._write_version_files(kept_rows, new_v, subdir="delta")
        else:
            keep_files = []
            new_files = self._write_version_files(target.where(~cond), new_v)
        old_stats = man.get("stats", {})
        stats = {f: old_stats[f] for f in keep_files if f in old_stats}
        stats.update(self._harvest_stats(new_files))
        self._commit(
            {
                "version": new_v,
                "files": sorted(keep_files) + new_files,
                "schema": target.schema.jsonValue(),
                "stats": stats,
                **self._dv_carry(man),
            }
        )
        return {
            "version": new_v,
            "rewritten_files": len(new_files),
            "carried_files": len(keep_files),
        }

    def changes(
        self,
        from_version: int,
        to_version: int | None = None,
        predicates: Sequence[tuple] | None = None,
    ) -> DataFrame:
        """Change data feed: row-level diff between two committed versions,
        in the Delta-CDF shape — every output row is a row of the table
        (latest schema) plus ``_change_type`` ∈ ``insert`` /
        ``update_preimage`` / ``update_postimage`` / ``delete``. Computed
        as one key-equi full-outer join between the two snapshots with a
        null-safe struct comparison — no change log is stored, so this
        works between ANY two versions that are still time-travelable
        (after vacuum the versions are gone and so is their diff; a 100 TB
        deployment sizes ``keep_versions`` to its CDC consumers' lag).
        Columns added between the versions read as null on the old side
        (the manifest-schema evolution contract), so a value appearing in
        a new column surfaces as an update.

        ``predicates`` (the ``read_where`` conjunct form) scopes the diff:
        both snapshots are stats-pruned AND row-filtered, so a keyed or
        time-ranged CDC question opens only the files whose bounds can
        hold matching rows on either side. Semantics caveat, by design: the
        diff is then between the FILTERED snapshots — a row that left the
        predicate's range between the versions appears as a delete (its
        new image no longer matches), the mirror as an insert."""
        if predicates:
            new = self.read_where(predicates, version=to_version)
            old = self.read_where(predicates, version=from_version)
        else:
            new = self.read(version=to_version) if to_version is not None else self.read()
            old = self.read(version=from_version)
        cols = new.columns
        for c in cols:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(dict(new.dtypes)[c]))
        old = old.select(*cols)
        keys = self.key_cols
        vals = [c for c in cols if c not in keys]
        o = old.select(*keys, F.struct(*vals).alias("_o")) if vals else old.select(
            *keys, F.lit(1).alias("_o")
        )
        n = new.select(*keys, F.struct(*vals).alias("_n")) if vals else new.select(
            *keys, F.lit(1).alias("_n")
        )
        j = o.join(n, keys, "full_outer")
        ins = j.where(F.col("_o").isNull() & F.col("_n").isNotNull()).select(
            *keys, "_n"
        ).withColumn("_change_type", F.lit("insert"))
        del_ = j.where(F.col("_n").isNull() & F.col("_o").isNotNull()).select(
            *keys, F.col("_o").alias("_n")
        ).withColumn("_change_type", F.lit("delete"))
        upd = j.where(
            F.col("_o").isNotNull()
            & F.col("_n").isNotNull()
            & ~F.col("_o").eqNullSafe(F.col("_n"))
        )
        pre = upd.select(*keys, F.col("_o").alias("_n")).withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = upd.select(*keys, "_n").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        out = ins.unionByName(del_).unionByName(pre).unionByName(post)
        if vals:
            return out.select(
                *keys, *[F.col("_n")[c].alias(c) for c in vals], "_change_type"
            )
        return out.select(*keys, "_change_type")

    def optimize(
        self, target_file_bytes: int = 128 << 20, min_files: int = 2,
        zorder_cols: Sequence[str] | None = None,
    ) -> dict:
        """OPTIMIZE: bin-packing small-file rewrite as a new version — no
        data change, same single-writer lock + MANIFEST/CURRENT protocol as
        upsert. Long CDC runs (``start_stream_upsert``) accumulate one file
        per partition per commit; this rewrites every partition holding at
        least ``min_files`` files into ``max(1, ceil(bytes/target))`` files
        and carries the rest by reference. Prior versions stay
        time-travelable (their manifests still reference the small files
        until vacuum), and a reader mid-scan of the old CURRENT is
        unaffected — the rewrite lands in a fresh ``v<N>/`` directory.

        ``zorder_cols`` (Delta's OPTIMIZE ZORDER BY): rewrite EVERY
        partition (clustering is the point, so ``min_files`` stops
        gating), laying rows out along the interleaved Morton code of the
        given numeric columns. Composes directly with the manifest stats:
        clustered files carry TIGHT per-file min/max on every clustered
        column, so a post-optimize ``read_where`` prunes to O(matching)
        files where the pre-optimize layout (each file spanning the full
        key range) pruned nothing.

        At 100 TB this is the table-maintenance job every format ships
        (Delta OPTIMIZE / Iceberg rewrite_data_files): read cost scales
        with file count via footer+task overhead, so compaction is what
        keeps a frequently-upserted table scannable."""
        with self._mutate_lock():
            return self._optimize_locked(target_file_bytes, min_files, zorder_cols)

    def _optimize_locked(self, target_file_bytes: int, min_files: int,
                         zorder_cols: Sequence[str] | None = None) -> dict:
        import math
        from collections import defaultdict

        man = self._current()
        if man["version"] == 0:
            return {"version": 0, "rewritten_partitions": 0, "noop": True}
        by_part: dict[str | None, list[str]] = defaultdict(list)
        for f in man["files"]:
            by_part[self._file_partition(f)].append(f)
        if zorder_cols:
            doomed = set(by_part)  # re-clustering rewrites everything
        else:
            doomed = {p for p, fs in by_part.items() if len(fs) >= min_files}
        if not doomed:
            return {
                "version": man["version"],
                "rewritten_partitions": 0,
                "carried_files": len(man["files"]),
                "noop": True,
            }
        bins = {
            p: max(
                1,
                math.ceil(
                    sum(os.path.getsize(os.path.join(self.path, f)) for f in by_part[p])
                    / target_file_bytes
                ),
            )
            for p in doomed
        }
        new_v = man["version"] + 1
        if self.partition_col:
            # compaction reads ONLY the partitions it repacks (manifest-
            # pruned file list), never the carried ones
            rows = self._read_manifest_files(
                man, [f for f in man["files"] if self._file_partition(f) in doomed]
            )
            keep_files = [f for f in man["files"] if self._file_partition(f) not in doomed]
            if zorder_cols:
                from arrow_parquet_logs_spark.operators.layout import zorder_by

                packed = zorder_by(
                    rows, list(zorder_cols), target_files=sum(bins.values()),
                    partition_cols=[self.partition_col],
                )
            else:
                # per-partition output file count = bins[p]: hash the key
                # into bins[p] buckets and repartition on (partition,
                # bucket) — each task then writes at most one file per
                # partition directory
                bmap = F.create_map(
                    *[x for p, b in bins.items() for x in (F.lit(str(p)), F.lit(b))]
                )
                bucket = F.pmod(
                    F.abs(F.hash(*self.key_cols)),
                    F.element_at(bmap, F.col(self.partition_col).cast("string")),
                )
                packed = rows.repartition(
                    sum(bins.values()), F.col(self.partition_col), bucket
                )
            new_files = self._write_version_files(packed, new_v, subdir="compact")
        else:
            keep_files = []
            if zorder_cols:
                from arrow_parquet_logs_spark.operators.layout import zorder_by

                packed = zorder_by(self.read(), list(zorder_cols), target_files=bins[None])
            else:
                packed = self.read().repartition(bins[None])
            new_files = self._write_version_files(packed, new_v)
        old_stats = man.get("stats", {})
        stats = {f: old_stats[f] for f in keep_files if f in old_stats}
        stats.update(self._harvest_stats(new_files))
        self._commit(
            {
                "version": new_v,
                "files": sorted(keep_files) + new_files,
                "schema": man.get("schema") or self.read().schema.jsonValue(),
                "stats": stats,
                **self._dv_carry(man),
            }
        )
        return {
            "version": new_v,
            "rewritten_partitions": len(doomed),
            "rewritten_files": len(new_files),
            "carried_files": len(keep_files),
        }

    def start_stream_upsert(self, updates_stream: DataFrame, checkpoint: str,
                            available_now: bool = True,
                            optimize_every: int | None = None,
                            on_commit=None):
        """CDC ingestion: apply each micro-batch of ``updates_stream`` as a
        MERGE commit (foreachBatch — the standard Structured Streaming →
        table-format upsert wiring). Batches commit in order, each a full
        versioned MERGE, so the table is always in a consistent merged
        state and restarts resume from the checkpoint. Duplicate keys
        WITHIN a batch are collapsed keep-latest by the caller's upstream
        dedup (or use `dedup_log_stream`-style dropDuplicates first).
        ``optimize_every=K`` runs the bin-packing ``optimize()`` after every
        K-th commit so a long CDC run doesn't degrade into one file per
        partition per commit — the standard auto-compaction knob.
        ``on_commit(version)`` (optional) fires after each MERGE commit —
        the hook downstream maintainers use (e.g. applying that commit's
        CDF delta to a materialized rollup, operators/mv.py) without a
        second stream over the table."""
        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            r = self.upsert(batch_df)
            if on_commit is not None:
                on_commit(r["version"])
            if optimize_every and r["version"] % optimize_every == 0:
                self.optimize()

        writer = updates_stream.writeStream.foreachBatch(_apply).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def restore(self, version: int) -> dict:
        """RESTORE: roll the table back to a previous version as a NEW
        commit — the escape hatch after a bad CDC batch or botched delete.
        No data moves: the new manifest simply references the target
        version's files (they are still on disk while time-travelable),
        so restore is O(manifest) regardless of table size, the history
        after the bad commit stays auditable, and vacuum's file-liveness
        rule keeps every referenced file alive."""
        with self._mutate_lock():
            target = self._manifest_at(version)
            cur = self._current()
            new_v = cur["version"] + 1
            self._commit(
                {
                    "version": new_v,
                    "files": target["files"],
                    "schema": target.get("schema"),
                    "stats": target.get("stats", {}),
                    **self._dv_carry(target),
                }
            )
            return {
                "version": new_v,
                "restored_from": version,
                "files": len(target["files"]),
            }

    def versions(self) -> list[int]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for d in os.listdir(self.path):
            if d.startswith("v") and os.path.exists(os.path.join(self.path, d, "MANIFEST.json")):
                out.append(int(d[1:]))
        return sorted(out)

    def vacuum(self, keep_versions: int = 2) -> dict:
        """Remove version directories outside the CURRENT-anchored kept
        window — but a file referenced by any SURVIVING manifest is live
        regardless of which directory it sits in (carried references), so
        liveness is per file; a directory goes only when nothing in it is
        referenced anymore. Keeping fewer than one version (CURRENT's own)
        is an error rather than a foot-gun."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        with self._mutate_lock():
            return self._vacuum_locked(keep_versions)

    def _vacuum_locked(self, keep_versions: int) -> dict:
        current = self._current()["version"]
        doomed = [v for v in self.versions() if v <= current - keep_versions]
        survivors = [v for v in self.versions() if v not in doomed]
        # SURVIVING incremental manifests may chain through doomed parents:
        # materialize each survivor to its full form FIRST (atomic rewrite,
        # bounded by keep_versions) so no resolution ever needs a vacuumed
        # manifest. Idempotent — already-full manifests are left alone.
        for v in survivors:
            raw = self._read_manifest_raw(f"v{v}")
            if raw.get("format") == "delta":
                full = self._resolve_manifest(raw)
                self._atomic_write(f"v{v}/MANIFEST.json", json.dumps(full))
        live: set[str] = set()
        for v in survivors:
            m = self._read_manifest_raw(f"v{v}")
            live.update(m["files"])
            # deletion-vector parquet files are as load-bearing as data
            # files: a surviving manifest that references a carried DV dir
            # must keep those tombstones alive or deleted rows resurrect.
            live.update(m.get("dv_files", []))
        removed = []
        for v in doomed:
            vdir = os.path.join(self.path, f"v{v}")
            prefix = f"v{v}/"
            if any(f.startswith(prefix) for f in live):
                # some files still carried by newer manifests: drop only the
                # manifest (version stops being time-travelable) and dead files
                for rel, p in self._walk(f"v{v}"):
                    if rel not in live and rel != f"v{v}/MANIFEST.json":
                        os.remove(p)
                os.remove(os.path.join(vdir, "MANIFEST.json"))
            else:
                shutil.rmtree(vdir, ignore_errors=True)
            if not os.path.exists(os.path.join(vdir, "MANIFEST.json")):
                removed.append(v)
        # orphan sweep: a directory whose manifest was vacuumed earlier is
        # no longer a "version", but its files may have stayed alive via
        # carried references — once those references drop, nothing would
        # ever revisit the directory and the files would leak forever.
        # Any file in a manifest-less v* dir that no surviving manifest
        # references is dead by definition.
        orphan_files_removed = 0
        for d in os.listdir(self.path):
            vdir = os.path.join(self.path, d)
            if not (d.startswith("v") and d[1:].isdigit() and os.path.isdir(vdir)):
                continue
            if os.path.exists(os.path.join(vdir, "MANIFEST.json")):
                continue
            alive_here = False
            for rel, p in self._walk(d):
                if rel in live:
                    alive_here = True
                elif rel.endswith(".parquet"):
                    os.remove(p)
                    orphan_files_removed += 1
            if not alive_here:
                shutil.rmtree(vdir, ignore_errors=True)
        # staged-orphan sweep: optimistic upserts stage under _staged/<token>
        # BEFORE committing; a conflict-loser or crashed writer leaves its
        # directory behind. A staged file referenced by a surviving manifest
        # is live (committed stage); an unreferenced one is swept only after
        # aging past lock_stale_after — an IN-FLIGHT writer (staging without
        # a lock, by design) is younger than that by the same argument that
        # bounds lock takeover.
        import time as _time

        staged_root = os.path.join(self.path, "_staged")
        if os.path.isdir(staged_root):
            now = _time.time()
            for d in os.listdir(staged_root):
                sdir = os.path.join(staged_root, d)
                if not os.path.isdir(sdir):
                    continue
                alive = False
                young = False
                for rel, p in self._walk(f"_staged/{d}"):
                    if rel in live:
                        alive = True
                    elif now - os.path.getmtime(p) <= self.lock_stale_after:
                        young = True
                if not alive and not young:
                    shutil.rmtree(sdir, ignore_errors=True)
        return {
            "removed_versions": removed,
            "kept": survivors,
            "orphan_files_removed": orphan_files_removed,
        }

"""Thin table catalog emulating the two Iceberg features the engine
relies on (SURVEY.md §7): **atomic append** and **snapshot metadata for
resume markers**. No Iceberg jars exist in this sandbox; on a real
cluster this seam is replaced by an Iceberg catalog and
``df.writeTo(name).append()`` — the call sites don't change.

Layout: ``<root>/<table>/snap-<id>/part-*.parquet`` plus a
``_manifest.json`` whose atomic rename IS the commit point: data files
are invisible until the manifest references them, so a crash mid-write
leaves no partial state (the WAL/ACID analog of the reference's chunked
idempotent appends, ner.py:267-304, SURVEY §2.A S4).

Every commit is metadata-only: row counts come from the Parquet footers
of the files just written (read on the driver with pyarrow), and each
manifest entry records the written schema, so ``read`` passes it to
``spark.read.schema`` instead of running a footer-inference job. Entries
without a recorded schema (older warehouses) still read by inference.

Commits are serialized per table by an exclusive ``flock`` on
``<table>/_manifest.lock`` held around load -> modify -> replace, and the
manifest is fsynced (file, then directory) so a power loss cannot leave a
renamed but empty manifest. A staged snapshot is leased by its writer (a
shared ``flock`` on ``_stage-*.lease``) until ``release_stage``; the lease
dies with the writer's process, so ``vacuum_stages`` removes a crashed
writer's stage but never one another writer is about to commit.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: characters Spark/Hive escape in partition directory names
#: (ExternalCatalogUtils.escapePathName): control chars + the listed set.
_PART_ESCAPE = set('"#%\'*/:=?\\\x7f{[]^') | {chr(c) for c in range(0x20)}


def escape_part_value(v) -> str:
    """Render a partition value exactly as Spark writes the directory
    name (URL-style %XX escapes for the Hive-reserved set; booleans as
    lowercase true/false; NULL as the Hive default-partition marker).
    A literal f-string match silently misses directories for values
    containing '/', '=', etc. (ADVICE r02)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    s = str(v)
    return "".join(
        f"%{ord(c):02X}" if c in _PART_ESCAPE else c for c in s
    )


def _footer_rows(directory: str) -> int:
    """Rows in the Parquet files directly under ``directory``, summed from
    their footers on the driver (no Spark job)."""
    return sum(
        pq.read_metadata(os.path.join(directory, f)).num_rows
        for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _lease_path(stage: str) -> str:
    """The lease file of the stage directory ``stage``: a sibling whose
    leading underscore keeps it out of ``stage-*`` listings."""
    tdir, name = os.path.split(stage)
    return os.path.join(tdir, f"_{name}.lease")


def _reclaim_lease(stage: str) -> bool:
    """Remove the lease of ``stage`` unless a live writer holds it. True
    when no live writer leases the stage (also when it has no lease:
    stages written before leases existed)."""
    path = _lease_path(stage)
    if not os.path.exists(path):
        return True
    with open(path, "a") as f:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return False
        os.remove(path)
    return True


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def _load_manifest(self, table: str) -> list[dict]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def _commit_manifest(self, table: str, entries: list[dict]) -> None:
        path = self._manifest_path(table)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(entries, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX — the commit point
        dir_fd = os.open(os.path.dirname(path), os.O_RDONLY)
        try:
            os.fsync(dir_fd)  # make the rename itself durable
        finally:
            os.close(dir_fd)

    @contextlib.contextmanager
    def _locked(self, table: str):
        """Exclusive per-table commit lock. Each call opens its own file
        description, so the lock excludes other threads of this process
        as well as other processes."""
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, "_manifest.lock"), "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            yield  # closing the file releases the lock

    # -- table ops ----------------------------------------------------------

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)

    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table))

    def _write(self, table: str, df: DataFrame, snap_id: str,
               meta: dict | None) -> dict:
        """Write ``df`` as snapshot ``snap_id``; returns its (uncommitted)
        manifest entry with the footer row count and the written schema."""
        path = os.path.join(self.root, table, snap_id)
        df.write.mode("errorifexists").parquet(path)
        return {"snapshot": snap_id, "path": path,
                "n_rows": _footer_rows(path),
                "schema": df.schema.jsonValue(), "meta": meta or {}}

    def append(self, table: str, df: DataFrame, meta: dict | None = None) -> dict:
        """Write ``df`` as a new snapshot of ``table``; returns the
        committed manifest entry (with row count — the metrics hook)."""
        entry = self._write(table, df, f"snap-{uuid.uuid4().hex[:12]}", meta)
        with self._locked(table):
            entries = self._load_manifest(table)
            entries.append(entry)
            self._commit_manifest(table, entries)
        return entry

    def overwrite(self, table: str, df: DataFrame, meta: dict | None = None) -> dict:
        """Replace the table contents in one atomic manifest swap (old
        snapshots stay on disk until vacuumed — time travel analog)."""
        entry = self._write(table, df, f"snap-ow-{uuid.uuid4().hex[:8]}", meta)
        with self._locked(table):
            self._commit_manifest(table, [entry])
        return entry

    # -- staged partitioned commits (single-pass lineage) --------------------

    def stage_partitioned(self, table: str, df: DataFrame, part_col: str) -> dict:
        """Write ``df`` partitioned by ``part_col`` to an UNCOMMITTED
        staging snapshot in ONE pass (the data files exist but no
        manifest entry references them — invisible until
        ``commit_staged``). Returns a handle holding the stage's lease
        (end it with ``release_stage``) and per-partition row counts from
        the written footers, keyed by the partition directory's value."""
        base = os.path.join(self.root, table, f"stage-{uuid.uuid4().hex[:8]}")
        with self._locked(table):  # vacuum_stages sees the lease first
            lease = open(_lease_path(base), "a")
            fcntl.flock(lease, fcntl.LOCK_SH)
        staged = {"table": table, "base": base, "part_col": part_col,
                  "lease": lease, "schema": df.schema.jsonValue()}
        try:
            df.write.partitionBy(part_col).mode("errorifexists").parquet(base)
        except BaseException:
            self.release_stage(staged)
            raise
        prefix = f"{part_col}="
        staged["counts"] = {
            d[len(prefix):]: _footer_rows(os.path.join(base, d))
            for d in os.listdir(base) if d.startswith(prefix)
        }
        return staged

    def release_stage(self, staged: dict) -> None:
        """End the writer's lease on a staged snapshot: from here on
        ``vacuum_stages`` keeps it only while a manifest entry references
        it."""
        with self._locked(staged["table"]):
            staged["lease"].close()
            with contextlib.suppress(FileNotFoundError):
                os.remove(_lease_path(staged["base"]))

    def commit_staged(self, table: str, staged: dict, values: list,
                      meta: dict | None = None) -> dict:
        """Atomically commit the staged partitions for ``values`` — a
        manifest append referencing the already-written partition
        directories (zero data movement; the rename of the manifest is
        the commit point, same as ``append``). Empty partitions commit
        as markers with no paths."""
        part_col, counts = staged["part_col"], staged["counts"]
        written = [k for k in map(escape_part_value, values) if k in counts]
        paths = [os.path.join(staged["base"], f"{part_col}={k}")
                 for k in written]
        with self._locked(table):
            entries = self._load_manifest(table)
            entry = {
                "snapshot": f"snap-{len(entries):05d}-{uuid.uuid4().hex[:8]}",
                "paths": paths,
                "base_path": staged["base"],
                "part_col": part_col,
                "n_rows": sum(counts[k] for k in written),
                "schema": staged["schema"],
                "meta": meta or {},
            }
            entries.append(entry)
            self._commit_manifest(table, entries)
        return entry

    def write_bucketed(self, table: str, df: DataFrame, bucket_col: str,
                       n_buckets: int = 8, sort: bool = True) -> None:
        """Bucketed (and optionally sorted) table write — the co-located
        join primitive: two tables bucketed on the same key with the same
        bucket count join WITHOUT a shuffle (and without even a sort when
        ``sort=True``), because rows are already hash-partitioned on disk.
        At 100 TB this is how repeatedly-joined fact tables amortize their
        shuffle once at write time (the local stand-in for Iceberg's
        ``bucket(N, key)`` partition transform; plan-asserted in
        tests/test_plans.py). Registers in the session catalog under
        ``table``; data lives beside the manifest tables."""
        writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
        if sort:
            writer = writer.sortBy(bucket_col)
        writer.option(
            "path", os.path.join(self.root, f"{table}__bucketed")
        ).saveAsTable(table)

    def vacuum_stages(self, table: str) -> list[str]:
        """Delete staged snapshot directories (``stage-*``) that no
        manifest entry references and no live writer leases — the orphans
        left when a writer crashes between ``stage_partitioned`` and its
        ``commit_staged`` batches (ADVICE r02: without GC, repeated
        kill/resume cycles accumulate unreferenced parquet forever).
        Committed bases are never touched. Runs under the commit lock, so
        it cannot race a lease being taken or a commit. Returns the
        removed paths."""
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return []
        removed = []
        with self._locked(table):
            referenced = {
                e["base_path"] for e in self._load_manifest(table)
                if "base_path" in e
            }
            stages = {
                d.removeprefix("_").removesuffix(".lease")
                for d in os.listdir(tdir)
                if d.startswith(("stage-", "_stage-"))
            }
            for name in sorted(stages):
                path = os.path.join(tdir, name)
                if (
                    _reclaim_lease(path)
                    and path not in referenced
                    and os.path.isdir(path)
                ):
                    shutil.rmtree(path)
                    removed.append(path)
        return removed

    def read(self, table: str) -> DataFrame:
        entries = self._load_manifest(table)
        if not entries:
            raise FileNotFoundError(f"catalog table not found: {table}")

        def reader(e):
            # the recorded schema spares a footer-inference job; entries
            # committed before schemas were recorded still infer theirs
            if "schema" not in e:
                return self.spark.read
            return self.spark.read.schema(StructType.fromJson(e["schema"]))

        dfs = []
        # one DataFrame per plain SNAPSHOT (not one multi-path read):
        # spark.read.parquet(*paths) silently picks one file's schema
        # and NULL-fills the rest, so drift between two appends would
        # bypass the drift guard below (round-5 review) — per-snapshot
        # reads route every snapshot pair through the strict unionByName
        for e in entries:
            if "path" in e:
                dfs.append(reader(e).parquet(e["path"]))
        # staged-partition entries are read PER ENTRY (ADVICE r05: the
        # earlier per-base grouping merged all staged snapshots sharing
        # one base into a single multi-path read, so data-column drift
        # between two staged commits on the same base could still be
        # silently NULL-filled by schema picking); the basePath option
        # reconstructs the partition column from the directory names
        part_cols: set[str] = set()
        for e in entries:
            if e.get("paths"):
                # part_col recorded since round 5; older manifests carry
                # it only in the directory name ('col=value')
                part_cols.add(
                    e.get("part_col")
                    or os.path.basename(e["paths"][0]).split("=", 1)[0]
                )
                dfs.append(
                    reader(e).option(
                        "basePath", e["base_path"]
                    ).parquet(*e["paths"])
                )
        if not dfs:
            raise FileNotFoundError(f"catalog table has no data: {table}")
        out = dfs[0]
        for d in dfs[1:]:
            # a table can legitimately hold BOTH plain snapshots (append/
            # overwrite, no partition column) and staged snapshots (the
            # reconstructed partition column) — e.g. a streaming sink on
            # a table run_stage once staged. The allowance is restricted
            # to exactly the known partition column(s): plain rows read
            # those as NULL, but any OTHER column-set drift between
            # snapshots (renamed/dropped data column) still fails loudly
            # instead of silently NULL-filling (ADVICE r04).
            diff = set(out.columns) ^ set(d.columns)
            if diff - part_cols:
                raise ValueError(
                    f"catalog table {table!r}: schema drift between "
                    f"snapshots on non-partition column(s) "
                    f"{sorted(diff - part_cols)}"
                )
            # name-level match is not enough (ADVICE r05): a column
            # re-written with a different type would be silently
            # up/cross-cast by unionByName — compare declared types too.
            # Partition columns are exempt like they are in the name
            # check: their types come from per-read directory-name
            # inference, so two healthy staged entries (or a staged
            # entry next to a plain snapshot) can legitimately disagree
            # (r06 review finding).
            t_out, t_d = dict(out.dtypes), dict(d.dtypes)
            retyped = sorted(
                c for c in (set(out.columns) & set(d.columns)) - part_cols
                if t_out[c] != t_d[c]
            )
            if retyped:
                raise ValueError(
                    f"catalog table {table!r}: type drift between "
                    f"snapshots on column(s) "
                    f"{[(c, t_out[c], t_d[c]) for c in retyped]}"
                )
            out = out.unionByName(d, allowMissingColumns=bool(diff))
        return out

    def row_count(self, table: str) -> int:
        """Metadata-only count (the Iceberg snapshot-count analog —
        SURVEY §2.D A7)."""
        return sum(e["n_rows"] for e in self._load_manifest(table))

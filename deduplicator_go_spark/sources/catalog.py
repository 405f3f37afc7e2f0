"""Checkpoint catalog: parquet-backed stage tables, each with one
atomic commit record, plus per-partition lineage rows.

Generalizes the reference's resume contract — keyset bookmarks +
``hash IS NULL`` work-queue predicates (/root/reference/files/
hash.go:202-283) and batched transactions (find.go:125, prune.go:44)
— into Spark-native terms: each stage writes its output, then ONE
commit record that carries the config's params_hash, the table's data
file manifest and what the stage consumed (the producer manifests it
read). A killed job rerun skips every stage whose record still matches
its producers and (for incremental stages) anti-joins the frontier
against the data files its record does not list yet.

On a production cluster this catalog is an Iceberg/Delta catalog
(atomic snapshot commits, hidden partitioning); those jars are not in
this image, so the same contract is implemented over parquet dirs +
one JSON record per table behind one small interface — the pipeline
code does not care which backend it gets.

Interface → Iceberg mapping (keep new call sites inside this contract
so an Iceberg backend is a drop-in):

- commit record (``_<t>_COMMIT.json``, ``CommitInfo``) → one snapshot
  metadata commit: summary (run id, rows, wall, params_hash as a table
  property), schema, file manifest (``files``) and the consumer's
  snapshot ids of its producers (``consumed``), swapped in atomically
  (here: one tmp-file write + ``os.replace``, the last step of every
  ``write``). Until that swap the previous record stands, so a killed
  write leaves the last commit intact plus, at most, data files that
  no record lists (``uncommitted_files``).
- ``write(mode="overwrite")``  → ``REPLACE TABLE ... AS SELECT`` /
  overwrite snapshot commit (here: temp dir, then the old directory
  removed and the temp dir renamed into place).
- ``write(mode="append")``     → fast-append snapshot commit (here:
  parquet append). An append of zero rows adds no data file to a
  table that has one, so its manifest, and every consumer's skip test,
  stays unchanged.
- ``incremental_begin`` → keep a table only while its current snapshot
  carries these params; otherwise ``DROP TABLE`` (a table built under
  other params, one with data files but no record, or a record whose
  table directory is gone: an overwrite killed between removing the
  old directory and renaming the new one into place).
- ``table_rows`` → ``snapshot.summary["total-records"]`` (here:
  parquet footers; metadata either way, never a scan job).
- ``CommitInfo.schema`` → the table schema in Iceberg's table
  metadata: ``read`` / ``read_files`` / ``appended_since`` hand it to
  the reader, so resolving a committed table starts no parquet-footer
  (schema inference) job, and the session lists partition directories
  on the driver (``session.get_spark``), so it starts no listing job
  either. An append whose columns differ from it raises, as an
  Iceberg write against a mismatched table schema does.
- ``CODEC`` → the ``write.parquet.compression-codec`` table property:
  every data file and lineage file is zstd parquet at the writer's
  default level, Iceberg's default codec. Files of another codec
  already in a table read as before (parquet records the codec per
  column chunk).
- lineage rows per output file → per-data-file manifest entries plus
  the engine's (run_id, stage, wall_ms, params_hash) annotations.
- ``current_files`` / ``appended_since`` → the snapshot file manifest
  and Iceberg's incremental snapshot read (``incremental-from-
  snapshot-id``): a consumer's record holds each producer's file list
  as of its commit, and it later reads ONLY files appended since — a
  frontier-proportional scan, never a full-table distinct.
- ``write(mode="cow", partition_by=[...])`` → Iceberg copy-on-write
  ``MERGE INTO`` / ``INSERT OVERWRITE`` with dynamic partition
  overwrite: the DataFrame carries the full new content of the
  partitions it touches; untouched partitions' immutable data files
  are carried into the new snapshot unrewritten (here: hardlinked
  into the swap dir — same inode, no data copy). Lineage rows are
  emitted only for the NEW files (manifest entries), so per-tick
  lineage is proportional to the touched partitions.

Lineage rows are per output *file* (the local stand-in for a
partition): (run_id, stage, partition, rows, bytes, wall_ms,
params_hash, completed_at) — the north rule's per-partition metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow.dataset as pads
import pyarrow.parquet as papq
from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter, SparkSession
from pyspark.sql.types import StructType


@dataclass
class CommitInfo:
    stage: str
    run_id: str
    params_hash: str
    rows: int
    wall_ms: int
    completed_at: float
    # the written Spark schema as JSON: data columns in DataFrame
    # order, partition columns last (the order a parquet read gives).
    # None = recorded before this field existed (reads infer it).
    schema: str | None = None
    # the data-file manifest: relative names of the table's files
    files: list[str] | None = None
    # what the stage consumed: each producer's manifest, or the raw
    # input's fingerprint under "input". None = written outside the
    # pipeline (or before these fields existed).
    consumed: dict | None = None


# the parquet codec of every file the catalog writes (Iceberg's default)
CODEC = "zstd"


def _writer(df: DataFrame, mode: str,
            partition_by: list[str] | None = None) -> DataFrameWriter:
    """The one writer of catalog data files."""
    w = df.write.mode(mode).option("compression", CODEC)
    if partition_by:
        w = w.partitionBy(*partition_by)
    return w


def _column_types(schema: StructType) -> dict[str, str]:
    """name → type, ignoring nullability and column order (parquet
    reads columns by name, and nullability is not part of the files'
    contract)."""
    return {f.name: f.dataType.simpleString() for f in schema.fields}


class CheckpointCatalog:
    def __init__(self, root: str, run_id: str | None = None) -> None:
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(root, exist_ok=True)
        # read-resolution cache: (app_id, data-file fingerprint, df) per
        # table — see read()
        self._read_cache: dict[str, tuple[str, tuple, object]] = {}

    # -- paths ------------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _marker(self, name: str) -> str:
        return os.path.join(self.root, f"_{name}_COMMIT.json")

    def _lineage_dir(self) -> str:
        d = os.path.join(self.root, "_lineage")
        os.makedirs(d, exist_ok=True)
        return d

    # -- queries ----------------------------------------------------------
    def commit_info(self, name: str) -> CommitInfo | None:
        m = self._marker(name)
        if not os.path.exists(m):
            return None
        with open(m) as f:
            fields = json.load(f)
        # older markers also carry upstream row counts: ignored
        return CommitInfo(**{k: v for k, v in fields.items()
                             if k in CommitInfo.__dataclass_fields__})

    def _dir_fingerprint(self, name: str) -> tuple:
        """Sorted relative names of the table's data files, from a local
        directory walk (~ms). Deliberately NOT the record's manifest: a
        write killed before its record leaves data files the record
        doesn't list, and the resume defence (frontier anti-join against
        the table's actual contents) must see them."""
        path = self.table_path(name)
        out = []
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                if fn.startswith(("_", ".")):
                    continue
                out.append(os.path.relpath(os.path.join(dirpath, fn), path))
        return tuple(sorted(out))

    def _reader(self, spark: SparkSession, name: str) -> DataFrameReader:
        """``spark.read`` carrying the schema the commit record holds,
        so resolving the table reads no parquet footers; inference only
        for a table without a record or with a record older than
        ``CommitInfo.schema``."""
        info = self.commit_info(name)
        if info is None or not info.schema:
            return spark.read
        return spark.read.schema(StructType.fromJson(json.loads(info.schema)))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Resolve the table to a DataFrame, cached per (session, data
        files). An inferring ``spark.read.parquet`` starts a footer job
        per resolution: ~0.1 s for a plain table, and ~0.75 s for the
        64-bucket ``clusters`` table, whose listing at Spark's default
        threshold is a 64-task job too (warm session, 4 cores). From the
        record's schema, with the session's driver-side listing, the same
        resolutions take ~0.015 s and ~0.03 s and start no job. The
        cache still skips even that for an unchanged table. The cache
        key is the actual data-file set (directory walk, not the
        record's manifest), so any append/overwrite/cow — including
        uncommitted files of a killed write — changes the key and forces
        a fresh resolution. On Iceberg this is the table's current
        snapshot id."""
        app = spark.sparkContext.applicationId
        fp = self._dir_fingerprint(name)
        hit = self._read_cache.get(name)
        if hit is not None and hit[0] == app and hit[1] == fp:
            return hit[2]
        df = self._reader(spark, name).parquet(self.table_path(name))
        self._read_cache[name] = (app, fp, df)
        return df

    def exists(self, name: str) -> bool:
        return os.path.exists(self.table_path(name))

    def table_rows(self, name: str) -> int:
        """Row count from the commit record (totalled from parquet
        footers at commit) — metadata only, no scan job; 0 for a table
        without one."""
        info = self.commit_info(name)
        return info.rows if info is not None else 0

    def drop(self, name: str) -> None:
        # the record goes first: a kill before the data is removed
        # leaves data files without a record, which the next
        # ``incremental_begin`` drops in turn
        self._read_cache.pop(name, None)
        if os.path.exists(self._marker(name)):
            os.remove(self._marker(name))
        path = self.table_path(name)
        if os.path.exists(path):
            shutil.rmtree(path)

    # -- snapshot file manifest + incremental reads ------------------------
    def current_files(self, name: str) -> list[str]:
        """The table's data-file relative names — the snapshot manifest.
        Metadata only: the commit record's ``files``; none for a table
        without a record or with one older than that field."""
        info = self.commit_info(name)
        return list(info.files) if info is not None and info.files is not None else []

    def uncommitted_files(self, name: str) -> list[str]:
        """Data files in the table's directory that its record does not
        list: those of a write killed after its data landed and before
        its record replace."""
        committed = set(self.current_files(name))
        return [b for b in self._dir_fingerprint(name) if b not in committed]

    def read_files(self, spark: SparkSession, name: str,
                   files: list[str]) -> DataFrame:
        """Read exactly these data files of ``name`` (relative names as
        returned by ``current_files``). An empty list yields an empty
        DataFrame with the table's schema."""
        root = self.table_path(name)
        if not files:
            return self.read(spark, name).limit(0)
        # basePath keeps hive partition columns recoverable when the
        # selected files live under partition dirs (cow tables)
        return self._reader(spark, name).option("basePath", root).parquet(
            *[os.path.join(root, b) for b in sorted(files)]
        )

    def appended_since(self, spark: SparkSession, name: str,
                       seen_files: list[str]) -> DataFrame:
        """Iceberg incremental snapshot read, parquet-dir stand-in:
        the rows of ``name`` appended since a consumer recorded
        ``seen_files`` (the producer's manifest in its record). Under
        the append-only contract files are immutable, so new-files ≡
        new-rows; the scan touches ONLY the appended files — the
        frontier — never the standing table."""
        seen = set(seen_files)
        new = [b for b in self.current_files(name) if b not in seen]
        return self.read_files(spark, name, new)

    def incremental_begin(self, name: str, params_hash: str) -> CommitInfo | None:
        """Keep the table only if its record carries ``params_hash``
        and its directory exists; return the record kept, or None.
        Drops one built under other params, one holding data files but
        no record (a first write killed before its record), and a record
        whose directory is gone (an overwrite or cow swap killed between
        removing the old directory and renaming the new one in)."""
        info = self.commit_info(name)
        if info is not None and info.params_hash == params_hash and self.exists(name):
            return info
        self.drop(name)
        return None

    # -- writes -----------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        name: str,
        params_hash: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        consumed: dict | None = None,
    ) -> CommitInfo:
        """Write a stage output, its lineage rows and, last, its commit
        record, which also carries ``consumed``.

        overwrite and cow build the new snapshot in a temp dir, remove
        the old directory and rename the temp dir into place, so a kill
        mid-write never leaves a half-table; one between the removal
        and the rename leaves the previous record without a directory,
        which ``incremental_begin`` drops. The record is replaced in
        one ``os.replace`` after the data and lineage landed; a kill
        before it leaves the previous record, whose ``files`` do not
        list the new data files.

        append and cow raise ``ValueError`` when the DataFrame's column
        names or types differ from the committed schema: the mixed
        directory would read back the missing columns as NULLs."""
        t0 = time.time()
        path = self.table_path(name)
        prev = self.commit_info(name)
        if mode in ("append", "cow") and prev is not None and prev.schema \
                and self.exists(name):
            want = _column_types(StructType.fromJson(json.loads(prev.schema)))
            got = _column_types(df.schema)
            if got != want:
                raise ValueError(
                    f"{mode} to {name!r}: columns {got} differ from the "
                    f"committed schema {want}"
                )
        # lineage rows only for files the previous record does not list
        # (cow's carried-forward hardlinks keep their relative names); a
        # record older than ``files`` lists the directory before the write
        if prev is None:
            seen = set()
        elif prev.files is not None:
            seen = set(prev.files)
        else:
            seen = set(self._dir_fingerprint(name))
        parts = list(partition_by or [])

        if mode in ("overwrite", "cow"):
            # clean ALL orphaned temp dirs for this table, not just this
            # run's: a kill between tmp-write and rename leaves a
            # full-size copy under a dead run_id that no later run would
            # otherwise touch (the catalog is single-writer by contract,
            # so any existing tmp-* is garbage)
            import glob as _glob

            for stale in _glob.glob(path + ".tmp-*"):
                shutil.rmtree(stale, ignore_errors=True)
            tmp = path + f".tmp-{self.run_id}"
            _writer(df, "overwrite", partition_by).parquet(tmp)
            if partition_by and not any(
                e.startswith(f"{partition_by[0]}=") for e in os.listdir(tmp)
            ) and not (mode == "cow" and os.path.exists(path)):
                # empty partitioned write emits no data file, so the
                # directory it leaves is unreadable. Re-write plain so
                # the schema survives (the partition column becomes a
                # regular column of the one empty file). NOT for an
                # empty cow tick over an existing table: a plain file
                # would mix with the carried-forward hive dirs into an
                # unreadable layout — there the carry-forward below
                # reproduces the prior snapshot verbatim (every
                # partition unchanged).
                shutil.rmtree(tmp)
                _writer(df, "overwrite").parquet(tmp)
                parts = []
            if mode == "cow" and os.path.exists(path):
                # copy-on-write: partitions present in the new data are
                # replaced; every other partition's immutable files are
                # carried forward into the new snapshot by hardlink —
                # no data copy, identical inodes, same relative names
                # (so their lineage rows are not re-emitted). The
                # Iceberg analog is a dynamic-partition-overwrite
                # snapshot referencing the untouched data files.
                replaced = {
                    e for e in os.listdir(tmp)
                    if partition_by and e.startswith(f"{partition_by[0]}=")
                }
                for entry in os.listdir(path):
                    if not partition_by or not entry.startswith(
                        f"{partition_by[0]}="
                    ) or entry in replaced:
                        continue
                    src_dir = os.path.join(path, entry)
                    if not os.path.isdir(src_dir):
                        continue
                    dst_dir = os.path.join(tmp, entry)
                    os.makedirs(dst_dir, exist_ok=True)
                    for fn in os.listdir(src_dir):
                        if fn.startswith(("_", ".")):
                            continue
                        os.link(os.path.join(src_dir, fn),
                                os.path.join(dst_dir, fn))
            if os.path.exists(path):
                shutil.rmtree(path)
            os.rename(tmp, path)
        elif mode == "append":
            before = set(self._dir_fingerprint(name))
            _writer(df, "append", partition_by).parquet(path)
            # an empty DataFrame writes one zero-row file: it stays only
            # as a table's one data file (its schema); otherwise it would
            # move the manifest and re-run every consumer for nothing
            files = self._dir_fingerprint(name)
            empty = [b for b in files if b not in before
                     and papq.read_metadata(os.path.join(path, b)).num_rows == 0]
            if len(empty) < len(files):
                for b in empty:
                    os.remove(os.path.join(path, b))
        else:
            raise ValueError(mode)

        wall_ms = int((time.time() - t0) * 1000)
        files, rows = self._record_lineage(name, params_hash, wall_ms, seen)
        schema = StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [df.schema[p] for p in parts]
        )
        info = CommitInfo(
            stage=name,
            run_id=self.run_id,
            params_hash=params_hash,
            rows=rows,
            wall_ms=wall_ms,
            completed_at=time.time(),
            schema=schema.json(),
            files=files,
            consumed=consumed,
        )
        self._commit(info)
        return info

    def _commit(self, info: CommitInfo) -> None:
        """Replace the table's record: the one commit point of a write."""
        marker = self._marker(info.stage)
        with open(marker + ".tmp", "w") as f:
            json.dump(info.__dict__, f)
        os.replace(marker + ".tmp", marker)

    def _record_lineage(self, name: str, params_hash: str, wall_ms: int,
                        seen: set[str]) -> tuple[list[str], int]:
        """Per-output-file row counts from parquet footers (metadata-only
        read — no data scan). Returns the table's sorted data-file
        manifest and its TOTAL rows.

        Lineage rows are emitted only for files not in ``seen`` (the
        previous record's manifest): an append-mode tick would otherwise
        re-record every prior tick's files — duplicated lineage rows,
        re-attributed to the wrong run/wall, quadratic over a long
        incremental backfill."""
        import pyarrow as pa

        path = self.table_path(name)
        frags = []
        total = 0
        all_names = []
        ds = pads.dataset(path, format="parquet")
        for frag in ds.get_fragments():
            md = frag.metadata if hasattr(frag, "metadata") else None
            nrows = md.num_rows if md is not None else frag.count_rows()
            # relative path, not basename: partitioned (cow) tables keep
            # their files under partition dirs, and the manifest must
            # round-trip through read_files
            base = os.path.relpath(frag.path, path)
            total += nrows
            all_names.append(base)
            if base in seen:
                continue
            frags.append(
                {
                    "run_id": self.run_id,
                    "stage": name,
                    "partition": base,
                    "rows": nrows,
                    "bytes": os.path.getsize(frag.path) if os.path.exists(frag.path) else 0,
                    "wall_ms": wall_ms,
                    "params_hash": params_hash,
                    "completed_at": time.time(),
                }
            )
        if frags:
            table = pa.Table.from_pylist(frags)
            out = os.path.join(
                self._lineage_dir(), f"{name}-{self.run_id}-{uuid.uuid4().hex[:8]}.parquet"
            )
            papq.write_table(table, out, compression=CODEC)
        return sorted(all_names), total

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self._lineage_dir())

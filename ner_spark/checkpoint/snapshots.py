"""Snapshot log over the parquet fallback (operator S2's semantics).

Production reads pin Iceberg snapshots; the sandbox has no Iceberg
runtime jar (no network — SURVEY.md §0).  This module implements the
slice of the snapshot contract the engine actually depends on, as a
JSON manifest log beside the data:

- **atomic fileset visibility** — a snapshot names the EXACT parquet
  files that made up the table at commit time, so readers never see a
  torn write or a stray uncommitted file (plain directory scans do);
- **snapshot-pinned reads / time travel** — ``read_snapshot(…, id)``
  re-reads an older table state for as long as its files survive;
- **expiry detection** — the parquet fallback's partition overwrite
  REPLACES files (unlike Iceberg's copy-on-write), so a pinned
  snapshot whose files are gone — or whose size OR mtime_ns integrity
  token changed (in-place rewrite, even at identical size) — raises
  :class:`SnapshotExpiredError` instead of silently returning wrong
  rows — the same observable failure as reading an expired Iceberg
  snapshot after ``expire_snapshots``.

Manifests are tiny (file names + sizes + mtime tokens), written with
tmp+rename (the
same atomic-commit point as lineage rows), and are append-only: one
``snap-<id>.json`` per commit, monotonically increasing ids, each
carrying its parent id — a linear snapshot history like Iceberg's
metadata log.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

SNAP_TABLE = "_snapshots"


class SnapshotExpiredError(RuntimeError):
    """The pinned snapshot's files were overwritten/removed."""


def _snap_dir(root: str, stage: str) -> str:
    return os.path.join(root, SNAP_TABLE, stage)


def _data_files(
    data_dir: str, buckets: set[int] | None = None
) -> tuple[dict[str, int], dict[str, int]]:
    """(relative path → size, relative path → mtime_ns) for every
    parquet part file currently in the stage directory (hive
    ``part=k`` layout), optionally restricted to the given bucket ids.
    The mtime_ns is the per-file integrity token recorded in the
    manifest: a file overwritten IN PLACE with identical name and size
    still gets a new mtime, so the expiry check catches it (one stat
    per file, no content hashing)."""
    out: dict[str, int] = {}
    toks: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(data_dir):
        rel_dir = os.path.relpath(dirpath, data_dir)
        if buckets is not None:
            if not rel_dir.startswith("part="):
                continue
            try:
                if int(rel_dir.split("=", 1)[1]) not in buckets:
                    continue
            except ValueError:
                continue
        for fn in files:
            if fn.endswith(".parquet"):
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, data_dir)
                st = os.stat(full)
                out[rel] = st.st_size
                toks[rel] = st.st_mtime_ns
    return out, toks


def _bucket_of(rel: str) -> int | None:
    head = rel.split(os.sep, 1)[0]
    if head.startswith("part="):
        try:
            return int(head.split("=", 1)[1])
        except ValueError:
            return None
    return None


def _manifest_path(root: str, stage: str, snap_id: int) -> str:
    return os.path.join(_snap_dir(root, stage), f"snap-{snap_id:08d}.json")


def _load(root: str, stage: str, snap_id: int) -> dict | None:
    path = _manifest_path(root, stage, snap_id)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _manifest_names(root: str, stage: str) -> list[str]:
    d = _snap_dir(root, stage)
    if not os.path.isdir(d):
        return []
    return sorted(
        fn
        for fn in os.listdir(d)
        if fn.startswith("snap-") and fn.endswith(".json")
    )


def has_snapshot_log(root: str, stage: str) -> bool:
    """True iff at least one manifest exists — a bare `_snapshots/…`
    INTERMEDIATE directory (created for a nested child stage like
    `stream_tagged/batch=3`) is NOT a log for its parent path."""
    return bool(_manifest_names(root, stage))


def _latest(root: str, stage: str) -> dict | None:
    """The newest manifest — reads ONE file (ids are zero-padded, so
    the lexically-greatest name is the newest), not the whole history."""
    names = _manifest_names(root, stage)
    if not names:
        return None
    with open(os.path.join(_snap_dir(root, stage), names[-1])) as f:
        return json.load(f)


def snapshots(root: str, stage: str) -> list[dict]:
    """All snapshot manifests for a stage, oldest first (history
    listing — commits and reads use _latest/_load, one file each)."""
    d = _snap_dir(root, stage)
    if not os.path.isdir(d):
        return []
    recs = []
    for fn in sorted(os.listdir(d)):
        if fn.startswith("snap-") and fn.endswith(".json"):
            with open(os.path.join(d, fn)) as f:
                recs.append(json.load(f))
    return sorted(recs, key=lambda r: r["snapshot_id"])


def record_snapshot(
    root: str,
    stage: str,
    n_buckets: int,
    written_buckets: set[int] | None = None,
    schema_json: str | None = None,
) -> int:
    """Append a manifest naming the committed fileset; returns the
    snapshot id (the PARENT's id when nothing changed — a no-op commit
    creates no snapshot, like Iceberg).  Called at the end of
    commit_stage, after the lineage rows.

    Coverage comes from LINEAGE, not from this run's write set: the
    manifest names files for every bucket with a committed lineage row,
    so a prior run that crashed between its lineage writes and its
    manifest write cannot silently drop those buckets from history —
    they are simply re-scanned here.  Within that coverage the manifest
    is incremental like an Iceberg manifest list: buckets this commit
    did not write inherit their file lists from the PARENT manifest
    (never a directory rescan — a stray file dropped into a committed
    bucket between commits must not launder itself into the next
    snapshot); only freshly written / parent-uncovered buckets are
    scanned, and every scan is restricted to ``part=`` dirs.  Residual
    race (documented): a stray file landing inside a bucket BETWEEN
    this commit's write and its scan is indistinguishable from written
    data — closing it needs writer-reported file lists, which is what
    the real Iceberg commit path provides."""
    from ner_spark.checkpoint.lineage import committed_buckets

    data_dir = os.path.join(root, stage)
    parent = _latest(root, stage)
    valid = set(range(n_buckets))
    committed = valid & set(
        committed_buckets(None, root, stage, n_buckets=n_buckets)
    )
    inherit_ok = (
        parent is not None
        and parent["n_buckets"] == n_buckets
        and written_buckets is not None
    )
    files: dict[str, int] = {}
    tokens: dict[str, int] = {}
    scan = set(committed)
    if inherit_ok:
        parent_tokens = parent.get("tokens") or {}
        parent_by_bucket: dict[int, dict[str, int]] = {}
        for rel, size in parent["files"].items():
            b = _bucket_of(rel)
            if b is not None:
                parent_by_bucket.setdefault(b, {})[rel] = size
        for b in committed - set(written_buckets):
            if b in parent_by_bucket:
                files.update(parent_by_bucket[b])
                # inherited buckets were not rewritten — their parent
                # integrity tokens still describe the on-disk files
                tokens.update(
                    {
                        rel: parent_tokens[rel]
                        for rel in parent_by_bucket[b]
                        if rel in parent_tokens
                    }
                )
                scan.discard(b)
    scanned, scanned_toks = _data_files(data_dir, buckets=scan)
    files.update(scanned)
    tokens.update(scanned_toks)
    if (
        parent is not None
        and parent["n_buckets"] == n_buckets
        and parent["files"] == files
    ):
        return parent["snapshot_id"]  # no-op commit: no new snapshot
    snap_id = parent["snapshot_id"] + 1 if parent else 1
    rec = {
        "snapshot_id": snap_id,
        "parent_id": parent["snapshot_id"] if parent else None,
        "stage": stage,
        "n_buckets": n_buckets,
        "files": files,
        "tokens": tokens,
        "schema": schema_json,
        "committed_at": time.time(),
    }
    d = _snap_dir(root, stage)
    os.makedirs(d, exist_ok=True)
    path = _manifest_path(root, stage, snap_id)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
    return snap_id


def read_snapshot(
    spark: SparkSession,
    root: str,
    stage: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read a stage AS OF a snapshot (latest when ``snapshot_id`` is
    None): exactly the manifest's files — concurrent writers' new or
    torn files are invisible.  Raises SnapshotExpiredError when any
    pinned file no longer exists, changed size, OR carries a different
    mtime_ns integrity token than the manifest recorded (an in-place
    rewrite with identical name and size still refreshes the mtime,
    so same-size tampering is detected too; manifests written before
    the token field existed fall back to the size-only check).
    Raises ValueError for an unknown id or an empty log."""
    if snapshot_id is None:
        rec = _latest(root, stage)
        if rec is None:
            raise ValueError(f"no snapshots recorded for stage {stage!r}")
    else:
        rec = _load(root, stage, snapshot_id)
        if rec is None:
            have = [
                int(n[len("snap-") : -len(".json")])
                for n in _manifest_names(root, stage)
            ]
            raise ValueError(
                f"unknown snapshot {snapshot_id} for stage {stage!r} "
                f"(have {have})"
            )
    # absolute: the manifest was located with Python-side os.path
    # checks (Python cwd), but Spark resolves relative read paths
    # against the driver JVM's own cwd — which can differ
    data_dir = os.path.abspath(os.path.join(root, stage))
    tokens = rec.get("tokens") or {}
    stale = []
    for rel, size in rec["files"].items():
        # single stat per file, tolerant of a concurrent overwrite
        # unlinking between check and use — either way it's expiry,
        # never an unhandled FileNotFoundError
        try:
            st = os.stat(os.path.join(data_dir, rel))
            tok = tokens.get(rel)
            if st.st_size != size or (
                tok is not None and st.st_mtime_ns != tok
            ):
                stale.append(rel)
        except OSError:
            stale.append(rel)
    if stale:
        raise SnapshotExpiredError(
            f"snapshot {rec['snapshot_id']} of stage {stage!r} expired: "
            f"{len(stale)} of {len(rec['files'])} files were overwritten, "
            f"resized, or rewritten in place (parquet fallback "
            f"overwrites; Iceberg would retain them until "
            f"expire_snapshots)"
        )
    paths = [os.path.join(data_dir, rel) for rel in sorted(rec["files"])]
    if not paths:
        # an empty commit: no files to pin — reconstruct the schema the
        # manifest recorded at commit time (includes the `part` column,
        # matching what a non-empty basePath read surfaces).  Manifests
        # written before the schema field existed fall back to the
        # transcripts shape (the only stage shape back then).
        from pyspark.sql import types as T

        if rec.get("schema"):
            return spark.createDataFrame(
                [], T.StructType.fromJson(json.loads(rec["schema"]))
            )
        from ner_spark.io.read import TRANSCRIPT_SCHEMA

        return spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    # basePath keeps the hive `part=` column, exactly like the plain
    # directory read the un-pinned fallback does — so a filter on
    # `part` still prunes partitions of a pinned read.
    return spark.read.option("basePath", data_dir).parquet(*paths)


def snapshot_contract_violations(spark: SparkSession) -> int:
    """Run the snapshot-pinning scenario in a scratch dir and count
    failed expectations (0 = the S2 fallback semantics hold) — the
    probe behind the ``kg_contracts`` catalog query's
    ``snapshot_pinning`` row:

    1. a partial commit yields snapshot 1; its pinned read returns
       exactly the partial rows;
    2. a stray parquet file planted in a committed bucket inflates a
       plain directory read but is INVISIBLE to the snapshot read;
    3. a resumed commit (filling the missing buckets) yields snapshot
       2 — which must NOT inherit the stray file (incremental
       manifests, not directory rescans) — while snapshot 1 still
       reads its original partial rows (time travel);
    4. a full overwrite expires snapshots 1 and 2
       (SnapshotExpiredError), and the new latest reads the full
       table.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ner_spark.checkpoint.lineage import commit_stage, with_bucket

    tmp = tempfile.mkdtemp(prefix="ner_spark_snapcheck_")
    try:
        df = spark.range(200).select(
            F.concat(F.lit("c"), (F.col("id") % 40).cast("string")).alias(
                "conv_id"
            ),
            (F.col("id") / 40).cast("int").alias("turn_idx"),
            F.col("id").alias("val"),
        )
        part = (
            with_bucket(df, 8)
            .filter(F.col("part") < 4)
            .drop("part")
        )
        n_part, n_full = part.count(), df.count()

        commit_stage(part, tmp, "s1", n_buckets=8)
        ok_pin1 = read_snapshot(spark, tmp, "s1", 1).count() == n_part

        data_dir = os.path.join(tmp, "s1")
        pdir = next(
            os.path.join(data_dir, d)
            for d in sorted(os.listdir(data_dir))
            if d.startswith("part=")
        )
        src = next(
            f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(pdir, src), os.path.join(pdir, "stray-" + src)
        )
        ok_atomic = (
            spark.read.parquet(data_dir).count() > n_part
            and read_snapshot(spark, tmp, "s1").count() == n_part
        )

        commit_stage(df, tmp, "s1", n_buckets=8)
        ok_no_launder = read_snapshot(spark, tmp, "s1").count() == n_full
        ok_travel = read_snapshot(spark, tmp, "s1", 1).count() == n_part

        commit_stage(df, tmp, "s1", n_buckets=8, resume=False)
        ok_latest = read_snapshot(spark, tmp, "s1").count() == n_full
        try:
            read_snapshot(spark, tmp, "s1", 2)
            ok_expire = False
        except SnapshotExpiredError:
            ok_expire = True
        return sum(
            0 if ok else 1
            for ok in (
                ok_pin1,
                ok_atomic,
                ok_no_launder,
                ok_travel,
                ok_latest,
                ok_expire,
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

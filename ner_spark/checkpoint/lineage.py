"""Stage lineage + idempotent resume (BASELINE.json:6 — "every stage
checkpoints per-partition lineage and counters … so any executor
failure resumes idempotently from the last committed snapshot").

Production design: Iceberg tables with atomic snapshot commits; the
lineage row commits in the same transaction as the data.  The sandbox
has no Iceberg runtime jar (no network — SURVEY.md §0), so this module
implements the documented parquet fallback behind the same interface:

- data writes are PARTITION-ALIGNED: each stage output is written as
  hive-partitioned parquet ``part=<bucket>`` with
  ``partitionOverwriteMode=dynamic`` (replaceWhere-style) so a re-run
  overwrites exactly the buckets it recomputes — idempotent under
  retries;
- the lineage row for a bucket is written AFTER its data lands (write
  ordering = commit protocol: a bucket is committed iff its lineage
  row exists and round-trips the checksum);
- resume = a driver-side anti-join (operator J6) of the bucket domain
  against the committed lineage rows.  ``uncommitted`` turns the
  missing buckets into a row filter the caller applies BELOW any
  opaque Python stage (the tagger's ``mapInPandas``), because Spark
  cannot push a filter through it; a stage whose buckets are all
  committed writes nothing and is returned as its committed read-back.

Bucketing is ``pmod(xxhash64(conv_id), n_buckets)`` (``bucket_col``) —
a pure function of the row, stable under retries and repartitioning.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

N_BUCKETS = 32
LINEAGE_TABLE = "_lineage"


def bucket_col(n_buckets: int = N_BUCKETS) -> Column:
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = N_BUCKETS) -> DataFrame:
    return df.withColumn("part", bucket_col(n_buckets))


def _lineage_dir(root: str, stage: str) -> str:
    return os.path.join(root, LINEAGE_TABLE, stage)


def _lineage_files(root: str, stage: str) -> list[tuple[str, dict]]:
    """(path, record) of every committed lineage row of ``stage``."""
    d = _lineage_dir(root, stage)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".json"):
            path = os.path.join(d, fn)
            with open(path) as f:
                out.append((path, json.load(f)))
    return out


def lineage_records(root: str, stage: str) -> list[dict]:
    """Lineage rows of ``stage`` (stage, part, n_buckets, input_rows,
    output_rows, checksum, committed_at), as validation reads them."""
    return [rec for _path, rec in _lineage_files(root, stage)]


def committed_buckets(
    spark: SparkSession | None,
    root: str,
    stage: str,
    n_buckets: int | None = None,
) -> list[int]:
    # pure filesystem scan — ``spark`` is accepted (and ignorable,
    # pass None) for interface symmetry with the other readers
    """Bucket ids with a committed lineage row.  When ``n_buckets`` is
    given, only rows committed UNDER THAT SAME bucket domain count: a
    bucket written at a different n_buckets holds different rows for
    the same id (pmod(h, 64) == 3 is not pmod(h, 8) == 3), so a domain
    change invalidates every prior bucket."""
    return [
        int(rec["part"])
        for rec in lineage_records(root, stage)
        if n_buckets is None or rec.get("n_buckets") == n_buckets
    ]


def uncommitted(
    df: DataFrame, root: str, stage: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """``df`` restricted to the rows whose bucket has no committed
    lineage row for ``stage`` — the rows ``commit_stage`` would write.
    Apply it before any stage Spark cannot see through, so committed
    buckets never reach it."""
    done = sorted(committed_buckets(None, root, stage, n_buckets=n_buckets))
    return df.filter(~bucket_col(n_buckets).isin(done)) if done else df


def _drop_stale_partitions(
    root: str, stage: str, data_dir: str, keep: set[int], valid: set[int]
) -> None:
    """Remove on-disk state this commit must not inherit: ``part=k``
    data dirs with k outside the current bucket domain (prior run with
    a different n_buckets) or k not validly committed (torn write, or
    committed under a different domain — same id, different rows), and
    lineage rows not in the keep set, so committed_buckets /
    validate_stage never see stale state."""
    import shutil

    if os.path.isdir(data_dir):
        for entry in os.listdir(data_dir):
            if not entry.startswith("part="):
                continue
            try:
                pid = int(entry.split("=", 1)[1])
            except ValueError:
                pid = -1
            if pid not in valid or pid not in keep:
                shutil.rmtree(os.path.join(data_dir, entry))
    for path, rec in _lineage_files(root, stage):
        if int(rec["part"]) not in keep:
            os.remove(path)


def commit_stage(
    df: DataFrame,
    root: str,
    stage: str,
    n_buckets: int = N_BUCKETS,
    resume: bool = True,
) -> DataFrame:
    """Write ``df`` (must contain conv_id) partition-aligned with
    per-bucket lineage; on resume, skip already-committed buckets.
    When every bucket is committed, nothing is computed or written.

    Returns the full committed stage output (read back — committed
    buckets included), so downstream stages always see the complete
    table regardless of how much this run recomputed."""
    spark = df.sparkSession
    data_dir = os.path.join(root, stage)
    valid = set(range(n_buckets))
    done = (
        {
            p
            for p in committed_buckets(spark, root, stage, n_buckets=n_buckets)
            if p in valid
        }
        if resume
        else set()
    )
    todo = valid - done
    # Drop stale on-disk state BEFORE writing: dynamic overwrite only
    # replaces partitions present in this run's output, so a leftover
    # ``part=k`` dir from a prior run (different n_buckets, or a torn
    # uncommitted write) would otherwise survive, be swept into the
    # stats read-back, and get committed as valid lineage it never
    # earned.  Anything outside this run's bucket domain, or inside it
    # but uncommitted (no lineage row), is removable by definition —
    # committed buckets are exactly ``done``.
    _drop_stale_partitions(root, stage, data_dir, keep=done, valid=valid)
    bucketed = with_bucket(df, n_buckets)

    if todo:
        # Write FIRST (the only pass over the recomputed stage), then
        # compute counters + checksum from the files just written: each
        # stage executes exactly once, and the lineage checksum
        # describes the bytes on disk — the same execution
        # validate_stage will re-checksum.  Partition pruning keeps the
        # stats scan to the recomputed buckets.
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        bucketed.filter(F.col("part").isin(sorted(todo))).write.partitionBy(
            "part"
        ).mode("overwrite").parquet(data_dir)
        # Stats over EXACTLY the buckets this commit computed, so
        # nothing outside this run's write set can earn a lineage row.
        written = spark.read.parquet(data_dir).filter(
            F.col("part").isin(sorted(todo))
        )
        stats = (
            written.groupBy("part")
            .agg(
                F.count("*").alias("output_rows"),
                F.coalesce(
                    F.bit_xor(F.xxhash64(*df.columns)), F.lit(0)
                ).alias("checksum"),
            )
            .collect()
        )

        os.makedirs(_lineage_dir(root, stage), exist_ok=True)
        for r in stats:
            rec = {
                "stage": stage,
                "part": int(r["part"]),
                "n_buckets": n_buckets,
                "input_rows": int(r["output_rows"]),
                "output_rows": int(r["output_rows"]),
                "checksum": int(r["checksum"]),
                "committed_at": time.time(),
            }
            path = os.path.join(
                _lineage_dir(root, stage), f"part-{rec['part']:05d}.json"
            )
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(rec, f)
            os.replace(tmp, path)  # atomic rename = the commit point

    # Snapshot manifest LAST — it must only ever describe a fully
    # committed table state (S2's snapshot-pinned read contract,
    # checkpoint/snapshots.py).  Passing the written-bucket set makes
    # the manifest incremental: untouched buckets inherit the parent
    # manifest's files instead of rescanning the directory.  With
    # nothing written this is a filesystem-only call that creates no
    # snapshot, unless an earlier run crashed before its manifest.
    from ner_spark.checkpoint.snapshots import record_snapshot

    record_snapshot(
        root,
        stage,
        n_buckets,
        written_buckets=todo,
        schema_json=bucketed.schema.json(),
    )

    return spark.read.parquet(data_dir).drop("part")


def resume_contract_violations(spark: SparkSession) -> int:
    """Run the commit → corrupt → revalidate → resume scenario in a
    scratch dir and count failed expectations (0 = the resume/lineage
    protocol behaves) — the externally-scored probe behind the
    ``kg_contracts`` catalog query's ``lineage_resume`` row:

    1. a fresh commit validates clean;
    2. deleting one bucket's lineage row makes validation FAIL (data
       without lineage = torn write detected);
    3. a resumed commit recomputes exactly the missing bucket and
       validates clean again;
    4. the resumed table is bit-identical (count + row checksum) to
       the original commit.
    """
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ner_spark_lincheck_")
    try:
        df = spark.range(200).select(
            F.concat(F.lit("c"), (F.col("id") % 40).cast("string")).alias(
                "conv_id"
            ),
            (F.col("id") / 40).cast("int").alias("turn_idx"),
            F.col("id").alias("val"),
        )

        def checksum(d: DataFrame) -> tuple[int, int]:
            r = d.agg(
                F.count("*").alias("n"),
                F.coalesce(
                    F.bit_xor(F.xxhash64("conv_id", "turn_idx", "val")),
                    F.lit(0),
                ).alias("cs"),
            ).collect()[0]
            return int(r["n"]), int(r["cs"])

        first = checksum(commit_stage(df, tmp, "s1", n_buckets=8))
        ok_clean = validate_stage(spark, tmp, "s1")
        ldir = _lineage_dir(tmp, "s1")
        victims = sorted(f for f in os.listdir(ldir) if f.endswith(".json"))
        os.remove(os.path.join(ldir, victims[0]))
        ok_detects = not validate_stage(spark, tmp, "s1")
        n_left = len(committed_buckets(spark, tmp, "s1", n_buckets=8))
        second = checksum(commit_stage(df, tmp, "s1", n_buckets=8))
        ok_revalid = validate_stage(spark, tmp, "s1")
        ok_same = second == first
        ok_partial = n_left == len(victims) - 1
        return sum(
            0 if ok else 1
            for ok in (ok_clean, ok_detects, ok_revalid, ok_same, ok_partial)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def validate_stage(
    spark: SparkSession,
    root: str,
    stage: str,
    totals: dict[str, int] | None = None,
) -> bool:
    """Re-checksum committed data against lineage (detects torn
    writes: data without lineage, lineage without data, or a bucket
    whose row count or checksum differs from its lineage row).

    One aggregate job (at most n_buckets rows back), compared with the
    JSON lineage rows on the driver.  When ``totals`` is given, the
    stage's row count from that aggregate is stored under ``stage``."""
    expected = {
        int(rec["part"]): (int(rec["output_rows"]), int(rec["checksum"]))
        for rec in lineage_records(root, stage)
    }
    data_dir = os.path.join(root, stage)
    actual: dict[int, tuple[int, int]] = {}
    if os.path.isdir(data_dir):
        data = spark.read.parquet(data_dir)
        cols = [c for c in data.columns if c != "part"]
        actual = {
            int(r["part"]): (int(r["rows"]), int(r["cs"]))
            for r in data.groupBy("part")
            .agg(
                F.count("*").alias("rows"),
                F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("cs"),
            )
            .collect()
        }
    if totals is not None:
        totals[stage] = sum(rows for rows, _cs in actual.values())
    return actual == expected

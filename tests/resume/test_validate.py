"""validate_stage must fail on every torn state: lineage without data,
data without lineage, and a bucket whose content no longer matches its
checksum at the same row count."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ner_spark.checkpoint.lineage import LINEAGE_TABLE, commit_stage, validate_stage
from ner_spark.fixtures.transcripts import transcripts_df

N_BUCKETS = 4
STAGE = "turns"


@pytest.fixture()
def root(spark, tmp_path):
    root = str(tmp_path)
    t = transcripts_df(spark, 24).select("conv_id", "turn_idx", "text")
    commit_stage(t, root, STAGE, n_buckets=N_BUCKETS)
    totals: dict[str, int] = {}
    assert validate_stage(spark, root, STAGE, totals)
    assert totals == {STAGE: t.count()}
    return root


def _part_dir(root: str) -> tuple[int, str]:
    data_dir = os.path.join(root, STAGE)
    d = sorted(e for e in os.listdir(data_dir) if e.startswith("part="))[0]
    return int(d.split("=", 1)[1]), os.path.join(data_dir, d)


def test_missing_data_with_lineage_fails(spark, root):
    _k, pdir = _part_dir(root)
    shutil.rmtree(pdir)
    assert not validate_stage(spark, root, STAGE)


def test_data_without_lineage_fails(spark, root):
    k, _pdir = _part_dir(root)
    os.remove(os.path.join(root, LINEAGE_TABLE, STAGE, f"part-{k:05d}.json"))
    assert not validate_stage(spark, root, STAGE)


def test_same_count_changed_value_fails(spark, root):
    data_dir = os.path.join(root, STAGE)
    n_rows = spark.read.parquet(data_dir).count()
    _k, pdir = _part_dir(root)
    path = next(
        os.path.join(pdir, f)
        for f in sorted(os.listdir(pdir))
        if f.endswith(".parquet")
        and pq.ParquetFile(os.path.join(pdir, f)).metadata.num_rows > 0
    )
    tbl = pq.ParquetFile(path).read()
    texts = tbl.column("text").to_pylist()
    texts[0] += "x"
    i = tbl.schema.get_field_index("text")
    tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(texts, tbl.schema.field(i).type))
    pq.write_table(tbl, path)
    # the local filesystem's checksum sidecar would reject the rewrite
    # before validation sees it
    os.remove(os.path.join(pdir, f".{os.path.basename(path)}.crc"))
    assert spark.read.parquet(data_dir).count() == n_rows
    assert not validate_stage(spark, root, STAGE)


def test_streaming_batch_stage_validates(spark, tmp_path):
    """The foreachBatch sink commits nested ``stream_tagged/batch=N``
    stages; they validate like any other stage."""
    from ner_spark.streaming.face import stream_mentions_foreach_batch

    root = str(tmp_path)
    batch = transcripts_df(spark, 12)
    stream_mentions_foreach_batch(root)(batch, 0)
    totals: dict[str, int] = {}
    assert validate_stage(spark, root, "stream_tagged/batch=0", totals)
    assert totals == {"stream_tagged/batch=0": batch.count()}

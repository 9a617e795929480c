"""In-process runs of the spark-submit entry ``pipeline.main``: each
flag changes what the run does."""

from __future__ import annotations

import ast
import os

import pytest

from ner_spark.checkpoint.resume import STAGES
from ner_spark.checkpoint.snapshots import snapshots
from ner_spark.fixtures.transcripts import transcripts_df
from ner_spark.pipeline import main


def _run(capsys, argv: list[str]) -> dict:
    main(argv)
    out = ast.literal_eval(capsys.readouterr().out.strip().splitlines()[-1])
    assert all(out["validated"].values()), out
    assert set(out["counts"]) == set(out["validated"])
    return out


def test_main_honours_flags(spark, tmp_path, capsys, tagger_rows):
    inp = str(tmp_path / "transcripts")
    transcripts_df(spark, 30).write.parquet(inp)
    n_rows = spark.read.parquet(inp).count()
    root = str(tmp_path / "root")
    base = ["--input", inp, "--root", root, "--mode", "gazetteer"]

    # --stage tag commits tagged_turns and mentions only
    out = _run(capsys, base + ["--stage", "tag"])
    assert set(out["counts"]) == {"tagged_turns", "mentions"}
    assert out["counts"]["tagged_turns"] == n_rows
    assert not os.path.exists(os.path.join(root, "triples"))
    assert tagger_rows.value == n_rows

    # --stage triples resumes: the tagged turns are committed, so
    # nothing is tagged and only triples are computed
    tagger_rows.value = 0
    out = _run(capsys, base + ["--stage", "triples"])
    assert set(out["counts"]) == set(STAGES)
    assert tagger_rows.value == 0

    # default --stage all with --from-checkpoint auto: a no-op rerun
    n_snaps = {s: len(snapshots(root, s)) for s in STAGES}
    again = _run(capsys, base + ["--from-checkpoint", "auto"])
    assert again["counts"] == out["counts"]
    assert tagger_rows.value == 0
    assert {s: len(snapshots(root, s)) for s in STAGES} == n_snaps

    # --no-resume retags and rewrites every bucket
    fresh = _run(capsys, base + ["--no-resume"])
    assert fresh["counts"] == out["counts"]
    assert tagger_rows.value == n_rows
    assert all(len(snapshots(root, s)) == n_snaps[s] + 1 for s in STAGES)


@pytest.mark.parametrize(
    "flag", [["--from-checkpoint", "latest"], ["--stage", "link"]]
)
def test_main_rejects_unknown_choices(tmp_path, flag):
    with pytest.raises(SystemExit):
        main(["--input", str(tmp_path), "--root", str(tmp_path)] + flag)

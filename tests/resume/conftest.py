from __future__ import annotations

import pytest


@pytest.fixture()
def tagger_rows(spark, monkeypatch):
    """Accumulator counting the rows that enter the tagger inside
    ``run_resumable``: its input passes through a bumping mapInPandas."""
    import ner_spark.checkpoint.resume as resume

    acc = spark.sparkContext.accumulator(0)
    tag_turns = resume.tag_turns

    def bump(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    def counted(df, *args, **kwargs):
        return tag_turns(df.mapInPandas(bump, df.schema), *args, **kwargs)

    monkeypatch.setattr(resume, "tag_turns", counted)
    return acc

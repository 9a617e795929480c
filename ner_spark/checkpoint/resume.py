"""Resumable pipeline runner: each stage commits partition-aligned
with lineage (checkpoint/lineage.py).  A rerun computes only the
buckets a stage's lineage says are missing: the transcripts are
filtered to the tagged_turns stage's uncommitted buckets BEFORE the
tagger, and the committed tagged_turns read-back to the mentions' and
triples' uncommitted buckets before those stages.  Every stage here is
per-conversation (co-occurrence windows never cross conversations) and
the bucket is a function of conv_id, so the filtered rows produce
exactly the missing buckets' output (SURVEY.md §3.2 stages 2/5/11)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ner_spark.checkpoint.lineage import commit_stage, uncommitted, validate_stage
from ner_spark.kg.cooccur import extract_triples
from ner_spark.ner.tagger import mentions_from_turns, tag_turns

STAGES = ("tagged_turns", "mentions", "triples")


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    mode: str = "model",
    n_buckets: int = 8,
    triples: bool = True,
    resume: bool = True,
) -> dict[str, DataFrame]:
    """transcripts → committed tagged_turns + mentions (+ triples when
    ``triples``) under ``root``.

    Idempotent: rerunning after a partial failure (some buckets
    committed, some not) recomputes only the missing buckets and
    yields byte-identical tables; rerunning after success tags nothing
    and writes nothing.  ``resume=False`` recomputes and rewrites
    every bucket.  Duplicate input rows (at-least-once sources) are
    dropped deterministically before tagging (operator O6)."""

    def run(stage: str, build, src: DataFrame) -> DataFrame:
        if resume:
            src = uncommitted(src, root, stage, n_buckets)
        return commit_stage(build(src), root, stage, n_buckets, resume)

    tagged = run(
        "tagged_turns",
        lambda df: tag_turns(df.dropDuplicates(["conv_id", "turn_idx"]), mode=mode),
        transcripts,
    )
    out = {
        "tagged_turns": tagged,
        "mentions": run("mentions", mentions_from_turns, tagged),
    }
    if triples:
        out["triples"] = run("triples", extract_triples, tagged)
    return out


def validate_all(
    spark: SparkSession,
    root: str,
    stages: tuple[str, ...] = STAGES,
    totals: dict[str, int] | None = None,
) -> dict[str, bool]:
    """validate_stage per stage; ``totals`` collects each stage's row
    count from the same aggregates."""
    return {
        stage: validate_stage(spark, root, stage, totals) for stage in stages
    }

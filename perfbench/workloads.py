"""The benchmark's seeded workloads over the KG pipeline.

Each workload generates its inputs from the seed (``prepare``), warms
every code path a timed pass uses with untimed work (``warm``), and
runs timed passes (``run_pass``).  A pass returns its wall
seconds, the time windows it spent in the program (for the traced
run's attribution), the turns it processed, a signature of its
outputs (equal on every pass of a run) and the checks it made.

The seed picks a window of conversation ordinals fed to
``fixtures.transcripts.gen_conv``; in kg_build the window's first
conversation is the pinned 5,000-turn whale, and the window ends once
the other conversations reach the workload's turn budget
(``turn_budget``), so every seed gives the same amount of work.
"""

from __future__ import annotations

import ast
import contextlib
import io
import json
import os
import random
import shutil
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ner_spark.fixtures import transcripts as fx

WHALE_TURNS = 5000


def conv_window(seed: int, turn_budget: int, whale: bool) -> tuple[int, int, int]:
    """(first ordinal, end ordinal, turns) of the seed's window: the
    whale (if ``whale``) plus as many following conversations as it
    takes to reach ``turn_budget`` turns (turn counts come from the
    generator's own per-conversation RNG, so this is exact)."""
    start = random.Random(seed).randrange(1, 9_000_000)
    turns, o = 0, start + 1 if whale else start
    while turns < turn_budget:
        turns += fx._zipf_turns(random.Random(fx._seed(f"c{o:06d}")))
        o += 1
    return start, o, turns + (WHALE_TURNS if whale else 0)


def _gen(batches, whale: int):
    cols = [n for n, _ in fx.TRANSCRIPT_FIELDS]
    for pdf in batches:
        rows: list[tuple] = []
        for o in pdf["id"].tolist():
            t, _gold = fx.gen_conv(
                f"c{o:06d}", o, "correctness", WHALE_TURNS if o == whale else None
            )
            rows.extend(t)
        yield pd.DataFrame(rows, columns=cols)


def transcripts_window(
    spark: SparkSession, start: int, stop: int, whale: bool = True
) -> DataFrame:
    """Transcripts of conversations [start, stop), the first one the
    whale unless ``whale`` is false, generated distributed (each
    conversation is a pure function of its ordinal)."""
    parts = 4 * spark.sparkContext.defaultParallelism
    whale_o = start if whale else -1
    return spark.range(start, stop, 1, parts).mapInPandas(
        lambda it: _gen(it, whale_o), fx.TRANSCRIPT_SCHEMA
    )


def table_sig(df: DataFrame, extra=()) -> tuple:
    """(rows, order-independent checksum, *extra aggregates) in one action."""
    cols = [c for c in df.columns if c != "part"]
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)),
        *extra,
    ).collect()[0]
    return tuple(int(v) for v in row)


def _conv_slice(df: DataFrame, modulus: int, whale_id: str) -> DataFrame:
    """Whole conversations, 1/modulus of them by conv hash, no whale."""
    return df.filter(
        (F.pmod(F.xxhash64("conv_id"), F.lit(modulus)) == 0)
        & (F.col("conv_id") != whale_id)
    )


def mentions_match_oracle(got: DataFrame, pdf: pd.DataFrame) -> bool:
    """The mentions frame ``got`` holds exactly what the single-process
    oracle tagger finds in the turns ``pdf`` (conv_id, turn_idx, text)."""
    from ner_spark.ner.oracle import oracle_mentions

    cols = ["conv_id", "turn_idx", "start", "end", "surface", "label"]
    got = got.select(*cols).toPandas().sort_values(cols).reset_index(drop=True)
    want = oracle_mentions(pdf)
    return len(want) > 0 and got.astype(str).equals(want.astype(str))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    turn_budget = 0  # turns beside the whale
    whale = True  # the window starts with the whale
    min_passes = 1  # timed passes a run makes at least

    def __init__(self, seed: int, work: str):
        self.work = work
        self.start, self.stop, self.n_turns = conv_window(seed, self.turn_budget, self.whale)
        self.whale_id = f"c{self.start:06d}" if self.whale else ""
        self.inp: DataFrame | None = None

    def kernel_texts(self) -> list[str]:
        """Turn texts for the single-process kernel probe: a 1/8 slice
        by turn hash, in a fixed order."""
        rows = (
            self.inp.filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(8)) == 0)
            .orderBy("conv_id", "turn_idx")
            .select("text")
            .collect()
        )
        return [r["text"] for r in rows]

    def slice_pdf(self):
        """(conv_id, turn_idx, text) of a 1/64 conversation slice, for
        the tagger parity check."""
        return (
            _conv_slice(self.inp, 64, self.whale_id)
            .select("conv_id", "turn_idx", "text")
            .toPandas()
        )


class KgBuild(Workload):
    """run_pipeline(materialize=True) → count entities and edges →
    release_pipeline, over a small corpus (a vocabulary of about 140
    surface nodes)."""

    name = "kg_build"
    turn_budget = 10_600
    min_passes = 3

    def prepare(self, spark: SparkSession) -> None:
        self.inp = transcripts_window(spark, self.start, self.stop).localCheckpoint(
            eager=True
        )

    def warm(self, spark, tracer) -> None:
        """A whole pass over the real input: every plan a timed pass
        runs, at its size."""
        self._pass(spark, tracer, traced=False)

    def _pass(self, spark, tracer, traced: bool) -> dict:
        from ner_spark.pipeline import release_pipeline, run_pipeline

        lo = time.time()
        out = run_pipeline(spark, self.inp, mode="model", materialize=True)
        with tracer.span("kg.materialize.build_entities.count"):
            ent = table_sig(out["entities"])
        with tracer.span("kg.materialize.build_edges.count"):
            edg = table_sig(out["edges"], [F.coalesce(F.sum("weight"), F.lit(0))])
        hi = time.time()
        res = {
            "wall_s": hi - lo,
            "windows": [(lo, hi)],
            "turns": self.n_turns,
            "triples": edg[2],
            "sig": (ent, edg),
        }
        if traced:  # after the clock; both frames are cached
            res["counts"] = {
                "kg.linking.nodes": out["nodes"].count(),
                "kg.linking.edges": out["match_edges"].count(),
                "kg.cc.components": ent[0],
            }
        release_pipeline(out)
        return res

    def run_pass(self, spark, tracer, traced: bool) -> dict:
        out = self._pass(spark, tracer, traced)
        ent, edg = out["sig"]
        out["checks"] = [
            ("entities and edges non-empty", ent[0] > 0 and edg[0] > 0),
            ("every triple lands on an entity edge", edg[2] > 0),
        ]
        return out


class KgCommit(Workload):
    """The spark-submit entry, cold → resume after losing the lineage of
    2 of its 8 buckets → no-op rerun.  Its window has no whale: every
    entry run retags the whole input, and the whale's one serial task
    (measured in kg_build) would hide the checkpoint layers' time."""

    name = "kg_commit"
    turn_budget = 3_000
    whale = False
    STAGES = ("tagged_turns", "mentions", "triples")

    def prepare(self, spark: SparkSession) -> None:
        self.input_path = os.path.join(self.work, "input")
        shutil.rmtree(self.input_path, ignore_errors=True)
        transcripts_window(spark, self.start, self.stop, self.whale).write.parquet(
            self.input_path
        )
        self.inp = spark.read.parquet(self.input_path)
        self.input_bytes = _dir_bytes(self.input_path)

    def warm(self, spark, tracer) -> None:
        """A cold entry run over the real input (into a root of its
        own), whose lineage also gives the rows of each bucket.  The
        two lowest-numbered buckets are the ones a cycle loses; the
        input has no whale, so no seed puts a large serial task in the
        resumed share."""
        from ner_spark.checkpoint.lineage import LINEAGE_TABLE

        root = os.path.join(self.work, "warm_root")
        self._entry(tracer, "warm_cold", root)
        ldir = os.path.join(root, LINEAGE_TABLE, "tagged_turns")
        per_bucket = {}
        for fn in os.listdir(ldir):
            with open(os.path.join(ldir, fn)) as f:
                rec = json.load(f)
            per_bucket[rec["part"]] = rec["output_rows"]
        shutil.rmtree(root, ignore_errors=True)
        self.lost = sorted(per_bucket)[:2]
        self.ideal_resume = sum(per_bucket[b] for b in self.lost) / self.n_turns

    def _entry(self, tracer, phase: str, root: str):
        """One run of ``pipeline.main``; returns (window, printed dict)."""
        from ner_spark.pipeline import main

        buf = io.StringIO()
        with tracer.span(f"pipeline.main.{phase}"):
            lo = time.time()
            with contextlib.redirect_stdout(buf):
                main(["--input", self.input_path, "--root", root, "--stage", "triples"])
            hi = time.time()
        return (lo, hi), ast.literal_eval(buf.getvalue().strip().splitlines()[-1])

    def _lose_buckets(self, root: str) -> None:
        from ner_spark.checkpoint.lineage import LINEAGE_TABLE

        for stage in self.STAGES:
            for b in self.lost:
                with contextlib.suppress(FileNotFoundError):  # empty bucket
                    os.remove(os.path.join(root, LINEAGE_TABLE, stage, f"part-{b:05d}.json"))

    def _tables(self, root: str) -> tuple:
        """(rows, checksum) of each committed table, folded from its
        per-bucket lineage rows; the entry's validate_all has already
        re-checksummed the data against them."""
        from ner_spark.checkpoint.lineage import LINEAGE_TABLE

        out = []
        for stage in self.STAGES:
            rows, cs = 0, 0
            ldir = os.path.join(root, LINEAGE_TABLE, stage)
            for fn in sorted(os.listdir(ldir)):
                with open(os.path.join(ldir, fn)) as f:
                    rec = json.load(f)
                rows += rec["output_rows"]
                cs ^= rec["checksum"]
            out.append((rows, cs))
        return tuple(out)

    def _cycle(self, spark, tracer) -> dict:
        root = os.path.join(self.work, "root")
        shutil.rmtree(root, ignore_errors=True)
        r: dict = {}
        r["cold_w"], r["cold"] = self._entry(tracer, "cold", root)
        # checks outside the timed windows
        r["cold_tables"] = self._tables(root)
        r["bytes_written"] = _dir_bytes(root)
        r["parity"] = self._parity(spark, root)
        self._lose_buckets(root)
        r["resume_w"], r["resumed"] = self._entry(tracer, "resume", root)
        r["resume_tables"] = self._tables(root)
        r["noop_w"], r["noop"] = self._entry(tracer, "noop", root)
        shutil.rmtree(root, ignore_errors=True)
        return r

    def _parity(self, spark, root: str) -> bool:
        """Committed mentions of a 1/64 conversation slice equal the
        single-process oracle tagger's."""
        pdf = self.slice_pdf()
        got = spark.read.parquet(os.path.join(root, "mentions")).filter(
            F.col("conv_id").isin(sorted(set(pdf["conv_id"])))
        )
        return mentions_match_oracle(got, pdf)

    def run_pass(self, spark, tracer, traced: bool) -> dict:
        r = self._cycle(spark, tracer)
        span = {k: r[f"{k}_w"][1] - r[f"{k}_w"][0] for k in ("cold", "resume", "noop")}
        ok = [all(r[k]["validated"].values()) for k in ("cold", "resumed", "noop")]
        counts = r["cold"]["counts"]
        return {
            "wall_s": sum(span.values()),
            "windows": [r["cold_w"], r["resume_w"], r["noop_w"]],
            "cold_s": span["cold"],
            "resume_s": span["resume"],
            "noop_rerun_s": span["noop"],
            "turns": counts["tagged_turns"],
            "triples": counts["triples"],
            "bytes_written": r["bytes_written"],
            "sig": r["cold_tables"],
            "checks": [
                ("validate_all after the cold run", ok[0]),
                ("validate_all after the resume", ok[1]),
                ("validate_all after the no-op rerun", ok[2]),
                ("resumed tables equal the cold run's", r["resume_tables"] == r["cold_tables"]),
                ("every input turn tagged", counts["tagged_turns"] == self.n_turns),
                ("committed mentions equal oracle_mentions on a slice", r["parity"]),
            ],
        }


WORKLOADS = {w.name: w for w in (KgBuild, KgCommit)}

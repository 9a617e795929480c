#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads: kg_build, kg_commit (see perfbench/README.md).  The run
sets Spark up and warms up once (``setup_s``), then repeats timed
passes until they add up to ``--seconds`` seconds and reports the
median pass.  ``--trace 1`` instead starts Spark with an event log,
runs untraced passes, traced passes and one more untraced pass, and
prints the per-layer table.  Human-readable tables go to
stderr; the last line of stdout is one JSON object: ``{"correct",
"attempted", "failed", "metrics"}``.  All files the run writes stay
under perfbench/_work (removed at the end) and perfbench/out (the
traced run's span record).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OUT = os.path.join(HERE, "out")
DRIVER_MEM_CAP_MB = 4096

# Per-layer time of a module layer: the summed self time of the spans
# whose name is one of these or starts with one of them plus a dot,
# less the tagger and co-occurrence stages those spans forced (they
# are layers of their own).
SPAN_LAYERS = {
    "kg.linking.surface_nodes_s": ("kg.linking.surface_nodes",),
    "kg.linking.match_edges_s": ("kg.linking.match_edges",),
    "kg.cc.s": ("kg.cc.connected_components",),
    "kg.materialize.assign_s": ("kg.materialize.entity_assignments",),
    "kg.materialize.entities_s": ("kg.materialize.build_entities",),
    "kg.materialize.edges_s": ("kg.materialize.build_edges",),
    "ops.textops.minhash_signatures_s": ("ops.textops.minhash_signatures",),
    "ops.textops.lsh_candidate_pairs_s": ("ops.textops.lsh_candidate_pairs",),
    "checkpoint.lineage.commit_s": ("checkpoint.lineage.commit_stage",),
    "checkpoint.lineage.commit.tagged_turns_s": ("checkpoint.lineage.commit_stage.tagged_turns",),
    "checkpoint.lineage.commit.mentions_s": ("checkpoint.lineage.commit_stage.mentions",),
    "checkpoint.lineage.commit.triples_s": ("checkpoint.lineage.commit_stage.triples",),
    "checkpoint.lineage.validate_s": ("checkpoint.lineage.validate_stage",),
}

# In-stage time of these layers is not charged to a module: jobs
# submitted with no span open, and the benchmark's spans around a
# whole entry run (whose self work is the entry's own code).
UNATTRIBUTED = ("unattributed", "pipeline.main.")


def _span_layers(selfs: dict[str, float], forced: dict[str, float]) -> dict[str, float]:
    return {
        metric: sum(
            v - forced.get(name, 0.0) for name, v in selfs.items()
            if any(name == p or name.startswith(p + ".") for p in prefixes)
        )
        for metric, prefixes in SPAN_LAYERS.items()
    }


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _configure_env(cores: int, ram_mb: int) -> int:
    """Size Spark for this machine before its JVM starts; keep every
    scratch file inside the checkout."""
    driver_mb = min(DRIVER_MEM_CAP_MB, ram_mb // 4)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return driver_mb


def _start_spark(cores: int, event_dir: str | None = None):
    from ner_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')}"
        ),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop Spark and its JVM (and with it the Python workers), then
    reap anything this process started that is still running."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    _reap_descendants()


def _reap_descendants(grace_s: float = 20.0) -> None:
    from perfbench.trace import descendants

    pids = descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace_s
        while time.time() < deadline:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            if not pids:
                return
            time.sleep(0.1)


class Ops:
    """Operations attempted and failed (wrong output counts as failed)."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def record(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed.append(name)


def _setup(wl, cores, event_dir=None):
    """Start Spark and generate the inputs; returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = _start_spark(cores, event_dir)
    t1 = time.perf_counter()
    wl.prepare(spark)
    t2 = time.perf_counter()
    print(f"[perfbench] Spark start {t1 - t0:.3f} s, inputs {t2 - t1:.3f} s", file=sys.stderr)
    return spark, t2 - t0


def _warm(wl, spark, tracer) -> float:
    t0 = time.perf_counter()
    wl.warm(spark, tracer)
    return time.perf_counter() - t0


def _timed_passes(wl, spark, tracer, seconds, ops, traced, first_sig, min_passes=1):
    passes = []
    while len(passes) < min_passes or sum(p["wall_s"] for p in passes) < seconds:
        i = len(passes)
        try:
            p = wl.run_pass(spark, tracer, traced)
        except Exception:
            traceback.print_exc()
            ops.record(f"pass {i} raised", False)
            break
        bad = [name for name, ok in p["checks"] if not ok]
        if first_sig[0] is None:
            first_sig[0] = p["sig"]
        elif p["sig"] != first_sig[0]:
            bad.append("outputs differ from the run's first pass")
        for name in bad:
            print(f"[perfbench] pass {i}: FAILED check: {name}", file=sys.stderr)
        ops.record(f"pass {i}", not bad)
        passes.append(p)
        parts = "".join(
            f", {k} {p[k]:.3f} s" for k in ("cold_s", "resume_s", "noop_rerun_s") if k in p
        )
        kind = "traced pass" if traced else "pass"
        print(f"[perfbench] {wl.name} {kind} {i}: {p['wall_s']:.3f} s{parts}", file=sys.stderr)
    return passes


def _median(passes, key):
    return statistics.median(p[key] for p in passes)


def run_untraced(wl, cores, seconds, ops) -> dict:
    from perfbench.trace import MemSampler, NullTracer

    tracer = NullTracer()
    spark, start_s = _setup(wl, cores)
    warm_s = _warm(wl, spark, tracer)
    print(f"[perfbench] set-up {start_s:.3f} s, warm-up {warm_s:.3f} s", file=sys.stderr)
    setup_s = start_s + warm_s
    with MemSampler() as mem:
        passes = _timed_passes(wl, spark, tracer, seconds, ops, False, [None], wl.min_passes)
    spark.stop()
    if not passes:
        return {"setup_s": setup_s}
    wall = _median(passes, "wall_s")
    # kg_commit's throughput is the cold run's; elsewhere the pass's
    per_turn_s = _median(passes, "cold_s") if "cold_s" in passes[0] else wall
    out = {
        "setup_s": setup_s,
        "wall_s": wall,
        "turns_per_s": passes[0]["turns"] / per_turn_s,
        "peak_python_pss_mb": mem.python_peak_mb,
        "peak_jvm_rss_mb": mem.jvm_peak_mb,
        "passes": len(passes),
    }
    if "resume_s" in passes[0]:
        out["cold_s"] = per_turn_s
        out["resume_s"] = _median(passes, "resume_s")
        out["noop_rerun_s"] = _median(passes, "noop_rerun_s")
    return out


def run_traced(wl, cores, seconds, ops, seed) -> dict:
    from perfbench import trace

    event_dir = os.path.join(WORK, "events")
    null = trace.NullTracer()
    spark, _ = _setup(wl, cores, event_dir)
    _warm(wl, spark, null)
    first_sig = [None]
    plain = _timed_passes(wl, spark, null, seconds / 2, ops, False, first_sig)
    tracer = trace.Tracer(spark.sparkContext)
    with trace.wrapped_modules(tracer):
        traced = _timed_passes(wl, spark, tracer, seconds / 2, ops, True, first_sig)
    # one untraced pass after the traced ones too, so that the passes
    # nearest the warm-up are not all on the untraced side
    plain += _timed_passes(wl, spark, null, 0, ops, False, first_sig)
    texts = wl.kernel_texts()
    spark.stop()
    log = trace.read_event_log(event_dir)

    rows = []
    for p in traced:
        a = trace.attribute(log, tracer, p["windows"])
        m = dict(a["metrics"])
        ins = a["in_stage_s"]
        m["ner.tagger.stage_s"] = ins.get("ner.tagger", 0.0)
        m["ner.tagger.layout_s"] = ins.get("ner.tagger.layout", 0.0)
        m["kg.cooccur.stage_s"] = ins.get("kg.cooccur", 0.0)
        m["kg.cooccur.triples_out"] = float(p["triples"])
        loose = sum(v for k, v in ins.items() if k.startswith(UNATTRIBUTED))
        m["trace.unattributed_s"] = loose
        m["trace.coverage"] = (
            sum(ins.values()) - loose + m["driver.offstage_s"]
        ) / p["wall_s"]
        m.update({k: float(v) for k, v in p.get("counts", {}).items()})
        selfs = tracer.self_times(p["windows"])
        m.update(_span_layers(selfs, a["forced_s"]))
        if "resume_s" in p:
            m.update(_commit_layers(wl, log, tracer, p))
        rows.append((p, m, ins, selfs))

    keys = sorted({k for _p, m, _i, _s in rows for k in m})
    per_layer = {k: statistics.median(m.get(k, 0.0) for _p, m, _i, _s in rows) for k in keys}
    per_layer.update(trace.kernel_probe(texts))
    per_layer["trace.overhead_s"] = (
        _median(traced, "wall_s") - _median(plain, "wall_s") if traced and plain else 0.0
    )
    _write_record(wl, seed, tracer, rows, per_layer)
    if rows:
        _print_layer_table(wl, rows, per_layer)
    return per_layer


def _commit_layers(wl, log, tracer, p) -> dict:
    """kg_commit's checkpoint layers for one cold → resume → no-op pass."""
    from perfbench import trace

    cold_w, resume_w, noop_w = p["windows"]
    rows_in = {
        k: trace.attribute(log, tracer, [w])["metrics"]["ner.tagger.rows_in"]
        for k, w in (("cold", cold_w), ("resume", resume_w), ("noop", noop_w))
    }
    return {
        "checkpoint.lineage.bytes_written": float(p["bytes_written"]),
        "checkpoint.lineage.write_amp": p["bytes_written"] / wl.input_bytes,
        "checkpoint.resume.retag_frac": rows_in["resume"] / rows_in["cold"],
        "checkpoint.resume.retag_frac_ideal": wl.ideal_resume,
        "checkpoint.noop.retag_frac": rows_in["noop"] / rows_in["cold"],
        "checkpoint.noop.retag_frac_ideal": 0.0,
    }


def _write_record(wl, seed, tracer, rows, per_layer) -> None:
    os.makedirs(OUT, exist_ok=True)
    rec = {
        "workload": wl.name,
        "seed": seed,
        "per_layer": per_layer,
        "passes": [
            {"wall_s": p["wall_s"], "metrics": m, "in_stage_s": ins, "span_self_s": selfs}
            for p, m, ins, selfs in rows
        ],
        "spans": tracer.spans,
    }
    with open(os.path.join(OUT, f"trace_{wl.name}_seed{seed}.json"), "w") as f:
        json.dump(rec, f, indent=1)


def _print_layer_table(wl, rows, per_layer) -> None:
    p, m, ins, selfs = sorted(rows, key=lambda r: r[0]["wall_s"])[len(rows) // 2]
    err = sys.stderr
    print(f"\n[perfbench] {wl.name} traced pass (median of {len(rows)}): "
          f"wall {p['wall_s']:.3f} s", file=err)
    print(f"  {'layer (in-stage time)':44s} {'s':>9s} {'share':>7s}", file=err)
    for layer, v in sorted(ins.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:44s} {v:9.3f} {v / p['wall_s']:7.1%}", file=err)
    off = m["driver.offstage_s"]
    print(f"  {'driver.offstage_s':44s} {off:9.3f} {off / p['wall_s']:7.1%}", file=err)
    print(f"  {'coverage (module layers + off-stage)':44s} {m['trace.coverage']:9.3f}", file=err)
    print(f"  {'span (self time, wall)':44s} {'s':>9s}", file=err)
    for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {name:44s} {v:9.3f}", file=err)
    print("  per-layer metrics (median over traced passes):", file=err)
    for k in sorted(per_layer):
        print(f"  {k:52s} {per_layer[k]:.6g}", file=err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ner_spark", "pipeline.py")):
        print(f"[perfbench] no ner_spark package beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    ram_mb = _meminfo_mb()
    shutil.rmtree(WORK, ignore_errors=True)
    driver_mb = _configure_env(cores, ram_mb)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](args.seed, WORK)
    print(f"[perfbench] {wl.name} seed {args.seed}: local[{cores}], RAM {ram_mb} MiB, "
          f"driver {driver_mb} MiB, conversations [{wl.start}, {wl.stop}), "
          f"{wl.n_turns} turns", file=sys.stderr)
    ops = Ops()
    try:
        if args.trace:
            values = run_traced(wl, cores, args.seconds, ops, args.seed)
        else:
            values = run_untraced(wl, cores, args.seconds, ops)
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
        for m in spec[kind]
    }
    if not args.trace:
        print(f"\n[perfbench] {wl.name}: end-to-end (median of {values.get('passes', 0)} passes)",
              file=sys.stderr)
        for k in ("setup_s", "wall_s", "turns_per_s", "peak_python_pss_mb", "peak_jvm_rss_mb",
                  "cold_s", "resume_s", "noop_rerun_s"):
            if k in values:
                print(f"  {k:16s} {values[k]:.4f}", file=sys.stderr)
        print(f"  {'failed_frac':16s} {len(ops.failed) / max(ops.attempted, 1):.4f} "
              f"({len(ops.failed)} of {ops.attempted})", file=sys.stderr)
    for name in ops.failed:
        print(f"[perfbench] FAILED: {name}", file=sys.stderr)
    print(json.dumps({
        "correct": not ops.failed and ops.attempted > 0,
        "attempted": max(ops.attempted, 1),
        "failed": len(ops.failed) if ops.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Measurement instruments of the benchmark: spans, module wrappers,
a process-tree RSS sampler, the Spark event-log reader, the layer
attribution and the single-process tagger-kernel probe.

Everything here observes the program from outside.  Spans are opened
by the benchmark around its own calls and around calls into the
public functions of ``ner_spark`` modules (wrapped for the traced run
only); no program file is changed.

Attribution of Spark work to layers.  Spark plans are lazy, so a
module's work runs in whichever call forces it.  Each span sets the
Spark job description to its own id, so every job in the event log
names the innermost span that was open when it was submitted.  Each
stage of that job is then charged to one layer:

- a stage running ``MapInPandas`` is the tagger stage (``ner.tagger``);
  inside a timed pass the tagger UDF is the only Python operator,
  because inputs are materialised during set-up;
- a stage running a ``Window`` is the co-occurrence stage
  (``kg.cooccur``); ``extract_triples`` is the only windowed operator;
- any other stage that finished before a tagger stage of the same
  span started is the tagger's input layout (``ner.tagger.layout``);
- every other stage is charged to the innermost span's layer, or to
  ``unattributed`` when the job was submitted with no span open.

Time inside stages is split by a sweep over stage intervals (time
covered by k concurrent stages counts 1/k to each), so the per-layer
in-stage seconds plus ``driver.offstage_s`` (pass wall minus the union
of stage intervals) add up to the pass wall exactly.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import statistics
import sys
import threading
import time


# --------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent).  Written out only
    when the run ends.  With a SparkContext, every span also becomes
    the description of the Spark jobs submitted while it is the
    innermost open span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._describe()

    def _describe(self) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(
                f"span:{self._stack[-1]}" if self._stack else None
            )

    def self_times(self, windows) -> dict[str, float]:
        """Span name → summed self time (duration minus the part of it
        covered by child spans), over spans that start in one of the
        (lo, hi) ``windows``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or not any(lo <= s["start"] < hi for lo, hi in windows):
                continue
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])])
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out


class NullTracer:
    """The untraced runs' tracer: spans cost one context manager."""

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# Public functions wrapped in the traced run, by module.  Lazy ones
# (they only build a plan) get near-zero spans; the ones that run
# Spark actions get the jobs those actions submit.
WRAPPED = {
    "ner_spark.ner.tagger": ("tag_turns", "mentions_from_turns"),
    "ner_spark.kg.cooccur": ("extract_triples",),
    "ner_spark.kg.linking": ("surface_nodes", "match_edges"),
    "ner_spark.kg.cc": ("connected_components",),
    "ner_spark.kg.materialize": (
        "entity_assignments", "build_entities", "build_edges",
    ),
    "ner_spark.ops.textops": ("minhash_signatures", "lsh_candidate_pairs"),
    "ner_spark.checkpoint.lineage": ("commit_stage", "validate_stage"),
    "ner_spark.checkpoint.resume": ("run_resumable", "validate_all"),
    "ner_spark.io.read": ("read_transcripts",),
    "ner_spark.pipeline": ("run_pipeline", "release_pipeline"),
}


def _span_name(mod: str, fn_name: str, args, kwargs, sig) -> str:
    base = f"{mod[len('ner_spark.'):]}.{fn_name}"
    if fn_name in ("commit_stage", "validate_stage"):
        # one layer per committed stage: the stage name is an argument
        stage = sig.bind_partial(*args, **kwargs).arguments.get("stage")
        return f"{base}.{stage}"
    return base


@contextlib.contextmanager
def wrapped_modules(tracer: Tracer, table: dict = WRAPPED):
    """Replace every reference to a function of ``table`` (module →
    function names) in every loaded ``ner_spark`` module (``from x
    import f`` copies included) with a span-opening wrapper; restore
    the originals on exit."""
    import importlib

    originals = {}
    for mod_name, names in table.items():
        mod = importlib.import_module(mod_name)
        for n in names:
            fn = getattr(mod, n)
            sig = inspect.signature(fn)

            def make(fn=fn, mod_name=mod_name, n=n, sig=sig):
                @functools.wraps(fn)
                def w(*args, **kwargs):
                    with tracer.span(_span_name(mod_name, n, args, kwargs, sig)):
                        return fn(*args, **kwargs)
                return w

            originals[id(fn)] = make()
    patched = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("ner_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and id(val) in originals:
                setattr(mod, attr, originals[id(val)])
                patched.append((mod, attr, val))
    try:
        yield
    finally:
        for mod, attr, val in patched:
            setattr(mod, attr, val)


# --------------------------------------------------------- memory (RSS)


def descendants() -> list[int]:
    """Pids of every live process below this one (the Spark JVM, its
    Python worker daemon and the workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may contain spaces; ppid follows ") S "
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    me, out = os.getpid(), []
    for pid in parent:
        p, hops = parent[pid], 0
        while p not in (me, 0, 1) and hops < 64:
            p, hops = parent.get(p, 0), hops + 1
        if p == me:
            out.append(pid)
    return out


class MemSampler:
    """Peak memory of the benchmark's process tree, sampled from /proc
    every ``period_s``:

    - ``python_peak_mb``: the largest sum of the proportional set size
      (Pss, /proc/<pid>/smaps_rollup) of this Python process and every
      Python worker.  Pss splits the pages forked workers share with
      their daemon among the sharers, so the sum counts them once.
    - ``jvm_peak_mb``: the largest resident size (VmRSS) of the Spark
      JVM.  Its heap grows at the garbage collector's discretion, which
      made it vary by more than 1.5x between runs of the same input,
      so it is reported apart from the Python side."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.python_kb = 0
        self.jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    @staticmethod
    def _field_kb(path: str, field: str) -> int:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
        return 0

    def sample(self) -> None:
        python = jvm = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    is_jvm = f.read().strip() == "java"
                if is_jvm:
                    jvm += self._field_kb(f"/proc/{pid}/status", "VmRSS:")
                else:
                    python += self._field_kb(f"/proc/{pid}/smaps_rollup", "Pss:")
            except OSError:  # the process ended between listing and reading
                continue
        self.python_kb = max(self.python_kb, python)
        self.jvm_kb = max(self.jvm_kb, jvm)

    @property
    def python_peak_mb(self) -> float:
        return self.python_kb / 1024.0

    @property
    def jvm_peak_mb(self) -> float:
        return self.jvm_kb / 1024.0


# ----------------------------------------------------------- event log


def _scopes(stage_info: dict) -> set[str]:
    out = set()
    for r in stage_info.get("RDD Info", []):
        if r.get("Scope"):
            out.add(json.loads(r["Scope"])["name"])
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs and completed stages (with their tasks' summed metrics)
    from the single uncompressed, non-rolling event log in
    ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs: list[dict] = []
    stages: dict[tuple[int, int], dict] = {}  # by (stage id, attempt)
    tasks: dict[tuple[int, int], list[dict]] = {}
    mip_rows_acc: set[int] = set()  # MapInPandas "number of output rows"
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jobs.append({
                    "desc": (e.get("Properties") or {}).get("spark.job.description"),
                    "stage_ids": set(e["Stage IDs"]),
                    "start": e["Submission Time"] / 1000.0,
                })
            elif kind == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" not in si:
                    continue  # skipped stage
                key = (si["Stage ID"], si["Stage Attempt ID"])
                stages[key] = {
                    "start": si["Submission Time"] / 1000.0,
                    "end": si["Completion Time"] / 1000.0,
                    "scopes": _scopes(si),
                    "failed": "Failure Reason" in si,
                }
            elif kind == "SparkListenerTaskEnd":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                tasks.setdefault(key, []).append(e)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _collect_mip_accs(e["sparkPlanInfo"], mip_rows_acc)
    for key, st in stages.items():
        st.update(_task_sums(tasks.get(key, []), mip_rows_acc))
    return {"jobs": jobs, "stages": stages}


def _collect_mip_accs(node: dict, out: set[int]) -> None:
    if node.get("nodeName") == "MapInPandas":
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _collect_mip_accs(child, out)


_PY_ACCS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "bytes_to_python",
}


def _task_sums(task_ends: list[dict], mip_rows_acc: set[int]) -> dict:
    s = {
        "run_ms": [], "cpu_ns": 0, "gc_ms": 0, "spill": 0, "shuffle_read_records": 0,
        "shuffle_write_bytes": 0, "failed_tasks": 0, "mip_rows": 0,
    }
    for v in _PY_ACCS.values():
        s[v] = 0
    for e in task_ends:
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        if info.get("Failed") or info.get("Killed"):
            s["failed_tasks"] += 1
        if not m:
            continue
        s["run_ms"].append(m["Executor Run Time"])
        s["cpu_ns"] += m["Executor CPU Time"]
        s["gc_ms"] += m["JVM GC Time"]
        s["spill"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
        s["shuffle_read_records"] += m.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
        s["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        for a in info.get("Accumulables", []):
            key = _PY_ACCS.get(a.get("Name"))
            if key:
                s[key] += int(a.get("Update", 0))
            elif a.get("ID") in mip_rows_acc:
                s["mip_rows"] += int(a.get("Update", 0))
    return s


def stage_layer(stage: dict) -> str | None:
    if "MapInPandas" in stage["scopes"]:
        return "ner.tagger"
    if "Window" in stage["scopes"]:
        return "kg.cooccur"
    return None


def attribute(log: dict, tracer: Tracer, windows: list[tuple[float, float]]) -> dict:
    """Layer table for the time windows a pass spent in the program:
    per-layer in-stage seconds, stage metrics of the tagger and
    co-occurrence layers, driver job/stage/off-stage time, Spark totals,
    and per span name the in-stage seconds of its jobs' stages that
    were charged to another layer (``forced_s``: the tagger and
    co-occurrence work a call forced)."""
    names = {s["id"]: s["name"] for s in tracer.spans}
    owned: list[tuple[dict, str, float, float]] = []  # stage, span, window
    n_jobs = 0
    for job in log["jobs"]:
        win = [(lo, hi) for lo, hi in windows if lo <= job["start"] < hi]
        if not win:
            continue
        lo, hi = win[0]
        n_jobs += 1
        desc = job["desc"] or ""
        span = names.get(int(desc[5:])) if desc.startswith("span:") else None
        for (sid, _attempt), st in log["stages"].items():
            if sid in job["stage_ids"]:
                owned.append((st, span or "unattributed", lo, hi))
    tagger_start: dict[str, float] = {}
    for st, span, _lo, _hi in owned:
        if stage_layer(st) == "ner.tagger":
            tagger_start[span] = min(tagger_start.get(span, st["start"]), st["start"])
    layered = []
    for st, span, lo, hi in owned:
        layer = stage_layer(st)
        if layer is None:
            if span in tagger_start and st["end"] <= tagger_start[span]:
                layer = "ner.tagger.layout"
            else:
                layer = span
        layered.append((max(st["start"], lo), min(st["end"], hi), layer, st, span))

    # sweep: split covered time evenly among concurrently running stages
    by_span: dict[tuple[str, str], float] = {}  # (layer, span) → seconds
    points = sorted({p for a, b, *_ in layered for p in (a, b)})
    for a, b in zip(points, points[1:]):
        live = [(l, sp) for s, e, l, _st, sp in layered if s <= a and e >= b and e > s]
        for key in live:
            by_span[key] = by_span.get(key, 0.0) + (b - a) / len(live)
    in_stage: dict[str, float] = {}
    forced: dict[str, float] = {}  # span → its stages charged to another layer
    for (layer, span), v in by_span.items():
        in_stage[layer] = in_stage.get(layer, 0.0) + v
        if layer != span:
            forced[span] = forced.get(span, 0.0) + v
    stage_union = _union([(a, b) for a, b, *_ in layered if b > a])

    def group(layer: str) -> list[dict]:
        return [st for _a, _b, l, st, _sp in layered if l == layer]

    def skew(sts: list[dict]) -> float:
        runs = [r for st in sts for r in st["run_ms"]]
        med = statistics.median(runs) if runs else 0
        return max(runs) / med if med else 0.0

    tg = group("ner.tagger")
    co = group("kg.cooccur")
    everything = [st for _a, _b, _l, st, _sp in layered]
    m: dict[str, float] = {
        "ner.tagger.stage_run_s": sum(sum(st["run_ms"]) for st in tg) / 1e3,
        "ner.tagger.python_run_s": sum(st["python_run_ms"] for st in tg) / 1e3,
        "ner.tagger.python_start_s": sum(st["python_start_ms"] for st in tg) / 1e3,
        "ner.tagger.python_init_s": sum(st["python_init_ms"] for st in tg) / 1e3,
        "ner.tagger.jvm_cpu_s": sum(st["cpu_ns"] for st in tg) / 1e9,
        "ner.tagger.task_skew": skew(tg),
        "ner.tagger.bytes_to_python": float(sum(st["bytes_to_python"] for st in tg)),
        "ner.tagger.rows_in": float(sum(st["shuffle_read_records"] for st in tg)),
        "ner.tagger.rows_out": float(sum(st["mip_rows"] for st in tg)),
        "kg.cooccur.stage_run_s": sum(sum(st["run_ms"]) for st in co) / 1e3,
        "kg.cooccur.shuffle_write_bytes": float(sum(st["shuffle_write_bytes"] for st in co)),
        "kg.cooccur.task_skew": skew(co),
        "driver.jobs": float(n_jobs),
        "driver.stage_s": stage_union,
        "driver.offstage_s": sum(hi - lo for lo, hi in windows) - stage_union,
        "spark.shuffle_bytes": float(sum(st["shuffle_write_bytes"] for st in everything)),
        "spark.spill_bytes": float(sum(st["spill"] for st in everything)),
        "spark.gc_s": sum(st["gc_ms"] for st in everything) / 1e3,
        "spark.failed_tasks": float(
            sum(st["failed_tasks"] for st in everything)
            + sum(1 for st in everything if st["failed"])
        ),
    }
    return {"metrics": m, "in_stage_s": in_stage, "forced_s": forced}


# ------------------------------------------------------ tagger kernel


# The tagger UDF body and the three model_np kernels it calls per
# mini-batch.
KERNEL_WRAPPED = {
    "ner_spark.ner.tagger": ("tag_pdf_batch",),
    "ner_spark.ner.model_np": ("encode_batch", "emissions", "viterbi_batch"),
}


def kernel_probe(texts: list[str], min_seconds: float = 1.0) -> dict[str, float]:
    """Time ``ner.tagger.tag_pdf_batch`` single-process over the
    workload's own turn texts, with spans around it and the three
    ``model_np`` kernels it calls; its self time (sorting, chunking,
    tag decoding, surface joins) is ``ner.tagger.decode_s``.  Repeats
    the call until ``min_seconds`` have passed and reports seconds per
    call.  ``pad_efficiency`` (real / padded positions) comes from one
    further call that records ``encode_batch``'s output shapes."""
    from unittest import mock

    from ner_spark.ner import model_np as M
    from ner_spark.ner import tagger as T

    params, vocab = T._cached_model("bio")
    tracer = Tracer()
    reps = 0
    t_start = time.time()
    with wrapped_modules(tracer, KERNEL_WRAPPED):
        while reps == 0 or time.time() - t_start < min_seconds:
            reps += 1
            T.tag_pdf_batch(texts, params, vocab)
    selfs = tracer.self_times([(t_start, time.time())])

    shapes = []
    encode = M.encode_batch

    def recording(*args, **kwargs):
        ids, lengths = encode(*args, **kwargs)
        shapes.append((int(lengths.sum()), ids.size))
        return ids, lengths

    with mock.patch.object(M, "encode_batch", recording):
        T.tag_pdf_batch(texts, params, vocab)
    real, padded = (sum(x) for x in zip(*shapes)) if shapes else (0, 0)

    total = sum(selfs.values())
    return {
        "ner.model_np.encode_s": selfs.get("ner.model_np.encode_batch", 0.0) / reps,
        "ner.model_np.bilstm_s": selfs.get("ner.model_np.emissions", 0.0) / reps,
        "ner.model_np.viterbi_s": selfs.get("ner.model_np.viterbi_batch", 0.0) / reps,
        "ner.tagger.decode_s": selfs.get("ner.tagger.tag_pdf_batch", 0.0) / reps,
        "ner.model_np.pad_efficiency": real / padded if padded else 0.0,
        "ner.tagger.single_proc_chars_per_s": (
            sum(len(t) for t in texts) * reps / total if total else 0.0
        ),
    }

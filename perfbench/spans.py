"""Traced run: spans around calls into each layer's public functions.

The tracer wraps the functions listed in ``LAYERS`` (only for the
traced run, from the benchmark's side: the engine is not modified).
Each span

- records name, parent, start and end in memory,
- sets the Spark job description to ``<layer>.<function>#<span id>``
  so the UI REST API's job and stage metrics can be attributed to it,
- counts py4j round-trips made while it is the innermost span of its
  thread (GC ``m\\n`` commands excluded, as ``tools/py4j_count.py``).

A layer whose public function returns a DataFrame runs no job of its
own; for those the first call per run also executes the output (and
each DataFrame argument) once to a noop sink, and ``<layer>.exec_s``
is the output's time minus its inputs'.  These executions, and the
row counts some counters need, are the tracer's own work: each runs
as a ``tracing`` span, so its time leaves the enclosing spans' wall
and self time, and its jobs count for no layer but ``tracing``.

``Tracer.report`` joins spans with jobs and stages after the measured
window and returns every per-layer counter; the spans themselves are
written out as JSON (``run.py`` puts them in ``.perfbench_work/spans/``).
"""

from __future__ import annotations

import fnmatch
import inspect
import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path

PKG = "haensel_ams_data_engineer_challenge_spark"

#: layer -> (module, function-name patterns)
LAYERS = {
    "session": ("session", ["get_spark"]),
    "sources": ("sources.tables", ["load_table"]),
    "attribution.model": ("attribution.model", ["*"]),
    "operators.asof": ("operators.asof", ["journey_asof_join"]),
    "operators.ihc": ("operators.ihc", [
        "attribute_by_conv_type", "attribution_sum_violations"]),
    "operators.sinks": ("operators.sinks", [
        "insert_if_absent", "overwrite_partitions", "export_csv",
        "acquire_writer_lease"]),
    "plans.report": ("plans.report", ["channel_report"]),
    "checkpoint": ("checkpoint", ["materialize", "build_concurrently"]),
    "operators.dedup": ("operators.dedup", ["*"]),
    "operators.components": ("operators.components", ["connected_components"]),
    "operators.contamination": ("operators.contamination", ["contamination_check"]),
    "operators.similarity": ("operators.similarity", ["ann_topk_*"]),
    "operators.classify": ("operators.classify", ["nb_*"]),
    "functions.text": ("functions.text", ["*"]),
}

#: the tracer's own work (probe executions and counts)
TRACING = "tracing"

def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[f"{p}:{st.st_mtime_ns}"] = st.st_size
    return out


class Span:
    """One call: ``t0``/``t1`` are perf_counter stamps, ``w0``/``w1``
    epoch seconds (to line up with the engine's job times)."""

    __slots__ = ("id", "layer", "func", "parent", "t0", "t1", "w0", "w1", "py4j")

    def __init__(self, sid, layer, func, parent):
        self.id, self.layer, self.func, self.parent = sid, layer, func, parent
        self.t0 = self.t1 = self.w0 = self.w1 = 0.0
        self.py4j = 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.local = threading.local()
        self.lock = threading.Lock()
        self.sc = None
        self.current_op: Span | None = None
        self.probed: set[str] = set()
        self.extra: dict[str, float] = defaultdict(float)
        self.exec_s: dict[str, float] = defaultdict(float)
        self.storage_peak = 0
        self.last_results: dict[str, object] = {}
        #: set when the measured window ends: later calls are not traced
        self.closed = False

    # ---- spans -------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def _innermost(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self.current_op

    @contextmanager
    def span(self, layer: str, func: str):
        stack = self._stack()
        parent = self._innermost()
        with self.lock:
            s = Span(len(self.spans), layer, func, parent.id if parent else None)
            self.spans.append(s)
        stack.append(s)
        self._describe_span(s)
        s.w0, s.t0 = time.time(), time.perf_counter()
        try:
            yield s
        finally:
            s.t1, s.w1 = time.perf_counter(), time.time()
            stack.pop()
            self._describe_span(self._innermost())

    def _describe_span(self, s: Span | None) -> None:
        self._describe(f"{s.layer}.{s.func}#{s.id}" if s else None)

    def _describe(self, text: str | None) -> None:
        if self.sc is not None:
            with self._quiet():
                self.sc.setLocalProperty("spark.job.description", text)

    @contextmanager
    def _quiet(self):
        """The tracer's own py4j calls are not counted against a span."""
        self.local.quiet = getattr(self.local, "quiet", 0) + 1
        try:
            yield
        finally:
            self.local.quiet -= 1

    @contextmanager
    def op(self, name: str):
        """The timed operation itself: the root span of its layers."""
        with self.span("op", name) as s:
            self.current_op = s
            try:
                yield s
            finally:
                self.current_op = None
                self._poll_storage()

    # ---- installation -----------------------------------------------

    def install(self) -> None:
        """Wrap every listed function wherever the package binds it."""
        import importlib

        importlib.import_module(f"{PKG}.registry")
        importlib.import_module(f"{PKG}.plans.pipeline")
        for layer, (mod_name, patterns) in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not name.startswith("_")
                        and any(fnmatch.fnmatch(name, p) for p in patterns)):
                    self._rebind(fn, self._wrap(layer, name, fn))
        reg_mod = sys.modules[f"{PKG}.registry"]
        self._rebind(reg_mod.registry, self._wrap_registry(reg_mod.registry))
        self._count_py4j()

    @staticmethod
    def _rebind(orig, new) -> None:
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if tracer.closed:
                return fn(*args, **kwargs)
            with tracer.span(layer, name) as s:
                hooks = tracer._before(name, args, s)
                out = fn(*hooks.get("args", args), **kwargs)
                tracer._after(layer, name, args, out, hooks)
            return out

        traced.__wrapped__ = fn
        traced.__name__ = name
        return traced

    def _wrap_registry(self, registry_fn):
        tracer = self

        def traced_registry():
            entries = registry_fn()
            return {
                name: (tracer._wrap("registry", name, fn), sql)
                for name, (fn, sql) in entries.items()
            }

        return traced_registry

    def _count_py4j(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def counted(conn, *a, **kw):
            if not (getattr(tracer.local, "quiet", 0)
                    or (a and isinstance(a[0], str) and a[0].startswith("m\n"))):
                target = tracer._innermost()
                if target is not None:
                    target.py4j += 1
            return orig(conn, *a, **kw)

        ClientServerConnection.send_command = counted

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        ui = self.sc.uiWebUrl
        app = self.sc.applicationId
        self.base = f"{ui}/api/v1/applications/{app}"

    # ---- per-call hooks (traced run only) ----------------------------

    def _before(self, name, args, span: Span):
        hooks = {}
        if name in ("insert_if_absent", "overwrite_partitions", "export_csv"):
            path = args[2] if name == "insert_if_absent" else args[1]
            hooks["path"] = path
            with self._own_work("files"):
                hooks["files"] = _files(path)
            if name == "insert_if_absent":
                hooks["offered"] = self._probe(args[1], f"probe.{name}", count=True)[1]
        if name == "build_concurrently":
            def timed(b):
                # a builder's spans (and untraced py4j calls) on a pool
                # thread belong to this span
                def run():
                    saved = self._stack()[:]
                    self.local.stack = [span]
                    t = time.perf_counter()
                    try:
                        return b()
                    finally:
                        self.extra["checkpoint.thunk_s"] += time.perf_counter() - t
                        self.local.stack = saved
                return run

            hooks["args"] = ([timed(b) for b in args[0]],) + tuple(args[1:])
            hooks["t0"] = time.perf_counter()
        return hooks

    def _after(self, layer, name, args, out, hooks):
        from pyspark.sql import DataFrame

        if "files" in hooks:
            with self._own_work("files"):
                after = _files(hooks["path"])
            new = {k: v for k, v in after.items() if k not in hooks["files"]}
            self.extra["operators.sinks.files_written"] += len(new)
        if name == "insert_if_absent":
            self.extra["operators.sinks.rows_offered"] += hooks["offered"]
            self.extra["operators.sinks.rows_appended"] += int(out)
        if name == "build_concurrently":
            self.extra["checkpoint.pool_s"] += time.perf_counter() - hooks["t0"]
        if name == "connected_components":
            self.extra["operators.components.rounds"] += getattr(out, "cc_rounds", 0) or 0
            if "operators.components.edges" not in self.extra:
                self.extra["operators.components.edges"] = self._probe(
                    args[0], "probe.edges", count=True)[1]
        if isinstance(out, DataFrame) and layer != "registry":
            if name.startswith("ann_topk_"):
                self.last_results[name] = out
            key = f"{layer}.{name}"
            if key not in self.probed:
                self.probed.add(key)
                count = name in ("dedup_minhash_lsh", "verify_candidates")
                wall, rows = self._probe(out, f"exec.{key}", count=count)
                inputs = sum(self._probe(a, f"exec.{key}.input")[0]
                             for a in args if isinstance(a, DataFrame))
                self.exec_s[layer] += max(wall - inputs, 0.0)
                if name == "dedup_minhash_lsh":
                    self.extra["operators.dedup.candidate_pairs"] += rows
                if name == "verify_candidates":
                    self.extra["operators.dedup.verified_pairs"] += rows

    @contextmanager
    def _own_work(self, label: str):
        """The tracer's own work, timed as a ``tracing`` span."""
        with self._quiet(), self.span(TRACING, label) as s:
            yield s

    def _probe(self, df, label: str, count: bool = False) -> tuple[float, int]:
        """Execute ``df`` once as a ``tracing`` span: (seconds, rows)."""
        with self._own_work(label) as s:
            if count:
                rows = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = 0
        return s.t1 - s.t0, rows

    def _poll_storage(self) -> None:
        try:
            rdds = self._api("/storage/rdd")
        except Exception:  # noqa: BLE001 - storage is best effort
            return
        used = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds)
        self.storage_peak = max(self.storage_peak, used)

    def _api(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    # ---- report --------------------------------------------------------

    def _settled_jobs(self) -> list[dict]:
        """Jobs once the listener bus has delivered every end event."""
        last = None
        for _ in range(50):
            jobs = self._api("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) and len(jobs) == last:
                return jobs
            last = len(jobs)
            time.sleep(0.2)
        return jobs

    def report(self, spark, in_dir: str, dump: Path) -> dict:
        """Every per-layer counter; the spans are written to ``dump``."""
        self.closed = True
        jobs = self._settled_jobs()
        stages: dict[int, list[dict]] = defaultdict(list)
        for st in self._api("/stages"):
            stages[st["stageId"]].append(st)
        by_id = {s.id: s for s in self.spans}
        times = span_times(self.spans)
        tracer_iv = own_work(self.spans)

        m: dict[str, float] = defaultdict(float)
        job_iv = []
        counted: set[int] = set()
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            desc = j.get("description") or ""
            sid = int(desc.rsplit("#", 1)[1]) if "#" in desc else None
            span = by_id.get(sid)
            # a shuffle stage reused by a later job is listed there too
            # (skipped): its work belongs to the first job that ran it
            sts = [a for st in j["stageIds"] if st not in counted
                   for a in stages.get(st, [])]
            counted.update(j["stageIds"])
            if span is None:
                continue  # set-up, before the measured window
            layer = span.layer
            m[f"{layer}.jobs"] += 1
            m[f"{layer}.failed_tasks"] += j.get("numFailedTasks", 0)
            for a in sts:
                m[f"{layer}.executor_cpu_s"] += a.get("executorCpuTime", 0) / 1e9
                m[f"{layer}.shuffle_write_bytes"] += a.get("shuffleWriteBytes", 0)
                m[f"{layer}.spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
                if layer == "operators.sinks":
                    m["operators.sinks.output_bytes"] += a.get("outputBytes", 0)
                    m["operators.sinks.output_records"] += a.get("outputRecords", 0)
            if layer == TRACING:
                continue  # the tracer's own jobs count for no other figure
            t0, t1 = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
            if t0 is not None:
                job_iv.append((t0, t1 or t0))
            for a in sts:
                if a.get("inputBytes", 0) > 0:
                    m["sources.scan_tasks"] += a["numTasks"]
                    m["sources.input_bytes"] += a["inputBytes"]
                m["all.spill_bytes"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
                m["all.failed_tasks"] += a.get("numFailedTasks", 0)

        for s in self.spans:
            wall, self_s = times[s.id]
            if not _inside_own_layer(by_id, s):
                m[f"{s.layer}.wall_s"] += wall
            m[f"{s.layer}.self_s"] += self_s
            m[f"{s.layer}.py4j_calls"] += s.py4j
            if s.func == "acquire_writer_lease":
                m["operators.sinks.lease_wait_s"] += wall
            if s.layer == "op":
                build, idle = driver_times(s, job_iv, tracer_iv.get(s.id, []))
                m["driver.build_s"] += build
                m["driver.idle_s"] += idle
        for layer, v in self.exec_s.items():
            m[f"{layer}.exec_s"] = v

        x = self.extra
        if x.get("operators.sinks.rows_offered"):
            m["operators.sinks.rows_written_ratio"] = (
                x["operators.sinks.rows_appended"] / x["operators.sinks.rows_offered"])
        if m.get("operators.sinks.output_records"):
            m["operators.sinks.bytes_written_per_row"] = (
                m["operators.sinks.output_bytes"] / m["operators.sinks.output_records"])
        m["operators.sinks.files_written"] = x.get("operators.sinks.files_written", 0)
        if x.get("operators.dedup.candidate_pairs"):
            m["operators.dedup.candidate_pairs"] = x["operators.dedup.candidate_pairs"]
            m["operators.dedup.verify_precision"] = (
                x.get("operators.dedup.verified_pairs", 0)
                / x["operators.dedup.candidate_pairs"])
        for k in ("operators.components.rounds", "operators.components.edges"):
            m[k] = x.get(k, 0)
        if x.get("checkpoint.pool_s"):
            m["checkpoint.overlap_ratio"] = x["checkpoint.thunk_s"] / x["checkpoint.pool_s"]
        m["checkpoint.materialize_bytes"] = self.storage_peak
        m.update(workload_layer_metrics(self, spark, in_dir))
        dump.parent.mkdir(parents=True, exist_ok=True)
        dump.write_text(json.dumps([
            {"id": s.id, "layer": s.layer, "func": s.func, "parent": s.parent,
             "start": s.w0, "end": s.w1, "py4j": s.py4j} for s in self.spans
        ]))
        return dict(m)


def _inside_own_layer(by_id: dict, s: Span) -> bool:
    """Whether an enclosing span is of the same layer (its wall time
    already holds this one's)."""
    a = s.parent
    while a is not None:
        if by_id[a].layer == s.layer:
            return True
        a = by_id[a].parent
    return False


def span_times(spans: list[Span]) -> dict[int, tuple[float, float]]:
    """Span id -> (wall, self) seconds, the tracer's own work taken out.

    ``wall`` is the span's duration less the ``tracing`` spans below
    it; ``self`` is its duration less the union of its children's
    intervals (a ``tracing`` child is one of them).
    """
    by_id = {s.id: s for s in spans}
    children = defaultdict(list)
    own = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
        if s.layer == TRACING:
            a = s.parent
            while a is not None:
                own[a] += s.t1 - s.t0
                a = by_id[a].parent
    return {
        s.id: (s.t1 - s.t0 - own[s.id],
               max(s.t1 - s.t0 - _union((c.t0, c.t1) for c in children[s.id]), 0.0))
        for s in spans
    }


def own_work(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Root span id -> epoch intervals of the ``tracing`` spans below it."""
    by_id = {s.id: s for s in spans}
    out = defaultdict(list)
    for s in spans:
        if s.layer == TRACING:
            root = s
            while root.parent is not None:
                root = by_id[root.parent]
            out[root.id].append((s.w0, s.w1))
    return out


def driver_times(op: Span, job_iv, tracer_iv) -> tuple[float, float]:
    """(build, idle) seconds of one operation: time to its first job,
    and time with no job running, both without the tracer's own work."""
    def clip(ivs, lo, hi):
        return [(max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi]

    jobs = clip(job_iv, op.w0, op.w1)
    first = min((a for a, _ in jobs), default=op.w1)
    build = first - op.w0 - _union(clip(tracer_iv, op.w0, first))
    idle = (op.w1 - op.w0) - _union(jobs + clip(tracer_iv, op.w0, op.w1))
    return max(build, 0.0), max(idle, 0.0)


def workload_layer_metrics(tracer: Tracer, spark, in_dir: str) -> dict:
    """Counters that need one extra, untimed look at a layer's output."""
    import duckdb

    out: dict[str, float] = {}
    con = duckdb.connect()
    if os.path.exists(f"{in_dir}/events.parquet"):
        from run import HOT_USER_THRESHOLD

        out["operators.asof.hot_users"] = con.execute(
            f"SELECT count(*) FROM (SELECT user_id FROM '{in_dir}/events.parquet' "
            f"GROUP BY 1 HAVING count(*) > {HOT_USER_THRESHOLD})").fetchone()[0]
    if os.path.exists(f"{in_dir}/embeddings.parquet"):
        out.update(_similarity(tracer, con, in_dir))
    if os.path.exists(f"{in_dir}/documents.parquet"):
        out.update(_contamination_arms(spark, in_dir))
    con.close()
    return out


def _similarity(tracer: Tracer, con, in_dir: str) -> dict:
    import numpy as np
    import pyarrow.parquet as pq

    from haensel_ams_data_engineer_challenge_spark.operators import similarity as S

    df = tracer.last_results.get("ann_topk_lsh")
    if df is None:
        return {}
    got = df.select("query_id", "neighbor_id").collect()
    k = max(1, len(got) // max(1, len({r[0] for r in got})))
    vecs = np.array(
        pq.read_table(f"{in_dir}/embeddings.parquet")["embedding"].to_pylist(),
        dtype=np.float64,
    )
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    hits = total = 0
    for q in sorted({r[0] for r in got}):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        exact = set(np.argsort(-sims, kind="stable")[:k].tolist())
        hits += len(exact & {r[1] for r in got if r[0] == q})
        total += len(exact)
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{in_dir}/embeddings.parquet'")
    n_q = len({r[0] for r in got})
    cands = con.execute(f"""
        WITH wb AS ({S.banded_buckets_sql("embedding", S.ANN_LSH_TABLES,
                                          S.ANN_LSH_PLANES_PER_TABLE)})
        SELECT count(*) FROM (
            SELECT DISTINCT q.vec_id, c.vec_id
            FROM wb c JOIN wb q ON c.band = q.band AND c.bucket = q.bucket
                              AND c.vec_id <> q.vec_id
            WHERE q.vec_id < {n_q})""").fetchone()[0]
    return {"operators.similarity.recall_at_k": hits / total if total else 0.0,
            "operators.similarity.candidates_per_query": cands / n_q if n_q else 0.0}


def _contamination_arms(spark, in_dir: str) -> dict:
    """Arm times by the method-literal filter (bench.py's arm method)."""
    from pyspark.sql import functions as F

    from haensel_ams_data_engineer_challenge_spark.registry import registry

    fn = registry()["contamination_check"][0]
    out = {}
    for arm in ("ngram", "bm25"):
        t = time.perf_counter()
        fn(spark, in_dir).filter(F.col("method") == arm).write.format("noop").mode(
            "overwrite").save()
        out[f"operators.contamination.{arm}_s"] = time.perf_counter() - t
    return out

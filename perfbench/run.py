"""Repository benchmark: one seeded workload, one closed-loop client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload attribution_incremental \
        --seed 1 --seconds 10 --trace 0

Workloads (sizes in ``SIZES``; why each exists in ``NOTES.md``):

- ``attribution_incremental``: ``plans.pipeline.run_pipeline`` over
  consecutive date ranges into one fresh sink, then an idempotent
  re-run over the whole covered range;
- ``corpus_hygiene``: the registry's dedup / survivors /
  contamination / near-neighbour chain over a generated corpus.

The inputs are generated from ``--seed`` (``gen.py``) under
``.perfbench_work/`` in the checkout; generation is not timed.  The
engine runs single-process on ``local[$SPARK_GRAFT_CPUS]`` (default:
every CPU this process may use).  Every timed operation's result is
checked; a wrong result counts as a failed operation.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the
same loop with spans around each layer's public functions and prints
the per-layer metrics (``spans.py``).  The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``; a
human-readable report (host telemetry, sample counts, failure
reasons) goes to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "haensel_ams_data_engineer_challenge_spark"
WORK = ROOT / ".perfbench_work"

sys.path.insert(0, str(HERE))

import check  # noqa: E402
import sysinfo  # noqa: E402

#: input size per workload (arguments of gen.generate)
SIZES = {
    "attribution_incremental": {
        # sf0.1's per-user density (66.67 events per user over 30
        # days); 600 users, not 5x sf0.1's 1,500, to fit the run budget
        "n_users": 600, "per_user": 66.67, "days": 30, "hot_sessions": 6000,
    },
    "corpus_hygiene": {"n_docs": 3000, "n_vectors": 2000},
}

#: the date ranges of one attribution cycle (1-based days of 2024-01);
#: the last entry is the idempotent re-run over everything covered
RANGES = [(1, 15), (16, 30), (1, 30)]

#: timelines above this many rows take the as-of join's chunked path;
#: the planted hot user exceeds it (the production default, 100k rows,
#: would need an input too large for the run budget)
HOT_USER_THRESHOLD = 2000

CORPUS_CHAIN = [
    "dedup_exact", "dedup_minhash_lsh", "dedup_verify_candidates",
    "corpus_survivors_split", "contamination_check", "nb_classify_docs",
    "ann_topk_lsh",
]

#: the tables a corpus entry's oracle reads
ORACLE_TABLES = ("documents", "embeddings")

#: chain entries also checked against their DuckDB oracle (the other
#: oracles cost over a minute per input; those entries are checked
#: against generator ground truth and exact recomputation instead)
ORACLE_CHECKED = ("dedup_exact", "contamination_check", "nb_classify_docs")


#: end-to-end metrics: set-up, one cycle's wall time and its CPU
#: seconds (engine JVM + Python, from /proc).  Work per second and
#: peak resident memory are reported beside them, not bounded: the
#: first repeats ``cycle_s`` with a noisier denominator (the cold first
#: range alone), the second follows the collector's heap-growth
#: decisions, which track host load (2.9-4.2 GB over five attribution
#: runs).
E2E_UNITS = {"setup_s": "s", "cycle_s": "s", "cpu_s": "s"}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# inputs and oracle
# ---------------------------------------------------------------------------


def inputs_for(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once per checkout and seed) and return the input dir
    and its recorded properties."""
    import gen

    size = SIZES[workload]
    # keyed by the generator's own source too: a changed generator
    # never reuses inputs (or oracle digests) made by an older one
    version = hashlib.md5(Path(gen.__file__).read_bytes()).hexdigest()[:8]
    key = "-".join([workload, str(seed), version]
                   + [f"{k}{v}" for k, v in sorted(size.items())])
    out = WORK / "inputs" / key
    meta = out / "inputs.json"
    if not meta.is_file():
        tmp = WORK / "inputs" / f".{key}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, str(tmp), seed, size)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(meta) as f:
        return str(out), json.load(f)


def oracle_digests(in_dir: str, names: list[str], oracle_sql: dict) -> dict:
    """DuckDB oracle digests per registry entry, cached beside the inputs."""
    path = Path(in_dir) / "oracle.json"
    cached = json.loads(path.read_text()) if path.is_file() else {}
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=4")
        con.execute("SET memory_limit='3GB'")
        con.execute(f"SET temp_directory='{WORK / 'tmp' / 'duckdb'}'")
        for t in ORACLE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')")
        for n in missing:
            cached[n] = list(check.result_digest(con.execute(oracle_sql[n]).fetchdf()))
        con.close()
        tmp = path.with_suffix(f".{os.getpid()}")
        tmp.write_text(json.dumps(cached, sort_keys=True))
        os.replace(tmp, path)
    return {n: tuple(cached[n]) for n in names}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Op:
    """One timed operation: ``run`` is timed; ``check(result)`` is not
    and returns (problems, units of work completed)."""

    def __init__(self, name, run, check_fn, cycle_end):
        self.name, self.run, self.check, self.cycle_end = name, run, check_fn, cycle_end


class Attribution:
    """Consecutive date-range pipeline runs into one fresh sink, then
    the idempotent full-range re-run (reference main.py:47-56)."""

    unit = "conversions"

    def __init__(self, spark, in_dir, props, scratch):
        from haensel_ams_data_engineer_challenge_spark.plans.pipeline import run_pipeline

        self.spark, self.in_dir, self.props = spark, in_dir, props
        self.scratch, self.run_pipeline = scratch, run_pipeline

    def prepare(self) -> None:
        pass

    def ops(self):
        import gen

        by_day = self.props["purchases_by_day"]
        attributed = self.props["attributed_channels"]
        cycle = 0
        while True:
            sink = f"{self.scratch}/cycle{cycle}"
            cycle += 1
            for i, (lo, hi) in enumerate(RANGES):
                rerun = i == len(RANGES) - 1

                def run(lo=lo, hi=hi, sink=sink):
                    return self.run_pipeline(
                        self.spark, self.in_dir, f"{sink}/attribution",
                        f"{sink}/report", gen.day_str(lo - 1), gen.day_str(hi - 1),
                        report_csv_path=f"{sink}/csv",
                        hot_user_threshold=HOT_USER_THRESHOLD,
                    )

                def check_fn(r, lo=lo, hi=hi, i=i, rerun=rerun):
                    problems = check.expect_equal("sum_violations", r.sum_violations, 0)
                    problems += check.expect_equal(
                        "conversions_total", r.conversions_total, sum(by_day[lo - 1:hi])
                    )
                    problems += check.expect_equal(
                        "report_rows", r.report_rows, report_rows(attributed, i)
                    )
                    if rerun:
                        problems += check.expect_equal(
                            "rerun_rows_written", r.attribution_rows_written, 0
                        )
                    return problems, r.conversions_scored

                yield Op("rerun" if rerun else f"range_{lo}_{hi}", run, check_fn, rerun)
            shutil.rmtree(sink, ignore_errors=True)

    @staticmethod
    def throughput(records) -> float:
        """Conversions scored per second of the date-range runs."""
        ranges = [r for r in records if r["name"] != "rerun"]
        wall = sum(r["wall"] for r in ranges)
        return sum(r["units"] for r in ranges) / wall if wall else 0.0


def report_rows(attributed: list[list[int]], i: int) -> int:
    """Rows of the channel report after the ``i``-th run of a cycle.

    Each run rewrites the report partitions of its own days from the
    sink as it stands after that run (every conversion up to the
    run's last day scored); partitions of earlier days keep what the
    run that last covered them wrote.
    """
    written: dict[int, int] = {}
    for lo, hi in RANGES[:i + 1]:
        written.update((d, hi) for d in range(lo, hi + 1))
    return sum(attributed[end - 1][d - 1] for d, end in written.items())


class Corpus:
    """The LLM-data hygiene chain, one registry entry after another,
    each collected to the client and checked against the entry's
    DuckDB oracle digest and the generator's ground truth."""

    unit = "documents"

    def __init__(self, spark, in_dir, props, scratch):
        from haensel_ams_data_engineer_challenge_spark.operators import classify, retrieval
        from haensel_ams_data_engineer_challenge_spark.registry import registry
        from haensel_ams_data_engineer_challenge_spark.sources import tables

        self.spark, self.in_dir, self.props = spark, in_dir, props
        self.reg = registry()
        # the classifier tier (no registry entry of its own: text_stats
        # carries it among heavier signals): multinomial NB trained on
        # the documents' language labels and scored over every document
        self.reg["nb_classify_docs"] = (
            lambda spark, d: classify.nb_classify_docs(
                tables.load_table(spark, d, "documents")),
            "WITH " + classify.nb_sql(retrieval.SEARCH_TOKEN_PATTERN).strip()
            + " SELECT doc_id, nb_pred, nb_logp FROM nb_doc",
        )
        self.oracle = {}

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.oracle = oracle_digests(
            self.in_dir, ORACLE_CHECKED, {n: self.reg[n][1] for n in ORACLE_CHECKED}
        )
        self.texts = pq.read_table(f"{self.in_dir}/documents.parquet")["text"].to_pylist()
        vecs = pq.read_table(f"{self.in_dir}/embeddings.parquet")["embedding"].to_pylist()
        self.vectors = np.array(vecs, dtype=np.float64)

    def ops(self):
        while True:
            for i, name in enumerate(CORPUS_CHAIN):
                last = i == len(CORPUS_CHAIN) - 1

                def run(fn=self.reg[name][0]):
                    return fn(self.spark, self.in_dir).toPandas()

                def check_fn(pdf, name=name, last=last):
                    problems = []
                    if name in self.oracle:
                        n, digest = check.result_digest(pdf)
                        want_n, want_digest = self.oracle[name]
                        problems = check.expect_equal("rows", n, want_n)
                        if not problems:
                            problems = check.expect_equal("digest", digest, want_digest)
                    # a document counts once it has passed the whole chain
                    return problems + self.truth(name, pdf), (
                        self.props["rows"] if last else 0
                    )

                yield Op(name, run, check_fn, last)

    @staticmethod
    def throughput(records) -> float:
        """Documents per second through whole chains."""
        wall = sum(r["wall"] for r in records)
        return sum(r["units"] for r in records) / wall if wall else 0.0

    def truth(self, name, pdf) -> list[str]:
        p = self.props
        if name == "dedup_exact":
            groups = pdf[pdf["method"] == "groups"]
            return (
                check.expect_equal("exact groups", len(groups), p["normalized_texts"])
                + check.expect_equal(
                    "new in batch", int((pdf["method"] == "incremental_new").sum()),
                    p["odd_docs"],
                )
            )
        if name == "dedup_minhash_lsh":
            full = pdf[pdf["method"] == "full"]
            return check.expect_equal(
                "lsh components", _components(p["rows"], full), p["groups"]
            ) + self._cross_family(pdf)
        if name == "dedup_verify_candidates":
            equal = sum(self._norm(a) == self._norm(b)
                        for a, b in zip(pdf["id_a"], pdf["id_b"]))
            wrong = [
                (a, b) for a, b, j in zip(pdf["id_a"], pdf["id_b"], pdf["jaccard"])
                if abs(j - _jaccard(self.texts[a], self.texts[b])) > 1e-12
            ]
            return (
                self._cross_family(pdf)
                + check.expect_equal("equal-text pairs verified", int(equal),
                                     p["equal_text_pairs"])
                + check.expect_equal("wrong jaccard", wrong[:3], [])
            )
        if name == "corpus_survivors_split":
            return check.expect_equal("rows", len(pdf), p["mix_rows"]) + check.expect_equal(
                "survivors", int(pdf["is_survivor"].sum()), p["survivors_in_output"]
            )
        if name == "contamination_check":
            ngram = pdf[pdf["method"] == "ngram"]
            found = set(zip(ngram["train_id"].tolist(), ngram["eval_id"].tolist()))
            missed = [pr for pr in p["planted_eval_overlap"] if tuple(pr) not in found]
            return check.expect_equal("planted overlaps missed", missed, [])
        if name == "nb_classify_docs":
            return check.expect_equal("classified docs", len(pdf), p["rows"])
        if name == "ann_topk_lsh":
            return _check_topk(pdf, self.vectors)
        return []

    def _norm(self, doc_id) -> str:
        return " ".join(self.texts[doc_id].lower().split())

    def _cross_family(self, pairs) -> list[str]:
        fam = self.props["family"]
        cross = sum(fam[a] != fam[b] for a, b in zip(pairs["id_a"], pairs["id_b"]))
        return check.expect_equal("cross-family pairs", int(cross), 0)


def _jaccard(a: str, b: str) -> float:
    import gen

    sa, sb = gen._shingles(a), gen._shingles(b)
    return len(sa & sb) / len(sa | sb)


def _check_topk(pdf, vectors) -> list[str]:
    """Every neighbour's cosine is exact and ranks descend per query."""
    problems = []
    norms = np.linalg.norm(vectors, axis=1)
    for q, grp in pdf.groupby("query_id"):
        grp = grp.sort_values("rank")
        want = [float(vectors[q] @ vectors[n] / (norms[q] * norms[n]))
                for n in grp["neighbor_id"]]
        if any(abs(a - b) > 1e-6 for a, b in zip(grp["cosine"], want)):
            problems.append(f"query {q}: cosine mismatch")
        if list(grp["cosine"]) != sorted(grp["cosine"], reverse=True):
            problems.append(f"query {q}: ranks not by cosine")
        if q in set(grp["neighbor_id"]):
            problems.append(f"query {q}: returned itself")
    return problems[:3]


def _components(n: int, pairs) -> int:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    comps = n
    for a, b in zip(pairs["id_a"].tolist(), pairs["id_b"].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            comps -= 1
    return comps


WORKLOADS = {
    "attribution_incremental": Attribution,
    "corpus_hygiene": Corpus,
}


# ---------------------------------------------------------------------------
# engine lifecycle
# ---------------------------------------------------------------------------


def engine_env(scratch: Path, trace: bool) -> None:
    """Keep every file the engine writes inside the checkout."""
    scratch.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch)
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    os.environ["SPARK_WAREHOUSE_DIR"] = str(scratch / "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    confs = [f"--driver-java-options -Djava.io.tmpdir={scratch}"]
    if trace:
        # the traced run reads every job and stage back from the UI store
        confs += ["--conf spark.ui.retainedJobs=100000",
                  "--conf spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])


def stop_engine(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a broken gateway still gets its JVM stopped
        pass
    if gateway is None:
        return
    gateway.shutdown(raise_exception=False)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM is killed
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def measure(workload, seconds: float, tally: check.Tally, tracer=None) -> dict:
    """Closed loop: the next operation starts when the previous one
    (and its untimed check) is done; the loop ends at the first cycle
    boundary after ``seconds``."""
    records: list[dict] = []
    cycles: list[float] = []
    cycle_wall = 0.0
    cpu0 = sysinfo.cpu_seconds()
    t0 = time.perf_counter()
    for op in workload.ops():
        start = time.perf_counter()
        try:
            if tracer is not None:
                with tracer.op(op.name):
                    result = op.run()
            else:
                result = op.run()
        except Exception as exc:  # noqa: BLE001 - a raising op is a failed op
            wall = time.perf_counter() - start
            problems, units = [f"raised {type(exc).__name__}: {exc}"[:300]], 0
        else:
            wall = time.perf_counter() - start
            problems, units = op.check(result)
        ok = tally.record(op.name, problems)
        records.append({"name": op.name, "wall": wall, "units": units if ok else 0})
        cycle_wall += wall
        if TERMINATED.is_set():
            raise SystemExit(143)
        if op.cycle_end:
            cycles.append(cycle_wall)
            cycle_wall = 0.0
            if time.perf_counter() - t0 >= seconds:
                break
    return {"records": records, "cycles": cycles,
            "window_s": time.perf_counter() - t0,
            "cpu_s": sysinfo.cpu_seconds() - cpu0}


#: set by SIGTERM: the run stops its engine, removes its scratch and
#: exits without a result line (the signal can surface as an engine
#: error inside an operation, which the loop would otherwise record)
TERMINATED = threading.Event()


def _terminate(*_) -> None:
    TERMINATED.set()
    raise SystemExit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGTERM, _terminate)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}")
        return 2

    # set-up is timed from process start: interpreter, engine imports,
    # JVM launch and session build, up to the first trivial action;
    # input generation is excluded
    born = time.perf_counter() - sysinfo.process_age_s()
    stat0 = sysinfo.cpu_times()
    scratch = WORK / "tmp" / str(os.getpid())
    engine_env(scratch, bool(args.trace))
    host = {"start": sysinfo.host_snapshot()}
    try:
        return run(args, host, stat0, scratch, born)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def run(args, host, stat0, scratch, born) -> int:
    gen_start = time.perf_counter()
    in_dir, props = inputs_for(args.workload, args.seed)
    gen_s = time.perf_counter() - gen_start
    sys.path.insert(0, str(ROOT))
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        tracer.install()
    # imported after the tracer rebinds the package's functions
    from haensel_ams_data_engineer_challenge_spark.session import get_spark

    spark = get_spark("perfbench")
    from pyspark import SparkContext

    driver_pids = [os.getpid(), SparkContext._gateway.proc.pid]
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    setup_s = time.perf_counter() - born - gen_s

    tally = check.Tally()
    workload = WORKLOADS[args.workload](spark, in_dir, props, str(scratch / "sinks"))
    try:
        workload.prepare()
        if tracer is not None:
            tracer.attach(spark)
        m = measure(workload, args.seconds, tally, tracer)
        layer = None
        if tracer is not None:
            dump = WORK / "spans" / f"{args.workload}-{args.seed}-{os.getpid()}.json"
            layer = tracer.report(spark, in_dir, dump)
        peak_rss = sysinfo.rss_mb(driver_pids)
    finally:
        stop_engine(spark)

    values = {
        "setup_s": setup_s,
        "cycle_s": statistics.median(m["cycles"]),
        "cpu_s": m["cpu_s"] / len(m["cycles"]),
    }
    e2e = {k: (v, E2E_UNITS[k]) for k, v in values.items()}
    host["end"] = sysinfo.host_snapshot()
    host["steal_share"] = sysinfo.steal_share(stat0, sysinfo.cpu_times())
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": {k: v for k, v in props.items()
                   if k not in ("family", "purchases_by_day", "attributed_channels",
                                "planted_eval_overlap")},
        "host": host,
        "throughput_per_s": workload.throughput(m["records"]),
        "unit": workload.unit,
        "cycles": len(m["cycles"]),
        "window_s": m["window_s"],
        "failed_ops_share": tally.share,
        "failures": tally.reasons,
        "per_op": _per_op(m["records"]),
        "peak_rss_mb": peak_rss,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    # tracing overhead: a traced run against the untraced run of the
    # same workload, seed and source tree
    reference = WORK / "e2e" / f"{args.workload}-{args.seed}-{source_key()}.json"
    if layer is None:
        reference.parent.mkdir(parents=True, exist_ok=True)
        reference.write_text(json.dumps(report["end_to_end"]))
    else:
        if reference.is_file():
            base = json.loads(reference.read_text())
            report["tracing_overhead"] = {k: v[0] - base[k] for k, v in e2e.items()}
        else:
            report["tracing_overhead"] = None
            log("perfbench: no untraced run of this workload, seed and source "
                "tree; run --trace 0 first to get the tracing overhead")
        report["per_layer"] = layer
    log("perfbench report: " + json.dumps(report, sort_keys=True))
    metrics = per_layer_metrics(layer) if layer is not None else e2e
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def source_key() -> str:
    """Hash of the engine package's and the benchmark's sources."""
    h = hashlib.md5()
    for base in (ROOT / PACKAGE, HERE):
        for path in sorted(base.rglob("*.py")):
            h.update(str(path.relative_to(ROOT)).encode())
            h.update(path.read_bytes())
    return h.hexdigest()[:12]


def per_layer_metrics(layer: dict) -> dict:
    """The per-layer metrics BENCHMARK.json lists, in its order; a
    counter the workload never touches reads 0."""
    listed = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    return {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"]) for m in listed}


def _per_op(records) -> dict:
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r["name"], []).append(r["wall"])
    return {k: {"n": len(v), "median_s": statistics.median(v)} for k, v in by.items()}


if __name__ == "__main__":
    raise SystemExit(main())

"""Tests of the benchmark's own parts: the generator is deterministic,
its ground truth holds, and a wrong result is counted as a failure.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

SMALL = {
    "attribution_incremental": {
        "n_users": 40, "per_user": 20, "days": 30, "hot_sessions": 300,
    },
    "corpus_hygiene": {"n_docs": 400, "n_vectors": 50},
}


def _digests(root: Path) -> dict[str, str]:
    return {
        p.name: hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.iterdir())
    }


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(workload, str(tmp_path / "a"), 7, SMALL[workload])
    b = gen.generate(workload, str(tmp_path / "b"), 7, SMALL[workload])
    c = gen.generate(workload, str(tmp_path / "c"), 8, SMALL[workload])
    assert a == b
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")
    # nothing is written outside the directory given
    assert sorted(p.name for p in tmp_path.iterdir()) == ["a", "b", "c"]


def test_events_record_their_properties(tmp_path):
    props = gen.generate("attribution_incremental", str(tmp_path), 3,
                         SMALL["attribution_incremental"])
    ev = pd.read_parquet(tmp_path / "events.parquet")
    assert props["rows"] == len(ev)
    assert props["users"] == ev["user_id"].nunique()
    assert props["purchases"] == int((ev["event_type"] == "purchase").sum())
    assert sum(props["purchases_by_day"]) == props["purchases"]
    hot = ev["user_id"].value_counts()
    assert (hot.index[0], hot.iloc[0]) == (40, props["hot_user_sessions"])
    assert ev["event_id"].is_unique and ev["ts"].is_monotonic_increasing


def test_report_rows_follow_the_journey_rule(tmp_path):
    """Expected report rows, recomputed session by session: a session
    counts once a same-user purchase strictly after it is scored."""
    props = gen.generate("attribution_incremental", str(tmp_path), 4,
                         SMALL["attribution_incremental"])
    ev = pd.read_parquet(tmp_path / "events.parquet")
    ev["day"] = (ev["ts"] - pd.Timestamp("2024-01-01")).dt.days + 1
    buys = ev[ev["event_type"] == "purchase"]

    def pairs(day: int, end: int) -> int:
        got = set()
        for row in ev[ev["day"] == day].itertuples():
            later = buys[(buys["user_id"] == row.user_id) & (buys["ts"] > row.ts)
                         & (buys["day"] <= end)]
            if len(later):
                got.add(row.event_type)
        return len(got)

    for i, (lo, hi) in enumerate(run.RANGES):
        ends = {}
        for a, b in run.RANGES[:i + 1]:
            ends.update((d, b) for d in range(a, b + 1))
        want = sum(pairs(d, end) for d, end in ends.items())
        assert run.report_rows(props["attributed_channels"], i) == want
    # days with sessions but nothing attributed exist, so the check is
    # stricter than counting every (type, day) present
    present = ev.groupby("day")["event_type"].nunique().sum()
    assert run.report_rows(props["attributed_channels"], len(run.RANGES) - 1) < present


def test_tracer_work_leaves_wall_and_self_time():
    """A probe under a layer span counts for neither the layer nor the
    operation; a child layer's time leaves only the parent's self time."""

    def span(sid, layer, parent, t0, t1):
        s = spans.Span(sid, layer, "f", parent)
        s.t0, s.t1, s.w0, s.w1 = t0, t1, 100 + t0, 100 + t1
        return s

    tree = [
        span(0, "op", None, 0.0, 10.0),
        span(1, "operators.asof", 0, 1.0, 6.0),
        span(2, spans.TRACING, 1, 4.0, 6.0),   # probe after the call
        span(3, "sources", 1, 1.5, 2.5),
    ]
    times = spans.span_times(tree)
    assert times[0] == (8.0, 5.0)
    assert times[1] == (3.0, 2.0)
    assert times[3] == (1.0, 1.0)
    # jobs 102-103 (real) and the probe 104-106: 10 s op, first job at
    # 2 s, idle = 10 - 1 (job) - 2 (probe) = 7
    build, idle = spans.driver_times(tree[0], [(102.0, 103.0)],
                                     spans.own_work(tree)[0])
    assert (build, idle) == (2.0, 7.0)


def test_corpus_ground_truth(tmp_path):
    props = gen.generate("corpus_hygiene", str(tmp_path), 5, SMALL["corpus_hygiene"])
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    assert len(docs) == props["rows"] == len(props["family"])
    assert props["groups"] == len(set(props["family"]))
    assert props["max_group_size"] <= 32  # dedup.MAX_BAND_BUCKET
    texts = docs["text"].tolist()
    for train, ev in props["planted_eval_overlap"]:
        assert ev % gen.EVAL_MOD == 0 and train % gen.EVAL_MOD != 0
        shared = gen._shingles(texts[train]) & gen._shingles(texts[ev])
        assert len(shared) / len(gen._shingles(texts[ev])) >= 0.2
        # the leak is no LSH near-duplicate of its eval document
        assert not set(gen._band_keys(texts[train])) & set(gen._band_keys(texts[ev]))
    assert (docs["n_chars"] == docs["text"].str.len()).all()


def test_corrupted_result_counts_as_failure():
    good = pd.DataFrame({"id": [1, 2, 3], "score": [0.5, 0.25, 1.0]})
    n, digest = check.result_digest(good)
    # row order and column order do not matter
    shuffled = good.iloc[[2, 0, 1]][["score", "id"]]
    assert check.result_digest(shuffled) == (n, digest)

    corrupted = good.copy()
    corrupted.loc[1, "score"] = 0.2500001
    tally = check.Tally()
    for name, pdf in [("ok", shuffled), ("corrupted", corrupted)]:
        got_n, got_digest = check.result_digest(pdf)
        tally.record(name, check.expect_equal("rows", got_n, n)
                     + check.expect_equal("digest", got_digest, digest))
    assert (tally.attempted, tally.failed) == (2, 1)
    assert tally.share == 0.5
    assert tally.reasons[0].startswith("corrupted: digest")


def test_int_and_float_cells_hash_alike():
    ints = pd.DataFrame({"n": pd.Series([1, 2], dtype="int64")})
    floats = pd.DataFrame({"n": pd.Series([1.0, 2.0], dtype="float64")})
    assert check.result_digest(ints) == check.result_digest(floats)


def test_measured_loop_counts_wrong_and_raising_ops():
    """A wrong result and a raised error both count in ``failed``."""

    class Fake:
        def ops(self):
            def boom():
                raise RuntimeError("engine error")

            def check_fn(result):
                return check.expect_equal("rows", result, 3), result

            yield run.Op("right", lambda: 3, check_fn, False)
            yield run.Op("wrong", lambda: 4, check_fn, False)
            yield run.Op("raises", boom, check_fn, True)

    tally = check.Tally()
    m = run.measure(Fake(), 0.0, tally)
    assert (tally.attempted, tally.failed) == (3, 2)
    assert [r["units"] for r in m["records"]] == [3, 0, 0]
    assert len(m["cycles"]) == 1

"""The sink decides its own protocol (operators/sinks.py): one reader,
one insert, one compaction over both on-disk layouts, and no
swap/manifest decision anywhere else in the package."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from haensel_ams_data_engineer_challenge_spark.operators import (
    manifest_sink as M,
)
from haensel_ams_data_engineer_challenge_spark.operators import sinks

PKG = Path(__file__).resolve().parent.parent / (
    "haensel_ams_data_engineer_challenge_spark"
)


def _df(spark, ids):
    return spark.createDataFrame(
        [(str(i), float(i)) for i in ids], "k string, v double"
    )


def _assert_sink(spark, path, expected, was_manifest):
    """The one reader returns exactly ``expected``; the manifest view
    agrees whenever a manifest exists; a manifest sink stays one.
    Returns whether the sink is manifest-committed now."""
    got = sinks.try_read_sink(spark, path)
    assert got is not None
    assert sorted(r["k"] for r in got.collect()) == sorted(expected)
    committed = M.read_manifest_sink(spark, path)
    if committed is not None:
        assert sorted(r["k"] for r in committed.collect()) == sorted(expected)
    assert committed is not None or not was_manifest, "manifest -> plain"
    return committed is not None


@pytest.mark.parametrize("requested", ["swap", "manifest"])
@pytest.mark.parametrize("start", ["absent", "plain", "manifest"])
def test_sink_routes_by_layout(spark, tmp_path, start, requested):
    """Every (starting layout x requested protocol) pair: two inserts
    (the second a no-op) and a compaction keep exactly the inserted
    keys, and the sink is manifest iff it started so or was asked."""
    path = str(tmp_path / "sink")
    expected: set[str] = set()
    if start == "plain":
        _df(spark, [1, 2]).write.parquet(path)
        expected = {"1", "2"}
    elif start == "manifest":
        M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
        expected = {"1", "2"}
    if start == "absent":
        assert sinks.try_read_sink(spark, path) is None
    manifest = start == "manifest"

    batch = _df(spark, [2, 3, 4])
    n = sinks.insert_if_absent(
        spark, batch, path, ["k"], sink_protocol=requested
    )
    assert n == len({"2", "3", "4"} - expected)
    expected |= {"2", "3", "4"}
    manifest = _assert_sink(spark, path, expected, manifest)
    assert manifest == (start == "manifest" or requested == "manifest")

    assert sinks.insert_if_absent(
        spark, batch, path, ["k"], sink_protocol=requested
    ) == 0
    manifest = _assert_sink(spark, path, expected, manifest)

    assert sinks.compact_parquet_sink(
        spark, path, target_partitions=1, sink_protocol=requested
    ) == len(expected)
    _assert_sink(spark, path, expected, manifest)


def test_swap_request_on_manifest_sink_commits_through_manifest(
    spark, tmp_path
):
    """A swap-requested insert and compaction on a manifest-committed
    sink each commit a new manifest; a reader snapshot taken before the
    compaction stays whole, and every data file on disk belongs to a
    manifest still on disk (nothing written around the protocol)."""
    path = str(tmp_path / "sink")
    M.manifest_insert_if_absent(spark, _df(spark, [1, 2]), path, ["k"])
    assert sinks.insert_if_absent(spark, _df(spark, [3]), path, ["k"]) == 1
    assert M._resolve_latest(spark, path)[0] == 2
    snapshot = sinks.try_read_sink(spark, path)
    assert sinks.compact_parquet_sink(spark, path, target_partitions=1) == 3
    v, man = M._resolve_latest(spark, path)
    assert v == 3 and len(man["files"]) == 1
    assert sorted(r["k"] for r in snapshot.collect()) == ["1", "2", "3"]
    names = M._list_names(spark, path)
    retained = {
        f for v in M._manifest_versions(names)
        for f in M._read_manifest(spark, path, v)["files"]
    }
    assert set(man["files"]) <= M._data_files(names) <= retained


def test_streaming_attribution_keeps_a_manifest_sink(spark, sf_dir, tmp_path):
    """The streaming attribution path passes no protocol at all, yet a
    manifest-committed sink stays manifest: every batch commits a new
    manifest, the committed rows equal the batch scoring, and a replay
    writes nothing."""
    from haensel_ams_data_engineer_challenge_spark.attribution import (
        model as AM,
    )
    from haensel_ams_data_engineer_challenge_spark.streaming import (
        run_streaming_attribution,
    )

    sink = str(tmp_path / "acj")
    empty = spark.createDataFrame(
        [], "conv_id string, session_id string, ihc double"
    )
    M.manifest_insert_if_absent(spark, empty, sink, ["conv_id", "session_id"])
    run_streaming_attribution(spark, sf_dir, sink, str(tmp_path / "ck1"))
    expected = {
        (r.conv_id, r.session_id)
        for r in AM.scored(spark, sf_dir).select("conv_id", "session_id")
        .collect()
    }
    v1 = M._resolve_latest(spark, sink)[0]
    assert v1 > 1
    got = M.read_manifest_sink(spark, sink).collect()
    assert len(got) == len(expected)
    assert {(r.conv_id, r.session_id) for r in got} == expected
    run_streaming_attribution(spark, sf_dir, sink, str(tmp_path / "ck2"))
    assert M.read_manifest_sink(spark, sink).count() == len(expected)


def test_unknown_protocol_raises_before_any_write(spark, tmp_path):
    path = str(tmp_path / "sink")
    with pytest.raises(ValueError, match="'swap' or 'manifest'"):
        sinks.insert_if_absent(spark, _df(spark, [1]), path, ["k"],
                               sink_protocol="nope")
    with pytest.raises(ValueError, match="'swap' or 'manifest'"):
        sinks.compact_parquet_sink(spark, path, sink_protocol="nope")
    assert not Path(path).exists()
    assert not Path(path + "__lease").exists()


#: the only modules allowed to decide between the sink layouts
_SINK_MODULES = {"operators/sinks.py", "operators/manifest_sink.py"}
_PROTOCOL_INTERNALS = {
    "read_manifest_sink", "manifest_insert_if_absent", "manifest_compact",
    "_try_read",
}


def protocol_decisions(pkg: Path) -> list[str]:
    """``file:line`` of every sink-layout decision outside the sink
    modules: a comparison on ``sink_protocol`` or an import of a
    protocol-specific reader/writer."""
    sites = []
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        if rel in _SINK_MODULES:
            continue
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Compare):
                operands = [node.left, *node.comparators]
                if any(
                    (isinstance(o, ast.Name) and o.id == "sink_protocol")
                    or (isinstance(o, ast.Attribute)
                        and o.attr == "sink_protocol")
                    for o in operands
                ):
                    sites.append((rel, node.lineno, "compares sink_protocol"))
            elif isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.name in _PROTOCOL_INTERNALS:
                        sites.append((rel, node.lineno, f"imports {a.name}"))
    return [f"{rel}:{line} {what}" for rel, line, what in sorted(sites)]


def test_no_sink_protocol_decision_outside_sinks():
    sites = protocol_decisions(PKG)
    assert not sites, (
        "sink layout decided outside operators/sinks.py — pass "
        "sink_protocol through and use try_read_sink / insert_if_absent "
        "/ compact_parquet_sink:\n" + "\n".join(sites)
    )


def _cli_case(spark, tmp_path, command):
    """(argv, sink-dir) for ``command`` over a small corpus and an
    EMPTY feed dir."""
    corpus = str(tmp_path / "corpus")
    feed = tmp_path / "feed"
    feed.mkdir()
    work = str(tmp_path / "wd")
    if command == "ingest":
        spark.createDataFrame(
            [(1, "a document", "en", "synthetic", 10)],
            "doc_id long, text string, lang string, source string, "
            "n_chars int",
        ).write.parquet(corpus)
        extra, sink = [], "admitted"
    elif command == "ingest-vectors":
        spark.createDataFrame(
            [(1, [1.0] + [0.0] * 63)], "vec_id long, embedding array<double>"
        ).write.parquet(corpus)
        extra, sink = [], "admitted_vectors"
    else:
        spark.createDataFrame(
            [(1, bytearray(b"not audio"))], "doc_id long, payload binary"
        ).write.parquet(corpus)
        extra, sink = ["--modality", "audio"], "admitted_media"
    argv = [command, "--corpus-parquet", corpus, "--feed-dir", str(feed),
            "--work-dir", work, *extra]
    return argv, f"{work}/{sink}"


@pytest.mark.parametrize("protocol", ["swap", "manifest"])
@pytest.mark.parametrize(
    "command", ["ingest", "ingest-vectors", "ingest-media"]
)
def test_cli_ingest_empty_feed_admits_zero(
    spark, tmp_path, capsys, command, protocol
):
    """A drain with no writing batch leaves no sink at all; every
    ingest command reports 0 admitted instead of crashing."""
    from haensel_ams_data_engineer_challenge_spark.__main__ import main

    argv, sink = _cli_case(spark, tmp_path, command)
    assert main([*argv, "--sink-protocol", protocol]) == 0
    assert f"admitted_total=0 sink={sink}" in capsys.readouterr().out

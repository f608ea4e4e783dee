"""Column names and literals in SQL expression strings go through
``functions/sqlexpr.py``.

- awkward column names (a space, a reserved word, an operator
  character, a dot, a backtick) work through every name-taking
  expression builder exactly as the plain name ``text`` does;
- ``F.expr(sql_ref(n))`` resolves the attribute ``F.col(n)`` resolves;
- a static guard: no f-string that reaches ``F.expr`` / ``selectExpr``
  interpolates a bare ``col`` / ``*_col`` name.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from haensel_ams_data_engineer_challenge_spark.functions import text as T
from haensel_ams_data_engineer_challenge_spark.functions.sqlexpr import (
    sql_ref,
    sql_str,
)
from haensel_ams_data_engineer_challenge_spark.operators.bpe import bpe_segment
from haensel_ams_data_engineer_challenge_spark.operators.dedup import (
    cut_spans,
    substring_dup_pairs,
)
from haensel_ams_data_engineer_challenge_spark.operators.pack import chunk_sequences

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "haensel_ams_data_engineer_challenge_spark"

# (name as passed to the builders, the column's actual name)
AWKWARD = [
    ("my text", "my text"),
    ("select", "select"),
    ("a-b", "a-b"),
    ("`a.b`", "a.b"),
    ("`it``s`", "it`s"),
]

SHARED = "the quick brown fox jumps over the lazy dog again and again " * 2
DOCS = [
    (1, "Hello world, the cat's mat. " + SHARED + "tail one"),
    (2, "Other start here! " + SHARED + "tail two"),
    (3, "de le shi bu wo zai you 12345 x@y.com"),
    (4, ""),
    (5, None),
]
MERGES = [("t", "h"), ("th", "e</w>"), ("o", "n")]


def _text_helpers(name: str) -> list:
    return [
        T.tokens(name), T.token_count(name), T.bpe_ish_count(name),
        T.word_shingles(name, 2), T.char_shingles(name, 4),
        T.repetition_ratio(name, 3), T.punct_ratio(name),
        T.stopword_ratio(name), T.mean_word_len(name),
        T.alpha_word_frac(name), T.stopword_hits(name),
        T.gopher_quality_pass(name), T.langid(name),
        *T.langid_scores(name).values(),
    ]


def _runs(docs, name: str) -> dict:
    spans = docs.sparkSession.createDataFrame(
        [(1, 3, 9), (2, 5, 400), (3, 1, 2)],
        "doc_id long, span_start long, span_end long",
    )
    return {
        "text": docs.select("doc_id", *_text_helpers(name))
        .orderBy("doc_id").collect(),
        "chunks": sorted(chunk_sequences(
            docs, text_col=name, seq_len=8, overlap=2).collect()),
        "bpe": bpe_segment(docs, MERGES, text_col=name)
        .select("doc_id", "bpe_tokens").orderBy("doc_id").collect(),
        "pairs": sorted(substring_dup_pairs(docs, text_col=name).collect()),
        "cut": sorted(cut_spans(docs, spans, text_col=name).collect()),
    }


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def baseline(docs):
    out = _runs(docs, "text")
    assert out["pairs"] and out["cut"] and out["chunks"]
    return out


@pytest.mark.parametrize("name,actual", AWKWARD, ids=[a for _, a in AWKWARD])
def test_awkward_column_name_matches_plain(docs, baseline, name, actual):
    got = _runs(docs.withColumnRenamed("text", actual), name)
    assert got == baseline


# --- sql_ref resolves what F.col resolves -------------------------------

_PART = st.text(
    alphabet=st.sampled_from("ab Z_-.`'\\(),é1+"), min_size=1, max_size=6
)


@st.composite
def _name_and_parts(draw):
    """A nested-field path and one of the F.col spellings of it: each
    part written bare when F.col's parser allows, else (or at random)
    backtick-quoted with doubled backticks."""
    parts = draw(st.lists(_PART, min_size=1, max_size=3))
    spelled = []
    for p in parts:
        bare_ok = "." not in p and not p.startswith("`") and "`" not in p
        if bare_ok and draw(st.booleans()):
            spelled.append(p)
        else:
            spelled.append("`" + p.replace("`", "``") + "`")
    return ".".join(spelled), parts


def _nested(parts: list[str], leaf) -> StructField:
    field = StructField(parts[-1], leaf)
    for p in reversed(parts[:-1]):
        field = StructField(p, StructType([field]))
    return field


@settings(max_examples=40, deadline=None)
@given(_name_and_parts())
def test_sql_ref_resolves_like_col(spark, drawn):
    name, parts = drawn
    fields = [_nested(parts, StringType())]
    if name.lower() != parts[0].lower():
        # decoy: a top-level column literally named like the raw
        # string — a naive `name` quoting would resolve to it
        fields.append(StructField(name, IntegerType()))
    df = spark.createDataFrame([], StructType(fields))
    by_col = df.select(F.col(name)).schema
    by_ref = df.select(F.expr(sql_ref(name))).schema
    assert by_col == by_ref
    assert by_ref.fields[0].dataType == StringType()


@pytest.mark.parametrize(
    "bad", ["a`b", "`a", "`a`b", "a..b", ".a", "a.", "`a``"]
)
def test_sql_ref_rejects_what_col_rejects(spark, bad):
    with pytest.raises(ValueError):
        sql_ref(bad)
    df = spark.createDataFrame([], "x int")
    with pytest.raises(Exception, match="(?i)syntax|attribute"):
        df.select(F.col(bad)).schema


def test_sql_str_round_trips(spark):
    values = ["plain", "it's", "back\\slash", "\\'", "'", "a\nb", "%_$`\""]
    row = spark.range(1).select(
        *[F.expr(sql_str(v)).alias(f"v{i}") for i, v in enumerate(values)]
    ).first()
    assert list(row) == values


# --- static guard -------------------------------------------------------

_COL_NAME = re.compile(r"^(col|\w+_col)$")


def _is_sink(call: ast.Call) -> bool:
    f = call.func
    if not isinstance(f, ast.Attribute):
        return False
    is_f_expr = f.attr == "expr" and isinstance(f.value, ast.Name) and f.value.id == "F"
    return is_f_expr or f.attr == "selectExpr"


def _str_col_params(fn: ast.AST) -> set[str]:
    """Parameters named ``col``/``*_col`` annotated ``str`` or, when
    unannotated, defaulting to a string."""
    a = fn.args
    positional = a.posonlyargs + a.args
    defaults = dict(zip(reversed(positional), reversed(a.defaults)))
    defaults.update(zip(a.kwonlyargs, a.kw_defaults))
    out = set()
    for p in positional + a.kwonlyargs:
        d = defaults.get(p)
        if _COL_NAME.match(p.arg) and (
            "str" in ast.unparse(p.annotation)
            if p.annotation is not None
            else isinstance(d, ast.Constant) and isinstance(d.value, str)
        ):
            out.add(p.arg)
    return out


def bare_col_interpolations(root: Path) -> list[str]:
    """``file:line name`` for every f-string that flows into an
    ``F.expr``/``selectExpr`` call — as an argument, or through local
    variables assigned in the same function — and interpolates a
    ``str`` parameter named ``col``/``*_col`` without ``sql_ref``."""
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            params = _str_col_params(fn)
            if not params:
                continue
            flow = [
                a for c in ast.walk(fn)
                if isinstance(c, ast.Call) and _is_sink(c)
                for a in [*c.args, *(k.value for k in c.keywords)]
            ]
            assigns: dict[str, list[ast.expr]] = {}
            for node in ast.walk(fn):
                if isinstance(node, ast.Assign):
                    targets = node.targets
                elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                    targets = [node.target]
                else:
                    continue
                for t in targets:
                    if isinstance(t, ast.Name) and node.value is not None:
                        assigns.setdefault(t.id, []).append(node.value)
            seen: set[str] = set()
            i = 0
            while i < len(flow):
                for n in ast.walk(flow[i]):
                    if isinstance(n, ast.Name) and n.id not in seen:
                        seen.add(n.id)
                        flow.extend(assigns.get(n.id, []))
                i += 1
            for expr in flow:
                for js in ast.walk(expr):
                    if not isinstance(js, ast.JoinedStr):
                        continue
                    for v in js.values:
                        if (
                            isinstance(v, ast.FormattedValue)
                            and isinstance(v.value, ast.Name)
                            and v.value.id in params
                        ):
                            rel = path.relative_to(root)
                            found.append(f"{rel}:{js.lineno} {v.value.id}")
    return sorted(set(found))


def test_no_bare_column_name_in_expr_strings():
    assert bare_col_interpolations(PACKAGE) == []


def test_guard_catches_bare_and_indirect_interpolation(tmp_path):
    (tmp_path / "m.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def direct(df, text_col: str = 'text'):\n"
        "    return F.expr(f'length({text_col})')\n"
        "def indirect(df, col: str):\n"
        "    n = f'length({col})'\n"
        "    m = f'{n} + 1'\n"
        "    return df.selectExpr(m)\n"
        "def quoted(df, text_col: str = 'text'):\n"
        "    return F.expr(f'length({sql_ref(text_col)})')\n"
        "def not_a_sink(df, text_col: str = 'text'):\n"
        "    return f'{text_col}'\n"
    )
    assert bare_col_interpolations(tmp_path) == [
        "m.py:3 text_col", "m.py:5 col",
    ]

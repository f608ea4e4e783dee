"""functions/text.py's single-parse SQL construction pinned to fixed
expected values on ``ROWS`` (including None, empty and whitespace-only
text).  The values in ``text_sql_expected.json`` are the outputs of the
Column-API construction these helpers once had in parallel, recorded
while both constructions agreed on every row — so the SQL strings
still build exactly what the Column calls built."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from haensel_ams_data_engineer_challenge_spark.functions import text as T

EXPECTED = json.loads(
    (Path(__file__).parent / "text_sql_expected.json").read_text()
)

ROWS = [
    ("plain english the and of to is in text here",),
    ("  Der Hund und die Katze ist nicht ein Tier  ",),
    ("one-word",),
    ("",),
    ("   ",),
    ("a b",),
    ("Punct!?.,;: heavy!!! ... ;;&()[]{}",),
    ("repeat repeat repeat repeat repeat repeat repeat",),
    ("12345 67890 999 mixed42tokens 3.14159",),
    ("el los y que en una es de la et les des un est",),
    ("de le shi bu wo zai you",),
    ("CAPS LOWER MiXeD tabs\tnewlines\nweird  spacing",),
    ("x" * 200 + " " + "y" * 3,),
    ("short",),
    (None,),
]


HELPERS = {
    "tokens": T.tokens,
    "token_count": T.token_count,
    "bpe_ish_count": T.bpe_ish_count,
    "word_shingles2": lambda c: T.word_shingles(c, 2),
    "word_shingles3": lambda c: T.word_shingles(c, 3),
    "char_shingles4": lambda c: T.char_shingles(c, 4),
    "char_shingles8": lambda c: T.char_shingles(c, 8),
    "repetition_ratio": lambda c: T.repetition_ratio(c, 3),
    "punct_ratio": T.punct_ratio,
    "stopword_ratio": T.stopword_ratio,
    "mean_word_len": T.mean_word_len,
    "alpha_word_frac": T.alpha_word_frac,
    "stopword_hits": lambda c: T.stopword_hits(c, T.GOPHER_STOPWORDS),
    "gopher_quality_pass": T.gopher_quality_pass,
    "langid": T.langid,
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, t) for i, (t,) in enumerate(ROWS)], "i int, text string"
    )


def _values(docs, col) -> list:
    return [r[0] for r in docs.orderBy("i").select(col).collect()]


@pytest.mark.parametrize("key,fn", HELPERS.items(), ids=list(HELPERS))
def test_sql_branch_equals_column_branch(docs, key, fn):
    assert _values(docs, fn("text")) == EXPECTED[key]


def test_langid_scores_branches_agree(docs):
    scores = T.langid_scores("text")
    assert sorted(scores) == sorted(EXPECTED["langid_scores"])
    for lang, col in scores.items():
        assert _values(docs, col) == EXPECTED["langid_scores"][lang], lang


def test_non_identifier_name_falls_back(spark):
    # a dotted name must keep F.col's nested-field semantics
    df = spark.createDataFrame(
        [(("some text here",),)], "s struct<text: string>"
    )
    out = df.select(T.token_count("s.text").alias("n")).collect()
    assert out[0]["n"] == 3

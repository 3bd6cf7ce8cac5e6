"""The one-call IN-list predicate (``functions/predicates.in_list``)
must select exactly what ``Column.isin`` selects: every row whose value
is in the list and no other, for any string the tokenizer can emit and
for strings that are hostile to a SQL literal (quotes, backslashes, a
literal ``\\u0041``, LIKE wildcards, non-BMP characters)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pylate_spark.functions.predicates import in_list
from pylate_spark.functions.tokenize import tokenize_py

_HOSTILE = [
    "'", "''", "a'b", "\\", "\\\\", "\\'", "'\\", "\\u0041", "A", "\\n", "\n",
    "%", "_", "a%", "a_b", "ab", "\U0001f600", "\U0001d518x", "", " ", "\t'",
    "it's", "O''Brien", "\\x41", "\\101", "$$", "${x}", "`", "\"", "--", "/*",
]
_tokens = st.text(max_size=40).map(tokenize_py)
_values = st.one_of(st.sampled_from(_HOSTILE), st.text(max_size=12))


@settings(
    max_examples=60,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    tokens=st.lists(_tokens, max_size=4),
    rows=st.lists(_values, max_size=12),
    picked=st.lists(_values, max_size=12),
)
def test_in_list_selects_exactly_the_listed_strings(spark, tokens, rows, picked):
    table = sorted(set(_HOSTILE) | set(rows) | {t for ts in tokens for t in ts})
    wanted = picked + [t for ts in tokens[:2] for t in ts]
    df = spark.createDataFrame(pd.DataFrame({"v": table}), "v string")
    got = {r["v"] for r in df.where(in_list("v", wanted)).collect()}
    assert got == set(table) & set(wanted)


def test_in_list_ints_and_empty(spark):
    df = spark.range(20).withColumnRenamed("id", "v")
    assert {r["v"] for r in df.where(in_list("v", [3, 7, 7, 19, 40])).collect()} == {3, 7, 19}
    assert df.where(in_list("v", [])).count() == 0
    assert spark.createDataFrame([("x",)], "v string").where(in_list("v", [])).count() == 0

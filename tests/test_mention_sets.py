"""The per-mention sets (mentions.mention_sets) and the array comparisons
over them agree with the oracle's string-based middle check and
affiliation Jaccard, on random space-joined names: empty middles,
repeated initials, duplicate and empty tokens, non-ASCII text."""

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ent_res_feedback_spark.functions.text import distinct_jaccard
from ent_res_feedback_spark.operators.features import NEUTRAL, middle_compatible
from ent_res_feedback_spark.operators.mentions import mention_sets
from ent_res_feedback_spark.oracle import name_features_py

# token text as extract_mentions emits it: no whitespace (tokens are
# joined by single spaces), any other code point
_token = st.text(
    alphabet=st.one_of(
        st.sampled_from("aabbcé"),
        st.characters(blacklist_categories=("Cc", "Cs")).filter(
            lambda c: not c.isspace()
        ),
    ),
    max_size=4,
)
# empty tokens model doubled / leading / trailing spaces
_text = st.lists(st.one_of(st.just(""), _token), max_size=5).map(" ".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_text, _text, _text, _text), min_size=1, max_size=40))
def test_array_sets_match_oracle(spark, rows):
    df = spark.createDataFrame(
        rows, "middle_1 string, middle_2 string, affil_norm_1 string, affil_norm_2 string"
    ).select("*", *mention_sets("_1"), *mention_sets("_2"))
    got = df.select(
        "middle_1", "middle_2", "affil_norm_1", "affil_norm_2",
        middle_compatible(F.col("middle_initials_1"), F.col("middle_initials_2"))
        .alias("middle_compat"),
        F.coalesce(
            distinct_jaccard(F.col("affil_tokens_1"), F.col("affil_tokens_2")),
            F.lit(NEUTRAL),
        ).alias("affil_jaccard"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        want = name_features_py(
            "", "", r["middle_1"], r["middle_2"], r["affil_norm_1"], r["affil_norm_2"]
        )
        assert r["middle_compat"] == want["middle_compat"], r
        assert r["affil_jaccard"] == want["affil_jaccard"], r

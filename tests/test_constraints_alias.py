"""S5 — name-alias table wiring: loader -> broadcast join -> known_alias
-> constraint chain. Golden: an alias pair flips the non-prefix
first-name disallow (1e4) to NULL/model-decides (reference
s2and/data.py:481-488, :854-862)."""

from pyspark.sql import functions as F

from ent_res_feedback_spark.operators.constraints import (
    LARGE_DISTANCE,
    apply_constraints,
    join_alias_flags,
    load_name_aliases,
)
from ent_res_feedback_spark.operators.mentions import mention_sets

PAIR_SCHEMA = (
    "doc_id_1 string, doc_id_2 string, "
    "first_1 string, first_2 string, middle_1 string, middle_2 string, "
    "last_1 string, last_2 string, affil_norm_1 string, affil_norm_2 string"
)


def _pair(first_1, first_2, last="smith"):
    return ("d1", "d2", first_1, first_2, "", "", last, last, "", "")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, PAIR_SCHEMA).select(
        "*", *mention_sets("_1"), *mention_sets("_2")
    )


def test_alias_flips_disallow_to_model(spark):
    # NB the alias rule sits BELOW the first-initial rule in the chain
    # (reference data.py:850-866), so only same-initial non-prefix pairs
    # can be rescued by an alias — e.g. alec/alan, not bill/william.
    pairs = _pairs(spark, [_pair("alec", "alan"), _pair("anna", "amelia")])
    aliases = spark.createDataFrame(
        [("alan", "alec")], "name_1 string, name_2 string"
    )
    out = apply_constraints(pairs, seeds=None, alias_pairs=aliases)
    got = {
        (r["first_1"], r["first_2"]): r["constraint_dist"]
        for r in out.collect()
    }
    # alec/alan: non-prefix BUT aliased -> NULL (model decides)
    assert got[("alec", "alan")] is None
    # anna/amelia: non-prefix, no alias -> hard disallow
    assert got[("anna", "amelia")] == LARGE_DISTANCE
    # different first initials stay disallowed even when aliased
    pairs2 = _pairs(spark, [_pair("bill", "william")])
    aliases2 = spark.createDataFrame(
        [("william", "bill")], "name_1 string, name_2 string"
    )
    out2 = apply_constraints(pairs2, seeds=None, alias_pairs=aliases2)
    assert out2.collect()[0]["constraint_dist"] == LARGE_DISTANCE


def test_alias_join_covers_both_orientations(spark):
    pairs = spark.createDataFrame(
        [_pair("bill", "william"), _pair("william", "bill")], PAIR_SCHEMA
    )
    aliases = spark.createDataFrame(
        [("william", "bill")], "name_1 string, name_2 string"
    )
    flagged = join_alias_flags(pairs, aliases)
    assert [r["known_alias"] for r in flagged.collect()] == [True, True]


def test_alias_loader_csv_and_parquet(spark, tmp_path):
    src = spark.createDataFrame(
        [("william", "bill"), ("margaret", "peggy")],
        "name_1 string, name_2 string",
    )
    pq = str(tmp_path / "aliases.parquet")
    src.write.parquet(pq)
    assert sorted(
        (r["name_1"], r["name_2"]) for r in load_name_aliases(spark, pq).collect()
    ) == [("margaret", "peggy"), ("william", "bill")]

    csv_dir = str(tmp_path / "aliases.csv")
    src.write.option("header", "true").csv(csv_dir)
    # loader dispatches on extension; spark csv dirs keep the suffix
    loaded = load_name_aliases(spark, csv_dir + "")
    assert loaded.count() == 2


def test_alias_does_not_bypass_other_constraints(spark):
    # aliased firsts but MISMATCHED last names: still disallowed (the
    # last-name rule precedes the alias rule in the chain)
    pairs = _pairs(
        spark, [_pair("bill", "william", last="smith")[:7] + ("jones",) + ("", "")]
    )
    aliases = spark.createDataFrame(
        [("william", "bill")], "name_1 string, name_2 string"
    )
    out = apply_constraints(pairs, seeds=None, alias_pairs=aliases)
    assert out.collect()[0]["constraint_dist"] == LARGE_DISTANCE


def test_require_groups_distributed_fallback(spark, monkeypatch):
    """Above the driver bound, require-groups must come from the
    distributed CC — same transitive groups, no driver union-find."""
    import ent_res_feedback_spark.operators.constraints as cons

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "doc_id_1 string, doc_id_2 string",
    )
    want = {r["doc_id"]: r["grp"] for r in cons._require_groups(edges).collect()}
    monkeypatch.setattr(cons, "_REQUIRE_GROUPS_DRIVER_MAX", 1)
    got = {r["doc_id"]: r["grp"] for r in cons._require_groups(edges).collect()}
    # identical partitions (group labels are the min member both ways)
    assert got == want
    assert got["a"] == got["b"] == got["c"]
    assert got["x"] == got["y"] != got["a"]

"""``functions/hof.py`` contracts: ``zip_match_groups`` rejects
lookaround patterns (its single-scan re-match is only exact without
them) and still matches ``regexp_extract_all`` per group otherwise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sigraph_spark.functions.hof import zip_match_groups


@pytest.mark.parametrize("pattern", [
    r"(\w+)(?=:)",
    r"(?!x)(\w+)",
    r"(?<=\$)(\d+)",
    r"(?<!-)(\d+)",
    r"\\(?=a)(\w)",  # escaped backslash, then a real lookahead
])
def test_lookaround_pattern_raises(spark, pattern):
    with pytest.raises(ValueError, match="lookaround"):
        zip_match_groups(F.col("t"), pattern, ["g"])


def test_named_group_and_escaped_paren_allowed(spark):
    df = spark.createDataFrame([("k1=(?=v1) k2=(?!v2)",)], "t string")
    pattern = r"(?<key>k\d)=\(\?[=!](v\d)\)"
    got = df.select(
        zip_match_groups(F.col("t"), pattern, ["k", "v"]).alias("m")
    ).first()["m"]
    assert [(r["k"], r["v"]) for r in got] == [("k1", "v1"), ("k2", "v2")]

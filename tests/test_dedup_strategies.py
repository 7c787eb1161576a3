"""first_occurrence's hash column + anti_join_seen hash-key parity.

``keep_hash=True`` leaves the ``(xxhash64(keys), keys…)`` grouping hash
as ``_kh``; ``anti_join_seen(hash_key=True)`` joining on that composite
must drop exactly the rows a plain key anti-join drops.
"""

import pytest
from pyspark.sql import functions as F

from crawler_service_spark.operators.dedup import anti_join_seen, first_occurrence


@pytest.fixture(scope="module")
def dup_heavy(spark):
    # 6 rows per canonical key
    df = spark.range(3000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 100).cast("string"),
                 F.lit(".example.com/p/"), (F.col("id") % 500).cast("string"))
        .alias("canon_url"),
        (F.col("id") % 7).alias("depth"),
        F.col("id").alias("discovery_seq"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("extra"),
    )
    return df.persist()


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_keep_hash_column(spark, dup_heavy):
    out = first_occurrence(dup_heavy, ["canon_url"], ["discovery_seq"],
                           keep_hash=True)
    assert out.columns[0] == "_kh"
    got = out.filter(
        F.col("_kh") != F.xxhash64("canon_url")).count()
    assert got == 0


def test_anti_join_hash_key_parity(spark, dup_heavy):
    seen_plain = dup_heavy.select("canon_url").filter(
        F.col("canon_url").rlike("/p/1")).distinct()
    seen_kh = seen_plain.selectExpr(
        "xxhash64(canon_url) AS _kh", "canon_url").persist()
    base = first_occurrence(dup_heavy, ["canon_url"], ["discovery_seq"])
    expected = _sorted_rows(base.join(seen_plain, "canon_url", "left_anti"))
    d = first_occurrence(dup_heavy, ["canon_url"], ["discovery_seq"],
                         keep_hash=True)
    for seen in (seen_plain, seen_kh):
        out = anti_join_seen(d, seen, ["canon_url"], hash_key=True)
        assert "_kh" not in out.columns
        assert _sorted_rows(out.select(base.columns)) == expected, seen.columns

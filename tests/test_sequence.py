"""Two-level dense sequence (operators/sequence.assign_dense_seq): exact
for any bucket count, and its input lineage runs once."""

import random

from pyspark.sql import functions as F

from crawler_service_spark.operators.sequence import assign_dense_seq


def test_dense_seq_runs_its_input_once(spark):
    """A Python UDF upstream (the engine's canonicalizer stands there)
    evaluates each row once: the per-bucket counts must not re-run the
    lineage that the caller's action then runs again."""
    n = 3000
    calls = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def keep(x):
        calls.add(1)
        return x % 5 != 0

    df = spark.range(n).select(
        F.expr("id DIV 7").alias("parent_seq"),
        (F.col("id") % 7).alias("link_pos"),
    ).filter(keep("link_pos"))
    out = assign_dense_seq(df, "parent_seq", "link_pos", n // 7 + 1, 8)
    seqs = sorted(r["discovery_seq"] for r in out.collect())
    assert seqs == list(range(len(seqs)))
    assert calls.value == n


def test_dense_seq_independent_of_bucket_count(spark):
    """Same ranks for 1, 3 and 64 buckets over a sparse, shuffled parent
    range, including one parent below ``base`` and one past
    ``n_parents`` (clamped into the end buckets)."""
    rng = random.Random(7)
    base, n_parents = 100, 400
    parents = rng.sample(range(base, n_parents), 120) + [base - 3, n_parents + 5]
    rows = [(p, pos) for p in parents for pos in range(rng.randint(1, 4))]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "parent_seq long, link_pos int")
    want = {key: i for i, key in enumerate(sorted(rows))}
    for n_buckets in (1, 3, 64):
        got = {
            (r["parent_seq"], r["link_pos"]): r["discovery_seq"]
            for r in assign_dense_seq(
                df, "parent_seq", "link_pos", n_parents, n_buckets, base=base,
            ).collect()
        }
        assert got == want, n_buckets

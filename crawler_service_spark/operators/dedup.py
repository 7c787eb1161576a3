"""URL-seen deduplication (SURVEY §2 D1/D2) — the scale-critical operator.

D1 (cross-round): the reference's ``normalized in self.visited_urls``
(/root/reference/app/services/crawler.py:110-118) becomes a ``left_anti``
join against the cumulative ``url_seen`` table. Exactness is mandatory
(the URL-seen equality contract forbids probabilistic drops). While the
seen set is small the planner broadcasts it into the anti-join. Past the
engine's large-seen line the membership test is built over the *batch*
instead: the batch's keys are broadcast into a map-side semi-join over
the seen scan, and the batch is anti-joined against the few hits, so the
large seen side is never shuffled or hash-built (the large-join-state
argument of *Triton Join*, SIGMOD 2022). ``ShardedBloomFilter`` is a
seen-side prefilter kept for callers below that line (the registry's
``d1_bloom_sharded`` entry); the engine does not build one. Its probe is
one broadcast join of the filter's dense words, ``capacity × 8`` bytes.

D2 (in-batch): the reference's O(n) pending-queue scan
(crawler.py:144-146) — first raw variant of a canonical URL wins, where
"first" is the deterministic (parent_seq, link_pos) order. One physical
shape: the map-side-combining min-struct aggregate.

Both are shaped for the engine's link-to-frontier step
(``engine.links_to_frontier``): the dedup keeps its ``(xxhash64(keys),
keys…)`` grouping as ``_kh`` and the anti-join joins on the same
composite, so below the large-seen line no exchange sits between them.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType


def first_occurrence(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    keep_hash: bool = False,
) -> DataFrame:
    """D2: keep the first row per key in deterministic order.

    Implemented as ``min(struct(order_cols…, payload))`` aggregation
    rather than a window rank: the partial (map-side) aggregate collapses
    duplicates BEFORE the shuffle, so on a dup-heavy link batch the
    exchange carries one row per key instead of every candidate — the
    window variant shuffles and sorts everything. Ties on ``order_cols``
    break deterministically by the remaining columns (struct comparison
    is lexicographic), which is strictly more deterministic than
    ``row_number``'s arbitrary tie order. Payload columns must be
    orderable (no maps) — true for frontier/link rows.

    Physical note: a struct-with-strings min buffer forces SortAggregate
    (both sides of the exchange sort by key). A measured alternative —
    hash-agg ``min(order)`` + left-semi join for unique order keys — ran
    3× SLOWER end-to-end: Catalyst pushed the semi-join below the
    canonicalizer, re-executing canonicalization, and planned SMJ sorts
    anyway. The map-side-combining SortAggregate is the right shape.

    Sort-prefix note: canonical URLs share a long common prefix
    ("https://…"), so Tungsten's 8-byte sort prefix never discriminates
    and every SortAggregate comparison falls through to a full string
    compare. Grouping by ``(xxhash64(keys), keys…)`` — identical
    equivalence classes, the hash is a pure function of the keys — makes
    the leading sort key a random long, so the radix/prefix comparator
    resolves almost every comparison (measured 32M rows × 16 cores:
    dedup stage 55.6 s → see BENCH notes).

    ``keep_hash=True`` keeps that hash as a ``_kh`` output column: the
    aggregate leaves the data hash-partitioned on ``(_kh, keys…)``, and a
    downstream ``anti_join_seen(..., hash_key=True)`` joining on the same
    composite reuses the partitioning — no extra exchange between dedup
    and the seen anti-join.
    """
    payload = [c for c in df.columns if c not in key_cols]
    # record the hash's provenance as column metadata so a downstream
    # anti_join_seen(hash_key=True) can verify _kh was computed over the
    # SAME key columns before reusing it (ADVICE r02)
    kh = F.xxhash64(*[F.col(k) for k in key_cols]).alias(
        "_kh", metadata={"kh_keys": list(key_cols)})
    m = df.groupBy(kh, *[F.col(k) for k in key_cols]).agg(
        F.min(
            F.struct(
                *[F.col(c) for c in order_cols],
                F.struct(*[F.col(c) for c in payload]).alias("_row"),
            )
        ).alias("_m")
    )
    head = ["_kh", *key_cols] if keep_hash else list(key_cols)
    return m.select(*head, "_m._row.*")


class ShardedBloomFilter:
    """Partitioned bloom prefilter over the seen keys (SURVEY §7.5's
    sharded design; no filter bytes ever sit on the driver).
    ``anti_join_seen`` consults it only below the large-seen line; the
    engine builds none (past the line the batch probes the seen scan).

    The filter lives as a DataFrame of ``(shard, widx, word: long)``
    rows — the NON-ZERO 64-bit words of a bitmap partitioned into
    ``xxhash64(key) mod n_shards`` ranges. Build, merge, and probe are
    all native Spark expressions (r02 VERDICT item 3 — the previous
    ``(shard, bitmap: binary)`` design crossed Arrow per candidate and
    capped probe parallelism at ``n_shards`` tasks):

    * build: positions → ``groupBy(shard, pos>>6).agg(bit_or(1<<bit))``
      — a hash aggregate with map-side partial combining, parallelism
      bounded by the data, not the shard count, zero Python.
    * merge (round update): union + the same ``bit_or`` aggregate.
    * probe: ONE broadcast join of per-shard DENSE ``array<long>`` rows
      with O(1) ``element_at`` indexing plus a native shift/AND bit
      test — no shuffle of the candidate batch, no Python crossing,
      whole-stage codegen throughout. A ``map<long,long>`` lookup is a
      LINEAR key scan per probe (measured 2-3× slower at 4k words); a
      whole-bitmap plan Literal avoids even the join but its
      per-execution cost grows with the literal, and the array join
      beat it at every size tried. Per-hash sparse-word joins measured
      1.53 s against this probe's 0.82 s at 6M rows
      (BENCH/NOTES_r05.md).

    The broadcast holds the filter's whole capacity: ``n_shards`` rows
    of ``bits_per_shard / 64`` words, ``capacity × 8`` bytes (8 MiB at
    ``num_bits = 2^26``). The driver never holds filter bytes; it holds
    handles to DataFrames of at most ``num_bits/64`` words.

    Exactness contract unchanged: this is a PREFILTER. All-bits-set ⇒
    "maybe seen" ⇒ pay the exact anti-join; any-bit-clear ⇒ definitely
    new. Bit positions are JVM-side ``xxhash64`` values taken modulo
    ``bits_per_shard`` within the key's shard (equivalent to a
    partitioned global bitmap).
    """

    def __init__(
        self,
        spark,
        num_bits: int = 1 << 23,
        num_hashes: int = 3,
        n_shards: int = 64,
    ):
        self.spark = spark
        self.n_shards = int(n_shards)
        # round bits-per-shard up to whole 64-bit words
        bps = max(64, (int(num_bits) // self.n_shards + 63) // 64 * 64)
        self.bits_per_shard = bps
        self.num_hashes = int(num_hashes)
        self.words: DataFrame | None = None  # (shard long, widx long, word long)
        self._word_arrays: DataFrame | None = None
        self.fitted = False

    # -- internal ----------------------------------------------------------
    def _position_exprs(self, key_col):
        """All ``num_hashes`` bit positions from TWO xxhash64 evaluations
        (Kirsch–Mitzenmacher double hashing, ``g_i = a + i*b mod m``) —
        r03 VERDICT item 3: the previous per-position ``xxhash64(key, i)``
        family paid one full hash of the key string per position, the
        dominant build cost at scale. ``b`` is forced odd so the step is
        coprime with the power-of-two-mostly word space; both operands
        are reduced mod m before the add so the arithmetic never
        overflows a long under ANSI mode."""
        m = F.lit(self.bits_per_shard)
        a = F.pmod(F.xxhash64(key_col, F.lit(1)), m)
        b = F.pmod(F.xxhash64(key_col, F.lit(2)).bitwiseOR(F.lit(1)), m)
        return [F.pmod(a + F.lit(i) * b, m) for i in range(self.num_hashes)]

    def _with_positions(self, df: DataFrame, key: str) -> DataFrame:
        cols = [p.alias(f"_sb_p{i}")
                for i, p in enumerate(self._position_exprs(F.col(key)))]
        return df.withColumn(
            "_sb_shard", F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_shards))
        ).select("_sb_shard", *cols)

    def _delta_words(self, keys: DataFrame, key: str) -> DataFrame:
        """Sparse (shard, widx, word) rows for the bits set by ``keys`` —
        a pure native aggregate (explode positions, OR per word)."""
        pos = self._with_positions(keys, key)
        stacked = pos.select(
            F.col("_sb_shard").alias("shard"),
            F.explode(F.array(
                *[F.col(f"_sb_p{i}") for i in range(self.num_hashes)]
            )).alias("p"),
        )
        return (
            stacked.select(
                "shard",
                F.shiftrightunsigned("p", 6).alias("widx"),
                F.expr("shiftleft(1L, cast(p % 64 as int))").alias("b"),
            )
            .groupBy("shard", "widx")
            .agg(F.bit_or("b").alias("word"))
        )

    def _materialize(self, words: DataFrame) -> DataFrame:
        old = self.words
        words = words.persist()
        words.count()  # materialize: ≤ num_bits/64 rows; breaks lineage
        if old is not None:
            old.unpersist()
        if self._word_arrays is not None:  # filter contents changed
            self._word_arrays.unpersist()
            self._word_arrays = None
        return words

    def _shard_arrays(self) -> DataFrame:
        """(shard, warr: DENSE array<long> of the shard's whole bitmap)
        — n_shards rows, built once per fit/update and persisted; the
        probe broadcasts it and indexes with O(1) ``element_at``. A
        ``map<widx, word>`` was tried first and reverted: map lookups
        are a linear key scan per probe, 2-3× slower at 4k words."""
        if self._word_arrays is None:
            wps = self.bits_per_shard // 64
            # one dense slot row per (shard, widx) capacity cell, sparse
            # words joined on — NOT a per-slot map lookup, which is a
            # linear scan per cell (quadratic in words-per-shard; hung
            # at 64k words/shard). array_sort on (widx, word) structs
            # orders by widx, so transform(x -> x.word) is the dense
            # bitmap in index order.
            slots = self.spark.range(self.n_shards * wps).select(
                F.expr(f"id DIV {wps}").alias("shard"),
                F.pmod(F.col("id"), F.lit(wps)).alias("widx"))
            self._word_arrays = (
                slots.join(self.words, ["shard", "widx"], "left")
                .na.fill({"word": 0})
                .groupBy("shard")
                .agg(F.array_sort(F.collect_list(
                    F.struct("widx", "word"))).alias("s"))
                .select("shard",
                        F.expr("transform(s, x -> x.word)").alias("warr"))
                .persist()
            )
            self._word_arrays.count()
        return self._word_arrays

    # -- build -------------------------------------------------------------
    def fit(self, seen: DataFrame, key: str = "canon_url") -> "ShardedBloomFilter":
        self.words = self._materialize(self._delta_words(seen, key))
        self.fitted = True
        return self

    def update(self, new_rows: DataFrame, key: str = "canon_url") -> None:
        delta = self._delta_words(new_rows, key)
        if self.words is None:
            self.words = self._materialize(delta)
        else:
            merged = (
                self.words.unionByName(delta)
                .groupBy("shard", "widx")
                .agg(F.bit_or("word").alias("word"))
            )
            self.words = self._materialize(merged)
        self.fitted = True

    # -- probe -------------------------------------------------------------
    def annotate(self, batch: DataFrame, key_col: str) -> DataFrame:
        """Append ``_maybe_seen`` via ONE broadcast join against the
        per-shard dense ``array<long>`` rows: the candidate batch never
        shuffles and never crosses into Python; ``element_at`` fetches
        each hash's word and a codegen'd shift/AND tests the bit."""
        if self.words is None:
            return batch.withColumn("_maybe_seen", F.lit(False))
        nh = self.num_hashes
        # two flat selects, not a withColumn chain — each withColumn is
        # its own projection node and the analyzer/optimizer pay per
        # node on EVERY execution (measured ~0.1 s/probe at 10 nodes)
        probed = batch.select(
            "*",
            F.pmod(F.xxhash64(F.col(key_col)),
                   F.lit(self.n_shards)).alias("_sb_shard"),
            *[p.alias(f"_sb_p{i}")
              for i, p in enumerate(self._position_exprs(F.col(key_col)))],
        ).select(
            "*",
            *[F.shiftrightunsigned(f"_sb_p{i}", 6).alias(f"_sb_w{i}")
              for i in range(nh)],
        )
        # element_at is O(1) indexing (1-based, always in range since
        # w < words per shard, so ANSI cannot fail) and NULL only for
        # rows whose shard has no words at all (left join put NULL in
        # the array column) — NULL word = all-zero ⇒ bit clear
        wm = self._shard_arrays().alias("_sb_wa")
        probed = probed.join(
            F.broadcast(wm),
            probed["_sb_shard"] == wm["shard"], "left")
        probed = probed.select(
            "*",
            *[F.element_at(
                F.col("_sb_wa.warr"),
                (F.col(f"_sb_w{i}") + F.lit(1)).cast("int")
              ).alias(f"_sb_word{i}") for i in range(nh)],
        ).drop(F.col("_sb_wa.shard")).drop(F.col("_sb_wa.warr"))
        bit_tests = [
            F.coalesce(
                F.expr(
                    f"(shiftrightunsigned(_sb_word{i}, "
                    f"cast(_sb_p{i} % 64 as int)) & 1) = 1"
                ),
                F.lit(False),
            )
            for i in range(nh)
        ]
        maybe = bit_tests[0]
        for t in bit_tests[1:]:
            maybe = maybe & t
        return probed.select(*batch.columns, maybe.alias("_maybe_seen"))




def _key_row_bytes(df: DataFrame, key_cols: list[str]):
    """Bytes one row of ``df.select(key_cols)`` takes in Spark's
    ``UnsafeRow`` format, which a broadcast relation stores: the null
    bitset words, one 8-byte slot per column, and each string or binary
    value padded to whole words."""
    n = len(key_cols)
    size = F.lit(8 * ((n + 63) // 64 + n)).cast("long")
    for c in key_cols:
        if isinstance(df.schema[c].dataType, (StringType, BinaryType)):
            size = size + F.coalesce(
                F.expr(f"((octet_length(`{c}`) + 7) DIV 8) * 8"), F.lit(0))
    return size


def _broadcast_threshold(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes
    (negative when broadcasting is disabled), parsed by Spark itself."""
    return int(spark._jsparkSession.sessionState().conf()
               .autoBroadcastJoinThreshold())


def _probe_seen(batch: DataFrame, seen_keys: DataFrame, key_cols: list[str],
                join_cols: list[str]) -> DataFrame:
    """The large-seen anti-join: materialize the batch once, then build
    the membership test over the batch's keys, not over the seen set.

    An ``Observation`` on the checkpointing action measures the batch
    keys' broadcast footprint, the most the broadcast of hits below can
    hold. If it fits the session's broadcast threshold, the keys' 64-bit
    hashes are broadcast into a ``left_semi`` join over the seen scan
    (map-side: the seen rows are never shuffled, and each probes a
    long-keyed hash table), and the batch is anti-joined on the exact
    keys against that small set of hits with a second broadcast; a hash
    collision only adds a hit the exact join then ignores. A batch too
    large to broadcast falls back to hash-building the seen side on
    ``join_cols``. Both are exact: a batch row survives iff no seen row
    equals it on every key (NULL keys never match).
    """
    obs = Observation(f"seen_probe_{uuid.uuid4().hex}")
    batch = batch.observe(
        obs, F.sum(_key_row_bytes(batch, key_cols)).alias("key_bytes"),
    ).localCheckpoint(eager=True)
    key_bytes = int(obs.get["key_bytes"] or 0)
    if 0 <= key_bytes <= _broadcast_threshold(batch.sparkSession):
        kh = F.xxhash64(*[F.col(k) for k in key_cols]).alias("_probe_kh")
        hits = seen_keys.select(kh, *key_cols).join(
            F.broadcast(batch.select(kh)), "_probe_kh", "left_semi")
        return batch.join(F.broadcast(hits.drop("_probe_kh")), key_cols,
                          "left_anti")
    return batch.join(seen_keys.hint("shuffle_hash"), join_cols, "left_anti")


def anti_join_seen(
    batch: DataFrame,
    seen: DataFrame,
    key_cols: list[str],
    bloom: ShardedBloomFilter | None = None,
    bloom_key: str = "canon_url",
    shuffle_hash: bool = False,
    hash_key: bool = False,
) -> DataFrame:
    """D1: rows of ``batch`` whose key is NOT in ``seen`` (exact).

    ``shuffle_hash=True`` marks a seen set past the large-seen line (the
    engine sets it once the cumulative seen count clears
    ``large_seen_threshold``; the count comes from the round counters, no
    extra job). The batch is then materialized once
    (``localCheckpoint``) and probes the seen scan with its own keys
    (see ``_probe_seen``): no exchange sits above the seen scan, so the
    seen side costs one map-side scan per round however large it grows.
    Only a batch too large to broadcast falls back to a shuffled-hash
    build of the seen side (sort-merge would sort both relations). The
    bloom filter is not consulted on this path: there is no seen-side
    shuffle left for it to shrink, and the probe is already exact.

    Below the line the planner's broadcast-anti plan is free. There, a
    fitted :class:`ShardedBloomFilter` splits the batch: definitely-new
    rows bypass the join, the exact anti-join runs only on the
    maybe-seen remainder, and the result is their union (no false drops
    possible). The engine builds no filter.

    ``hash_key=True`` joins on ``(xxhash64(keys), keys…)`` instead of the
    raw keys — the same equivalence classes (the hash is a pure function
    of the keys), but the composite matches the partitioning an upstream
    ``first_occurrence(..., keep_hash=True)`` leaves behind, so the batch
    side needs no new exchange; a batch already carrying ``_kh`` is used
    as-is. The output never contains ``_kh``.
    """
    def _kh_provenance_ok(df: DataFrame) -> bool:
        # trust a pre-existing _kh only when its recorded provenance
        # (first_occurrence's column metadata) names exactly key_cols in
        # order; otherwise recompute — a hash over different keys would
        # silently re-admit seen URLs (ADVICE r02)
        meta = df.schema["_kh"].metadata or {}
        return list(meta.get("kh_keys", ())) == list(key_cols)

    join_cols = list(key_cols)
    seen_keys = seen.select(key_cols)
    if hash_key:
        kh = F.xxhash64(*[F.col(k) for k in key_cols]).alias("_kh")
        if "_kh" in batch.columns and not _kh_provenance_ok(batch):
            batch = batch.drop("_kh")
        if "_kh" not in batch.columns:
            batch = batch.select(kh, "*")
        seen_keys = seen_keys.select(kh, *key_cols)
        join_cols = ["_kh", *key_cols]
    if shuffle_hash:
        out = _probe_seen(batch, seen_keys, key_cols, join_cols)
    elif bloom is not None and bloom.fitted:
        # split FIRST so definitely-new rows never meet the seen side:
        # only the maybe-seen remainder pays the exact anti-join
        probed = bloom.annotate(batch, bloom_key)
        definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        survived = maybe.join(seen_keys, join_cols, "left_anti")
        out = definitely_new.unionByName(survived)
    else:
        out = batch.join(seen_keys, join_cols, "left_anti")
    return out.drop("_kh") if hash_key else out

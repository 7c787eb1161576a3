"""URL-seen deduplication (SURVEY §2 D1/D2) — the scale-critical operator.

D1 (cross-round): the reference's ``normalized in self.visited_urls``
(/root/reference/app/services/crawler.py:110-118) becomes a ``left_anti``
join against the cumulative ``url_seen`` table. Exactness is mandatory
(the URL-seen equality contract forbids probabilistic drops), so the
bloom bitmap is strictly a *prefilter*: rows whose bits are not all set
are **definitely new** and skip the shuffle entirely; only "maybe seen"
rows pay the exact anti-join. On a web-scale frontier most candidate
links are duplicates of hot pages, so the bitmap absorbs the common case
while the anti-join stays the source of truth.

D2 (in-batch): the reference's O(n) pending-queue scan
(crawler.py:144-146) — first raw variant of a canonical URL wins, where
"first" is the deterministic (parent_seq, link_pos) order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_key_hash(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Prepend ``_kh = xxhash64(key_cols…)`` with recorded provenance
    (column metadata naming the key columns) — the form
    ``anti_join_seen(hash_key=True)`` trusts for exchange reuse. Callers
    pre-partitioning a seen table on ``(_kh, keys…)`` must use this
    (a bare ``xxhash64(...).alias("_kh")`` now gets recomputed)."""
    kh = F.xxhash64(*[F.col(k) for k in key_cols]).alias(
        "_kh", metadata={"kh_keys": list(key_cols)})
    return df.select(kh, *[c for c in df.columns if c != "_kh"])


def first_occurrence(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    keep_hash: bool = False,
    strategy: str = "agg",
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
    3× SLOWER end-to-end: Catalyst pushes the semi-join through the
    canonicalizer's fast/slow union, re-executing canonicalization per
    branch and planning SMJ sorts anyway. The map-side-combining
    SortAggregate is the right shape.

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

    ``strategy`` picks the physical shape by the batch's dup profile:

    * ``"agg"`` (default) — the map-side-combining min(struct) aggregate
      above. Right for DUP-HEAVY batches (in-crawl link expansions, where
      hot pages are linked from everywhere): partial aggregation collapses
      duplicates before the exchange.
    * ``"window"`` — ``row_number() over (partition by (hash, keys…)
      order by order_cols, payload…)`` + ``filter rn=1``. Right for
      UNIQUE-HEAVY batches (seed frontiers, post-dedup rounds): with few
      dups the partial aggregate collapses nothing, so the agg pays TWO
      full sorts (map-side partial + final) for nothing; the window pays
      ONE post-shuffle sort. Identical result — ties on ``order_cols``
      still break by the remaining columns because they extend the sort
      key, and the output partitioning is the same ``(_kh, keys…)``
      composite, so the anti-join exchange-reuse holds for both.
    """
    if strategy not in ("agg", "window"):
        raise ValueError(
            f"first_occurrence: unknown strategy {strategy!r} "
            "(expected 'agg' or 'window')"
        )
    payload = [c for c in df.columns if c not in key_cols]
    # record the hash's provenance as column metadata (see with_key_hash)
    # so a downstream anti_join_seen(hash_key=True) can verify _kh was
    # computed over the SAME key columns before reusing it (ADVICE r02)
    kh = F.xxhash64(*[F.col(k) for k in key_cols]).alias(
        "_kh", metadata={"kh_keys": list(key_cols)})
    if strategy == "window":
        rest = [c for c in payload if c not in order_cols]
        w = Window.partitionBy("_kh", *key_cols).orderBy(*order_cols, *rest)
        head = ["_kh", *key_cols] if keep_hash else list(key_cols)
        return (
            df.select(kh, "*")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*head, *payload)
        )
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
    """Partitioned bloom prefilter — the 10^10-scale D1 path (SURVEY
    §7.5's sharded design; no filter bytes ever sit on the driver).

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
    * probe: broadcast lookups plus a native shift/AND bit test — no
      shuffle of the candidate batch, no Python crossing, whole-stage
      codegen throughout. A missing word means those 64 bits are all
      zero ⇒ definitely new. Small filters (capacity ≤
      ``map_probe_max_words`` words) ride ONE broadcast join of
      per-shard DENSE ``array<long>`` rows with O(1) ``element_at``
      indexing (a ``map<long,long>`` lookup is a LINEAR key scan per
      probe — measured 2-3× slower at 4k words; a whole-bitmap plan
      Literal avoids even the join but its per-execution cost grows
      with the literal and the array join beat it at every size
      tried). Larger/sparser filters pay one broadcast LEFT join per
      hash on ``(shard, widx)`` against the sparse words table (the
      shape that degrades into bucketed shuffled joins at 10^10 seen
      keys).

    The driver never holds filter bytes; it holds a handle to a
    DataFrame of at most ``num_bits/64`` rows. At 10^10 seen keys the
    words table outgrows the broadcast threshold — there the probe joins
    become shuffled joins against a words table bucketed on
    ``(shard, widx)`` (the same Iceberg-bucketed layout as the seen
    table itself), and ``n_shards`` (≥ cluster cores) is the partition
    unit; the sandbox path exercises the broadcast shape.

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
        map_probe_max_words: int = 1 << 20,
    ):
        self.spark = spark
        self.n_shards = int(n_shards)
        # round bits-per-shard up to whole 64-bit words
        bps = max(64, (int(num_bits) // self.n_shards + 63) // 64 * 64)
        self.bits_per_shard = bps
        self.num_hashes = int(num_hashes)
        self.words: DataFrame | None = None  # (shard long, widx long, word long)
        # small-filter probe strategy: while the filter CAPACITY
        # (n_shards * words_per_shard, i.e. its dense size — ≤ 8 MiB at
        # the default, Spark's own broadcast-threshold ballpark) fits
        # this many 8-byte words, annotate() probes
        # through ONE broadcast of per-shard dense array<long> rows
        # (n_shards rows, O(1) element_at indexing) instead of
        # num_hashes broadcast joins — one join node in the plan
        # instead of three, the rest identical. Past the threshold the
        # per-hash (shard, widx) joins take over: they broadcast only
        # the sparse words that exist and, at 10^10-seen scale, degrade
        # gracefully into shuffled joins against a bucketed words table
        # (class docstring).
        self.map_probe_max_words = int(map_probe_max_words)
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
        small-filter probe broadcasts it and indexes with O(1)
        ``element_at``. A ``map<widx, word>`` was tried first and
        reverted: map lookups are a linear key scan per probe, 2-3×
        slower at 4k words. Dense arrays cost capacity (not sparse
        size) bytes, which is why the regime gate is capacity-based."""
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
        """Append ``_maybe_seen`` via broadcast word lookups: the
        candidate batch never shuffles and never crosses into Python.
        Small filters (capacity ≤ ``map_probe_max_words`` words) probe
        through ONE broadcast join against per-shard dense
        ``array<long>`` rows + O(1) ``element_at`` indexing; larger
        filters probe per hash — each hash's (shard, widx) finds its
        sparse word row (or NULL = all-zero word). Either way a
        codegen'd shift/AND tests the bit."""
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
        wps = self.bits_per_shard // 64
        if self.n_shards * wps <= self.map_probe_max_words:
            # one join instead of num_hashes: the whole filter rides a
            # single n_shards-row broadcast of dense array<long> rows;
            # element_at is O(1) indexing (1-based, always in range
            # since w < wps, so ANSI cannot fail) and NULL only for
            # rows whose shard has no words at all (left join put NULL
            # in the array column) — NULL word = all-zero ⇒ bit clear
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
            return self._bit_test_select(probed, batch, nh)
        for i in range(nh):
            # every probe joins the SAME (shard, widx, word) projection —
            # renaming per-join used to defeat exchange reuse and pay
            # num_hashes broadcast builds; with an identical build side
            # Catalyst plans one BroadcastExchange + (nh-1) ReusedExchange
            wi = self.words.alias(f"_sb_words{i}")
            # reference the build-side word via its dataframe alias (not a
            # bare-name rename, which would also rename a probe-side
            # column named "word" and corrupt the bit test — ADVICE r04)
            probed = probed.join(
                F.broadcast(wi),
                (probed["_sb_shard"] == wi["shard"])
                & (probed[f"_sb_w{i}"] == wi["widx"]),
                "left",
            ).withColumn(f"_sb_word{i}", F.col(f"_sb_words{i}.word")) \
             .drop(F.col(f"_sb_words{i}.shard")) \
             .drop(F.col(f"_sb_words{i}.widx")) \
             .drop(F.col(f"_sb_words{i}.word"))
        return self._bit_test_select(probed, batch, nh)

    @staticmethod
    def _bit_test_select(probed: DataFrame, batch: DataFrame, nh: int) -> DataFrame:
        """AND of the per-hash bit tests over ``_sb_word{i}``/``_sb_p{i}``
        (NULL word = all-zero ⇒ False), projected back to the batch's
        own columns plus ``_maybe_seen``."""
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
        keep = [c for c in batch.columns]
        return probed.select(*keep, maybe.alias("_maybe_seen"))


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

    With a fitted :class:`ShardedBloomFilter`, definitely-new rows bypass
    the shuffle; the exact anti-join runs only on the maybe-seen
    remainder and the result is their union (no false drops possible).

    ``shuffle_hash=True`` hints the seen side into a shuffled-hash build:
    once both sides outgrow the planner's local-map threshold it falls to
    sort-merge, sorting BOTH relations — hashing the seen partition is
    strictly cheaper (measured 2.2-2.9× on the join at 4 and 16 cores)
    and spills gracefully. Leave False for small seen sets: the hint
    overrides the free broadcast-anti plan. The engine flips it once the
    cumulative seen count clears a threshold (known from round counters —
    no extra job); the cluster analog at 10^10 seen keys is a bucketed
    seen table, which keeps the same hash-build shape shuffle-free.

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
        # a seen table that already carries _kh (e.g. persisted
        # pre-partitioned on (_kh, keys…)) joins without a new exchange;
        # otherwise compute the same pure-function hash on the fly
        if "_kh" in seen.columns and _kh_provenance_ok(seen):
            seen_keys = seen.select("_kh", *key_cols)
        else:
            seen_keys = seen_keys.select(kh, *key_cols)
        join_cols = ["_kh", *key_cols]
    if shuffle_hash:
        seen_keys = seen_keys.hint("shuffle_hash")
    if bloom is not None and bloom.fitted:
        probed = bloom.annotate(batch, bloom_key)
        if shuffle_hash:
            # shuffled regime (seen too big to broadcast): split FIRST so
            # definitely-new rows never enter the exchange — the whole
            # point of the prefilter at 10^10 seen keys is that only the
            # maybe-seen remainder shuffles to meet its seen partition
            definitely_new = probed.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
            maybe = probed.filter(F.col("_maybe_seen")).drop("_maybe_seen")
            survived = maybe.join(seen_keys, join_cols, "left_anti")
            out = definitely_new.unionByName(survived)
        else:
            # broadcast regime: the batch does not shuffle either way, so
            # the union split only duplicates the probe subtree into two
            # branches (Spark re-executes shared lineage per branch).
            # One pass instead: LeftAnti with ``_maybe_seen`` as a
            # RESIDUAL condition — a definitely-new row can never satisfy
            # the condition, so it survives the anti-join untouched;
            # maybe-seen rows pay the exact key check. Same rows out,
            # one scan, one join, no union.
            s = seen_keys.alias("_ajs_seen")
            cond = F.col("_maybe_seen")
            for k in join_cols:
                cond = cond & (probed[k] == F.col(f"_ajs_seen.{k}"))
            out = (probed.join(s, cond, "left_anti")
                   .drop("_maybe_seen"))
    else:
        out = batch.join(seen_keys, join_cols, "left_anti")
    return out.drop("_kh") if hash_key else out

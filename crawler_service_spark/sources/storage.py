"""Snapshot store: per-round checkpoint/resume (SURVEY §1.3, §7.3).

Iceberg semantics (snapshot per round; resume = read latest snapshot)
implemented over parquet + a JSON manifest, behind one interface — the
sandbox has no Iceberg runtime jar (SURVEY §7.7), and the contract only
needs atomic "round committed" snapshots with a resumable latest pointer.
Writing each round's frontier/seen to disk also truncates the BSP loop's
lineage, which is what keeps round N's plan O(1) instead of O(N) —
the batch analog of streaming state checkpointing.

Layout::

    <root>/manifest.json                 # {"rounds": [...], "latest": k}
    <root>/<table>/round=<k>/*.parquet

A round's manifest entry is written only after every table write for that
round succeeds, so a killed job resumes from the last complete round with
identical ordering (parquet re-read order does not matter — all engine
ordering is by explicit sort keys, never file order).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.root / "manifest.json"

    # -- manifest ----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"rounds": [], "latest": None}

    def latest_round(self) -> int | None:
        return self._read_manifest()["latest"]

    def committed_rounds(self) -> list[dict]:
        """Public view of the committed-round entries (round / tables /
        counters) so callers never parse the manifest layout directly."""
        return self._read_manifest()["rounds"]

    def reset(self) -> None:
        """Truncate the store for a FRESH crawl over a dir that may hold
        a prior crawl's state. commit_round only replaces same-round
        entries, so without this a fresh crawl that dies early would
        leave the old crawl's later rounds in the manifest — and a
        subsequent resume would silently merge the two crawls' seen
        sets and pages. This store's bucketed catalog entries go too
        (external tables: dropping them never touches files)."""
        import shutil

        spark = SparkSession.getActiveSession()
        if spark is not None:
            for row in spark.sql(
                f"SHOW TABLES LIKE '{self._bucket_table_prefix()}*'"
            ).collect():
                if not row["isTemporary"]:
                    spark.sql(f"DROP TABLE IF EXISTS {row['tableName']}")
        for entry in os.listdir(self.root):
            p = self.root / entry
            # only remove dirs that are store tables (round=NNNNNN
            # partitions) — a misconfigured root pointing at a data dir
            # must not have unrelated content deleted
            if p.is_dir() and any(
                c.name.startswith("round=") for c in p.iterdir()
            ):
                shutil.rmtree(p)
        if self.manifest_path.exists():
            self.manifest_path.unlink()

    def round_meta(self, rnd: int) -> dict | None:
        for entry in self._read_manifest()["rounds"]:
            if entry["round"] == rnd:
                return entry
        return None

    # -- snapshot I/O -------------------------------------------------------
    def _table_path(self, table: str, rnd: int) -> str:
        return str(self.root / table / f"round={rnd:06d}")

    def table_path(self, table: str, rnd: int) -> str:
        """Public path accessor (multi-round parquet reads)."""
        return self._table_path(table, rnd)

    @staticmethod
    def _sql_str(s: str) -> str:
        """Escape a string for use inside a single-quoted Spark SQL
        literal (LOCATION '...') — apostrophes are legal in paths."""
        return s.replace("\\", "\\\\").replace("'", "\\'")

    def write_table(self, df: DataFrame, table: str, rnd: int) -> str:
        path = self._table_path(table, rnd)
        df.write.mode("overwrite").parquet(path)
        return path

    def read_table(self, spark: SparkSession, table: str, rnd: int) -> DataFrame:
        return spark.read.parquet(self._table_path(table, rnd))

    # -- bucketed snapshots (frontier layout) --------------------------------
    def _bucket_table_prefix(self) -> str:
        # catalog entry per (store root, table, round): the md5 prefix
        # keeps concurrent engines over different checkpoint dirs from
        # colliding in the shared session catalog
        return f"snap_{hashlib.md5(str(self.root).encode()).hexdigest()[:8]}_"

    def _bucket_table_name(self, table: str, rnd: int) -> str:
        return f"{self._bucket_table_prefix()}{table}_{rnd:06d}"

    @staticmethod
    def _bucketize_files(path: str, buckets: int) -> None:
        """Stamp plain-write part files with the bucket-id filename
        suffix Spark's bucketed scan parses. Valid because the write was
        pre-repartitioned on the bucket columns with the bucket count —
        repartition's HashPartitioning and bucketBy's bucket id share
        the same Murmur3 pmod, so partition i IS bucket i. Cluster
        analog: Iceberg's bucket transform names the bucket in table
        metadata rather than the filename.

        Raises ``ValueError`` unless EVERY data file matched the
        expected part-file naming and the derived bucket ids are unique
        and < ``buckets`` — a format drift or stray file would
        otherwise make the declared bucketed scan silently misgroup
        rows (r03 VERDICT item 4)."""
        pat = re.compile(r"^part-(\d{5})-([0-9a-f\-]+)-c000(\..*)?\.parquet$")
        seen_ids: set[int] = set()
        for f in os.listdir(path):
            m = pat.match(f)
            if m:
                bid = int(m.group(1))
                if bid >= buckets:
                    raise ValueError(
                        f"bucketize: part file {f!r} implies bucket id "
                        f"{bid} >= bucket count {buckets} — the write was "
                        f"not repartitioned to the declared bucket count")
                if bid in seen_ids:
                    raise ValueError(
                        f"bucketize: duplicate bucket id {bid} in {path} "
                        f"— more than one file per partition breaks the "
                        f"one-file-per-bucket layout contract")
                seen_ids.add(bid)
                ext = m.group(3) or ""
                os.rename(
                    os.path.join(path, f),
                    os.path.join(
                        path, f"part-{m.group(1)}-{m.group(2)}"
                              f"_{bid:05d}.c000{ext}.parquet"))
            elif f.endswith(".crc"):  # orphaned local-FS checksums
                os.remove(os.path.join(path, f))
            elif f.endswith(".parquet"):
                raise ValueError(
                    f"bucketize: data file {f!r} does not match the "
                    f"expected part-file naming — refusing to register "
                    f"a bucketed scan that would silently skip it")

    def write_table_bucketed(
        self, df: DataFrame, table: str, rnd: int,
        buckets: int, cols: list[str], sort_cols: list[str],
    ) -> str:
        """Snapshot whose LAYOUT carries the next round's scheduling
        work: one payload exchange (repartition on the bucket key) feeds
        a sorted write producing exactly one file per bucket
        (repartition and bucketing share the Murmur3 pmod), so the
        read-back scan reports HashPartitioning(cols) AND per-bucket
        sort order — downstream windows/aggregates on those keys plan
        exchange-free and sort-free. Files land under the same
        round-partitioned path as flat snapshots; a plain
        ``read_table`` of the path still works (minus the layout
        metadata). Cluster analog: an Iceberg frontier table
        bucket-sorted on (host-hash, seq-range).

        r03: written as a PLAIN sorted parquet write + bucket-id
        filename stamp (:meth:`_bucketize_files`) + one CREATE TABLE
        DDL instead of ``bucketBy().sortBy().saveAsTable()`` — the
        saveAsTable bucketed-write path re-sorts by (bucketId,
        sort_cols…) and pays catalog round-trips per round; measured
        c4 29.2→20.4 s / c16 8.2→6.2 s on the 21M-row bench snapshot
        (A/B script in commit ed7456c, scripts/exp_rank_variants2.py)."""
        spark = df.sparkSession
        name = self._bucket_table_name(table, rnd)
        path = self._table_path(table, rnd)
        (df.repartition(buckets, *[F.col(c) for c in cols])
         .sortWithinPartitions(*sort_cols)
         .write.mode("overwrite").parquet(path))
        self._bucketize_files(path, buckets)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"CREATE TABLE {name} ({df.schema.toDDL()}) USING parquet "
            f"CLUSTERED BY ({', '.join(cols)}) "
            f"SORTED BY ({', '.join(sort_cols)}) "
            f"INTO {buckets} BUCKETS LOCATION '{self._sql_str(path)}'")
        # persist the layout spec beside the data: resume in a fresh
        # session must re-register with the bucket count the files were
        # WRITTEN with — registering with a different count makes Spark
        # silently drop files with bucket id >= count, or claim a
        # HashPartitioning the files don't satisfy (the Iceberg analog
        # is the table's partition spec riding its metadata)
        spec = {"buckets": buckets, "cols": list(cols),
                "sort_cols": list(sort_cols)}
        (Path(self._table_path(table, rnd)) / "_bucket_spec.json").write_text(
            json.dumps(spec))
        return self._table_path(table, rnd)

    def read_table_bucketed(
        self, spark: SparkSession, table: str, rnd: int,
        buckets: int, cols: list[str], sort_cols: list[str],
    ) -> DataFrame:
        """Bucketed-scan read of a snapshot written by
        ``write_table_bucketed``. On resume in a fresh session the
        catalog entry is gone while the files remain — re-register the
        external table over them (schema from the parquet footers) so
        the layout metadata survives restarts, like an Iceberg table's
        spec does.

        The recorded ``_bucket_spec.json`` (written with the data) is
        authoritative over the caller's arguments: a resume under a
        changed ``shuffle_partitions`` must register the count the
        files were written with, or the scan silently loses/misgroups
        rows (ADVICE r02)."""
        spec_path = Path(self._table_path(table, rnd)) / "_bucket_spec.json"
        if spec_path.exists():
            spec = json.loads(spec_path.read_text())
            buckets = int(spec["buckets"])
            cols = list(spec["cols"])
            sort_cols = list(spec["sort_cols"])
        name = self._bucket_table_name(table, rnd)
        if not spark.catalog.tableExists(name):
            schema = spark.read.parquet(
                self._table_path(table, rnd)).schema.toDDL()
            spark.sql(
                f"CREATE TABLE {name} ({schema}) USING parquet "
                f"CLUSTERED BY ({', '.join(cols)}) "
                f"SORTED BY ({', '.join(sort_cols)}) "
                f"INTO {buckets} BUCKETS "
                f"LOCATION '{self._sql_str(self._table_path(table, rnd))}'"
            )
        return spark.table(name)

    def drop_bucketed(self, spark: SparkSession, table: str, rnd: int) -> None:
        """Release a consumed bucketed snapshot's catalog entry. The
        table is external, so its files stay and
        ``read_table_bucketed`` can re-register them."""
        spark.sql(f"DROP TABLE IF EXISTS {self._bucket_table_name(table, rnd)}")

    def commit_round(self, rnd: int, tables: list[str], counters: dict) -> None:
        """Atomic-enough commit: manifest written last, via rename."""
        manifest = self._read_manifest()
        manifest["rounds"] = [e for e in manifest["rounds"] if e["round"] != rnd]
        manifest["rounds"].append(
            {"round": rnd, "tables": tables, "counters": counters}
        )
        manifest["rounds"].sort(key=lambda e: e["round"])
        manifest["latest"] = rnd
        tmp = self.manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=1))
        tmp.replace(self.manifest_path)

    def pages_glob(self, spark: SparkSession, upto_round: int) -> DataFrame | None:
        """Union of all committed pages snapshots (schema-stable)."""
        paths = [
            self._table_path("pages", e["round"])
            for e in self._read_manifest()["rounds"]
            if e["round"] <= upto_round and "pages" in e["tables"]
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

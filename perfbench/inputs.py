"""Seeded workload inputs, generated in plain Python and cached as parquet.

Inputs are a pure function of (workload, seed) and are cached under
``<root>/.bench_cache/<workload>/seed-<n>/`` together with the reference
digest of the expected output. Generation never touches Spark, so a
cache miss does not warm the JVM before the timed run.

Seeds vary the inputs without changing their shape: the same number of
docs, hosts, seeds and links every time, so run-to-run spread measures
the engine, not the input size.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from crawler_service_spark.sources.corpus import (
    SEED_SCHEMA,
    STORE_SCHEMA,
    build_store_pandas,
    host_blocks,
    host_name,
)

# crawl_wide: square-law host-skewed corpus; one seed from each pair of
# adjacent hosts (the seed picks which), so every seed crawls hosts of
# nearly the same sizes
WIDE_DOCS, WIDE_HOSTS, WIDE_SEEDS = 6000, 200, 100
WIDE_MAX_DEPTH = 1

# frontier_schedule: Zipf(1) hosts over a pool of link targets; a seen
# set just past the engine's default large_seen_threshold (2M) so the
# sharded bloom filter and the hash-built anti-join engage
SCHED_LINKS, SCHED_HOSTS = 20_000, 2000
SCHED_TARGETS = int(SCHED_LINKS * 0.6)
SCHED_SEEN_FILLER = 2_000_000
SCHED_LINKS_PER_PARENT = 8

KEEP_SEEDS = 8  # cached seeds kept per workload

_VOCAB = (
    "crawl frontier spark shuffle partition host queue fetch span media token "
    "batch window rank filter join dedup bloom robots depth seed politeness "
    "schedule snapshot round extract link canonical anchor"
).split()


def _shape(workload: str) -> list:
    if workload == "crawl_wide":
        return [WIDE_DOCS, WIDE_HOSTS, WIDE_SEEDS, WIDE_MAX_DEPTH]
    return [SCHED_LINKS, SCHED_HOSTS, SCHED_TARGETS, SCHED_SEEN_FILLER,
            SCHED_LINKS_PER_PARENT]


def cache_dir(root: str, workload: str, seed: int) -> str:
    """One directory per (workload, seed, input shape): a change of shape
    never reuses inputs or a reference digest made for another."""
    shape = hashlib.sha1(json.dumps(_shape(workload)).encode()).hexdigest()[:8]
    return os.path.join(root, ".bench_cache", workload, f"seed-{seed}-{shape}")


def ensure(root: str, workload: str, seed: int) -> str:
    """Path of the cached inputs, generating them on a miss."""
    path = cache_dir(root, workload, seed)
    if os.path.exists(os.path.join(path, "meta.json")):
        os.utime(path)
        return path
    tmp = path + f".tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[workload](tmp, seed)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    _prune(os.path.dirname(path))
    return path


def _prune(workload_dir: str) -> None:
    entries = sorted(
        (os.path.join(workload_dir, d) for d in os.listdir(workload_dir)
         if d.startswith("seed-") and ".tmp-" not in d),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def read_reference(path: str) -> dict | None:
    ref = os.path.join(path, "reference.json")
    if not os.path.exists(ref):
        return None
    with open(ref) as f:
        return json.load(f)


def write_reference(path: str, ref: dict) -> None:
    tmp = os.path.join(path, f"reference.json.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, os.path.join(path, "reference.json"))


# ------------------------------------------------------------- crawl_wide
def gen_crawl_wide(path: str, seed: int) -> dict:
    from pyspark.sql.pandas.types import to_arrow_schema

    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(12)) for _ in range(64)]
    store = build_store_pandas(WIDE_DOCS, WIDE_HOSTS, texts)
    pq.write_table(pa.Table.from_pandas(store, schema=to_arrow_schema(STORE_SCHEMA),
                                preserve_index=False),
           os.path.join(path, "store.parquet"))

    blocks = host_blocks(WIDE_DOCS, WIDE_HOSTS)
    hosts = [2 * k + rng.randrange(2) for k in range(WIDE_SEEDS)]
    seeds = {
        "task_id": [f"task{h}" for h in hosts],
        # dirty path variant on odd hosts, as corpus.build_seeds_df does
        "url": [f"https://{host_name(h)}/page/{blocks[h][0]}" + ("/" if h % 2 else "")
                for h in hosts],
        "seed_seq": list(range(len(hosts))),
    }
    pq.write_table(pa.Table.from_pydict(seeds, schema=to_arrow_schema(SEED_SCHEMA)),
           os.path.join(path, "seeds.parquet"))
    return {"n_docs": WIDE_DOCS, "n_hosts": WIDE_HOSTS, "n_seeds": len(hosts)}


# ------------------------------------------------------ frontier_schedule
def _cat(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def gen_frontier_schedule(path: str, seed: int) -> dict:
    """A link batch as the engine's expansion hands it to dedup (after
    the internal-link filter): ``task_id, seed_netloc, parent_seq, depth,
    link_pos, url``. Targets repeat (duplicate links) and arrive in the
    dirty variants of ``bench.synth_frontier``; a third of the targets
    are already in the seen set."""
    rng = np.random.default_rng(seed)
    n_pool = SCHED_TARGETS + SCHED_SEEN_FILLER
    # Zipf(1) over hosts: floor(H^u), u uniform, has density ~ 1/x
    pool_host = np.floor(SCHED_HOSTS ** rng.random(n_pool)).astype(np.int64)

    t = rng.integers(0, SCHED_TARGETS, SCHED_LINKS)
    i = np.arange(SCHED_LINKS)
    k = pc.cast(pa.array(pool_host[t]), pa.string())
    ts = pc.cast(pa.array(t), pa.string())
    host = _cat("h", k, ".example.com")
    canon = _cat("https://", host, "/p/", ts)
    variants = [
        canon,
        _cat(pc.utf8_upper(_cat("https://", host)), "/p/", ts),
        _cat("https://", host, ":443/p/", ts),
        _cat(canon, "/"),
        _cat(canon, "?b=2&a=1"),
    ]
    v = i % 5
    url = variants[4]
    for j in (3, 2, 1, 0):
        url = pc.if_else(pa.array(v == j), variants[j], url)
    batch = pa.table({
        "task_id": _cat("task", k),
        "seed_netloc": host,
        "parent_seq": pa.array(i // SCHED_LINKS_PER_PARENT),
        "depth": pa.array(np.ones(SCHED_LINKS, dtype=np.int32)),
        "link_pos": pa.array((i % SCHED_LINKS_PER_PARENT).astype(np.int32)),
        "url": url,
    })
    pq.write_table(batch, os.path.join(path, "links.parquet"))

    seen_t = np.concatenate([
        np.arange(0, SCHED_TARGETS, 3),
        np.arange(SCHED_TARGETS, n_pool),
    ])
    sk = pc.cast(pa.array(pool_host[seen_t]), pa.string())
    seen = pa.table({
        "task_id": _cat("task", sk),
        "canon_url": _cat("https://h", sk, ".example.com/p/",
                          pc.cast(pa.array(seen_t), pa.string())),
    })
    pq.write_table(seen, os.path.join(path, "seen.parquet"))
    return {
        "n_links": SCHED_LINKS,
        "n_parents": int(SCHED_LINKS // SCHED_LINKS_PER_PARENT
                         + (SCHED_LINKS % SCHED_LINKS_PER_PARENT > 0)),
        "n_seen": int(len(seen_t)),
    }


GENERATORS = {
    "crawl_wide": gen_crawl_wide,
    "frontier_schedule": gen_frontier_schedule,
}

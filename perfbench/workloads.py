"""Frozen workload definitions: what one pass of each workload runs.

The key lists are frozen here, never recomputed per run; ``--seed`` only
permutes the order in which a pass issues them (and, for the snapshot,
the order of the configured accounts and regions). Their sizes are set by
the run budget: every run starts its own JVM and warms it up (8-16 s on
4 cores, as the host is idle or contended) and runs one untimed pass
(``check_ops``) before timing at least two passes.

- ``etl_snapshot``: one cloud2sql snapshot per operation —
  ``pipeline.collect`` of the ``aws_mock`` cloud at its default
  2 accounts x 3 regions into an embedded Derby database, with staging
  tables and the atomic swap. An untimed seed snapshot of one account x
  one region first creates the live tables and takes the cold start, so
  every timed snapshot replaces them (DROP + RENAME), the product's
  steady state. A full cold snapshot would cost ~12 s more per run on
  4 cores and warm nothing more. Checked against the module's
  ``GOLDEN_COUNTS``, as returned and as read back from the promoted
  tables. The query, memo and streaming layers stay idle.
- ``queries``: the registry keys, of two kinds whose layer times the
  traced run reports apart (``queries.interactive_s`` and
  ``queries.iterative_s``). The ETL layer stays idle.
  - interactive: short single-plan keys that launch no Spark job while
    their DataFrame is built. ``key_profile.json`` holds every headline
    key's latency, build time and job counts, measured on this fixture
    on 4 cores by ``profile_keys.py``; 152 keys qualify. The sample is
    that script's ``select`` rule: the key nearest its family's median
    latency, from each of the eight largest families (the file records
    the sample's and the 152 keys' median latency, build share and jobs
    per key);
  - iterative: multi-job work — shared dedup memo indexes built as steps
    of their own after ``clear_shingle_cache()``, a graph key that runs
    supersteps while it is built, a memo consumer, and a Structured
    Streaming replay.
"""

from __future__ import annotations

SF = 0.01  # scale factor of the generated query fixture
WARMUP_SF = 0.001  # the warm-up query runs on this one

ETL_SOURCE = "aws_mock"

# profile_keys.select(key_profile.json); a test keeps the two equal
QUERY_INTERACTIVE = [
    "agg_winsorized_stats",
    "embed_pq_codebook",
    "events_daily_fill",
    "fn_try_arith",
    "join_asof",
    "sample_importance_reweight",
    "text_diversity",
    "tpch_q1",
]

# Memo index builds, run first in every pass (right after the memo reset)
# and in this order — the simhash signatures derive from the shingle
# index — with the same calls and arguments bench.py uses, so the memo
# keys match the consumer's. Their check is the row count: they are
# internal frames, whose values the consumer key's hash covers.
MEMO_BUILDS = [
    "memo:shingle_build",
    "memo:dedup_build_simhash_sig",
]

QUERY_ITERATIVE = [
    # runs 37 Spark jobs while its DataFrame is built
    "graph_bfs_levels",
    # reads the simhash signature memo
    "dedup_simhash",
    # micro-batch replay through a stateful exactly-once sink
    "stream_exactly_once_sink",
]

WORKLOADS = ("etl_snapshot", "queries")


def pass_ops(workload: str, rng) -> list[str]:
    """The operations of one pass, in this run's seed-permuted order."""
    if workload == "etl_snapshot":
        return [f"snapshot:{ETL_SOURCE}"]
    if workload == "queries":
        keys = QUERY_INTERACTIVE + QUERY_ITERATIVE
        return MEMO_BUILDS + rng.sample(keys, len(keys))
    raise ValueError(f"unknown workload: {workload}")


def check_ops(workload: str, rng) -> list[str]:
    """The untimed pass before the timed ones: the seed snapshot, or a
    whole query pass whose outputs are checked."""
    if workload == "etl_snapshot":
        return [f"seed:{ETL_SOURCE}"]
    return pass_ops(workload, rng)


def memo_frames(spark, sf_dir: str, name: str) -> list:
    """The DataFrames a memo build step materializes (with ``count()``)."""
    from cloud2sql_spark.queries import extensions as ext

    if name == "memo:shingle_build":
        return [
            ext._doc_shingles(spark, sf_dir, nonempty=True),
            ext._doc_shingles(spark, sf_dir),
        ]
    if name == "memo:dedup_build_simhash_sig":
        return [ext._simhash_sig_frame(spark, sf_dir)]
    raise ValueError(f"unknown memo build: {name}")

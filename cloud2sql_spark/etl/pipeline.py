"""ETL orchestration (reference A4/A15/A19: collect_from_plugins,
cloud2sql/collect.py:154-214): run sources -> flatten -> load destinations
-> atomic snapshot promote; fail-fast with no partial promote.

Snapshot guarantee: every source's API is swept once per run. The
pipeline persists each source's ``nodes`` and ``edges`` frames
(``MEMORY_AND_DISK``) and materializes ``nodes`` with a single action
before flattening, so every kind table, link table and row count reads
those held rows; the reference's fetch-once-then-flatten shape
(collect.py:198-203). The frames stay held until promote and are
released on success and on failure alike. Row counts come from the load
itself (an ``Observation`` on the written frame), not a second action.
Caveat: losing an executor drops its cached blocks, and Spark recomputes
(so re-fetches) only those lost partitions.

Parallelism mapping (reference A15/A16 -> Spark):

- inter-source: the reference runs 4 collector threads (collect.py:186);
  here each source is a Spark job — submit from driver threads under FAIR
  scheduling if overlap matters, or sequentially (I/O-bound sources don't
  contend with executor CPU).
- intra-source: the reference forks per account and pools per region
  (config-template.yaml:17-32); ``distributed_collect`` re-expresses that
  as a mapInPandas fan-out over an accounts×regions task table, so fetch
  runs ON EXECUTORS and scales with the cluster, not the driver.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from cloud2sql_spark.etl import sinks
from cloud2sql_spark.etl.config import FileDestination, JdbcDestination
from cloud2sql_spark.etl.example_source import collect_example, example_catalog
from cloud2sql_spark.etl.flatten import flatten_graph
from cloud2sql_spark.etl.model import KindCatalog

# source registry (reference A2: entry-points discovery collect.py:48-71;
# a plain dict of FACTORIES here — each takes the source's config section
# and returns (collect_fn, catalog_fn), mirroring the reference handing
# each plugin its Config slice (collect.py:64-70))
SourceFn = Callable[[SparkSession], tuple[DataFrame, DataFrame]]
CatalogFn = Callable[[], KindCatalog]
SourceFactory = Callable[[dict | None], tuple[SourceFn, CatalogFn]]


def _make_example_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    return collect_example, example_catalog


def _make_remote_graph_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.graph_source import make_graph_source

    return make_graph_source(cfg)


def _make_aws_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.aws_mock_source import make_aws_mock_source

    return make_aws_mock_source(cfg)


def _make_k8s_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.k8s_mock_source import make_k8s_mock_source

    return make_k8s_mock_source(cfg)


def _make_gcp_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.gcp_mock_source import make_gcp_mock_source

    return make_gcp_mock_source(cfg)


def _make_do_mock_source(cfg: dict | None) -> tuple[SourceFn, CatalogFn]:
    from cloud2sql_spark.etl.do_mock_source import make_do_mock_source

    return make_do_mock_source(cfg)


SOURCES: dict[str, SourceFactory] = {
    "example": _make_example_source,
    # A5: ingest a graph collected elsewhere (reference RemoteGraphCollector,
    # collect.py:60-63)
    "remote_graph": _make_remote_graph_source,
    # AWS-shaped collector against a deterministic in-process mock API —
    # proves the executor-side fetch path (distributed_collect) on the
    # account -> region -> instances/volumes hierarchy the reference's
    # real cloud plugins produce (requirements.txt:14-17).
    "aws_mock": _make_aws_mock_source,
    # Kubernetes-shaped collector against the same mock-API pattern —
    # proves the framework generalizes: cluster/namespace context
    # mapping, two-phase namespace listing, and a payload-derived
    # cross-subtree reference edge (pod -> config_map).
    "k8s_mock": _make_k8s_mock_source,
    # GCP-shaped collector — adds the mixed-scope child pattern (zonal
    # instances, project-scoped buckets with the project-level API swept
    # by one zone task) and a cross-scope instance -> bucket reference.
    "gcp_mock": _make_gcp_mock_source,
    # DigitalOcean-shaped collector — completes the reference's
    # four-plugin registry (requirements.txt:14-17); adds the
    # nullable-reference sibling edge (volume attachment may be NULL).
    "do_mock": _make_do_mock_source,
}

# Entry-point group for third-party source plugins (reference A2: the
# pkg_resources entry-points scan in cloud2sql/collect.py:39-44). An
# installed distribution exposes
#   [project.entry-points."cloud2sql_spark.sources"]
#   mysource = "my_pkg.my_mod:factory"
# and the factory has the SourceFactory signature above.
ENTRY_POINT_GROUP = "cloud2sql_spark.sources"

# Per-source config template snippets for ``--create-config`` (reference
# A3: default_config() instantiates every plugin's config section,
# collect.py:37-45). Sources discovered via entry points that have no
# snippet get a generic commented stub.
CONFIG_TEMPLATES: dict[str, str] = {
    "example": "  example:\n    # the synthetic example source needs no configuration\n",
    "remote_graph": (
        "  # remote_graph:           # ingest a pre-collected graph export\n"
        "  #   path: /data/graph     # dir with nodes/, edges/, kinds.json\n"
    ),
    "aws_mock": (
        "  # aws_mock:               # AWS-shaped mock collector\n"
        "  #   accounts: [acct-01, acct-02]\n"
        "  #   regions: [us-east-1, us-west-2, eu-central-1]\n"
    ),
    "k8s_mock": (
        "  # k8s_mock:               # Kubernetes-shaped mock collector\n"
        "  #   clusters: [prod-cluster, staging-cluster]\n"
        "  #   namespaces: [default, kube-system, payments, ml-serving]\n"
    ),
    "gcp_mock": (
        "  # gcp_mock:               # GCP-shaped mock collector\n"
        "  #   projects: [proj-alpha, proj-beta]\n"
        "  #   zones: [us-central1-a, us-central1-b, europe-west1-b]\n"
    ),
    "do_mock": (
        "  # do_mock:                # DigitalOcean-shaped mock collector\n"
        "  #   teams: [team-ocean, team-reef]\n"
        "  #   regions: [nyc3, ams3, sgp1]\n"
    ),
}


def discover_sources() -> dict[str, SourceFactory]:
    """Built-in sources merged with ``importlib.metadata`` entry points.

    Entry points shadow built-ins of the same name (a plugin may override
    the stock implementation, matching the reference's last-wins plugin
    scan). Discovery failures of one plugin never break the others."""
    out: dict[str, SourceFactory] = dict(SOURCES)
    from importlib.metadata import entry_points

    try:
        eps = entry_points(group=ENTRY_POINT_GROUP)
    except TypeError:  # pragma: no cover — pre-3.10 selectable API
        eps = entry_points().get(ENTRY_POINT_GROUP, [])
    for ep in eps:
        try:
            out[ep.name] = ep.load()
        except Exception:
            continue
    return out


def collect(
    spark: SparkSession,
    config: dict,
    destination: FileDestination | JdbcDestination,
    feedback: "ProgressReporter | None" = None,
) -> dict[str, int]:
    """Run every configured source, flatten, load, then promote the
    snapshot. Returns per-table row counts (the reference's analytics
    payload, collect.py:194-196). Any failure aborts BEFORE promotion, so
    readers keep the previous snapshot (reference collect.py:198-212).

    ``feedback`` (A17): per-source and per-table progress messages, the
    reference's CoreFeedback channel (collect.py:183-189)."""
    from cloud2sql_spark.etl.progress import NullReporter

    fb = feedback or NullReporter()
    sources = discover_sources()
    names = sorted(config["sources"])
    for name in names:
        if name not in sources:
            raise ValueError(f"unknown source: {name}")

    # A15: sources collect concurrently under a small driver-side thread
    # pool (reference: 4 collector threads, collect.py:186). Each thread
    # tags its Spark jobs with a per-source FAIR pool so, when
    # spark.scheduler.mode=FAIR is set, one source's long job cannot
    # starve the others; under FIFO the tag is inert. Any source failure
    # propagates BEFORE staging starts, so fail-fast-no-promote (A19) is
    # preserved exactly.
    persisted: list[DataFrame] = []
    try:
        tables: dict[str, DataFrame] = {}
        with ThreadPoolExecutor(max_workers=min(4, len(names))) as pool:
            futures = {
                name: pool.submit(
                    _run_source,
                    spark,
                    name,
                    sources[name],
                    config["sources"].get(name),
                    persisted,
                    fb,
                )
                for name in names
            }
            # deterministic merge order (raises the first failure here,
            # with every other future drained by the with-block's shutdown)
            for name in names:
                tables.update(futures[name].result())
        return _load(spark, tables, destination, fb)
    finally:
        # the snapshot is held until promote; release it on every path
        # (dependents before the frames they read from)
        for df in reversed(persisted):
            df.unpersist()


def _load(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    destination: FileDestination | JdbcDestination,
    fb: "ProgressReporter",
) -> dict[str, int]:
    """Write every table, counting its rows during the write, then (JDBC)
    promote the staged snapshot."""
    jdbc = isinstance(destination, JdbcDestination)
    if jdbc:
        # fail fast with an install hint if the dialect's JDBC driver is
        # absent (reference check_db_driver, util.py:70-87)
        from cloud2sql_spark.etl.dialects import check_jdbc_driver

        check_jdbc_driver(spark, destination.url)
        writer = sinks.JdbcSnapshotWriter(
            spark, destination.url, destination.batch_size
        )
    counts: dict[str, int] = {}
    for i, (tname, df) in enumerate(tables.items()):
        start = time.perf_counter()
        if jdbc or destination.format == "csv":
            df = _jsonify_complex(df)
        rows = Observation()
        df = df.observe(rows, F.count(F.lit(1)).alias("n"))
        if jdbc:
            writer.stage(tname, df)
        elif destination.format == "csv":
            sinks.write_csv(df, f"{destination.path}/{tname}")
        else:
            sinks.write_parquet_snapshot(df, f"{destination.path}/{tname}")
        counts[tname] = rows.get["n"]
        fb.progress(
            "load",
            f"{'staged' if jdbc else 'wrote'} {tname} "
            f"({counts[tname]} rows, {time.perf_counter() - start:.2f} s)",
        )
        fb.progress_done("load", i + 1, len(tables))
    if jdbc:
        writer.swap()  # atomic promote only after every load succeeded
        fb.progress("load", "snapshot promoted")
    return counts


def _run_source(
    spark: SparkSession,
    name: str,
    factory: SourceFactory,
    source_cfg: dict | None,
    persisted: list[DataFrame],
    feedback: "ProgressReporter | None" = None,
) -> dict[str, DataFrame]:
    """One source's collect + flatten, run on a pool thread. The source's
    graph is persisted (and recorded in ``persisted`` for the caller to
    release) and materialized with one action: the run's one API sweep."""
    from cloud2sql_spark.etl.progress import NullReporter

    fb = feedback or NullReporter()
    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", f"source-{name}")
    try:
        fb.progress(name, "collecting")
        source_fn, catalog_fn = factory(source_cfg)
        nodes, edges = source_fn(spark)
        # nodes first: edges derive from nodes, so caching edges plans
        # them over the cached nodes
        for df in (nodes, edges):
            persisted.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        nodes.count()
        tables = flatten_graph(nodes, edges, catalog_fn())
        fb.progress(name, f"collected ({len(tables)} tables)")
        return tables
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)


def _jsonify_complex(df: DataFrame) -> DataFrame:
    """Complex/array/map columns -> JSON text at the flat-sink boundary
    (the reference's SqlUpdater stores complex properties as JSON [dep];
    SURVEY §1.3 'keep as StructType internally')."""
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            cols.append(F.to_json(f.name).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def distributed_collect(
    spark: SparkSession,
    accounts: list[str],
    regions: list[str],
    fetch: Callable[[str, str], list[dict]],
    result_schema: str,
) -> DataFrame:
    """Executor-side fetch (reference A16: per-account forks + per-region
    thread pools, config-template.yaml:17-32): build an accounts×regions
    task DataFrame, repartition so each task lands on its own executor
    slot, and run ``fetch`` inside mapInPandas. At 1000 executors this is
    1000-way parallel API fetch with no driver bottleneck."""
    import pandas as pd

    tasks = spark.createDataFrame(
        [(a, r) for a in accounts for r in regions], "account STRING, region STRING"
    ).repartition(max(1, len(accounts) * len(regions)))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for account, region in zip(pdf["account"], pdf["region"]):
                rows.extend(fetch(account, region))
            if rows:
                yield pd.DataFrame(rows)

    return tasks.mapInPandas(run, result_schema)

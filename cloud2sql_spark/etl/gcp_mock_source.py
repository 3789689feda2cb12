"""GCP-shaped mock collector (reference: cloud2sql ships a GCP plugin —
requirements.txt:14-17 lists resoto-plugin-gcp; live APIs unreachable
here, so this source proves the collector path on the GCP resource
shape: project -> zone -> instances, plus PROJECT-scoped buckets).

What it adds over the AWS/k8s mocks (same envelope, same
``distributed_collect`` fetch, same flatten):

- **Mixed-scope children**: GCE instances are zonal, GCS buckets are
  project-scoped. The bucket sweep is assigned to exactly one of the
  project's zone tasks (the lexicographically first), the way a real
  collector gives project-level APIs to one worker instead of
  re-fetching per zone.
- **Cross-scope reference edge**: every instance names a logs bucket;
  the instance -> bucket edge joins a zonal child to a project-scoped
  child (the k8s pod -> config-map pattern, across scopes).

Determinism: all counts/attributes are md5-derived from
(project, zone, index) — exact golden counts, no RNG, no time.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud2sql_spark.etl.mock_common import (
    CTIME as _CTIME,
    NODES_SCHEMA,
    det_hash as _h,
    envelope as _envelope,
)
from cloud2sql_spark.etl.model import Kind, KindCatalog

GCP_MOCK_KINDS = [
    Kind("gcp_project"),
    Kind("gcp_zone", {"zone_status": "string"}),
    Kind(
        "gcp_gce_instance",
        {
            "machine_type": "string",
            "instance_cores": "int64",
            "instance_status": "string",
            "logs_bucket": "string",
        },
    ),
    Kind(
        "gcp_gcs_bucket",
        {
            "storage_class": "string",
            "bucket_location": "string",
            "versioning": "boolean",
        },
    ),
]

DEFAULT_PROJECTS = ["proj-alpha", "proj-beta"]
DEFAULT_ZONES = ["us-central1-a", "us-central1-b", "europe-west1-b"]

# Golden row counts for the default 2-project x 3-zone config — fully
# determined by the md5-derived mock (stable across runs/hosts).
GOLDEN_COUNTS = {
    "gcp_project": 2,
    "gcp_zone": 6,
    "gcp_gce_instance": 11,
    "gcp_gcs_bucket": 5,
    "link_gcp_project_gcp_zone": 6,
    "link_gcp_zone_gcp_gce_instance": 11,
    "link_gcp_project_gcp_gcs_bucket": 5,
    "link_gcp_gce_instance_gcp_gcs_bucket": 11,
}


def list_buckets(project: str) -> list[dict]:
    """Mock GCS buckets.list: 2-3 project-scoped buckets."""
    n = 2 + _h("n_buckets", project) % 2
    out = []
    for i in range(n):
        h = _h("bucket", project, i)
        out.append(
            {
                "id": f"bkt-{project}-{i}",
                "name": f"{project}-bucket-{i}",
                "tags": {},
                "ctime": _CTIME,
                "storage_class": ["STANDARD", "NEARLINE", "COLDLINE"][h % 3],
                "bucket_location": ["US", "EU"][h % 2],
                "versioning": bool(h % 2),
            }
        )
    return out


def list_instances(project: str, zone: str) -> list[dict]:
    """Mock GCE instances.list: 1-3 instances per (project, zone), each
    referencing one of the project's buckets for logs."""
    n = 1 + _h("n_inst", project, zone) % 3
    buckets = list_buckets(project)
    out = []
    for i in range(n):
        h = _h("inst", project, zone, i)
        out.append(
            {
                "id": f"gce-{project}-{zone}-{i}",
                "name": f"instance-{i}",
                "tags": {"team": "core" if h % 2 else "data"},
                "ctime": _CTIME,
                "machine_type": ["e2-medium", "n2-standard-4", "c2-standard-8"][h % 3],
                "instance_cores": 2 ** (1 + h % 3),
                "instance_status": "RUNNING" if h % 4 else "TERMINATED",
                "logs_bucket": buckets[h % len(buckets)]["id"],
            }
        )
    return out


def _fetch_zone(project: str, zone: str, zones: list[str]) -> list[dict]:
    """One (project, zone) sweep. The project's FIRST zone task also runs
    the project-scoped bucket sweep — one worker per project-level API."""

    def envelope(kind: str, payload: dict, region: str | None) -> dict:
        return _envelope(kind, payload, "gcp", project, region)

    rows = [
        envelope(
            "gcp_zone",
            {
                "id": f"{project}/{zone}",
                "name": zone,
                "tags": {},
                "ctime": _CTIME,
                "zone_status": "UP",
            },
            zone,
        )
    ]
    rows += [
        envelope("gcp_gce_instance", p, zone) for p in list_instances(project, zone)
    ]
    if zone == sorted(zones)[0]:
        rows += [envelope("gcp_gcs_bucket", b, None) for b in list_buckets(project)]
    return rows


def gcp_mock_catalog() -> KindCatalog:
    return KindCatalog(GCP_MOCK_KINDS)


def make_gcp_mock_source(cfg: dict | None):
    """Source factory: (collect_fn, catalog_fn). Config keys:
    ``projects``, ``zones`` (optional lists)."""
    cfg = cfg or {}
    projects = list(cfg.get("projects", DEFAULT_PROJECTS))
    zones = list(cfg.get("zones", DEFAULT_ZONES))

    def collect(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return collect_gcp_mock(spark, projects, zones)

    return collect, gcp_mock_catalog


def collect_gcp_mock(
    spark: SparkSession,
    projects: list[str] | None = None,
    zones: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collect the mock GCP graph executor-side; derive edges with
    DataFrame ops. Returns (nodes, edges) in the standard wire format."""
    from cloud2sql_spark.etl.pipeline import distributed_collect

    projects = list(projects or DEFAULT_PROJECTS)
    zones = list(zones or DEFAULT_ZONES)

    def fetch(project: str, zone: str) -> list[dict]:
        return _fetch_zone(project, zone, zones)

    fetched = distributed_collect(spark, projects, zones, fetch, NODES_SCHEMA)
    proj_nodes = spark.createDataFrame(
        [
            (
                p,
                "gcp_project",
                json.dumps({"id": p, "name": p, "tags": {}, "ctime": _CTIME}),
                "gcp",
                p,
                None,
            )
            for p in projects
        ],
        NODES_SCHEMA,
    )
    nodes = proj_nodes.unionByName(fetched)

    # Edges derive from the returned ``nodes`` frame, never from ``fetched``:
    # the pipeline persists ``nodes``, so edges read its held rows and the
    # API is swept once per run (a plan over ``fetched`` would re-fetch).
    zone_nodes = nodes.filter(F.col("kind") == "gcp_zone")
    proj_zone = zone_nodes.select(
        F.col("account").alias("from_id"),
        F.col("node_id").alias("to_id"),
        F.lit("gcp_project").alias("from_kind"),
        F.lit("gcp_zone").alias("to_kind"),
    )
    zone_inst = nodes.filter(F.col("kind") == "gcp_gce_instance").select(
        F.concat_ws("/", "account", "region").alias("from_id"),
        F.col("node_id").alias("to_id"),
        F.lit("gcp_zone").alias("from_kind"),
        F.lit("gcp_gce_instance").alias("to_kind"),
    )
    proj_bucket = nodes.filter(F.col("kind") == "gcp_gcs_bucket").select(
        F.col("account").alias("from_id"),
        F.col("node_id").alias("to_id"),
        F.lit("gcp_project").alias("from_kind"),
        F.lit("gcp_gcs_bucket").alias("to_kind"),
    )
    inst_bucket = (
        nodes.filter(F.col("kind") == "gcp_gce_instance")
        .select(
            F.col("node_id").alias("from_id"),
            F.from_json("payload", "logs_bucket STRING")["logs_bucket"].alias(
                "to_id"
            ),
        )
        .select(
            "from_id",
            "to_id",
            F.lit("gcp_gce_instance").alias("from_kind"),
            F.lit("gcp_gcs_bucket").alias("to_kind"),
        )
    )
    edges = (
        proj_zone.unionByName(zone_inst)
        .unionByName(proj_bucket)
        .unionByName(inst_bucket)
    )
    return nodes, edges

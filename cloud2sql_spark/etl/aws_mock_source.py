"""AWS-shaped mock collector (reference: cloud2sql ships real cloud
collector plugins — requirements.txt:14-17 lists resoto-plugin-aws etc.,
README.md:30-45 documents them; live cloud APIs are unreachable from this
environment, so this source proves the COLLECTOR PATH on a realistic
account -> region -> instances/volumes kind hierarchy against a
deterministic in-process mock API).

Shape parity with a real plugin:

- the "API" is a set of pure functions keyed by (account, region) — the
  exact signature a boto3 ``describe_instances`` pagination loop would
  have — and is called ON EXECUTORS through
  ``pipeline.distributed_collect`` (reference A16: per-account forks +
  per-region thread pools, config-template.yaml:17-32). Nothing about the
  fetch runs on the driver except the task-list build.
- results flow through the same node-envelope wire format as every other
  source (node_id, kind, payload JSON, cloud, account, region) and the
  same ``flatten_graph`` catalog flatten as the example source.
- edges are DERIVED from node payloads with DataFrame ops (explode of the
  instance's ``volume_ids``) over the returned ``nodes`` frame, which
  ``pipeline.collect`` persists — so the attachment edges read the same
  held rows as the kind tables, and the API is swept once per run.

Determinism: every count and attribute derives from md5 of the
(account, region, index) tuple, so golden-count tests are exact and
stable across runs, partitionings, and hosts (no RNG state, no time).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloud2sql_spark.etl.mock_common import (
    CTIME as _CTIME,
    NODES_SCHEMA,
    det_hash,
    envelope as _envelope,
)
from cloud2sql_spark.etl.model import Kind, KindCatalog

AWS_MOCK_KINDS = [
    Kind("aws_account"),
    Kind("aws_region", {"region_endpoint": "string"}),
    Kind(
        "aws_ec2_instance",
        {
            "instance_type": "string",
            "instance_cores": "int64",
            "instance_memory": "double",
            "instance_status": "string",
            "volume_ids": "array[string]",
        },
    ),
    Kind(
        "aws_ebs_volume",
        {
            "volume_size": "int64",
            "volume_type": "string",
            "volume_status": "string",
        },
    ),
]

DEFAULT_ACCOUNTS = ["acct-01", "acct-02"]
DEFAULT_REGIONS = ["us-east-1", "us-west-2", "eu-central-1"]

# Golden row counts for the default 2-account x 3-region config — fully
# determined by the md5-derived mock (computed once from the pure-python
# API below; stable across runs/hosts by construction).
GOLDEN_COUNTS = {
    "aws_account": 2,
    "aws_region": 6,
    "aws_ec2_instance": 19,
    "aws_ebs_volume": 32,
    "link_aws_account_aws_region": 6,
    "link_aws_region_aws_ec2_instance": 19,
    "link_aws_region_aws_ebs_volume": 32,
    "link_aws_ec2_instance_aws_ebs_volume": 28,
}

_h = det_hash


def describe_instances(account: str, region: str) -> list[dict]:
    """Mock EC2 DescribeInstances: 2-4 instances per (account, region),
    each with 1-2 attached volumes, all attributes hash-derived."""
    n = 2 + _h("n_inst", account, region) % 3
    out = []
    for i in range(n):
        h = _h("inst", account, region, i)
        n_vols = 1 + h % 2
        iid = f"i-{account}-{region}-{i}"
        out.append(
            {
                "id": iid,
                "name": f"instance-{i}",
                "tags": {"env": "prod" if h % 3 else "dev"},
                "ctime": _CTIME,
                "instance_type": ["m5.large", "c5.xlarge", "r5.2xlarge"][h % 3],
                "instance_cores": 2 ** (1 + h % 3),
                "instance_memory": float(8 * 2 ** (h % 4)),
                "instance_status": "running" if h % 4 else "stopped",
                "volume_ids": [f"vol-{iid}-{v}" for v in range(n_vols)],
            }
        )
    return out


def describe_volumes(account: str, region: str) -> list[dict]:
    """Mock EBS DescribeVolumes: every volume attached to an instance,
    plus 0-1 unattached volumes per (account, region)."""
    out = []
    for inst in describe_instances(account, region):
        for vid in inst["volume_ids"]:
            h = _h("vol", vid)
            out.append(
                {
                    "id": vid,
                    "name": vid,
                    "tags": {},
                    "ctime": _CTIME,
                    "volume_size": 50 * (1 + h % 8),
                    "volume_type": ["gp3", "io2", "st1"][h % 3],
                    "volume_status": "in-use",
                }
            )
    n_free = _h("n_free", account, region) % 2
    for i in range(n_free):
        vid = f"vol-free-{account}-{region}-{i}"
        h = _h("vol", vid)
        out.append(
            {
                "id": vid,
                "name": vid,
                "tags": {},
                "ctime": _CTIME,
                "volume_size": 50 * (1 + h % 8),
                "volume_type": ["gp3", "io2", "st1"][h % 3],
                "volume_status": "available",
            }
        )
    return out


def _fetch_region(account: str, region: str) -> list[dict]:
    """One (account, region) API sweep -> node-envelope rows. This is the
    function that runs executor-side; a real plugin would page boto3 here."""

    def envelope(kind: str, payload: dict) -> dict:
        return _envelope(kind, payload, "aws", account, region)

    rows = [
        envelope(
            "aws_region",
            {
                "id": f"{account}/{region}",
                "name": region,
                "tags": {},
                "ctime": _CTIME,
                "region_endpoint": f"https://ec2.{region}.amazonaws.com",
            },
        )
    ]
    rows += [envelope("aws_ec2_instance", p) for p in describe_instances(account, region)]
    rows += [envelope("aws_ebs_volume", p) for p in describe_volumes(account, region)]
    return rows


def aws_mock_catalog() -> KindCatalog:
    return KindCatalog(AWS_MOCK_KINDS)


def make_aws_mock_source(cfg: dict | None):
    """Source factory for the registry: returns (collect_fn, catalog_fn).
    Config keys: ``accounts``, ``regions`` (both optional lists)."""
    cfg = cfg or {}
    accounts = list(cfg.get("accounts", DEFAULT_ACCOUNTS))
    regions = list(cfg.get("regions", DEFAULT_REGIONS))

    def collect(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return collect_aws_mock(spark, accounts, regions)

    return collect, aws_mock_catalog


def collect_aws_mock(
    spark: SparkSession,
    accounts: list[str] | None = None,
    regions: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collect the mock AWS graph: executor-side per-(account, region)
    fetch through ``distributed_collect``, then DataFrame-side edge
    derivation. Returns (nodes, edges) in the standard wire format."""
    from cloud2sql_spark.etl.pipeline import distributed_collect

    accounts = list(accounts or DEFAULT_ACCOUNTS)
    regions = list(regions or DEFAULT_REGIONS)

    fetched = distributed_collect(
        spark, accounts, regions, _fetch_region, NODES_SCHEMA
    )
    # Account nodes: one per account, driver-known (the account list IS
    # the collector's configuration — tiny by construction).
    acct_nodes = spark.createDataFrame(
        [
            (
                a,
                "aws_account",
                json.dumps(
                    {"id": a, "name": a, "tags": {}, "ctime": _CTIME}
                ),
                "aws",
                a,
                None,
            )
            for a in accounts
        ],
        NODES_SCHEMA,
    )
    nodes = acct_nodes.unionByName(fetched)

    # Edges derive from the returned ``nodes`` frame, never from ``fetched``:
    # the pipeline persists ``nodes``, so edges read its held rows and the
    # API is swept once per run (a plan over ``fetched`` would re-fetch).
    region_nodes = nodes.filter(F.col("kind") == "aws_region")
    acct_region = region_nodes.select(
        F.col("account").alias("from_id"),
        F.col("node_id").alias("to_id"),
        F.lit("aws_account").alias("from_kind"),
        F.lit("aws_region").alias("to_kind"),
    )
    region_child = (
        nodes.filter(F.col("kind").isin("aws_ec2_instance", "aws_ebs_volume"))
        .select(
            F.concat_ws("/", "account", "region").alias("from_id"),
            F.col("node_id").alias("to_id"),
            F.lit("aws_region").alias("from_kind"),
            F.col("kind").alias("to_kind"),
        )
    )
    inst_vol = (
        nodes.filter(F.col("kind") == "aws_ec2_instance")
        .select(
            F.col("node_id").alias("from_id"),
            F.explode(
                F.from_json(
                    "payload", "volume_ids ARRAY<STRING>"
                )["volume_ids"]
            ).alias("to_id"),
        )
        .select(
            "from_id",
            "to_id",
            F.lit("aws_ec2_instance").alias("from_kind"),
            F.lit("aws_ebs_volume").alias("to_kind"),
        )
    )
    edges = acct_region.unionByName(region_child).unionByName(inst_vol)
    return nodes, edges

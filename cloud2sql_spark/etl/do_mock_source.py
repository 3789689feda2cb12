"""DigitalOcean-shaped mock collector (reference: cloud2sql registers
four collector plugins — requirements.txt:14-17 lists
resoto-plugin-digitalocean alongside aws/gcp/k8s; live APIs are
unreachable here, so this source proves the collector path on the DO
resource shape: team -> region -> droplets + volumes).

What it adds over the AWS/GCP/k8s mocks (same envelope, same
``distributed_collect`` fetch, same flatten):

- **Optional cross-reference edge**: a DO volume is attached to at most
  one droplet and may be DETACHED (attachment is nullable). The
  droplet -> volume edge therefore exists for only a subset of volume
  rows — the first mock exercising an edge derived from a NULLABLE
  payload field (the AWS/GCP reference edges are total).
- **Sibling edge within one scope**: droplet and volume are both region
  children; the attachment edge joins two siblings rather than crossing
  scopes (GCP's instance -> bucket) or levels (k8s's pod -> config-map).

Determinism: all counts/attributes are md5-derived from
(team, region, index) — exact golden counts, no RNG, no time.
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

DO_MOCK_KINDS = [
    Kind("digitalocean_team"),
    Kind("digitalocean_region", {"region_slug": "string"}),
    Kind(
        "digitalocean_droplet",
        {
            "size_slug": "string",
            "vcpus": "int64",
            "droplet_status": "string",
        },
    ),
    Kind(
        "digitalocean_volume",
        {
            "size_gigabytes": "int64",
            "filesystem_type": "string",
            "attached_droplet": "string",
        },
    ),
]

DEFAULT_TEAMS = ["team-ocean", "team-reef"]
DEFAULT_REGIONS = ["nyc3", "ams3", "sgp1"]

# Golden row counts for the default 2-team x 3-region config — fully
# determined by the md5-derived mock (stable across runs/hosts).
# link_digitalocean_droplet_digitalocean_volume < digitalocean_volume
# because detached volumes (attached_droplet NULL) emit no edge.
GOLDEN_COUNTS = {
    "digitalocean_team": 2,
    "digitalocean_region": 6,
    "digitalocean_droplet": 12,
    "digitalocean_volume": 16,
    "link_digitalocean_team_digitalocean_region": 6,
    "link_digitalocean_region_digitalocean_droplet": 12,
    "link_digitalocean_region_digitalocean_volume": 16,
    "link_digitalocean_droplet_digitalocean_volume": 11,
}


def list_droplets(team: str, region: str) -> list[dict]:
    """Mock droplets.list: 1-4 droplets per (team, region)."""
    n = 1 + _h("n_droplets", team, region) % 4
    out = []
    for i in range(n):
        h = _h("droplet", team, region, i)
        out.append(
            {
                "id": f"drop-{team}-{region}-{i}",
                "name": f"droplet-{i}",
                "tags": {"env": "prod" if h % 2 else "dev"},
                "ctime": _CTIME,
                "size_slug": ["s-1vcpu-1gb", "s-2vcpu-4gb", "g-4vcpu-16gb"][h % 3],
                "vcpus": [1, 2, 4][h % 3],
                "droplet_status": "active" if h % 5 else "off",
            }
        )
    return out


def list_volumes(team: str, region: str) -> list[dict]:
    """Mock volumes.list: 1-3 volumes per (team, region); roughly a
    third are detached (attached_droplet None)."""
    n = 1 + _h("n_volumes", team, region) % 3
    droplets = list_droplets(team, region)
    out = []
    for i in range(n):
        h = _h("volume", team, region, i)
        attached = (
            droplets[h % len(droplets)]["id"] if h % 3 else None
        )
        out.append(
            {
                "id": f"vol-{team}-{region}-{i}",
                "name": f"volume-{i}",
                "tags": {},
                "ctime": _CTIME,
                "size_gigabytes": 10 * (1 + h % 10),
                "filesystem_type": ["ext4", "xfs"][h % 2],
                "attached_droplet": attached,
            }
        )
    return out


def _fetch_region(team: str, region: str) -> list[dict]:
    """One (team, region) sweep: region node + its droplets + volumes."""

    def envelope(kind: str, payload: dict) -> dict:
        return _envelope(kind, payload, "digitalocean", team, region)

    rows = [
        envelope(
            "digitalocean_region",
            {
                "id": f"{team}/{region}",
                "name": region,
                "tags": {},
                "ctime": _CTIME,
                "region_slug": region,
            },
        )
    ]
    rows += [envelope("digitalocean_droplet", d) for d in list_droplets(team, region)]
    rows += [envelope("digitalocean_volume", v) for v in list_volumes(team, region)]
    return rows


def do_mock_catalog() -> KindCatalog:
    return KindCatalog(DO_MOCK_KINDS)


def make_do_mock_source(cfg: dict | None):
    """Source factory: (collect_fn, catalog_fn). Config keys:
    ``teams``, ``regions`` (optional lists)."""
    cfg = cfg or {}
    teams = list(cfg.get("teams", DEFAULT_TEAMS))
    regions = list(cfg.get("regions", DEFAULT_REGIONS))

    def collect(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return collect_do_mock(spark, teams, regions)

    return collect, do_mock_catalog


def collect_do_mock(
    spark: SparkSession,
    teams: list[str] | None = None,
    regions: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Collect the mock DO graph executor-side; derive edges with
    DataFrame ops. Returns (nodes, edges) in the standard wire format."""
    from cloud2sql_spark.etl.pipeline import distributed_collect

    teams = list(teams or DEFAULT_TEAMS)
    regions = list(regions or DEFAULT_REGIONS)

    fetched = distributed_collect(spark, teams, regions, _fetch_region, NODES_SCHEMA)
    team_nodes = spark.createDataFrame(
        [
            (
                t,
                "digitalocean_team",
                json.dumps({"id": t, "name": t, "tags": {}, "ctime": _CTIME}),
                "digitalocean",
                t,
                None,
            )
            for t in teams
        ],
        NODES_SCHEMA,
    )
    nodes = team_nodes.unionByName(fetched)

    # Edges derive from the returned ``nodes`` frame, never from ``fetched``:
    # the pipeline persists ``nodes``, so edges read its held rows and the
    # API is swept once per run (a plan over ``fetched`` would re-fetch).
    region_nodes = nodes.filter(F.col("kind") == "digitalocean_region")
    team_region = region_nodes.select(
        F.col("account").alias("from_id"),
        F.col("node_id").alias("to_id"),
        F.lit("digitalocean_team").alias("from_kind"),
        F.lit("digitalocean_region").alias("to_kind"),
    )

    def region_child(kind: str) -> DataFrame:
        return nodes.filter(F.col("kind") == kind).select(
            F.concat_ws("/", "account", "region").alias("from_id"),
            F.col("node_id").alias("to_id"),
            F.lit("digitalocean_region").alias("from_kind"),
            F.lit(kind).alias("to_kind"),
        )

    # the optional sibling edge: only volumes with a non-null attachment
    drop_vol = (
        nodes.filter(F.col("kind") == "digitalocean_volume")
        .select(
            F.from_json("payload", "attached_droplet STRING")[
                "attached_droplet"
            ].alias("from_id"),
            F.col("node_id").alias("to_id"),
        )
        .filter(F.col("from_id").isNotNull())
        .select(
            "from_id",
            "to_id",
            F.lit("digitalocean_droplet").alias("from_kind"),
            F.lit("digitalocean_volume").alias("to_kind"),
        )
    )
    edges = (
        team_region.unionByName(region_child("digitalocean_droplet"))
        .unionByName(region_child("digitalocean_volume"))
        .unionByName(drop_vol)
    )
    return nodes, edges

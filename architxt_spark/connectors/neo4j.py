"""Neo4j connector wiring for the graph loader and exporter
(``architxt/database/loader/cypher.py:17-49`` /
``export/cypher.py:17-69``).

The reference drives a live ``neo4j.Session`` row-at-a-time.  The Spark
path rides the public **neo4j-spark-connector**
(``org.neo4j.spark.DataSource``): node/relationship reads arrive as
DataFrames with the connector's ``<id>`` / ``<labels>`` / ``<rel.type>`` /
``<source.id>`` / ``<target.id>`` columns, which :func:`normalize_nodes` /
:func:`normalize_relationships` map onto the frame shapes
``sources/graph.read_graph`` already consumes — and the node and
relationship frames of the exporter's ``sinks/cypher.cypher_frames`` are
written back with the connector's ``labels`` /
``relationship`` save modes keyed on the indexed ``_architxt_oid``
(mirroring the reference's MERGE-on-oid protocol).

No Neo4j server or connector jar ships in this container, so every
function takes an injectable reader/writer seam (mock-tested shape
contract); :func:`connector_available` probes for the jar at runtime and
live calls raise a clear error when it is absent.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Mapping

from pyspark.sql import DataFrame, functions as F

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

    from architxt_spark.plans.schema import SchemaPlan

__all__ = [
    "Neo4jConfig",
    "connector_available",
    "normalize_nodes",
    "normalize_relationships",
    "read_cypher_live",
    "write_cypher_live",
]

FORMAT = "org.neo4j.spark.DataSource"
OID_COL = "_architxt_oid"


@dataclass(frozen=True)
class Neo4jConfig:
    url: str
    username: str | None = None
    password: str | None = None
    database: str | None = None
    extra: Mapping[str, str] = field(default_factory=dict)

    def options(self) -> dict[str, str]:
        opts = {"url": self.url, **self.extra}
        if self.username is not None:
            opts["authentication.basic.username"] = self.username
        if self.password is not None:
            opts["authentication.basic.password"] = self.password
        if self.database is not None:
            opts["database"] = self.database
        return opts


def connector_available(spark: SparkSession) -> bool:
    """True when the neo4j-spark-connector jar is on the session classpath."""
    try:
        spark._sc._jvm.java.lang.Class.forName(FORMAT)  # noqa: SLF001
        return True
    except Exception:  # noqa: BLE001 — ClassNotFound surfaces as Py4JError
        return False


# ---------------------------------------------------------------------------
# frame normalization (connector column contract → loader frame shapes)
# ---------------------------------------------------------------------------


def normalize_nodes(df: DataFrame) -> DataFrame:
    """Connector node read (``<id>``, ``<labels>``, property columns…) →
    the loader's ``(id, label, <props…>)`` frame."""
    props = [c for c in df.columns if not (c.startswith("<") and c.endswith(">"))]
    return df.select(
        F.col("`<id>`").cast("string").alias("id"),
        F.element_at("`<labels>`", 1).alias("label"),
        *[F.col(f"`{c}`") for c in props],
    )


def normalize_relationships(df: DataFrame) -> DataFrame:
    """Connector relationship read (``<rel.id>``, ``<rel.type>``,
    ``<source.id>``, ``<target.id>``, ``rel.<prop>`` columns…) → the
    loader's ``(src, dst, rel_type, <props…>)`` frame."""
    props = [c for c in df.columns if c.startswith("rel.")]
    return df.select(
        F.col("`<source.id>`").cast("string").alias("src"),
        F.col("`<target.id>`").cast("string").alias("dst"),
        F.col("`<rel.type>`").alias("rel_type"),
        *[F.col(f"`{c}`").alias(c.removeprefix("rel.")) for c in props],
    )


# ---------------------------------------------------------------------------
# read path
# ---------------------------------------------------------------------------


def _default_reader(spark: SparkSession, cfg: Neo4jConfig) -> Callable[[dict[str, str]], DataFrame]:
    if not connector_available(spark):
        raise RuntimeError(
            "neo4j-spark-connector is not on the classpath; add the "
            "org.neo4j:neo4j-connector-apache-spark jar (or inject a reader seam)"
        )

    def read(options: dict[str, str]) -> DataFrame:
        reader = spark.read.format(FORMAT)
        for k, v in {**cfg.options(), **options}.items():
            reader = reader.option(k, v)
        return reader.load()

    return read


def read_cypher_live(
    spark: SparkSession,
    cfg: Neo4jConfig,
    labels: list[str],
    rel_types: list[str],
    *,
    reader: Callable[[dict[str, str]], DataFrame] | None = None,
    max_depth: int = 10,
    namespace: str = "graph",
) -> DataFrame:
    """``read_cypher`` from a live graph (``loader/cypher.py:17-49``): one
    connector read per label / relationship type (the connector infers
    property columns per label), frames normalized and unioned, then the
    existing level-synchronous BFS of ``read_graph`` builds the forest."""
    from architxt_spark.sources.graph import read_graph

    read = reader or _default_reader(spark, cfg)

    node_frames = [
        normalize_nodes(read({"labels": f":{label}"})) for label in sorted(labels)
    ]
    rel_frames = [
        normalize_relationships(
            read({"relationship": rt, "relationship.nodes.map": "false"})
        )
        for rt in sorted(rel_types)
    ]
    if not node_frames:
        raise ValueError("at least one node label is required")
    nodes = node_frames[0]
    for f in node_frames[1:]:
        nodes = nodes.unionByName(f, allowMissingColumns=True)
    if rel_frames:
        rels = rel_frames[0]
        for f in rel_frames[1:]:
            rels = rels.unionByName(f, allowMissingColumns=True)
    else:
        rels = spark.createDataFrame([], "src string, dst string, rel_type string")
    return read_graph(nodes, rels, max_depth=max_depth, namespace=namespace)


# ---------------------------------------------------------------------------
# write path
# ---------------------------------------------------------------------------


def write_cypher_live(
    nodes: DataFrame,
    schema: SchemaPlan,
    cfg: Neo4jConfig,
    *,
    writer: Callable[[DataFrame, dict[str, str], str], None] | None = None,
) -> dict[str, dict[str, str]]:
    """``export_cypher`` to a live graph (``export/cypher.py:17-69``):
    every non-collapsible group frame is written in node mode (MERGE keyed
    on the ``_architxt_oid`` the frames already carry), every relation
    frame in relationship mode with ``save.strategy=keys`` matching
    endpoint oids — the connector-native equivalent of the reference's
    per-row MERGE statements.  Returns the per-frame option maps (the
    write manifest), which the shape-contract tests assert on."""
    from architxt_spark.sinks.cypher import cypher_frames

    if writer is None:
        spark = nodes.sparkSession
        if not connector_available(spark):
            raise RuntimeError(
                "neo4j-spark-connector is not on the classpath; add the "
                "org.neo4j:neo4j-connector-apache-spark jar (or inject a writer seam)"
            )

        def writer(df: DataFrame, options: dict[str, str], mode: str) -> None:
            w = df.write.format(FORMAT).mode(mode)
            for k, v in {**cfg.options(), **options}.items():
                w = w.option(k, v)
            w.save()

    manifest: dict[str, dict[str, str]] = {}
    node_frames, rel_frames = cypher_frames(nodes, schema)
    for gname, frame in node_frames.items():
        options = {
            "labels": f":{gname}",
            "node.keys": OID_COL,
            "schema.optimization.node.keys": "UNIQUE",
        }
        writer(frame, options, "append")
        manifest[f"node:{gname}"] = options

    for rname, frame in rel_frames.items():
        if "left_oid" in frame.columns:
            left_lbl, right_lbl = _relation_endpoints(schema, rname)
            rel_name = rname.replace("<->", "_")
            out = frame.select(
                F.col("left_oid").alias(OID_COL + "_src"),
                F.col("right_oid").alias(OID_COL + "_dst"),
            )
            options = {
                "relationship": rel_name,
                "relationship.save.strategy": "keys",
                "relationship.source.labels": f":{left_lbl}",
                "relationship.source.save.mode": "Match",
                "relationship.source.node.keys": f"{OID_COL}_src:{OID_COL}",
                "relationship.target.labels": f":{right_lbl}",
                "relationship.target.save.mode": "Match",
                "relationship.target.node.keys": f"{OID_COL}_dst:{OID_COL}",
            }
        else:
            # collapsed attributed edge frame: <end1>_oid, <end2>_oid, props
            oid_cols = [c for c in frame.columns if c.endswith("_oid") and c != "mid_oid"]
            end1, end2 = (c.removesuffix("_oid") for c in oid_cols)
            mid = rname.split("[", 1)[1].split("]", 1)[0]
            out = frame.withColumnRenamed(oid_cols[0], OID_COL + "_src").withColumnRenamed(
                oid_cols[1], OID_COL + "_dst"
            )
            options = {
                "relationship": mid,
                "relationship.save.strategy": "keys",
                "relationship.source.labels": f":{end1}",
                "relationship.source.save.mode": "Match",
                "relationship.source.node.keys": f"{OID_COL}_src:{OID_COL}",
                "relationship.target.labels": f":{end2}",
                "relationship.target.save.mode": "Match",
                "relationship.target.node.keys": f"{OID_COL}_dst:{OID_COL}",
                "relationship.properties": ",".join(
                    c for c in out.columns if not c.startswith(OID_COL)
                ),
            }
        writer(out, options, "append")
        manifest[f"rel:{rname}"] = options
    return manifest


def _relation_endpoints(schema: SchemaPlan, rel_name: str) -> tuple[str, str]:
    for rel in schema.relations:
        if rel.name == rel_name:
            return rel.left, rel.right
    left, right = rel_name.split("<->", 1) if "<->" in rel_name else (rel_name, rel_name)
    return left, right

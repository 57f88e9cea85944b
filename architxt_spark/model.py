"""Columnar meta-model: the node table.

The reference models a forest as pointer-linked mutable Python trees
(``architxt/tree.py:97-126`` — ``Tree`` is a persistent list with a
``NodeLabel`` of ``(NodeType, name)``, string leaves, and UUID OIDs).
Spark has no recursive types and no in-place mutation, so the forest is a
single DataFrame with one row per node — a columnar adjacency model:

======================  =====================  =======================================
column                  type                   meaning
======================  =====================  =======================================
``tree_id``             string                 id of the tree this node belongs to
``node_id``             string                 unique node id (stable within a pass)
``parent_id``           string (nullable)      parent node id; null for roots
``pos``                 int                    index among siblings (0-based)
``path``                array<int>             position path from the root, e.g. [0,1]
``depth``               int                    len(path)
``node_type``           string                 ENT | GROUP | REL | COLL | null
``node_name``           string                 label name ('' for unlabeled)
``leaf_value``          string (nullable)      concatenated token text for ENT leaves
``metadata``            map<string,string>     free-form node metadata
======================  =====================  =======================================

Mirrors ``NodeType`` (``architxt/tree.py:56-60``) and ``NodeLabel``
(``architxt/tree.py:63-94``, serialized ``"TYPE::name"``).  The reference's
leaves are plain string tokens interleaved with subtree children; here each
leaf token is its own row with ``node_type IS NULL AND node_name IS NULL``
and the token text in ``leaf_value`` — so ``Tree.leaves()`` is a filter +
sort and mixed leaf/subtree orderings survive round-trips.  Internal
unlabeled nodes keep ``node_name`` (possibly ``''``) with null
``node_type``.

OIDs (``architxt/tree.py:50,290-305``): the reference uses UUID4 per node and
deterministic UUID5 for database rows (``architxt/database/loader/sql.py:
399-417``).  Here ``node_id`` is a deterministic content hash for loader-made
nodes (same input ⇒ same id ⇒ idempotent re-loads) — see ``deterministic_oid``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)


class NodeType:
    """The four meta-model node kinds (``architxt/tree.py:56-60``)."""

    ENT = "ENT"
    GROUP = "GROUP"
    REL = "REL"
    COLL = "COLL"

    ALL = (ENT, GROUP, REL, COLL)


NODE_SCHEMA = StructType(
    [
        StructField("tree_id", StringType(), False),
        StructField("node_id", StringType(), False),
        StructField("parent_id", StringType(), True),
        StructField("pos", IntegerType(), False),
        StructField("path", ArrayType(IntegerType()), False),
        StructField("depth", IntegerType(), False),
        StructField("node_type", StringType(), True),
        StructField("node_name", StringType(), True),
        StructField("leaf_value", StringType(), True),
        StructField("metadata", MapType(StringType(), StringType()), True),
    ]
)

#: Namespace for deterministic OIDs (the reference derives a UUID5 from the
#: database name + table + PK values, ``architxt/database/loader/sql.py:399-417``).
OID_NAMESPACE = uuid.uuid5(uuid.NAMESPACE_URL, "architxt-spark://oid")


def label_col(node_type: Column | str, node_name: Column | str) -> Column:
    """Serialized ``"TYPE::name"`` label (``architxt/tree.py:75-82``)."""
    t = F.col(node_type) if isinstance(node_type, str) else node_type
    n = F.col(node_name) if isinstance(node_name, str) else node_name
    return F.when(t.isNotNull(), F.concat_ws("::", t, n)).otherwise(n)


def parse_label(label: str) -> tuple[str | None, str]:
    """Inverse of :func:`label_col` (``NodeLabel.fromstring``,
    ``architxt/tree.py:85-94``)."""
    if "::" in label:
        t, _, n = label.partition("::")
        if t in NodeType.ALL:
            return t, n
    return None, label


def deterministic_oid(*parts: Column | str) -> Column:
    """Deterministic node id from content columns.

    Spark-side stand-in for the reference's ``uuid5(namespace, table + sorted
    PK kv-pairs)`` (``architxt/database/loader/sql.py:399-417``): a sha2 over
    the '\\x1f'-joined parts.  Same inputs ⇒ same id, so re-loading the same
    database row dedupes, matching the reference's idempotence property
    (``tests/database/test_read_database.py:119-154``).
    """
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    return F.sha2(F.concat_ws("\x1f", *[c.cast("string") for c in cols]), 256)

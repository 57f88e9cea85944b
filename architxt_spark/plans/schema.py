"""Schema induction, meta-grammar validation, and dataset extraction.

Mirrors ``architxt/schema.py`` (Schema/Group/Relation, ``from_forest``
at 144-218, orientation inference 156-212 + ``_convert_relations`` 235-266,
``verify`` vs the ANTLR metagrammar — re-expressed as 5 shape rules from
``metagrammar.g4:1-129`` — ``extract_valid_trees`` 384-417,
``extract_datasets`` 419-440) and ``architxt/tree.py:622-667``
(``group_instances`` pivot).

Design: the schema itself is tiny (distinct labels), so :class:`SchemaPlan`
is a driver-side object; but it is DERIVED from the node table with two
aggregations (productions, orientation evidence) that scale with the forest.

Group instances live in ONE long frame, :func:`group_instances` — a row per
(group, group node, OID, entity, value), the last duplicate entity winning.
It is the only place the forest's ENT ⋈ leaf join and text aggregation are
written.  :func:`extract_datasets` lands it once for every group and pivots
the landed frame per group; the SQL and Cypher exporters
(:mod:`architxt_spark.sinks`) pivot the same frame keyed by OID.  Every
pivot takes the schema's entity set as explicit values, so none pays a
distinct-values job and every frame has exactly the schema's columns.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from dataclasses import dataclass, field
from enum import Enum
from itertools import combinations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from architxt_spark.model import NodeType
from architxt_spark.session import stage_barrier


class RelationOrientation(str, Enum):
    """FK direction of a relation (``architxt/schema.py:45-60``)."""

    LEFT = "LEFT"
    RIGHT = "RIGHT"
    BOTH = "BOTH"


@dataclass(frozen=True)
class Group:
    """``architxt/schema.py:36-42``."""

    name: str
    entities: frozenset[str]


@dataclass(frozen=True)
class Relation:
    """``architxt/schema.py:62-71``."""

    name: str
    left: str
    right: str
    orientation: RelationOrientation = RelationOrientation.BOTH


@dataclass
class SchemaPlan:
    """Inferred schema: productions + groups + relations.

    ``productions`` maps a label string (``"TYPE::name"`` or a plain name)
    to the set of alternative RHS label tuples.
    """

    productions: dict[str, set[tuple[str, ...]]] = field(default_factory=dict)
    groups: dict[str, frozenset[str]] = field(default_factory=dict)
    relations: set[Relation] = field(default_factory=set)

    @property
    def entities(self) -> set[str]:
        return {e for ents in self.groups.values() for e in ents}

    @classmethod
    def from_description(
        cls,
        *,
        groups: dict[str, frozenset[str]] | None = None,
        relations: "set[Relation] | None" = None,
        collections: bool = True,
    ) -> "SchemaPlan":
        """Build a schema from a declarative description
        (``Schema.from_description``, ``architxt/schema.py:103-142``):
        productions derive from the group entity sets and relation
        endpoints, with an optional COLL rule per group/relation."""
        groups = dict(groups or {})
        relations = set(relations or ())
        productions: dict[str, set[tuple[str, ...]]] = {}
        for g, ents in groups.items():
            productions[f"GROUP::{g}"] = {tuple(f"ENT::{e}" for e in sorted(ents))}
            if collections:
                productions[f"COLL::{g}"] = {(f"GROUP::{g}",)}
        for r in relations:
            productions[f"REL::{r.name}"] = {(f"GROUP::{r.left}", f"GROUP::{r.right}")}
            if collections:
                productions[f"COLL::{r.name}"] = {(f"REL::{r.name}",)}
        return cls(productions=productions, groups=groups, relations=relations)

    def __or__(self, other: "SchemaPlan") -> "SchemaPlan":
        """Schema union (``Schema.__or__``, ``architxt/schema.py:85-93``):
        productions merge alternative-wise, same-named groups merge their
        entity sets, relations union."""
        productions: dict[str, set[tuple[str, ...]]] = {
            k: set(v) for k, v in self.productions.items()
        }
        for k, v in other.productions.items():
            productions.setdefault(k, set()).update(v)
        groups = dict(self.groups)
        for g, ents in other.groups.items():
            groups[g] = groups.get(g, frozenset()) | ents
        return SchemaPlan(
            productions=productions,
            groups=groups,
            relations=set(self.relations) | set(other.relations),
        )

    def as_cfg(self) -> str:
        """Serialize like ``Schema.as_cfg`` — ``ROOT -> …; rules…`` —
        for parity checks and debugging."""
        lines = ["ROOT -> " + " ".join(sorted(self.productions))]
        for lhs in sorted(self.productions):
            for rhs in sorted(self.productions[lhs]):
                lines.append(f"{lhs} -> {' '.join(rhs)}")
        return ";\n".join(lines) + ";"

    # -- metagrammar shape rules (metagrammar.g4:1-129) --

    def verify(self) -> bool:
        """The 5 shape rules of the meta-grammar, as plain checks instead of
        an ANTLR parse (``Schema.verify``, ``architxt/schema.py:268-291``):

        1. GROUP productions have only ENT children, no duplicate entity;
        2. REL productions have exactly two distinct GROUP children;
        3. COLL productions have exactly one GROUP or REL child type;
        4. only typed labels (GROUP/REL/COLL at rule level) are defined;
        5. REL/COLL members must be defined groups/relations.
        """
        defined_groups = {f"GROUP::{g}" for g in self.groups}
        defined_rels = {lhs for lhs in self.productions if lhs.startswith("REL::")}
        for lhs, alternatives in self.productions.items():
            if lhs.startswith("ENT::"):
                continue
            if lhs.startswith("GROUP::"):
                for rhs in alternatives:
                    if any(not c.startswith("ENT::") for c in rhs):
                        return False
                    if len(set(rhs)) != len(rhs):
                        return False
            elif lhs.startswith("REL::"):
                for rhs in alternatives:
                    if len(rhs) != 2 or rhs[0] == rhs[1]:
                        return False
                    if any(not c.startswith("GROUP::") for c in rhs):
                        return False
                    if any(c not in defined_groups for c in rhs):
                        return False
            elif lhs.startswith("COLL::"):
                for rhs in alternatives:
                    if len(rhs) != 1:
                        return False
                    member = rhs[0]
                    if not (member.startswith("GROUP::") or member.startswith("REL::")):
                        return False
                    if member.startswith("GROUP::") and member not in defined_groups:
                        return False
                    if member.startswith("REL::") and member not in defined_rels:
                        return False
            else:
                # untyped label at rule level → invalid instance
                return False
        return True

    # -- driver-side scores (groups are few) --

    @property
    def group_overlap(self) -> float:
        """Mean pairwise Jaccard of group entity sets
        (``architxt/schema.py:293-308``)."""
        pairs = [
            len(a & b) / len(a | b) if a | b else 0.0
            for a, b in combinations(self.groups.values(), 2)
        ]
        return sum(pairs) / len(pairs) if pairs else 0.0

    @property
    def group_balance_score(self) -> float:
        """``1 − σ/μ`` of entities-per-group (``architxt/schema.py:310-344``)."""
        if not self.groups:
            return 1.0
        counts = [len(e) for e in self.groups.values()]
        mean = sum(counts) / len(counts)
        var = sum((c - mean) ** 2 for c in counts) / len(counts)
        variation = math.sqrt(var) / mean if mean else 1.0
        return 1 - variation

    def find_collapsible_groups(self) -> set[str]:
        """Groups participating exactly twice on the 'one' side of 1-n
        relations — collapsible into attributed edges
        (``architxt/schema.py:442-501``)."""
        score: dict[str, int] = {}
        for rel in self.relations:
            # orientation marks the "one" (referenced) side — that side
            # scores 1; a group scoring exactly 2 sits between two 1-n
            # relations as the shared "one" side and collapses to an edge.
            lw, rw = {
                RelationOrientation.LEFT: (1, 3),
                RelationOrientation.RIGHT: (3, 1),
                RelationOrientation.BOTH: (3, 3),
            }[rel.orientation]
            score[rel.left] = score.get(rel.left, 0) + lw
            score[rel.right] = score.get(rel.right, 0) + rw
        return {g for g, c in score.items() if c == 2}


def _label(type_col, name_col):
    return F.when(F.col(type_col).isNotNull(), F.concat_ws("::", type_col, name_col)).otherwise(
        F.col(name_col)
    )


def _child_info(nodes: DataFrame) -> DataFrame:
    """(parent rows) joined with ordered non-leaf child label arrays."""
    children = (
        nodes.filter(F.col("node_name").isNotNull())
        .select(
            F.col("parent_id"),
            F.struct("pos", _label("node_type", "node_name").alias("label"),
                     F.coalesce(F.col("metadata").getItem("oid"), F.col("node_id")).alias("oid"),
                     "node_type", "node_name").alias("c"),
        )
        .filter(F.col("parent_id").isNotNull())
        .groupBy("parent_id")
        .agg(F.array_sort(F.collect_list("c")).alias("children"))
    )
    parents = nodes.filter(F.col("node_name").isNotNull()).select(
        "node_id",
        F.col("node_type").alias("p_type"),
        F.col("node_name").alias("p_name"),
        F.coalesce(F.col("metadata").getItem("oid"), F.col("node_id")).alias("p_oid"),
    )
    return parents.join(children, parents.node_id == children.parent_id, "inner")


def schema_from_forest(
    nodes: DataFrame,
    *,
    keep_unlabelled: bool = True,
    merge_lhs: bool = True,
    production_budget: int = 100_000,
) -> SchemaPlan:
    """Infer the schema with two aggregation passes
    (``Schema.from_forest``, ``architxt/schema.py:144-218``).

    Pass 1 — productions: per internal node, the sorted child-label tuple,
    deduped per (lhs, rhs); GROUP alternatives merged into one RHS when
    ``merge_lhs``.  Pass 2 — orientation evidence: for each REL with two
    GROUP children, a member OID appearing with ≥2 distinct partner pairs
    marks that side as multi (``:156-212``).

    A Schema is a small driver-side object, so the distinct-production set
    must be vocabulary-bounded (meta-model forests reuse a fixed label
    vocabulary).  A forest with per-node-unique labels would make the
    distinct set O(corpus); ``production_budget`` caps the collect and
    raises loudly instead of OOMing the driver.
    """
    info = _child_info(nodes).filter(F.col("p_name") != "ROOT")

    # Pass 1: distinct productions (lexical productions have no child rows
    # here because leaf tokens carry null node_name).  LIMIT budget+1 so
    # only a bounded number of rows can ever reach the driver.
    prods = (
        info.select(
            "p_type",
            "p_name",
            F.array_sort(F.transform("children", lambda c: c["label"])).alias("rhs"),
        )
        .distinct()
        .limit(production_budget + 1)
        .collect()
    )
    if len(prods) > production_budget:
        raise RuntimeError(
            f"schema_from_forest: > {production_budget} distinct productions — "
            "node labels are not vocabulary-bounded on this forest, so its "
            "schema is not a small driver object.  Normalize labels first "
            "(e.g. simple_rewrite / cluster-and-rename), or raise "
            "production_budget explicitly if the driver has headroom."
        )

    productions: dict[str, set[tuple[str, ...]]] = {}
    group_entities: dict[str, set[str]] = {}
    for r in prods:
        lhs = f"{r['p_type']}::{r['p_name']}" if r["p_type"] else r["p_name"]
        rhs = tuple(r["rhs"])
        if r["p_type"] == NodeType.COLL:
            productions[lhs] = {(rhs[0],)} if rhs else set()
        elif r["p_type"] == NodeType.REL and len(rhs) == 2:
            productions.setdefault(lhs, set()).add(rhs)
        elif r["p_type"] == NodeType.GROUP:
            ents = group_entities.setdefault(r["p_name"], set())
            ents.update(n.split("::", 1)[1] for n in rhs if n.startswith("ENT::"))
            if merge_lhs:
                productions[lhs] = {tuple(sorted(f"ENT::{e}" for e in ents))}
            else:
                productions.setdefault(lhs, set()).add(tuple(sorted(set(rhs))))
        elif keep_unlabelled:
            productions.setdefault(lhs, set()).add(tuple(sorted(set(rhs))))

    if merge_lhs:
        for name, ents in group_entities.items():
            productions[f"GROUP::{name}"] = {tuple(sorted(f"ENT::{e}" for e in ents))}

    # Pass 2: relation orientation evidence.
    rel_members = (
        info.filter(
            (F.col("p_type") == NodeType.REL)
            & (F.size("children") == 2)
            & (F.col("children")[0]["node_type"] == NodeType.GROUP)
            & (F.col("children")[1]["node_type"] == NodeType.GROUP)
        )
        .select(
            F.col("p_name").alias("rel_name"),
            F.array_sort(F.transform("children", lambda c: c["oid"])).alias("pair"),
            F.explode("children").alias("m"),
        )
        .select(
            "rel_name",
            F.col("m.node_name").alias("member"),
            F.col("m.pos").alias("member_pos"),
            F.col("m.oid").alias("member_oid"),
            F.concat_ws("|", "pair").alias("pair_key"),
        )
    )
    evidence = (
        rel_members.groupBy("rel_name", "member", "member_oid")
        .agg(F.countDistinct("pair_key").alias("n_pairs"), F.min("member_pos").alias("min_pos"))
        .groupBy("rel_name", "member")
        .agg(F.max(F.col("n_pairs") > 1).alias("is_multi"), F.min("min_pos").alias("side"))
        .collect()
    )
    by_rel: dict[str, list] = {}
    for r in evidence:
        by_rel.setdefault(r["rel_name"], []).append(r)
    relations: set[Relation] = set()
    for rel_name, members in by_rel.items():
        if len(members) != 2:
            continue
        members.sort(key=lambda r: (r["side"], r["member"]))
        left, right = members
        if left["is_multi"] == right["is_multi"]:
            orientation = RelationOrientation.BOTH
        elif left["is_multi"]:
            orientation = RelationOrientation.LEFT
        else:
            orientation = RelationOrientation.RIGHT
        relations.add(Relation(rel_name, left["member"], right["member"], orientation))

    return SchemaPlan(
        productions=productions,
        groups={n: frozenset(e) for n, e in group_entities.items()},
        relations=relations,
    )


def group_instances(nodes: DataFrame, groups: Iterable[str]) -> DataFrame:
    """Every instance of the named groups as long rows
    ``(group_name, gid, oid, entity, value)``
    (``Tree.group_instances``, ``architxt/tree.py:622-667``, before its
    pivot).

    ``gid`` is the group node, ``oid`` its deterministic object id (the
    loader's ``metadata.oid``, else the node id), ``value`` the entity's
    leaf tokens joined in position order.  When one group node holds the
    same entity name twice the LAST one wins (dict-comprehension semantics
    in the reference, ``tree.py:655-659``).

    Callers that need several groups land it once and pivot the landed
    frame per group (:func:`pivot_instances`)."""
    grp = nodes.filter(
        (F.col("node_type") == NodeType.GROUP) & F.col("node_name").isin(sorted(groups))
    ).select(
        F.col("node_name").alias("group_name"),
        F.col("node_id").alias("gid"),
        F.coalesce(F.col("metadata").getItem("oid"), F.col("node_id")).alias("oid"),
    )
    ents = nodes.filter(F.col("node_type") == NodeType.ENT).select(
        F.col("node_id").alias("ent_id"),
        F.col("parent_id").alias("gid_ref"),
        F.col("pos").alias("ent_pos"),
        F.col("node_name").alias("entity"),
    )
    leaves = nodes.filter(F.col("node_name").isNull() & F.col("leaf_value").isNotNull()).select(
        F.col("parent_id").alias("leaf_parent"), "pos", "leaf_value"
    )
    ent_text = (
        ents.join(leaves, ents.ent_id == leaves.leaf_parent, "left")
        .groupBy("ent_id", "gid_ref", "ent_pos", "entity")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "leaf_value"))),
                    lambda s: s["leaf_value"],
                ),
                " ",
            ).alias("value")
        )
    )
    return (
        grp.join(ent_text, grp.gid == ent_text.gid_ref, "inner")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("gid", "entity").orderBy(F.col("ent_pos").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("group_name", "gid", "oid", "entity", "value")
    )


def pivot_instances(
    instances: DataFrame,
    group_name: str,
    entities: list[str] | None,
    *,
    key: str = "gid",
) -> DataFrame:
    """One group's rows of a :func:`group_instances` frame as one row per
    ``key`` (default: per group node) with a column per entity.

    Pass ``entities`` whenever the column set is known (``SchemaPlan.groups``,
    loader table schemas): the columns are then exactly that list, in that
    order, and Spark skips the pivot's distinct-values job.  Without it the
    columns are the forest's distinct entity names for the group, sorted."""
    return (
        instances.filter(F.col("group_name") == group_name)
        .groupBy(key)
        .pivot("entity", entities)
        .agg(F.first("value"))
    )


def extract_group_dataset(
    nodes: DataFrame, group_name: str, *, entities: list[str] | None = None
) -> DataFrame:
    """All distinct instances of one group → DataFrame(entity columns)
    (``Tree.group_instances``, ``architxt/tree.py:622-667``).

    :func:`group_instances` for this one group, pivoted per group node,
    then ``dropDuplicates``.  With ``entities`` given the whole extraction
    is one lazy query with no materialization barrier and no
    distinct-values job — the difference between 1 and 3 passes over the
    forest at scale."""
    return (
        pivot_instances(group_instances(nodes, [group_name]), group_name, entities)
        .drop("gid")
        .dropDuplicates()
    )


def extract_datasets(nodes: DataFrame, schema: SchemaPlan) -> dict[str, DataFrame]:
    """Per-group dataset extraction (``Schema.extract_datasets``,
    ``architxt/schema.py:419-440``).

    Lands one :func:`group_instances` frame for all of the schema's groups
    (one eager barrier at call time); each returned dataset is a filter
    plus a pivot over that landed frame with the schema's entity set as
    explicit columns, so no dataset reads the forest again."""
    if not schema.groups:
        return {}
    instances = stage_barrier(group_instances(nodes, schema.groups))
    return {
        name: pivot_instances(instances, name, sorted(schema.groups[name]))
        .drop("gid")
        .dropDuplicates()
        for name in schema.groups
    }


def extract_valid_trees(nodes: DataFrame, schema: SchemaPlan) -> DataFrame:
    """Filter + project the forest to schema-valid nodes
    (``Schema.extract_valid_trees``, ``architxt/schema.py:384-417``).

    Invalid-label subtrees are dropped by promoting their children: each
    node's nearest VALID ancestor becomes its parent.  Stray ENT/leaf
    children directly under an (invalid → ROOT-ified) root are removed.
    Implemented as an iterative parent-rewrite (≤ max depth iterations,
    each a self-join re-link) — no driver-side recursion over rows.
    """
    valid_labels = (
        {f"ENT::{e}" for e in schema.entities}
        | {f"GROUP::{g}" for g in schema.groups}
        | {f"REL::{r.name}" for r in schema.relations}
    )

    lbl = _label("node_type", "node_name")
    nodes = nodes.withColumn("_valid", lbl.isin(list(valid_labels)) | (F.col("depth") == 0))
    leaf = F.col("node_name").isNull() & F.col("leaf_value").isNotNull()
    nodes = nodes.withColumn("_valid", F.col("_valid") | leaf)

    # Iteratively re-link non-leaf children of invalid nodes to their
    # grandparent (the reference promotes only Tree children — string leaves
    # die with the dropped subtree, ``schema.py:399-403``).
    max_depth = nodes.agg(F.max("depth")).collect()[0][0] or 0
    for _ in range(max_depth):
        parents = nodes.select(
            F.col("node_id").alias("p_id"),
            F.col("parent_id").alias("gp_id"),
            F.col("_valid").alias("p_valid"),
        )
        relinked = (
            nodes.join(parents, nodes.parent_id == parents.p_id, "left")
            .withColumn("_moved", (F.col("p_valid") == False) & ~leaf)  # noqa: E712
            .withColumn(
                "parent_id",
                F.when(F.col("_moved"), F.col("gp_id")).otherwise(F.col("parent_id")),
            )
            .drop("p_id", "gp_id", "p_valid")
        )
        moved = relinked.filter(F.col("_moved")).limit(1).count()
        nodes = relinked.drop("_moved").transform(stage_barrier)
        if not moved:
            break

    # Drop invalid internal nodes; drop ENT/leaf rows that ended up directly
    # under the root of a tree whose root is untyped (ROOT-ified); drop leaf
    # rows whose (invalid) parent was removed.
    roots = nodes.filter(F.col("depth") == 0).select(
        F.col("tree_id").alias("rt"), F.col("node_id").alias("root_id")
    )
    kept = (
        nodes.filter(F.col("_valid"))
        .join(roots, F.col("tree_id") == F.col("rt"), "left")
        .withColumn(
            "_drop",
            (F.col("parent_id") == F.col("root_id"))
            & ((F.col("node_type") == NodeType.ENT) | leaf),
        )
        .filter(~F.coalesce(F.col("_drop"), F.lit(False)))
        .drop("rt", "root_id", "_drop", "_valid")
    )
    survivors = kept.filter(~leaf).select(F.col("node_id").alias("live_id"))
    kept = kept.join(
        survivors, F.col("parent_id") == F.col("live_id"), "left"
    ).filter(~leaf | F.col("live_id").isNotNull()).drop("live_id")
    # Renumber sibling positions by original path order (promotion can leave
    # duplicate pos values among new siblings).
    return kept.withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("tree_id", "parent_id").orderBy("path")) - 1,
    )

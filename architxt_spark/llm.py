"""LLM-assisted rewriting & labelling plumbing
(``architxt/simplification/llm.py:141-598``, ``architxt/labelling/__init__.py:71-163``).

No model-serving endpoint exists in this container, so the LLM boundary is
a :class:`Normalizer` protocol; :class:`FallbackNormalizer` (identity) and
the test :class:`UppercaseGroupNormalizer` are deterministic stand-ins a
real endpoint client drops into.  Everything around the boundary is real:

- token-budgeted batching inside tree buckets (``constrained_batches``,
  ``architxt/utils.py:74-98`` flavor);
- per-bucket ``applyInPandas`` rewrite with per-batch fallback to the
  original trees on any normalizer failure (``llm.py:387-396``);
- ``sanitize_forest``: invalid GROUP (non-ENT child) / REL (≠2 GROUP
  children) demoted to ``UNDEF_<id>`` (``llm.py:332-406``) — a pure
  DataFrame transform;
- ``extract_vocab``: normalized-label support count + driver-side fuzzy
  merge (``llm.py:429-470``);
- ``apply_renaming``: bulk join-based relabel (``labelling/__init__.py:149-163``).
"""

from __future__ import annotations

import difflib
import re
import unicodedata
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from architxt_spark.model import NODE_SCHEMA, NodeType
from architxt_spark.session import tree_buckets
from architxt_spark.trees import PyTree, rows_to_trees, tree_to_rows


class Normalizer(Protocol):
    """The LLM boundary: takes a batch of trees, returns normalized trees
    (same count, same order).  A real implementation calls a model-serving
    endpoint; failures may raise — the caller falls back per tree."""

    def normalize(self, trees: list[PyTree]) -> list[PyTree]: ...


class FallbackNormalizer:
    """Identity — the behavior the pipeline degrades to without a model."""

    def normalize(self, trees: list[PyTree]) -> list[PyTree]:
        return trees


class UppercaseGroupNormalizer:
    """Deterministic test double: upper-cases GROUP names (stands in for a
    model that canonicalizes labels)."""

    def normalize(self, trees: list[PyTree]) -> list[PyTree]:
        def walk(t: PyTree) -> None:
            if t.node_type == NodeType.GROUP:
                t.label = f"{NodeType.GROUP}::{t.node_name.upper()}"
            for c in t.children:
                if isinstance(c, PyTree):
                    walk(c)

        for t in trees:
            walk(t)
        return trees


def estimate_tokens(text: str) -> int:
    """Cheap token estimate (chars/4) for prompt budgeting."""
    return max(1, len(text) // 4)


def constrained_batches(items: list[tuple[str, str]], max_tokens: int) -> list[list[str]]:
    """Greedy (id, payload) batching under a token budget; oversized single
    payloads get their own batch (``more_itertools.constrained_batches``
    semantics)."""
    batches: list[list[str]] = []
    cur: list[str] = []
    budget = 0
    for key, payload in items:
        t = estimate_tokens(payload)
        if cur and budget + t > max_tokens:
            batches.append(cur)
            cur, budget = [], 0
        cur.append(key)
        budget += t
    if cur:
        batches.append(cur)
    return batches


def windowed_shuffle(items: list, window_size: int = 10, *, seed: int = 0) -> list:
    """Deterministic windowed shuffle (``architxt/utils.py:74-98``): items are
    shuffled only within consecutive windows, so each item moves at most
    ``window_size`` positions — batches get local diversity while the global
    order (and thus batch membership) stays roughly stable.  Seeded for
    reproducible runs, unlike the reference's bare ``random.shuffle``."""
    import random

    rng = random.Random(seed)
    out = list(items)
    for start in range(0, len(out), window_size):
        window = out[start : start + window_size]
        rng.shuffle(window)
        out[start : start + window_size] = window
    return out


def windowed_shuffle_df(nodes: DataFrame, window_size: int = 10, *, seed: int = 0) -> DataFrame:
    """Distributed analogue of :func:`windowed_shuffle` for the tree frame:
    trees are bucketed into windows of expected size ``window_size`` by a
    seeded hash of ``tree_id`` and re-ordered by a second seeded hash inside
    each window.  No UDFs and — deliberately — no global ``row_number``: an
    unpartitioned window would pull one row per tree into a single task at
    scale, and the reference's shuffle is only "roughly stable"
    (``architxt/utils.py:74-98``), so exact global order is not required.
    The only eager action is a scalar distinct-count to size the windows."""
    trees = nodes.select("tree_id").distinct()
    n_windows = max(1, -(-trees.count() // window_size))
    trees = trees.withColumn(
        "__w", F.pmod(F.xxhash64("tree_id", F.lit(seed + 1)), F.lit(n_windows))
    ).withColumn("__r", F.xxhash64("tree_id", F.lit(seed)))
    return (
        nodes.join(trees, "tree_id")
        .sortWithinPartitions("__w", "__r")
        .drop("__w", "__r")
    )


def llm_rewrite(
    nodes: DataFrame,
    normalizer_factory=FallbackNormalizer,
    *,
    max_batch_tokens: int = 4000,
) -> DataFrame:
    """Distributed LLM rewrite: trees grouped through
    :func:`architxt_spark.session.tree_buckets` (many whole trees per
    pandas call), batched by token budget, normalized, re-emitted as node
    rows.  Any normalizer failure falls back to the ORIGINAL trees of
    that batch (``llm.py:387-396``)."""
    import pandas as pd

    cols = [f.name for f in NODE_SCHEMA.fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        normalizer = normalizer_factory()
        trees = rows_to_trees(pdf.to_dict("records"))
        items = [(tid, str(t)) for tid, t in trees.items()]
        out_rows: list[dict] = []
        for batch_ids in constrained_batches(items, max_batch_tokens):
            originals = [trees[tid] for tid in batch_ids]
            try:
                normalized = normalizer.normalize(originals)
                if len(normalized) != len(originals):
                    raise ValueError("normalizer returned wrong count")
            except Exception:  # noqa: BLE001 — per-batch fallback (llm.py:387-396)
                normalized = originals
            for tid, t in zip(batch_ids, normalized):
                out_rows.extend(tree_to_rows(t, tid))
        return pd.DataFrame(out_rows, columns=cols)

    return tree_buckets(nodes).applyInPandas(run, NODE_SCHEMA)


def sanitize_forest(nodes: DataFrame) -> DataFrame:
    """Demote invalid typed nodes to untyped ``UNDEF_<node_id>`` labels
    (``_sanitize``, ``llm.py:332-406``):

    - GROUP with a non-ENT internal child, or duplicate entity names;
    - REL without exactly two GROUP children.
    Pure aggregation + join relabel — no UDF."""
    kids = nodes.filter(F.col("node_name").isNotNull()).groupBy(
        F.col("parent_id").alias("pid")
    ).agg(
        F.count("*").alias("n_kids"),
        F.sum(F.when(F.col("node_type") == NodeType.ENT, 1).otherwise(0)).alias("n_ent"),
        F.sum(F.when(F.col("node_type") == NodeType.GROUP, 1).otherwise(0)).alias("n_grp"),
        F.count_distinct(
            F.when(F.col("node_type") == NodeType.ENT, F.col("node_name"))
        ).alias("n_ent_names"),
    )
    joined = nodes.join(kids, nodes.node_id == kids.pid, "left")
    bad_group = (
        (F.col("node_type") == NodeType.GROUP)
        & (
            (F.coalesce(F.col("n_kids"), F.lit(0)) != F.coalesce(F.col("n_ent"), F.lit(0)))
            | (F.col("n_ent_names") != F.col("n_ent"))
        )
    )
    bad_rel = (F.col("node_type") == NodeType.REL) & (
        (F.coalesce(F.col("n_grp"), F.lit(0)) != 2) | (F.coalesce(F.col("n_kids"), F.lit(0)) != 2)
    )
    demote = bad_group | bad_rel
    return (
        joined.withColumn(
            "node_name",
            F.when(demote, F.concat(F.lit("UNDEF_"), F.col("node_id"))).otherwise(F.col("node_name")),
        )
        .withColumn(
            "node_type",
            F.when(demote, F.lit(None).cast("string")).otherwise(F.col("node_type")),
        )
        .drop("pid", "n_kids", "n_ent", "n_grp", "n_ent_names")
    )


def normalize_label(name: str) -> str:
    """Accent-fold (NFKD + strip combining marks — the unidecode step) +
    snake_case normalization (``llm.py:409-426``)."""
    s = unicodedata.normalize("NFKD", name)
    s = "".join(c for c in s if not unicodedata.combining(c)).strip().lower()
    s = re.sub(r"[^0-9a-z]+", "_", s)
    return s.strip("_")


def extract_vocab(
    nodes: DataFrame, *, min_support: int = 2, similarity: float = 0.9
) -> list[tuple[str, int]]:
    """Frequent normalized GROUP/REL labels, fuzzy-merged driver-side
    (``extract_vocab``, ``llm.py:429-470``).  The count runs distributed on
    RAW labels (one shuffle); only the vocabulary-bounded distinct label
    set touches the driver, where NFKC normalization + fuzzy merge run."""
    raw = (
        nodes.filter(F.col("node_type").isin(NodeType.GROUP, NodeType.REL))
        .groupBy("node_name")
        .count()
        .collect()
    )
    norm_counts: dict[str, int] = {}
    for r in raw:
        key = normalize_label(r["node_name"])
        norm_counts[key] = norm_counts.get(key, 0) + r["count"]
    merged: dict[str, int] = {}
    for norm in sorted(norm_counts, key=lambda n: (-norm_counts[n], n)):
        close = difflib.get_close_matches(norm, merged.keys(), n=1, cutoff=similarity)
        key = close[0] if close else norm
        merged[key] = merged.get(key, 0) + norm_counts[norm]
    return sorted(
        ((k, v) for k, v in merged.items() if v >= min_support), key=lambda kv: (-kv[1], kv[0])
    )


def apply_renaming(nodes: DataFrame, renames: dict[str, str], node_type: str) -> DataFrame:
    """Bulk label rename for one node type (``labelling/__init__.py:149-163``)
    — broadcast map join, no UDF."""
    if not renames:
        return nodes
    mapping = F.create_map(*[F.lit(x) for kv in renames.items() for x in kv])
    return nodes.withColumn(
        "node_name",
        F.when(
            (F.col("node_type") == node_type) & mapping[F.col("node_name")].isNotNull(),
            mapping[F.col("node_name")],
        ).otherwise(F.col("node_name")),
    )

"""Session-state plumbing for the exploration UI — the engine-side
equivalent of the reference's ``architxt/ui/utils.py:1-74``.

Streamlit is an OPTIONAL dependency (absent in this container), reached
through one injection seam: :func:`use_streamlit` installs the module
(tests install a scripted fake, a real deployment installs the genuine
``streamlit``), and :func:`st` resolves it — raising with install
guidance when neither is present.  Everything else is plain engine
composition: the session forest is a
:class:`~architxt_spark.bucket.ParquetTreeBucket` rooted in a per-session
directory, the schema is :func:`~architxt_spark.plans.schema.schema_from_forest`
memoized per forest generation, and the header metrics are the same four
counters the reference shows (trees / entities / groups / relations).
"""

from __future__ import annotations

import tempfile
from typing import Any

from architxt_spark.bucket import ParquetTreeBucket
from architxt_spark.plans.schema import SchemaPlan, schema_from_forest
from architxt_spark.session import get_spark

_ST: Any = None

#: the reference's DEFAULT_METRIC (``ui/utils.py:10-16``)
DEFAULT_METRIC: dict[str, int] = {
    "Total Trees": 0,
    "Entities": 0,
    "Groups": 0,
    "Relations": 0,
}


def use_streamlit(module: Any) -> None:
    """Install the streamlit module (or a test fake) for this process."""
    global _ST
    _ST = module


def st() -> Any:
    global _ST
    if _ST is not None:
        return _ST
    try:
        import streamlit  # type: ignore
    except ImportError as e:  # pragma: no cover — exercised via gate test
        raise RuntimeError(
            "the exploration UI needs streamlit: pip install streamlit, "
            "then run `python -m architxt_spark.ui`; every page is a thin "
            "layer over the engine APIs, which work without it"
        ) from e
    _ST = streamlit
    return streamlit


def get_forest() -> ParquetTreeBucket:
    """The session forest store (reference ``get_forest``,
    ``ui/utils.py:52-54`` — a session-scoped ZODBTreeBucket; here a
    session-scoped parquet bucket)."""
    state = st().session_state
    if "forest_root" not in state:
        state["forest_root"] = tempfile.mkdtemp(prefix="architxt_ui_forest_")
    return ParquetTreeBucket(get_spark(), state["forest_root"])


def get_schema(forest: ParquetTreeBucket | None = None) -> SchemaPlan:
    """Schema of the session forest, memoized per bucket generation
    (the reference memoizes via ``st.cache_data`` and clears on every
    mutation — ``ui/utils.py:57-60``; keying on the generation pointer
    makes the invalidation automatic)."""
    forest = forest or get_forest()
    state = st().session_state
    gen = forest._current_gen()
    cached = state.get("schema_cache")
    if cached is not None and cached[0] == (forest.root, gen):
        return cached[1]
    if gen is None:
        schema = SchemaPlan()
    else:
        schema = schema_from_forest(forest.read())
    state["schema_cache"] = ((forest.root, gen), schema)
    return schema


def get_metrics() -> tuple[dict[str, int], dict[str, int]]:
    state = st().session_state
    return (
        dict(state.get("prev_metrics", DEFAULT_METRIC)),
        dict(state.get("metrics", DEFAULT_METRIC)),
    )


def update_metrics() -> None:
    """Recompute the four header counters and shift current → previous
    (reference ``update_metrics``, ``ui/utils.py:25-43``)."""
    forest = get_forest()
    state = st().session_state
    state.pop("schema_cache", None)
    schema = get_schema(forest)
    metrics = {
        "Total Trees": len(forest),
        "Entities": len(schema.entities),
        "Groups": len(schema.groups),
        "Relations": len(schema.relations),
    }
    state["prev_metrics"] = state.get("metrics", DEFAULT_METRIC)
    state["metrics"] = metrics
    state.pop("group_renames", None)
    state.pop("relation_renames", None)
    st().rerun()


def clear_data() -> None:
    forest = get_forest()
    with forest.transaction() as txn:
        txn.discard(list(forest.oids()))
    update_metrics()

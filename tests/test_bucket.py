"""ParquetTreeBucket tests — the storage contract subset of the reference's
ZODB bucket suite (``tests/bucket/test_zodb.py``): add/upsert/discard,
transactional batching, generation isolation."""

import pytest
from pyspark.sql import functions as F

from architxt_spark.bucket import ParquetTreeBucket
from architxt_spark.trees import forest_from_trees, parse_tree


@pytest.fixture()
def bucket(spark, tmp_path):
    return ParquetTreeBucket(spark, str(tmp_path / "bucket"))


def _forest(spark, **trees):
    return forest_from_trees(spark, {k: parse_tree(v) for k, v in trees.items()})


def test_empty_bucket(spark, bucket):
    assert len(bucket) == 0
    assert list(bucket.oids()) == []


def test_write_read_roundtrip(spark, bucket):
    bucket.write(_forest(spark, t1="(ROOT (GROUP::g (ENT::a x)))"))
    assert list(bucket.oids()) == ["t1"]
    assert bucket.resolve("t1").count() == 4  # root, group, ent, leaf


def test_upsert_replaces_only_given_trees(spark, bucket):
    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))", t2="(ROOT (ENT::b y))"))
    bucket.upsert(_forest(spark, t2="(ROOT (ENT::b CHANGED) (ENT::c z))"))
    assert sorted(bucket.oids()) == ["t1", "t2"]
    leaves = {
        r["leaf_value"]
        for r in bucket.resolve("t2").filter(F.col("leaf_value").isNotNull()).collect()
    }
    assert leaves == {"CHANGED", "z"}
    # t1 untouched
    assert bucket.resolve("t1").count() == 3


def test_discard(spark, bucket):
    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))", t2="(ROOT (ENT::b y))"))
    bucket.discard(["t1"])
    assert list(bucket.oids()) == ["t2"]


def test_transaction_batches_atomically(spark, bucket):
    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))"))
    with bucket.transaction() as txn:
        txn.upsert(_forest(spark, t2="(ROOT (ENT::b y))"))
        txn.discard(["t1"])
        # nothing applied inside the block
        assert list(bucket.oids()) == ["t1"]
    assert list(bucket.oids()) == ["t2"]


def test_generations_cleaned(spark, bucket, tmp_path):
    import os

    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))"))
    bucket.write(_forest(spark, t1="(ROOT (ENT::a y))"))
    gens = [d for d in os.listdir(bucket.root) if d.startswith("gen=")]
    assert len(gens) == 1  # old generation removed after the pointer flip


def test_transaction_aborts_on_exception(spark, bucket):
    """A failed transaction leaves the prior generation current and
    readable; staged mutations never reach storage (reference
    transaction-manager abort semantics)."""
    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))"))
    with pytest.raises(RuntimeError, match="boom"):
        with bucket.transaction() as txn:
            txn.upsert(_forest(spark, t2="(ROOT (ENT::b y))"))
            txn.discard(["t1"])
            raise RuntimeError("boom")
    assert list(bucket.oids()) == ["t1"]
    assert bucket.resolve("t1").count() == 3
    # the bucket is usable again after the abort
    with bucket.transaction() as txn:
        txn.upsert(_forest(spark, t3="(ROOT (ENT::c z))"))
    assert sorted(bucket.oids()) == ["t1", "t3"]


def test_transaction_savepoint_rollback(spark, bucket):
    """Mutations staged after a savepoint roll back; mutations before it
    survive the commit (``zodb.py`` savepoint semantics)."""
    bucket.write(_forest(spark, t1="(ROOT (ENT::a x))"))
    with bucket.transaction() as txn:
        txn.upsert(_forest(spark, t2="(ROOT (ENT::b y))"))
        sp = txn.savepoint()
        txn.discard(["t1"])
        txn.upsert(_forest(spark, t3="(ROOT (ENT::c z))"))
        sp.rollback()
    assert sorted(bucket.oids()) == ["t1", "t2"]


def test_transaction_savepoint_invalidated_by_earlier_rollback(spark, bucket):
    with bucket.transaction() as txn:
        sp1 = txn.savepoint()
        txn.upsert(_forest(spark, t1="(ROOT (ENT::a x))"))
        sp2 = txn.savepoint()
        sp1.rollback()
        with pytest.raises(ValueError, match="invalidated"):
            sp2.rollback()
    assert list(bucket.oids()) == []


def test_nested_transaction_joins_outer(spark, bucket):
    """Opening a transaction inside an active one joins it (the
    reference's AlreadyInTransaction branch): one commit at outer exit."""
    with bucket.transaction() as outer:
        outer.upsert(_forest(spark, t1="(ROOT (ENT::a x))"))
        with bucket.transaction() as inner:
            inner.upsert(_forest(spark, t2="(ROOT (ENT::b y))"))
            assert inner is outer
            assert list(bucket.oids()) == []  # nothing applied at inner exit
        assert list(bucket.oids()) == []
    assert sorted(bucket.oids()) == ["t1", "t2"]


def test_bucketed_nodes_skip_tree_keyed_exchange(spark, tmp_path):
    """The bucketed layout is the point: a tree_id groupBy over the
    bucketed table plans WITHOUT an Exchange (bucket-local aggregation),
    while the plain parquet read of the same data shuffles."""
    import uuid

    from pyspark.sql import functions as F

    from architxt_spark.operators.bucketing import write_bucketed
    from architxt_spark.trees import forest_from_trees, parse_tree

    trees = {
        f"t{i}": parse_tree("(ROOT (GROUP::g (ENT::a v) (ENT::b w)))")
        for i in range(20)
    }
    nodes = forest_from_trees(spark, trees)
    table = f"bucketed_nodes_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed(nodes, table, ["tree_id"], n_buckets=4, sort_cols=["tree_id"])
        bucketed = spark.table(table)
        agg = bucketed.groupBy("tree_id").agg(F.count("*").alias("n"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert agg.count() == 20

        # same data, plain read → the shuffle the bucketing removes
        plain = nodes.groupBy("tree_id").agg(F.count("*").alias("n"))
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan

        # bucketed self-join on tree_id also plans without a SHUFFLE
        # exchange (a tiny side may still broadcast — that's fine; the
        # claim is no hashpartitioning shuffle of either bucketed side)
        j = bucketed.alias("x").join(
            spark.table(table).alias("y"), "tree_id"
        )
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in jplan, jplan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_oids_is_lazy_iterator(spark, tmp_path):
    """r7: oids() must stream ids (toLocalIterator), never collect the
    full distinct-id set into a driver list."""
    import types

    from architxt_spark.bucket import ParquetTreeBucket
    from architxt_spark.model import NODE_SCHEMA

    bucket = ParquetTreeBucket(spark, str(tmp_path / "b"))
    rows = [
        (f"t{i}", f"n{i}", None, 0, [0], 0, "ENT", "x", None, {})
        for i in range(10)
    ]
    bucket.write(spark.createDataFrame(rows, NODE_SCHEMA))
    it = bucket.oids()
    assert isinstance(it, types.GeneratorType)  # lazy, not a list
    assert sorted(it) == [f"t{i}" for i in range(10)]


# ---------------------------------------------------------------------------
# DeltaTreeBucket (import-gated; call shapes pinned via a fake delta module)
# ---------------------------------------------------------------------------


def test_delta_bucket_import_gate(spark, tmp_path):
    """Without delta-spark (this container), construction raises with
    install + session-config guidance and names the parquet fallback."""
    from architxt_spark.bucket import DeltaTreeBucket

    with pytest.raises(RuntimeError, match="delta-spark.*ParquetTreeBucket"):
        DeltaTreeBucket(spark, str(tmp_path / "delta"))


class _MergeRecorder:
    def __init__(self, log):
        self.log = log

    def alias(self, a):
        self.log.append(("alias", a))
        return self

    def merge(self, source, condition):
        self.log.append(("merge", condition))
        return self

    def whenMatchedUpdateAll(self):
        self.log.append(("whenMatchedUpdateAll",))
        return self

    def whenNotMatchedInsertAll(self):
        self.log.append(("whenNotMatchedInsertAll",))
        return self

    def whenNotMatchedBySourceDelete(self, cond):
        self.log.append(("whenNotMatchedBySourceDelete", str(cond)))
        return self

    def execute(self):
        self.log.append(("execute",))

    def delete(self, cond):
        self.log.append(("delete", str(cond)))


def _fake_delta_bucket(spark, root, log, exists=True):
    import sys
    import types as _types

    from architxt_spark.bucket import DeltaTreeBucket

    fake = _types.ModuleType("delta.tables")

    class DeltaTable:
        @staticmethod
        def isDeltaTable(s, p):
            log.append(("isDeltaTable", p))
            return exists

        @staticmethod
        def forPath(s, p):
            log.append(("forPath", p))
            return _MergeRecorder(log)

    fake.DeltaTable = DeltaTable
    pkg = _types.ModuleType("delta")
    pkg.tables = fake
    old = {k: sys.modules.get(k) for k in ("delta", "delta.tables")}
    sys.modules["delta"] = pkg
    sys.modules["delta.tables"] = fake
    try:
        return DeltaTreeBucket(spark, root), old
    finally:
        pass  # caller restores via _restore_modules


def _restore_modules(old):
    import sys

    for k, v in old.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


def test_delta_bucket_upsert_is_one_atomic_merge(spark, tmp_path):
    """upsert = ONE MERGE commit: update/insert by node_id, stale nodes
    of the replaced trees deleted via whenNotMatchedBySourceDelete —
    a shrunken tree never leaves orphan rows."""
    log: list = []
    bucket, old = _fake_delta_bucket(spark, str(tmp_path / "d"), log)
    try:
        nodes = forest_from_trees(
            spark, {"t1": parse_tree("(ROOT (ENT::a x))")}
        )
        bucket.upsert(nodes)
    finally:
        _restore_modules(old)
    kinds = [e[0] for e in log]
    assert kinds == [
        "isDeltaTable", "forPath", "alias", "merge",
        "whenMatchedUpdateAll", "whenNotMatchedInsertAll",
        "whenNotMatchedBySourceDelete", "execute",
    ]
    merge_cond = next(e[1] for e in log if e[0] == "merge")
    assert merge_cond == "t.node_id = s.node_id"
    del_cond = next(e[1] for e in log if e[0] == "whenNotMatchedBySourceDelete")
    assert "tree_id" in del_cond and "t1" in del_cond  # isin over the batch ids


def test_delta_bucket_discard_is_predicate_delete(spark, tmp_path):
    log: list = []
    bucket, old = _fake_delta_bucket(spark, str(tmp_path / "d"), log)
    try:
        bucket.discard(["t1", "t2"])
    finally:
        _restore_modules(old)
    assert [e[0] for e in log] == ["isDeltaTable", "forPath", "delete"]
    assert "tree_id" in log[-1][1] and "t1" in log[-1][1]


def test_delta_bucket_empty_read_and_upsert_bootstrap(spark, tmp_path):
    """A missing table reads as an empty NODE_SCHEMA frame; the first
    upsert bootstraps via a full write (recorded writer chain)."""
    log: list = []
    bucket, old = _fake_delta_bucket(
        spark, str(tmp_path / "d"), log, exists=False
    )
    try:
        assert bucket.read().count() == 0
        writes: list = []
        bucket.write = lambda df: writes.append(df)  # seam: no delta jar
        nodes = forest_from_trees(
            spark, {"t1": parse_tree("(ROOT (ENT::a x))")}
        )
        bucket.upsert(nodes)
        assert len(writes) == 1 and writes[0] is nodes
    finally:
        _restore_modules(old)

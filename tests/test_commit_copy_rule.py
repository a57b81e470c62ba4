"""The copy rule every commit keeps: building a new snapshot never
mutates anything reachable from its (cached) parent. Cached manifests
are shared with every reader in the process, so a builder that edited a
parent's dir list, delete entry or rename map in place would silently
rewrite history for time travel. Each case commits once on a table that
carries merge-on-read eras and rename maps, with the metadata cache
left warm, and compares the parent's serialized form before and after."""

import pytest
from pyspark.sql import Row

from datalake_iceberg_spark.tables import LakeCatalog

HIT = [("id", ">=", 30)]
MISS = [("id", ">=", 10_000)]


def _batch(spark, ids, v="new"):
    return spark.createDataFrame([Row(id=i, v=v, x=i) for i in ids])


def _fast_forward(t, spark):
    br = t.create_branch("dev")
    br.append(_batch(spark, [200]))
    t.fast_forward("dev")


def _publish(t, spark):
    t.stage_append(_batch(spark, [300]), "w1")
    t.publish_staged("w1")


COMMITS = {
    "append": lambda t, s: t.append(_batch(s, [100])),
    "merge_cow": lambda t, s: t.merge(_batch(s, [1, 2, 101])),
    "merge_mor": lambda t, s: t.merge(_batch(s, [1, 2, 101]), mode="merge-on-read"),
    "delete_keys_cow": lambda t, s: t.delete_keys(s.createDataFrame([Row(id=3)])),
    "delete_keys_mor": lambda t, s: t.delete_keys(
        s.createDataFrame([Row(id=3)]), mode="merge-on-read"),
    "delete_where_cow_hit": lambda t, s: t.delete_where(HIT),
    "delete_where_cow_miss": lambda t, s: t.delete_where(MISS),
    "delete_where_mor_hit": lambda t, s: t.delete_where(HIT, mode="merge-on-read"),
    "delete_where_mor_miss": lambda t, s: t.delete_where(MISS, mode="merge-on-read"),
    "update_where_cow_hit": lambda t, s: t.update_where(HIT, {"v": "'u'"}),
    "update_where_cow_miss": lambda t, s: t.update_where(MISS, {"v": "'u'"}),
    "update_where_mor_hit": lambda t, s: t.update_where(
        HIT, {"v": "'u'"}, mode="merge-on-read"),
    "update_where_mor_miss": lambda t, s: t.update_where(
        MISS, {"v": "'u'"}, mode="merge-on-read"),
    "rollback_to": lambda t, s: t.rollback_to(0),
    "publish_staged": _publish,
    "create_branch_fast_forward": _fast_forward,
    "rebucket": lambda t, s: t.rebucket(1),
    "rewrite_data_files": lambda t, s: t.rewrite_data_files(),
    "set_properties": lambda t, s: t.set_properties({"owner": "ops"}),
    "add_column": lambda t, s: t.add_column("z", "int"),
    "rename_column": lambda t, s: t.rename_column("v", "w"),
}


@pytest.mark.parametrize("kind", sorted(COMMITS))
def test_commit_leaves_cached_parent_untouched(spark, tmp_path, kind):
    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace(
        "db.t", spark.createDataFrame([Row(id=i, v=f"v{i}", c=i) for i in range(40)]),
        key=["id"], n_buckets=2,
    )
    # a rename map on every dir, then a merge-on-read era over them
    t.rename_column("c", "x")
    t.delete_keys(spark.createDataFrame([Row(id=7), Row(id=8)]), mode="merge-on-read")
    parent = t.snapshot()
    assert parent.deletes and parent.renames
    before = t.snapshot(parent.version).to_json()
    COMMITS[kind](t, spark)
    assert t.current_version() > parent.version
    assert t.snapshot(parent.version).to_json() == before

"""r16 (ADVICE r15): the queries.load schema/partition memos must
invalidate when the file at a path changes — a fixture regenerated
in-process with a different schema must re-sniff, not silently read
all-null columns through the stale schema."""

import os
import shutil

from datalake_iceberg_spark import queries as q


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path)
    spark.range(5).selectExpr("id AS a").write.mode("overwrite").parquet(
        f"{d}/t.parquet"
    )
    df1 = q.load(spark, d, "t")
    assert [f.name for f in df1.schema.fields] == ["a"]
    # warm the memo, then regenerate the fixture with a DIFFERENT schema
    q.load(spark, d, "t")
    shutil.rmtree(f"{d}/t.parquet")
    spark.range(5).selectExpr(
        "id AS b", "CAST(id AS STRING) AS c"
    ).write.mode("overwrite").parquet(f"{d}/t.parquet")
    os.utime(f"{d}/t.parquet")  # ensure the dir mtime moves even on
    # coarse-timestamp filesystems
    df2 = q.load(spark, d, "t")
    assert [f.name for f in df2.schema.fields] == ["b", "c"]
    assert df2.count() == 5


def test_schema_memo_hit_serves_same_schema(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).selectExpr("id AS x").write.mode("overwrite").parquet(
        f"{d}/u.parquet"
    )
    s1 = q.load(spark, d, "u").schema
    s2 = q.load(spark, d, "u").schema  # memo hit
    assert s1 == s2
    assert q.load(spark, d, "u").count() == 3


def test_scan_parts_memo_keeps_one_entry_per_fixture(spark, tmp_path):
    """Regenerating one fixture in-process replaces its partition-count
    memo entry instead of adding one per fingerprint, and both memos
    refresh every time — with no mtime nudge: the fingerprint folds in
    the part files' names and sizes."""
    d = str(tmp_path)
    path = f"{d}/r.parquet"
    for n in (1, 2, 3):
        if os.path.exists(path):
            shutil.rmtree(path)
        spark.range(30).selectExpr(
            *[f"id AS c{i}" for i in range(n)]
        ).repartition(n).write.parquet(path)
        df = q.load_balanced(spark, d, "r")
        assert [f.name for f in df.schema.fields] == [f"c{i}" for i in range(n)]
        entries = [v for k, v in q._SCAN_PARTS_CACHE.items() if k[0] == path]
        assert len(entries) == 1
        assert entries[0][1] == n  # one split per part file

"""Table-property-driven writer options and maintenance ergonomics:
``write.parquet.compression-codec``, ``expire_snapshots(older_than=)``,
``remove_orphan_files(dry_run=)``.
"""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from datalake_iceberg_spark.tables import LakeCatalog


@pytest.fixture()
def catalog(spark, tmp_path):
    return LakeCatalog(spark, str(tmp_path / "warehouse"))


def _mk(catalog, spark, name, props=None, n=200):
    df = spark.createDataFrame([Row(id=i, v=f"x{i}") for i in range(n)])
    return catalog.create_or_replace(
        name, df, key=["id"], n_buckets=4, properties=props
    )


def _codecs(table):
    out = set()
    for f in glob.glob(f"{table.location}/data/*/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            out.add(md.row_group(g).column(0).compression)
    return out


def test_compression_codec_property_applies_to_all_writes(catalog, spark):
    t = _mk(catalog, spark, "db.z",
            props={"write.parquet.compression-codec": "zstd"})
    t.append(spark.createDataFrame([Row(id=1000, v="a")]))
    t.merge(spark.createDataFrame([Row(id=0, v="patched")]))
    t.rewrite_data_files()
    t.expire_snapshots()
    t.remove_orphan_files(older_than_s=0.0)
    assert _codecs(t) == {"ZSTD"}
    assert {r["v"] for r in t.lookup(
        spark.createDataFrame([Row(id=0)])).collect()} == {"patched"}


def test_default_codec_unchanged(catalog, spark):
    t = _mk(catalog, spark, "db.s")
    assert "ZSTD" not in _codecs(t)


def test_expire_older_than_keeps_recent(catalog, spark):
    t = _mk(catalog, spark, "db.e")
    for i in range(3):
        t.append(spark.createDataFrame([Row(id=1000 + i, v="a")]))
    # cutoff before any commit: nothing expires even with keep_last=1
    out = t.expire_snapshots(keep_last=1, older_than="1990-01-01T00:00:00")
    assert out["expired_snapshots"] == 0
    assert t.read(version=0).count() == 200  # still travelable
    # cutoff in the far future: falls back to keep_last semantics
    out = t.expire_snapshots(keep_last=1, older_than="9999-01-01T00:00:00")
    assert out["expired_snapshots"] == 3
    with pytest.raises(ValueError, match="no snapshot"):
        t.snapshot(0)


def test_orphan_dry_run_reports_without_deleting(catalog, spark):
    t = _mk(catalog, spark, "db.g")
    _mk(catalog, spark, "db.g")  # replace: the first commit dir dies
    t.expire_snapshots(keep_last=1)
    dry = t.remove_orphan_files(dry_run=True, older_than_s=0.0)
    assert dry["orphan_dirs_removed"] == 0
    assert len(dry["orphan_dirs_found"]) >= 1
    # nothing was touched: a real pass still finds the same dirs
    real = t.remove_orphan_files(older_than_s=0.0)
    assert real["orphan_dirs_removed"] == len(dry["orphan_dirs_found"])
    assert t.read().count() == 200


def _rg_ranges(table, col_idx=0):
    """(min, max) per row group for the given column across data files."""
    out = []
    for f in glob.glob(f"{table.location}/data/*/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col_idx).statistics
            out.append((st.min, st.max))
    return out


def test_declared_sort_order_applies_on_compaction(spark, catalog):
    import random
    rng = random.Random(7)
    ids = list(range(4000))
    rng.shuffle(ids)
    df = spark.createDataFrame([Row(id=i, v=i % 97) for i in ids])
    t = catalog.create_or_replace(
        "db.sorted", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v"},
    )
    t.append(spark.createDataFrame([Row(id=10_000 + i, v=i % 97) for i in range(500)]))
    out = t.rewrite_data_files()  # no args: declared order applies
    assert out["rewritten_buckets"] == 2
    t.expire_snapshots()
    t.remove_orphan_files(older_than_s=0.0)  # drop pre-compaction files before globbing
    # every rewritten file is v-sorted (the fixture fits one row group
    # per file, so order — not min/max extents — is the observable)
    files = glob.glob(f"{t.location}/data/*/**/*.parquet", recursive=True)
    assert files
    for f in files:
        vs = pq.read_table(f, columns=["v"])["v"].to_pylist()
        assert vs == sorted(vs), f
    assert t.read().count() == 4500


def test_declared_order_does_not_force_recluster(spark, catalog):
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(100)])
    t = catalog.create_or_replace(
        "db.nofrc", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v"},
    )
    # single dir per bucket, nothing fragmented: scheduled run is a no-op
    assert t.rewrite_data_files() == {"rewritten_buckets": 0, "rewritten_dirs": 0}
    # explicit request still re-clusters everything
    assert t.rewrite_data_files(sort_by=["v"])["rewritten_buckets"] == 2


def test_conflicting_declared_orders_rejected(spark, catalog):
    df = spark.createDataFrame([Row(id=i, v=i) for i in range(10)])
    t = catalog.create_or_replace(
        "db.conflict", df, key=["id"], n_buckets=2,
        properties={"write.sort-order": "v", "write.zorder-by": "id,v"},
    )
    with pytest.raises(ValueError, match="keep one"):
        t.rewrite_data_files()


def _sized_input(spark, tmp_path):
    """3000 rows of ~2 KB incompressible text, parquet-backed so Catalyst
    can SIZE the plan (in-memory relations fall back to core-count
    sizing, where the property is moot). Random payloads keep the
    estimate near 6 MB whatever the host's core count: a constant
    payload compresses to a dictionary per input file, so its size
    would track the number of files the session happened to write."""
    import random

    rows = [Row(id=i, v=random.Random(i).randbytes(1000).hex()) for i in range(3000)]
    spark.createDataFrame(rows).write.parquet(str(tmp_path / "in"))
    return spark.read.parquet(str(tmp_path / "in"))


def _files_with_and_without_target(catalog, df):
    import glob as _g

    t = catalog.create_or_replace(
        "db.small_files", df, key=["id"], n_buckets=2,
        properties={"write.target-file-size-bytes": "65536"},
    )
    many = len(_g.glob(f"{t.location}/data/*/**/*.parquet", recursive=True))
    t2 = catalog.create_or_replace("db.big_files", df, key=["id"], n_buckets=2)
    few = len(_g.glob(f"{t2.location}/data/*/**/*.parquet", recursive=True))
    assert t.read().count() == t2.read().count() == 3000
    return many, few


def test_target_file_size_property_fans_out_writes(spark, catalog, tmp_path):
    many, few = _files_with_and_without_target(catalog, _sized_input(spark, tmp_path))
    assert many > few >= 2


def test_target_file_size_property_fans_out_on_one_core(spark, catalog, tmp_path, monkeypatch):
    """The write's task count follows the table's byte target, not just
    the core count: at defaultParallelism 1 a core-capped write merges
    every sub-split of a bucket back into one file."""
    df = _sized_input(spark, tmp_path)
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda self: 1)
    )
    many, few = _files_with_and_without_target(catalog, df)
    assert few == 2
    assert many > 2 * few


def test_weighted_write_applies_drop_after_sort(spark, catalog):
    """The weight-aware write path (no sort_by) still drops the
    caller's synthetic columns before writing."""
    import glob as _g

    t = _mk(catalog, spark, "db.weighted_drop")
    df = t.read().selectExpr("*", "id * 2 AS _synthetic")
    out = t._write_bucketed(
        df, ["id"], 4, drop_after_sort=["_synthetic"],
        bucket_weights={0: 100, 1: 100, 2: 400, 3: 100},
    )
    files = [f for d in out.values() for f in _g.glob(f"{t.location}/{d[0]}/*.parquet")]
    assert files
    for f in files:
        assert "_synthetic" not in pq.read_schema(f).names


# ------------------------------------------------------ CHECK constraints


def test_check_constraint_gates_every_write_path(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=i, amount=float(i + 1)) for i in range(6)])
    t = cat.create_or_replace("db.c", df, key=["id"], n_buckets=2)
    t.add_constraint("amount_positive", "amount > 0")
    assert t.constraints() == {"amount_positive": "amount > 0"}

    bad = spark.createDataFrame([Row(id=100, amount=-1.0)])
    good = spark.createDataFrame([Row(id=100, amount=1.0)])
    with _pytest.raises(ValueError, match="amount_positive"):
        t.append(bad)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.merge(bad)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.merge(bad, mode="merge-on-read")
    with _pytest.raises(ValueError, match="amount_positive"):
        t.update_where([("id", "=", 1)], {"amount": -5.0})
    # nothing landed
    assert t.read().where("amount <= 0").count() == 0
    # compliant writes proceed
    t.merge(good)
    assert t.read().where("id = 100").count() == 1
    # NULL evaluations are violations (ingestion-gate semantics)
    with _pytest.raises(ValueError, match="amount_positive"):
        t.append(spark.createDataFrame([Row(id=101, amount=None)],
                                       "id long, amount double"))


def test_add_constraint_validates_existing_rows(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=1, amount=-3.0), Row(id=2, amount=2.0)])
    t = cat.create_or_replace("db.v", df, key=["id"], n_buckets=2)
    with _pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")
    t.add_constraint("pos", "amount > 0", validate=False)  # adopt forward-only
    with _pytest.raises(ValueError, match="pos"):
        t.append(spark.createDataFrame([Row(id=3, amount=-1.0)]))
    # untouched pre-existing violations survive an unrelated update
    t.update_where([("id", "=", 2)], {"amount": 5.0})
    assert t.read().where("id = 1").collect()[0].amount == -3.0


def test_drop_constraint(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    t = cat.create_or_replace(
        "db.dc", spark.createDataFrame([Row(id=1, amount=1.0)]), key=["id"]
    )
    t.add_constraint("pos", "amount > 0")
    t.drop_constraint("pos")
    t.append(spark.createDataFrame([Row(id=2, amount=-1.0)]))  # no gate now
    with _pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("pos")


def test_rename_table_moves_everything(spark, tmp_path):
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(8)])
    t = cat.create_or_replace("db.old_name", df, key=["id"], n_buckets=2)
    t.merge(spark.createDataFrame([Row(id=1, v=9.0)]))
    t.create_tag("release")
    renamed = cat.rename_table("db.old_name", "db.new_name")
    assert renamed.read().count() == 8
    assert renamed.read(tag="release").count() == 8
    assert renamed.read(version=0).count() == 8  # time travel travels too
    assert "db.new_name" in cat.list_tables("db")
    assert "db.old_name" not in cat.list_tables("db")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no such table"):
        cat.rename_table("db.old_name", "db.x")


def test_add_constraint_validate_counts_null_as_violation(spark, tmp_path):
    """validate=True must use the same NULL semantics as the write gate:
    a row where the expression evaluates NULL fails validation — else a
    table validates clean while identical rows are rejected on the very
    next write."""
    import pytest as _pytest
    from pyspark.sql import Row

    from datalake_iceberg_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [Row(id=1, amount=None), Row(id=2, amount=2.0)],
        "id long, amount double",
    )
    t = cat.create_or_replace("db.nullv", df, key=["id"], n_buckets=2)
    with _pytest.raises(ValueError, match="existing rows violate"):
        t.add_constraint("pos", "amount > 0")

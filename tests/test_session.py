"""spread_narrow_scan's metadata-only split estimate."""

from goprowl_spark.session import spread_narrow_scan

MPB = "spark.sql.files.maxPartitionBytes"


def test_spread_narrow_scan_reads_unit_suffixed_partition_bytes(spark, tmp_path):
    """``128m`` is 128 MiB, not 128 bytes: a one-file table is still one
    split, so the scan must be spread to the session's parallelism."""
    path = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(path)
    old = spark.conf.get(MPB, None)
    spark.conf.set(MPB, "128m")
    try:
        df = spark.read.parquet(path)
        spread = spread_narrow_scan(df, "id")
        target = spark.sparkContext.defaultParallelism
        assert spread.rdd.getNumPartitions() == target
    finally:
        if old is None:
            spark.conf.unset(MPB)
        else:
            spark.conf.set(MPB, old)

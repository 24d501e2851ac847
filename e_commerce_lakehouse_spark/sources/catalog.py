"""Catalog / table management (reference K2/K3/K7/K8 + show_tables.py).

The reference manages Iceberg tables through a Nessie catalog (DROP
TABLE IF EXISTS + createOrReplace, silver_clean_transform.py:44-49,77-79)
and inspects gold with listTables/count/show (show_tables.py:42-78).
Here the same surface runs on Spark's built-in catalog (in-memory or
Hive — session config, not operator logic).

Bucketing: `save_bucketed` writes a table bucketed on the join key so
fact-fact joins become co-located (zero-shuffle) — the 100 TB answer to
the reference's biggest joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.parallelize import local_checkpoint_tracked


def drop_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS (reference K7)."""
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def table_exists(spark: SparkSession, name: str) -> bool:
    """Existence probe (reference K8 checks MinIO object lists)."""
    return spark.catalog.tableExists(name)


def create_or_replace(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    partition_by: tuple[str, ...] = (),
) -> None:
    """createOrReplace analog (reference K2/K3): drop + saveAsTable,
    optionally partitioned."""
    drop_table(spark, name)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(name)


def append_evolve(spark: SparkSession, df: DataFrame, name: str) -> None:
    """Schema-evolving append — the Iceberg ``merge-schema`` write the
    reference's gold sink uses (gold_transfrom.py:73,92
    ``.option("merge-schema","true")``): appending a frame whose schema
    gained or lost columns widens the TABLE schema to the union, with
    missing columns null-filled on BOTH the old rows and the new batch.

    Without this, a user re-running gold after adding a metric loses the
    new column (plain overwrite) or fails the append (schema mismatch).

    Implementation on the parquet catalog: if the schemas already match
    (by name), plain append. Otherwise rewrite = existing ∪ new via
    unionByName(allowMissingColumns=True) — a full rewrite, like
    Iceberg's copy-on-write path for metadata-incompatible changes. The
    combined frame is localCheckpoint-materialized first because Spark
    cannot overwrite a table that is also the read source of the write.
    At warehouse scale the same operation is a metadata-only schema
    update + partition append; the parquet stand-in keeps the exact
    user-visible semantics.
    """
    if not table_exists(spark, name):
        df.write.mode("overwrite").saveAsTable(name)
        return
    existing = spark.table(name)
    if set(existing.columns) == set(df.columns):
        df.select(*existing.columns).write.mode("append").saveAsTable(name)
        return
    combined, _ = local_checkpoint_tracked(
        existing.unionByName(df, allowMissingColumns=True)
    )
    create_or_replace(spark, combined, name)


def save_bucketed(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed table: joins/aggs on ``bucket_cols`` between
    same-bucketed tables need NO exchange — the physical plan reads
    co-located buckets directly. At 100 TB this converts the biggest
    shuffle (fact ⋈ fact) into a local merge."""
    drop_table(spark, name)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)


def inspect_tables(spark: SparkSession, database: str | None = None) -> list[dict]:
    """Gold-layer smoke inspection (reference show_tables.py:42-50):
    name, row count, schema string for every catalog table."""
    out = []
    for t in spark.catalog.listTables(database):
        full = f"{t.namespace[0]}.{t.name}" if t.namespace else t.name
        df = spark.table(full)
        out.append(
            {
                "table": full,
                "rows": df.count(),
                "schema": df.schema.simpleString(),
            }
        )
    return out

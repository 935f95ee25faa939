"""File readers/writers + artifact versioning (S3-S8, S19).

The reference persists a versioned artifact per stage to GCS and resolves
"latest" by parsing ``name__<YYYYmmddHHMMSS>_<sha7>__.ext``
(R/cloud-storage.R:170-214, R/utils.R:29-51). Here: parquet stage
boundaries with the same versioned-name convention; storage can be any
Hadoop-compatible filesystem (file://, gs://, s3a://) — the path prefix is
the only difference at cluster scale.
"""

from __future__ import annotations

import datetime as _dt
import glob
import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

_VERSION_RE = re.compile(r"^(?P<prefix>.+)__(?P<ts>\d{14})_(?P<sha>[0-9a-f]+)__$")


def add_version(prefix: str, extension: str, ts: _dt.datetime | None = None, sha_nchar: int = 7) -> str:
    """Versioned artifact name ``prefix__<ts>_<sha7>__.ext``
    (add_version, R/utils.R:29-51). The sha is derived from the timestamp
    (the reference uses the git sha; content-free either way)."""
    ts = ts or _dt.datetime.now(_dt.timezone.utc)
    stamp = ts.strftime("%Y%m%d%H%M%S")
    sha = hashlib.sha1(stamp.encode()).hexdigest()[:sha_nchar]
    return f"{prefix}__{stamp}_{sha}__.{extension}"


def resolve_latest(directory: str, prefix: str, extension: str) -> str | None:
    """Resolve the newest COMMITTED versioned artifact for a prefix
    (cloud_object_name version='latest', R/cloud-storage.R:170-214):
    group by base name, take max timestamp. A directory artifact counts
    only once its writer committed it (Spark's ``_SUCCESS`` marker), so a
    write that died mid-stage is never resumed from; file artifacts are
    complete by construction."""
    best, best_ts = None, ""
    for path in glob.glob(os.path.join(directory, f"{prefix}__*__.{extension}")):
        stem = os.path.basename(path)[: -(len(extension) + 1)]
        m = _VERSION_RE.match(stem)
        if (
            m
            and m.group("prefix") == prefix
            and m.group("ts") > best_ts
            and (not os.path.isdir(path) or os.path.exists(os.path.join(path, "_SUCCESS")))
        ):
            best, best_ts = path, m.group("ts")
    return best


def read_csv_quarantined(
    spark: SparkSession, path: str, schema: StructType, **options
) -> tuple[DataFrame, DataFrame]:
    """Typed CSV read that QUARANTINES malformed rows instead of crashing
    the job (PERMISSIVE) or silently dropping them (DROPMALFORMED): returns
    (clean, quarantine) where quarantine holds the raw text of every row
    that failed the schema. At lake scale a single bad row in TB of vendor
    CSV must neither kill a 6-hour job nor vanish unaudited — the
    quarantine frame is written next to the stage for triage (mirrors the
    reference's human-review alert flow, R/validate-landings.R:209-337,
    applied to ingest).

    One scan serves both outputs (the corrupt-record column is populated
    by the same parse), split by a null test."""
    from pyspark.sql import functions as F

    corrupt_col = "_corrupt_record"
    full_schema = StructType(schema.fields + [StructField(corrupt_col, StringType())])
    raw = (
        spark.read.options(header=True, mode="PERMISSIVE", **options)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full_schema)
        .csv(path)
        .cache()
    )
    clean = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantine = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_record")
    )
    return clean, quarantine


def _fresh_versioned_path(directory: str, prefix: str) -> str:
    """Versioned path that does not collide with an existing artifact. The
    version stamp has 1 s resolution, so two stage writes inside the same
    second would otherwise target the SAME path — and an upsert lazily
    reading the current artifact while overwriting that path loses rows.
    Bump the stamp until unique (artifacts are immutable once written)."""
    ts = _dt.datetime.now(_dt.timezone.utc)
    while True:
        path = os.path.join(directory, add_version(prefix, "parquet", ts=ts))
        if not os.path.exists(path):
            return path
        ts += _dt.timedelta(seconds=1)


def write_stage(df: DataFrame, directory: str, prefix: str, mode: str = "overwrite") -> str:
    """Parquet stage boundary with a versioned directory name (S6/S7/S8
    replacement: parquet+zstd instead of gz RDS)."""
    path = _fresh_versioned_path(directory, prefix)
    df.write.mode(mode).parquet(path)
    return path


def write_stage_partitioned(
    df: DataFrame,
    directory: str,
    prefix: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> str:
    """Hive-partitioned parquet stage (``.../col=value/`` layout). The
    physical layout IS the index at lake scale: a reader filtering on a
    partition column scans only matching directories (PartitionFilters in
    the plan — no file listing, no row groups, no IO for the rest). Use for
    the big append-mostly facts (landings by month, tracks by trip-date);
    keep partition cardinality in the hundreds-to-thousands so files stay
    row-group sized."""
    path = _fresh_versioned_path(directory, prefix)
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return path


def write_stage_clustered(
    df: DataFrame,
    directory: str,
    prefix: str,
    cluster_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> str:
    """Range-clustered parquet stage: rows are range-partitioned on
    ``cluster_cols`` (each output file owns a disjoint key range) and
    sorted within each file. The complement to hive partitioning for
    HIGH-cardinality keys (timestamps, ids) where a directory per value is
    impossible: parquet row-group min/max statistics become selective, so
    a range or point predicate reads a few files instead of all of them —
    the same effect Z-ordering targets for the single-key case.

    One range-exchange at write time buys every downstream range scan; the
    in-file sort also makes the files maximally RLE/dictionary
    compressible on the cluster key."""
    path = _fresh_versioned_path(directory, prefix)
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )
    return path


def read_stage(spark: SparkSession, directory: str, prefix: str) -> DataFrame:
    """Read the latest version of a stage artifact."""
    path = resolve_latest(directory, prefix, "parquet")
    if path is None:
        raise FileNotFoundError(f"no artifact for prefix={prefix} in {directory}")
    return spark.read.parquet(path)


def write_public_tsv(df: DataFrame, path: str) -> None:
    """TSV public export (S5, R/format-public-data.R:206-214)."""
    df.write.mode("overwrite").options(header=True, sep="\t").csv(path)


def write_public_json(df: DataFrame, path: str) -> None:
    """JSON export (S19, R/export.R:386-404); one JSON object per line
    (portal files are small — coalesce keeps a single part)."""
    df.coalesce(1).write.mode("overwrite").json(path)


def upsert_stage(
    spark: SparkSession,
    batch: DataFrame,
    directory: str,
    prefix: str,
    key_cols: list[str],
) -> str:
    """MERGE-style upsert onto a versioned parquet stage: rows in the
    incoming batch replace same-key rows in the latest artifact; everything
    else carries over; the result is written as a NEW versioned artifact
    (immutable lineage, like the reference's versioned GCS objects S7/S8 +
    its new-vs-old flags merge, R/validate-landings.R:294-296).

    The survivor set is ``latest LEFT ANTI batch`` (one shuffle on the key,
    or a broadcast anti-join when the batch is small) unioned with the
    batch — the plain-parquet equivalent of Delta's MERGE WHEN MATCHED
    UPDATE / WHEN NOT MATCHED INSERT for append-mostly pipelines."""
    from pyspark.sql import functions as F  # noqa: F401

    try:
        current = read_stage(spark, directory, prefix)
    except FileNotFoundError:
        return write_stage(batch, directory, prefix)
    carried = current.join(batch.select(*key_cols), on=key_cols, how="left_anti")
    merged = carried.unionByName(batch)
    return write_stage(merged, directory, prefix)


def schema_diff(spark, path_a: str, path_b: str):
    """Schema drift between two parquet snapshots — added / removed /
    type-changed columns (the check a pipeline runs before MERGEing a new
    vendor drop onto a stage). Reads FOOTER metadata only; no data scan.

    Returns a DataFrame (column_name, status, type_a, type_b) where
    status in {added, removed, type_changed, unchanged}.
    """
    fa = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path_a).schema.fields}
    fb = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path_b).schema.fields}
    rows = []
    for name in sorted(set(fa) | set(fb)):
        ta, tb = fa.get(name), fb.get(name)
        if ta is None:
            status = "added"
        elif tb is None:
            status = "removed"
        elif ta != tb:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((name, status, ta, tb))
    return spark.createDataFrame(
        rows, "column_name string, status string, type_a string, type_b string"
    )

"""Data plane: turn log file lists into DataFrames.

The reference stops at the file list (README.md:14-16); this module is the
compute engine it delegates to, and the ONLY module of the Spark data plane
that knows a data file's identity on both sides of the boundary:

- `scan_paths`: the path a Spark scan reads for a canonical log path — the
  local path, the remote URI when the scheme's Hadoop connector serves the
  scan, or the local cache copy (datacache.py) when it does not.
- `file_name`: Spark's reported file name (input_file_name(), a
  percent-encoded Hadoop URI) decoded back to that scan path.
- `read_files_with_pv`: per-file values — the LOG's partitionValues (the
  canonical source per the Delta protocol) and, for change feeds,
  `_commit_version` — attached by ONE broadcast join.  The scan path ->
  values mapping is a driver-local Arrow relation (a LocalRelation: no
  Spark job and no Python worker per query), so the broadcast carries
  O(#files) data while the plan stays O(1), with no extra shuffle of data
  rows.  The join key is the scan's `_metadata.file_path`, decoded by the
  same rule as `file_name`: a deterministic column, so Catalyst pushes
  data filters through it into the parquet scan (row-group skipping),
  which the nondeterministic input_file_name() would stop.
- `scan_files` / `read_scan`: a snapshot's files keyed by scan path,
  resolved once, so DML and MERGE map the `file_name()` values a job
  collects back to AddFiles by lookup, with no second resolution.

DML, MERGE, changes_df and table_changes all go through these, so a
partition value with a space, non-ASCII, '%' or '+' resolves the same way
everywhere.  (datasource._readable_paths is the one exception: it runs in
a Python planning worker with no JVM handle.)

Design for scale: ONE `spark.read.parquet` over all surviving files, never
a read per file or partition; the declared schema is enforced
(schemaString is authoritative), so column pruning and pushdown work
against the true types.
"""

from __future__ import annotations

from collections.abc import Mapping

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from delta_go_spark.actions import AddFile
from delta_go_spark.snapshot import Snapshot, canonicalize_path

# The per-file change-feed column read_files_with_pv attaches.
COMMIT_VERSION_COL = "_commit_version"


def _data_schema(full: StructType, partition_cols: list[str]) -> StructType:
    pset = {c.lower() for c in partition_cols}
    return StructType([f for f in full.fields if f.name.lower() not in pset])


def scan_paths(
    spark: SparkSession, table_root: str, canonical: list[str], store=None
) -> list[str]:
    """The path the scan reads for each canonical log path, in order.

    A cloud table whose scheme has a Hadoop connector (probed once per
    scheme, see datacloud.py) passes its URIs straight through: executors
    stream ranged reads from the object store and no byte crosses the
    driver.  Without a connector each object is read from its local cache
    copy, downloaded here in one parallel batch if missing."""
    from delta_go_spark.datacache import is_cloud_uri, localize
    from delta_go_spark.datacloud import use_native_cloud

    if not is_cloud_uri(table_root) or use_native_cloud(spark, table_root):
        return list(canonical)
    return localize(canonical, store)


def _decode_file_uri(uri: Column) -> Column:
    """A scan's reported file URI decoded back to the path `scan_paths`
    gave the scan.

    Spark reports a percent-encoded URI (a space is %20, '%' is %25,
    non-ASCII stays literal): strip the file: scheme, collapse the
    authority slashes and %-decode, escaping '+' first, which url_decode
    would otherwise turn into a space."""
    return F.url_decode(
        F.regexp_replace(F.regexp_replace(uri, "^file:/+", "/"), r"\+", "%2B")
    )


def file_name() -> Column:
    """The current row's file, as the path `scan_paths` gave the scan."""
    return _decode_file_uri(F.input_file_name())


def _local_df(spark: SparkSession, schema: StructType, columns: list[list]) -> DataFrame:
    """`columns` (one list per field of `schema`) as a driver-local
    relation: an Arrow table becomes a LocalRelation, which Spark plans as
    a LocalTableScan with no job and no Python worker."""
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def read_files_with_pv(
    spark: SparkSession,
    schema: StructType,
    pcols: list[str],
    files: Mapping[str, dict] | Mapping[str, tuple[dict, int]],
    versioned: bool = False,
) -> DataFrame:
    """One scan over `files` (scan path -> partitionValues), with partition
    columns injected from the supplied values — the log is the canonical
    source per the Delta protocol.  `versioned` files map each scan path
    to (partitionValues, commit version), and the result also carries a
    `_commit_version` column from the same join.

    The mapping is one driver-local Arrow relation (string partition
    values, int64 versions) broadcast-joined on the scan's decoded
    `_metadata.file_path`: its size is data, not plan, building it runs
    no Spark job, and data filters above the result still reach the
    parquet scan's PushedFilters."""
    out_schema = schema
    if versioned:
        out_schema = StructType(
            [*schema.fields, StructField(COMMIT_VERSION_COL, LongType())]
        )
    if not files:
        return _local_df(spark, out_schema, [[] for _ in out_schema.fields])
    if not pcols and not versioned:
        return spark.read.schema(schema).parquet(*files)

    df = spark.read.schema(_data_schema(schema, pcols)).parquet(*files)

    fields = [StructField("_pv_file", StringType(), False)] + [
        StructField(f"_pv_{c}", StringType(), True) for c in pcols
    ]
    entries = list(files.values())
    pvs = [pv for pv, _ in entries] if versioned else entries
    columns = [list(files), *[[(pv or {}).get(c) for pv in pvs] for c in pcols]]
    if versioned:
        fields.append(StructField(COMMIT_VERSION_COL, LongType(), True))
        columns.append([v for _, v in entries])
    pv_df = _local_df(spark, StructType(fields), columns)

    field_by_lower = {f.name.lower(): f for f in schema.fields}
    key = _decode_file_uri(df.metadataColumn("_metadata")["file_path"])
    df = df.withColumn("_pv_file", key).join(
        F.broadcast(pv_df), on="_pv_file", how="left"
    )
    for c in pcols:
        declared = field_by_lower[c.lower()]
        raw = F.nullif(F.col(f"_pv_{c}"), F.lit(""))  # empty string = NULL (record.go:34-45)
        df = df.withColumn(c, raw.cast(declared.dataType))
    return df.select(*[f.name for f in out_schema.fields])


def scan_files(spark: SparkSession, snapshot: Snapshot, files: list[AddFile]) -> dict[str, AddFile]:
    """`files` keyed by their scan paths, resolved once: a DML job reads
    them with `read_scan` and maps the `file_name()` values it collects
    back to AddFiles by plain lookup, with no second resolution."""
    root = snapshot.table_root
    paths = scan_paths(
        spark,
        root,
        [canonicalize_path(a.path, root) for a in files],
        getattr(snapshot, "store", None),
    )
    return dict(zip(paths, files))


def read_scan(spark: SparkSession, snapshot: Snapshot, scan: dict[str, AddFile]) -> DataFrame:
    """One scan over a `scan_files` result, as `files_to_df` reads it."""
    meta = snapshot.metadata()
    schema = meta.schema()
    if schema is None:
        raise ValueError("snapshot has no schema")
    return read_files_with_pv(
        spark,
        schema,
        meta.partition_columns,
        {p: a.partition_values or {} for p, a in scan.items()},
    )


def files_to_df(spark: SparkSession, snapshot: Snapshot, files: list[AddFile]) -> DataFrame:
    return read_scan(spark, snapshot, scan_files(spark, snapshot, files))


def snapshot_to_df(snapshot: Snapshot, spark: SparkSession) -> DataFrame:
    return files_to_df(spark, snapshot, snapshot.all_files())

"""Table-maintenance operators: small-files compaction and Z-order
interleaving — the file-layout hygiene a 100 TB lake needs and the
reference's minute-file rotation (main.py:38-47, one object per minute
per symbol) makes unavoidable: a day of its output is 1440 tiny files
per symbol, the classic small-files problem.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.sources.tsv import _tmp_path
from binancedatapipelineinaws_spark.tables import load_table

FRAGMENT_FILES = 64  # simulated small-files input layout
COMPACT_FILES = 4  # target layout (at 100 TB: ceil(bytes / 512 MB))


def compact(df: DataFrame, path: str, n_files: int) -> None:
    """Rewrite to exactly ``n_files`` parquet files.  Round-robin
    repartition (not coalesce: coalesce collapses upstream parallelism
    into the surviving tasks, so the write would run on n_files cores)."""
    df.repartition(n_files).write.mode("overwrite").parquet(path)


def _parquet_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "*.parquet")))


@register(
    "q_maint_compact",
    oracle=f"""
SELECT count(*) AS n_rows,
       {FRAGMENT_FILES} AS n_files_before,
       {COMPACT_FILES} AS n_files_after
FROM events
""",
)
def q_maint_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction, measured for real: fragment `events`
    into {FRAGMENT_FILES} files (the reference's per-minute rotation
    writ small), compact to {COMPACT_FILES}, and report row count plus
    ACTUAL on-disk file counts at each step.  The oracle states the
    layout contract — if compaction over- or under-merged, the
    measured counts would break the match.  Row count is re-read from
    the compacted output, so data loss would too."""
    events = load_table(spark, sf_dir, "events").select("event_id")
    frag_path = _tmp_path("events_frag", sf_dir)
    events.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag_path)
    compact_path = _tmp_path("events_compact", sf_dir)
    compact(spark.read.parquet(frag_path), compact_path, COMPACT_FILES)
    return spark.createDataFrame(
        [
            (
                spark.read.parquet(compact_path).count(),
                _parquet_files(frag_path),
                _parquet_files(compact_path),
            )
        ],
        "n_rows long, n_files_before int, n_files_after int",
    )


# --- Z-order interleave ------------------------------------------------------
# Morton code over two bucketized dimensions: sorting/range-
# partitioning the write by zvalue clusters BOTH dimensions into each
# parquet row group, so min/max stats prune scans filtered on either
# (the data-skipping trick Delta/Iceberg OPTIMIZE ZORDER uses).

Z_BITS = 8


def _interleave(a, b):
    """Morton-interleave the low Z_BITS of two int columns (a even
    bits, b odd bits) with plain shift/mask arithmetic."""
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(1), 2 * i)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(1), 2 * i + 1)
        )
    return z


def _duck_interleave(a: str, b: str) -> str:
    terms = " + ".join(
        f"((({a} >> {i}) & 1) << {2 * i}) + ((({b} >> {i}) & 1) << {2 * i + 1})"
        for i in range(Z_BITS)
    )
    return f"({terms})"


@register(
    "q_ext_zorder",
    oracle=f"""
SELECT event_id,
       user_id % {1 << Z_BITS} AS bucket_user,
       CAST(floor(value) AS BIGINT) % {1 << Z_BITS} AS bucket_value,
       {_duck_interleave(f"user_id % {1 << Z_BITS}",
                         f"CAST(floor(value) AS BIGINT) % {1 << Z_BITS}")}
         AS zvalue
FROM events
""",
)
def q_ext_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order key per event over (user_id, value) buckets — map-only
    bit arithmetic.  Writing `events` range-partitioned by zvalue
    co-locates both dimensions per file for min/max data skipping."""
    events = load_table(spark, sf_dir, "events")
    bu = (F.col("user_id") % (1 << Z_BITS)).cast("long")
    bv = F.floor(F.col("value")).cast("long") % (1 << Z_BITS)
    return events.select(
        "event_id",
        bu.alias("bucket_user"),
        bv.alias("bucket_value"),
        _interleave(bu, bv).alias("zvalue"),
    )


@register(
    "q_scan_merge_schema",
    oracle="""
SELECT count(*) AS n_rows,
       -- BIGINT: DuckDB sum(int) is HUGEINT -> pandas float64, which
       -- hash-mismatches Spark's bigint in the driver's canonicalizer
       CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_type,
       CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_without_type
FROM events
""",
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the file lifecycle: two parquet batches with
    different schemas (a column added mid-stream — the reference's wire
    format changing under its per-minute rotation) land in one
    directory; `mergeSchema` reconciles them at read and back-fills the
    missing column with nulls.  The query verifies every row survived
    and null-ness tracks exactly which batch a row came from."""
    events = load_table(spark, sf_dir, "events")
    path = _tmp_path("events_evolve", sf_dir)
    old = events.filter(F.col("event_id") % 2 == 0).select("event_id", "value")
    new = events.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "value", "event_type"
    )
    old.write.mode("overwrite").parquet(path)
    new.write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col("event_type").isNotNull(), 1).otherwise(0)
        ).alias("n_with_type"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias(
            "n_without_type"
        ),
    )


SORTED_FILES = 8  # range partitions for the sorted layout


@register(
    "q_maint_sorted_write",
    oracle=f"""
SELECT count(*) AS n_rows,
       {SORTED_FILES} AS n_files,
       0 AS n_overlapping_pairs,
       min(l_shipdate) AS min_ship,
       max(l_shipdate) AS max_ship
FROM lineitem
""",
)
def q_maint_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned sorted layout for min/max data skipping:
    `repartitionByRange` + `sortWithinPartitions` on the filter column
    writes files whose l_shipdate ranges are DISJOINT, so a date
    predicate prunes whole files from the footer statistics alone (the
    complement of q_ext_zorder, which interleaves two dimensions).

    The reported n_files / overlap count are measured from the ACTUAL
    parquet footers (pyarrow), not assumed: range partitioning routes
    equal keys to one side of each boundary, so zero overlapping file
    ranges is an invariant of the layout, and the oracle states it as
    the expected constant.  At 100 TB the same two-liner scales by
    raising the partition count to ceil(bytes / 512 MB)."""
    li = load_table(spark, sf_dir, "lineitem")
    path = _tmp_path("lineitem_sorted", sf_dir)
    (
        li.repartitionByRange(SORTED_FILES, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    import pyarrow.parquet as pq

    spans = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "l_shipdate"
            )
            st = col.statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append((lo, hi))
    overlaps = sum(
        1
        for i in range(len(spans))
        for j in range(i + 1, len(spans))
        if spans[i][0] <= spans[j][1] and spans[j][0] <= spans[i][1]
    )
    back = spark.read.parquet(path)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.lit(len(spans)).alias("n_files"),
        F.lit(overlaps).alias("n_overlapping_pairs"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


# --- bucketed co-located join ------------------------------------------------
# THE 100 TB join strategy the one-shot queries can't show: write both
# fact tables bucketed (and sorted) on the join key, and every future
# join on that key runs with ZERO Exchange — the shuffle is paid once
# at write time, then amortized over every downstream query.  This is
# the Spark-native equivalent of co-located/partitioned joins in MPP
# warehouses.

N_BUCKETS = 8


@register(
    "q_maint_bucketed_join",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_lineitems,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS total_price
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
""",
)
def q_maint_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables PRE-BUCKETED on the join key: orders and
    lineitem are written with `bucketBy({N_BUCKETS}, orderkey)` +
    `sortBy`, then joined — the plan has no Exchange on either side
    (machine-asserted in tests/test_plans.py), because matching bucket
    counts + key make the join a per-bucket merge.

    At 100 TB this is the difference between shuffling the fact table
    on EVERY join (TBs of network per query) and shuffling it once at
    ingest: the layout the reference's Aurora gets from its B-tree
    primary key (start_all_pipeline.py:463-464), re-expressed as a
    lake-table property."""
    digest = __import__("hashlib").md5(sf_dir.encode()).hexdigest()[:8]
    t_orders = f"b_orders_{digest}_{os.getpid()}"
    t_lineitem = f"b_lineitem_{digest}_{os.getpid()}"
    # external tables at explicit tmp paths: a foreign session (the
    # driver hands us one) would otherwise write ./spark-warehouse into
    # its own CWD
    if not spark.catalog.tableExists(t_orders):
        load_table(spark, sf_dir, "orders").write.bucketBy(
            N_BUCKETS, "o_orderkey"
        ).sortBy("o_orderkey").option(
            "path", _tmp_path(t_orders, sf_dir)
        ).mode("overwrite").saveAsTable(t_orders)
    if not spark.catalog.tableExists(t_lineitem):
        load_table(spark, sf_dir, "lineitem").write.bucketBy(
            N_BUCKETS, "l_orderkey"
        ).sortBy("l_orderkey").option(
            "path", _tmp_path(t_lineitem, sf_dir)
        ).mode("overwrite").saveAsTable(t_lineitem)
    # merge-join hint: at test scale AQE would broadcast the small side,
    # which hides the property under test — the bucketed sort-merge join
    # with NO shuffle on either input (at 100 TB neither side broadcasts
    # and this hinted plan is the one that runs anyway)
    o = spark.table(t_orders).hint("merge")
    li = spark.table(t_lineitem)
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


# --- hive-partitioned layout + partition pruning -----------------------------
# The other half of the lake-layout story next to sorting and bucketing:
# directory partitioning on a low-cardinality column means a filter on
# that column never LISTS (let alone reads) the other partitions'
# files.  At 100 TB with date/type partitioning this is the difference
# between scanning one day and scanning the lake.

PRUNE_TYPE = "purchase"


@register(
    "q_maint_partitioned_scan",
    oracle=f"""
SELECT count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       (SELECT count(DISTINCT event_type) FROM events) AS n_partition_dirs
FROM events
WHERE event_type = '{PRUNE_TYPE}'
""",
)
def q_maint_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (`partitionBy(event_type)`) then a
    partition-pruned read-back: the `event_type = '{PRUNE_TYPE}'`
    predicate resolves against the directory names during planning
    (PartitionFilters, machine-asserted in tests/test_plans.py), so
    the other partitions' files are never opened.  The partition-dir
    count is measured from the ACTUAL directory layout and the oracle
    pins it to the distinct-type count — an over- or under-split
    layout breaks the match; the pruned rollup re-reads real data, so
    row loss would too.  NULL event types are filtered BEFORE the
    write (ADVICE.md r6): `partitionBy` would route them to a
    __HIVE_DEFAULT_PARTITION__ directory that `count(DISTINCT ...)`
    — which skips NULL — would never count, so dropping them keeps
    the measured dir count equal to the oracle by construction (and
    cannot change n_rows/n_users: the read-back filters on a
    non-NULL constant)."""
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .filter(F.col("event_type").isNotNull())
    )
    path = _tmp_path("events_hivepart", sf_dir)
    events.write.mode("overwrite").partitionBy("event_type").parquet(path)
    n_dirs = len(glob.glob(os.path.join(path, "event_type=*")))
    back = spark.read.parquet(path).filter(
        F.col("event_type") == PRUNE_TYPE
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.lit(n_dirs).cast("long").alias("n_partition_dirs"),
    )


# --- ANALYZE-style column statistics ----------------------------------------

# columns with engine-identical string forms (ints, chars, dates);
# doubles are excluded on purpose — CAST(double AS VARCHAR) formats
# differently across engines and stats consumers want typed min/max
# anyway (this is the oracle-comparable projection of them)
_STATS_COLS = ("l_orderkey", "l_suppkey", "l_returnflag", "l_shipdate")


@register(
    "q_maint_analyze_stats",
    oracle="""
SELECT 'l_orderkey' AS column_name,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS ndv,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS null_count,
       CAST(min(l_orderkey) AS VARCHAR) AS min_s,
       CAST(max(l_orderkey) AS VARCHAR) AS max_s
FROM lineitem
UNION ALL
SELECT 'l_suppkey', CAST(count(DISTINCT l_suppkey) AS BIGINT),
       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(l_suppkey) AS VARCHAR), CAST(max(l_suppkey) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_returnflag', CAST(count(DISTINCT l_returnflag) AS BIGINT),
       CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
FROM lineitem
UNION ALL
SELECT 'l_shipdate', CAST(count(DISTINCT l_shipdate) AS BIGINT),
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR),
       CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR)
FROM lineitem
""",
)
def q_maint_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics (NDV, null count, min/max)
    for the CBO — what `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS` materializes, as an oracle-comparable query.  ONE corpus
    pass computes every column's aggregates side by side (count
    distinct expands internally; no per-column rescans), then a stack()
    unpivot emits one row per column.

    100 TB: exact NDV is the expensive part (one Expand shuffle per
    distinct column); production would swap approx_count_distinct
    (HLL, 2% default error) for the same plan minus the expansion —
    the documented exact/approx fork, same as q_agg_distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    date_s = F.col("l_shipdate").cast("date").cast("string")
    agg = li.agg(
        F.countDistinct("l_orderkey").alias("ndv1"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("nn1"),
        F.min("l_orderkey").cast("string").alias("mn1"),
        F.max("l_orderkey").cast("string").alias("mx1"),
        F.countDistinct("l_suppkey").alias("ndv2"),
        F.sum(F.col("l_suppkey").isNull().cast("long")).alias("nn2"),
        F.min("l_suppkey").cast("string").alias("mn2"),
        F.max("l_suppkey").cast("string").alias("mx2"),
        F.countDistinct("l_returnflag").alias("ndv3"),
        F.sum(F.col("l_returnflag").isNull().cast("long")).alias("nn3"),
        F.min("l_returnflag").cast("string").alias("mn3"),
        F.max("l_returnflag").cast("string").alias("mx3"),
        F.countDistinct("l_shipdate").alias("ndv4"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias("nn4"),
        F.min(date_s).alias("mn4"),
        F.max(date_s).alias("mx4"),
    )
    return agg.selectExpr(
        """stack(4,
             'l_orderkey',  ndv1, coalesce(nn1, 0L), mn1, mx1,
             'l_suppkey',   ndv2, coalesce(nn2, 0L), mn2, mx2,
             'l_returnflag',ndv3, coalesce(nn3, 0L), mn3, mx3,
             'l_shipdate',  ndv4, coalesce(nn4, 0L), mn4, mx4
           ) AS (column_name, ndv, null_count, min_s, max_s)"""
    )

"""JSON-lines source: the wire format the reference actually receives
(`await tscm.recv()` yields a JSON trade dict, reference main.py:35;
the TSV layer is its own serialization of that dict).  Two queries:
a lossless canonical round-trip through newline-delimited JSON, and a
quarantine scan that classifies injected malformed lines in one pass
instead of failing the load — the JSONL twin of
q_scan_tsv_quarantine.

Scale notes (100 TB): JSONL scans are splittable by line, so both
queries parallelize by file split; the quarantine classification is a
map-only projection (get_json_object + try_cast per field) with a
reason-bounded aggregate.  Schema-applied reads beat schema inference
at scale — inference is a second full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.canonical import BTCUSDT_CTE, btcusdt
from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.sources.tsv import (
    BTCUSDT_SCHEMA,
    _tmp_path,
)

# deterministic fault injection (the redact/quarantine inject-then-
# verify pattern): these classes must stay disjoint and their rules
# must match the oracle's CASE arithmetic exactly
JSONL_CHOP_MOD = 17  # bid % 17 == 3 -> line truncated (unparseable)
JSONL_TYPE_MOD = 19  # bid % 19 == 5 -> price becomes a JSON string


@register(
    "q_scan_jsonl",
    oracle="WITH " + BTCUSDT_CTE + "SELECT * FROM btcusdt",
)
def q_scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: canonical rows -> newline-delimited JSON -> schema-
    applied scan.  The oracle is the canonical table itself — doubles
    survive via shortest-round-trip serialization, timestamps via ISO
    8601 in the UTC session."""
    path = _tmp_path("btcusdt_jsonl", sf_dir)
    btcusdt(spark, sf_dir).write.mode("overwrite").json(path)
    return spark.read.schema(BTCUSDT_SCHEMA).json(path)


@register(
    "q_scan_jsonl_quarantine",
    oracle="WITH "
    + BTCUSDT_CTE
    + f"""
, classified AS (
  -- the oracle re-derives the injected fault classes from the SAME
  -- modular rules (chop wins when both hit), no file involved
  SELECT CASE
           WHEN bid % {JSONL_CHOP_MOD} = 3 THEN 'malformed_json'
           WHEN bid % {JSONL_TYPE_MOD} = 5 THEN 'bad_price_type'
           ELSE 'ok'
         END AS reason,
         bid
  FROM btcusdt
)
SELECT reason, CAST(count(*) AS BIGINT) AS n,
       min(CASE WHEN reason = 'ok' THEN bid END) AS min_ok_bid,
       max(CASE WHEN reason = 'ok' THEN bid END) AS max_ok_bid
FROM classified GROUP BY reason
""",
)
def q_scan_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-JSONL quarantine: serialize the canonical table to
    JSON lines, deterministically corrupt a subset (every
    17-residue-3 bid's line truncated mid-token; every 19-residue-5
    bid's price turned into a JSON string), then scan the file as
    TEXT and classify each line in one pass — unparseable JSON,
    type-violating price, or ok — instead of letting one bad line
    abort the load (the failure mode of the reference's LOAD DATA,
    lambda_function.py:26).  The oracle re-derives the class counts
    from the injection rules; the Spark side must actually write,
    corrupt, re-read, and classify to reproduce them."""
    path = _tmp_path("btcusdt_jsonl_q", sf_dir)
    base = btcusdt(spark, sf_dir)
    line = F.to_json(
        F.struct("bid", "parameter", "price", "quantity", "time", "maker")
    )
    corrupted = base.select(
        F.when(
            F.col("bid") % JSONL_CHOP_MOD == 3,
            # chop the tail: unbalanced braces, unparseable
            F.substring(line, 1, 20),
        )
        .when(
            F.col("bid") % JSONL_TYPE_MOD == 5,
            F.regexp_replace(line, '"price":', '"price":"x",  "_p":'),
        )
        .otherwise(line)
        .alias("value")
    )
    corrupted.write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    bid_s = F.get_json_object("value", "$.bid")
    price_s = F.get_json_object("value", "$.price")
    reason = (
        F.when(bid_s.isNull(), "malformed_json")
        .when(price_s.try_cast("double").isNull(), "bad_price_type")
        .otherwise("ok")
    )
    classified = raw.select(
        reason.alias("reason"), bid_s.try_cast("long").alias("bid")
    )
    return classified.groupBy("reason").agg(
        F.count("*").cast("long").alias("n"),
        F.min(F.when(F.col("reason") == "ok", F.col("bid"))).alias(
            "min_ok_bid"
        ),
        F.max(F.when(F.col("reason") == "ok", F.col("bid"))).alias(
            "max_ok_bid"
        ),
    )

"""User-extensibility surface (SURVEY.md §2.9): scalar Pandas UDF,
grouped applyInPandas UDAF, and a Python UDTF.

The reference hard-codes all per-record logic in Python (main.py:56-66)
with no extensibility; this module is the engine's native surface for
the same kind of logic when built-ins genuinely can't express it.

All kernels are defined inside closures so cloudpickle ships them BY
VALUE — Spark's Python workers never need this package on sys.path.
Everything is Arrow-batched (pandas_udf / applyInPandas / UDTF with
arrow enabled); no row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from binancedatapipelineinaws_spark.registry import register
from binancedatapipelineinaws_spark.tables import load_table


@register(
    "q_ext_pandas_scalar",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(ln(1 + l_extendedprice), 6) AS log_price,
       round(1.0 / (1.0 + exp(-(l_discount * 10 - 0.5))), 6) AS disc_sigmoid
FROM lineitem WHERE l_orderkey % 50 = 0
""",
)
def q_ext_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar Pandas UDF (Arrow batches, numpy kernels) —
    the sanctioned slow path when an expression needs Python math."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def log1p_vec(s):  # pd.Series -> pd.Series, one Arrow batch at a time
        import numpy as np

        return np.log1p(s)

    @pandas_udf("double")
    def sigmoid_vec(s):
        import numpy as np

        return 1.0 / (1.0 + np.exp(-(s * 10 - 0.5)))

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(log1p_vec("l_extendedprice"), 6).alias("log_price"),
        F.round(sigmoid_vec("l_discount"), 6).alias("disc_sigmoid"),
    )


@register(
    "q_ext_grouped_zscore",
    oracle="""
SELECT c_custkey, c_mktsegment,
       round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
         AS acctbal_z
FROM customer
""",
)
def q_ext_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF via applyInPandas: per-segment z-score
    normalization (the per-group normalization pattern from SURVEY
    §2.9).  Each group arrives as one pandas DataFrame; the shuffle is
    the same hash partitioning a built-in window would use."""

    def make_kernel():
        def zscore(pdf):
            mean = pdf["c_acctbal"].mean()
            std = pdf["c_acctbal"].std(ddof=1)
            out = pdf[["c_custkey", "c_mktsegment"]].copy()
            out["acctbal_z"] = ((pdf["c_acctbal"] - mean) / std).round(6)
            return out

        return zscore

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").applyInPandas(
        make_kernel(),
        schema="c_custkey long, c_mktsegment string, acctbal_z double",
    )


@register(
    "q_ext_udtf_explode_keys",
    oracle="""
SELECT o_orderkey,
       unnest(['status:' || o_orderstatus,
               'priority:' || o_orderpriority]) AS tag
FROM orders WHERE o_orderkey % 100 = 0
""",
)
def q_ext_udtf_explode_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function): one input row -> N tag rows.  The
    built-in explode() covers most of this space (and is what the other
    queries use); the UDTF exists to exercise the extension point."""
    from pyspark.sql.functions import udtf

    # Arrow-batched: the exchange with the Python worker is columnar
    # (ArrowEvalPythonUDTF), not row-pickled
    @udtf(returnType="o_orderkey bigint, tag string", useArrow=True)
    class TagExploder:
        def eval(self, o_orderkey: int, status: str, priority: str):
            yield o_orderkey, f"status:{status}"
            yield o_orderkey, f"priority:{priority}"

    spark.udtf.register("tag_exploder", TagExploder)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return spark.sql(
        """
        SELECT t.o_orderkey, t.tag
        FROM {orders},
             LATERAL tag_exploder(o_orderkey, o_orderstatus, o_orderpriority) t
        """,
        orders=o,
    )

"""§2.J — UDF / UDAF / UDTF surface (SURVEY.md; patterns from SNIPPETS.md).

Hierarchy, fastest first: built-in Column fns (never leave the JVM) →
Arrow-batched pandas UDFs (vectorized, §2.J default) → row-at-a-time Python
UDF (kept only to prove the surface; never used in hot paths). Every UDF here
is pure + deterministic so Catalyst may collapse/reorder it, and each has a
pure-SQL oracle twin.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import functions as F

from data_transform_spark.io import load_table
from data_transform_spark.registry import register


@register(
    "udf_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 + l_tax) AS taxed_price
    FROM lineitem WHERE l_quantity > 40
    """,
)
def udf_scalar(spark, sf_dir):
    """Row-at-a-time Python UDF (the slow path — here only to cover the API)."""

    @F.udf("double")
    def taxed(price: float, tax: float) -> float:
        return price * (1 + tax)

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 40)
    return li.select(
        "l_orderkey", "l_linenumber", taxed("l_extendedprice", "l_tax").alias("taxed_price")
    )


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id, value * 1.07 + 1.0 AS adjusted
    FROM events
    """,
)
def udf_pandas_scalar(spark, sf_dir):
    """Vectorized Arrow-batched scalar UDF (pandas in, pandas out)."""

    @F.pandas_udf("double")
    def adjust(v: pd.Series) -> pd.Series:
        return v * 1.07 + 1.0

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", adjust("value").alias("adjusted"))


@register(
    "udf_pandas_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udf_pandas_agg(spark, sf_dir):
    """Vectorized grouped-agg pandas UDF (a UDAF without JVM code)."""

    @F.pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return round(float((price * qty).sum() / qty.sum()), 6)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_avg("l_extendedprice", "l_quantity").alias("weighted_avg_price")
    )


@register(
    "udf_grouped_map",
    oracle="""
    SELECT user_id, event_id,
           ROUND((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS znorm
    FROM events
    """,
)
def udf_grouped_map(spark, sf_dir):
    """applyInArrow per-group transform: z-normalize value within each user.

    The group arrives as a pyarrow Table and numpy does the arithmetic, so
    no pandas frame is built either way. nanmean/nanstd skip NULLs as
    pandas' mean/std do, and ``from_pandas=True`` turns the NaN of a
    one-row, all-NULL or constant group into NULL, as the pandas
    conversion did."""

    def znorm(tbl: pa.Table) -> pa.Table:
        v = tbl.column("value").to_numpy(zero_copy_only=False)
        with warnings.catch_warnings(), np.errstate(divide="ignore", invalid="ignore"):
            warnings.simplefilter("ignore", RuntimeWarning)
            z = np.round((v - np.nanmean(v)) / np.nanstd(v, ddof=1), 6)
        return pa.table(
            {
                "user_id": tbl.column("user_id"),
                "event_id": tbl.column("event_id"),
                "znorm": pa.array(z, from_pandas=True),
            }
        )

    ev = load_table(spark, sf_dir, "events")
    # Measured round 4 on the applyInPandas form: an explicit
    # select("user_id","event_id","value") before the groupBy was ~15%
    # SLOWER (A/B, 5 reps each direction) — the extra projection added a
    # row-copy step without reducing Arrow transfer.
    return ev.groupBy("user_id").applyInArrow(
        znorm, "user_id long, event_id long, znorm double"
    )


@register(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, value * 2.0 AS doubled
    FROM events WHERE event_type = 'purchase'
    """,
)
def udf_map_in_pandas(spark, sf_dir):
    """Whole-partition Arrow-batched map (schema-changing, filter + project)."""

    def transform(batches):
        for pdf in batches:
            out = pdf[pdf["event_type"] == "purchase"]
            yield pd.DataFrame(
                {
                    "event_id": out["event_id"],
                    "user_id": out["user_id"],
                    "doubled": out["value"] * 2.0,
                }
            )

    ev = load_table(spark, sf_dir, "events")
    return ev.mapInPandas(transform, "event_id long, user_id long, doubled double")


@register(
    "udtf_tokenize",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS pos
    FROM documents WHERE doc_id < 100
    """,
)
def udtf_tokenize(spark, sf_dir):
    """Python UDTF: one input row → one row per token (lateral join)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: long, token: string, pos: long")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, tok in enumerate(text.split(" ")):
                yield doc_id, tok, i

    spark.udtf.register("tokenize_udtf", Tokenize)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    d.createOrReplaceTempView("docs_for_udtf")
    return spark.sql(
        "SELECT t.* FROM docs_for_udtf, LATERAL tokenize_udtf(doc_id, text) t"
    )


@register(
    "udf_sql_registered",
    oracle="""
    SELECT o_orderkey, o_totalprice * 0.9 AS discounted
    FROM orders WHERE o_orderstatus = 'P'
    """,
)
def udf_sql_registered(spark, sf_dir):
    """UDF registered for SQL callers (spark.udf.register + spark.sql)."""
    spark.udf.register("discount10", lambda p: p * 0.9, "double")
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_for_udf")
    return spark.sql(
        """
        SELECT o_orderkey, discount10(o_totalprice) AS discounted
        FROM orders_for_udf WHERE o_orderstatus = 'P'
        """
    )


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net,
           l_quantity > 25 AS bulk
    FROM lineitem
    """,
)
def udf_map_in_arrow(spark, sf_dir):
    """mapInArrow: per-partition transform on raw pyarrow RecordBatches —
    the zero-copy tier below mapInPandas (no pandas conversion at all).

    The right API when the Python work is itself Arrow-native (pyarrow
    compute, Arrow-backed ML featurizers): batches flow JVM -> Python ->
    JVM without a pandas materialization. Same batch shape/partitioning
    contract as mapInPandas."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_quantity"
    )

    def transform(batches):
        for batch in batches:
            # multiply/subtract are plain IEEE ops — bit-identical to the
            # oracle's expression. Rounding is deliberately NOT done here:
            # pyarrow's pc.round is half-to-even while Spark/DuckDB round
            # half-up, so the 4-dp rounding happens JVM-side below to stay
            # bit-identical with the oracle (driver_sim strict-compare
            # caught the drift).
            net = pc.multiply(
                batch.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), batch.column("l_discount")),
            )
            bulk = pc.greater(batch.column("l_quantity"), pa.scalar(25.0))
            # mapInArrow does NOT auto-cast: the scan delivers l_linenumber
            # as int32, the declared schema says long — cast explicitly or
            # the JVM reader throws on the type mismatch.
            linenum = pc.cast(batch.column("l_linenumber"), pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), linenum, net, bulk],
                names=["l_orderkey", "l_linenumber", "net", "bulk"],
            )

    mapped = li.mapInArrow(
        transform, "l_orderkey long, l_linenumber long, net double, bulk boolean"
    )
    return mapped.withColumn("net", F.round("net", 4))


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey, length(o_orderpriority) * 100 + o_orderkey % 100 AS tag
    FROM orders
    """,
)
def udf_arrow_scalar(spark, sf_dir):
    """Arrow-optimized Python UDF (useArrow=True): row-signature Python code
    with Arrow-batched transfer — the drop-in accelerator for legacy
    row-at-a-time UDFs that can't be rewritten as pandas_udf.

    Sits between udf_scalar (pickled rows, the documented slow path) and
    udf_pandas_scalar (vectorized) in the §2.J ladder."""
    tag = F.udf(
        lambda prio, key: len(prio) * 100 + key % 100, "long", useArrow=True
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", tag(F.col("o_orderpriority"), F.col("o_orderkey")).alias("tag")
    )


@register(
    "udf_pandas_window",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           ROUND(avg(o_totalprice) OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderkey
               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS roll_avg
    FROM orders
    """,
)
def udf_pandas_window(spark, sf_dir):
    """Pandas UDF evaluated OVER A WINDOW FRAME — the third pandas-UDF
    execution mode after scalar (udf_pandas_scalar) and grouped-agg
    (udf_pandas_agg): Spark slices each bounded frame (3 PRECEDING .. 
    CURRENT ROW) out of the Arrow batch and hands it to the UDF as a
    Series, so arbitrary Python aggregations become window functions
    without JVM code. Bounded frames are required by the engine (an
    unbounded pandas window frame would re-ship the whole partition per
    row); the oracle is the built-in AVG over the identical frame."""
    from pyspark.sql import Window

    @F.pandas_udf("double")
    def p_mean(v: pd.Series) -> float:
        return float(v.mean())

    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(p_mean("o_totalprice").over(w), 4).alias("roll_avg"),
    )


@register(
    "udtf_analyze",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           CAST(p.p AS BIGINT) AS pos,
           toks[p.p + 1] AS w1, toks[p.p + 2] AS w2, toks[p.p + 3] AS w3,
           toks[p.p + 1] || ' ' || toks[p.p + 2] || ' ' || toks[p.p + 3]
               AS gram
    FROM t, unnest(generate_series(0, len(toks) - 3)) AS p(p)
    """,
)
def udtf_analyze(spark, sf_dir):
    """POLYMORPHIC Python UDTF (Spark 4's static analyze()): the output
    schema is derived at ANALYSIS TIME from the constant `n` argument —
    ngrams_udtf(text, 3) emits (pos, w1, w2, w3, gram); called with 2 it
    would emit (pos, w1, w2, gram). This is the UDTF surface static
    returnType (udtf_tokenize) cannot express: one registration serving
    a family of schemas, resolved by Catalyst before any data moves. The
    oracle replays the n=3 instantiation; the n-polymorphism itself is
    pinned in pytest (same registration, different column sets)."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class Ngrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            if not n.isConstantExpression:
                raise ValueError("n must be a constant")
            fields = [StructField("pos", LongType())]
            for i in range(int(n.value)):
                fields.append(StructField(f"w{i + 1}", StringType()))
            fields.append(StructField("gram", StringType()))
            return AnalyzeResult(StructType(fields))

        def eval(self, text: str, n: int):
            toks = text.split(" ")
            for p in range(len(toks) - n + 1):
                win = toks[p : p + n]
                yield (p, *win, " ".join(win))

    spark.udtf.register("ngrams_udtf", Ngrams)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("docs_for_ngrams")
    return spark.sql(
        "SELECT d.doc_id, t.* FROM docs_for_ngrams d, "
        "LATERAL ngrams_udtf(d.text, 3) t"
    )

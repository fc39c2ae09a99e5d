"""UDF / UDAF / UDTF surface (SURVEY.md §2.11).

Every tier of the Python extension surface, each mirrored by a pure-SQL
oracle so the wire path (Arrow batching, type mapping, null handling)
is verified — not just "it ran":

- scalar pandas UDF (Series -> Series): the vectorized fast path;
- row-at-a-time Python UDF: implemented because the surface exists,
  documented as the slow path (per-row pickling, no codegen) — never
  use in hot paths;
- grouped-agg pandas UDF: custom aggregate usable in groupBy and
  windows;
- applyInPandas grouped-map: per-group arbitrary pandas transforms;
- mapInPandas is exercised by q_llm_multimodal.

All UDFs here compute SQL-expressible math on purpose: the point of
the tests is the boundary, and real pipelines should push exactly this
kind of expression back into JVM-side built-ins (see functions/).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import query
from ..tables import load


@query(
    "q_udf_pandas_scalar",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6)
                   AS charged
        FROM lineitem
        WHERE l_orderkey % 50 = 0
    """,
    description="Vectorized scalar pandas UDF (Arrow Series->Series) vs SQL arithmetic",
    tags=("udf", "pandas"),
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def charged(
        price: pd.Series, disc: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1.0 - disc) * (1.0 + tax)

    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(charged("l_extendedprice", "l_discount", "l_tax"), 6).alias(
            "charged"
        ),
    )


@query(
    "q_udf_row_scalar",
    oracle="""
        SELECT o_orderkey,
               o_orderpriority || '#' || CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR)
                   AS tag
        FROM orders
        WHERE o_orderkey % 100 = 0
    """,
    description="Row-at-a-time Python UDF (the documented slow path) vs SQL concat",
    tags=("udf", "slow-path"),
)
def q_udf_row_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.udf(T.StringType())
    def tag(prio: str, total: float) -> str:
        # NULL-propagate like the oracle's || (int(None) raised, and a
        # NULL priority rendered as the string 'None' — review r6);
        # floor, not int(): int() truncates toward zero, so -5.5 tagged
        # '#-5' where the oracle floors to -6.
        import math

        if prio is None or total is None:
            return None
        return f"{prio}#{math.floor(total)}"

    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return orders.select(
        "o_orderkey", tag("o_orderpriority", "o_totalprice").alias("tag")
    )


@query(
    "q_udf_grouped_agg",
    oracle="""
        SELECT l_returnflag,
               round(sum(l_extendedprice * l_discount)
                     / sum(l_extendedprice), 6) AS wavg_discount
        FROM lineitem
        GROUP BY l_returnflag
    """,
    description="Grouped-agg pandas UDAF (price-weighted avg discount) vs SQL sum/sum",
    tags=("udf", "udaf"),
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def wavg(price: pd.Series, disc: pd.Series) -> float:
        # zero denominator -> NULL like the oracle's sum/sum (DuckDB
        # double x/0 is NULL); pandas 0.0/0.0 is NaN, which Arrow
        # ships as a NaN value, not a NULL (review r6)
        den = price.sum()
        if den == 0 or pd.isna(den):
            return None
        return float((price * disc).sum() / den)

    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_discount"), 6).alias("wavg_discount")
    )


@query(
    "q_udf_iter_pandas",
    oracle="""
        SELECT event_id,
               round(ln(1 + abs(value)) * 2.5, 6) AS score
        FROM events
        WHERE event_id % 25 = 0
    """,
    description="Iterator pandas UDF: one-time per-partition init (model-load pattern), Arrow-batched scoring",
    tags=("udf", "iterator"),
)
def q_udf_iter_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # Expensive init runs ONCE per partition, not per batch — the
        # pattern for loading a model/tokenizer in LLM scoring UDFs.
        import numpy as np

        coeff = 2.5  # stand-in for a loaded model's parameter
        for values in batches:
            yield pd.Series(np.log1p(values.abs()) * coeff)

    ev = load(spark, sf_dir, "events").filter(F.col("event_id") % 25 == 0)
    return ev.select("event_id", F.round(score("value"), 6).alias("score"))


@query(
    "q_udf_udtf",
    oracle="""
        SELECT doc_id, u.pos AS pos, u.term AS term
        FROM (
            SELECT doc_id,
                   -- coalesce around len, INSIDE the least: a NULL
                   -- document emits ZERO rows (matching the UDTF's
                   -- None guard). DuckDB's least() IGNORES a NULL
                   -- argument — least(len(NULL), 5) is 5, which
                   -- fabricated five NULL-term rows (review r6).
                   unnest(list_transform(
                       range(1, least(coalesce(len(toks), 0), 5) + 1),
                       i -> struct_pack(pos := i - 1, term := toks[i]))) AS u
            FROM (
                SELECT doc_id, string_split(text, ' ') AS toks
                FROM documents
                WHERE doc_id % 40 = 0
            )
        )
    """,
    description="Python UDTF: one row in, N rows out (leading tokens with positions)",
    tags=("udf", "udtf"),
)
def q_udf_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string")
    class LeadingTokens:
        def eval(self, text: str):
            # NULL document -> zero rows, matching the oracle's
            # string_split(NULL) unnest (None.split raised — review r6)
            if text is None:
                return
            for pos, term in enumerate(text.split(" ")[:5]):
                yield pos, term

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 40 == 0)
    return docs.lateralJoin(
        LeadingTokens(F.col("text").outer())
    ).select("doc_id", "pos", "term")


ZSCORE_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderpriority", T.StringType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


@query(
    "q_udf_grouped_map",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               round((o_totalprice - avg(o_totalprice) OVER w)
                     / stddev_samp(o_totalprice) OVER w, 6) AS zscore
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority)
        QUALIFY o_orderkey % 20 = 0
    """,
    description="applyInPandas grouped-map (per-group z-score) vs SQL window avg/stddev",
    tags=("udf", "grouped-map"),
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        mean = pdf["o_totalprice"].mean()
        std = pdf["o_totalprice"].std(ddof=1)
        out = pdf[pdf["o_orderkey"] % 20 == 0]
        # Degenerate groups yield NULL like the oracle: a single-row
        # group's stddev_samp is NULL in SQL but NaN in pandas, and a
        # zero-variance group divides by zero (NULL in DuckDB, inf/NaN
        # here) — Arrow ships NaN/inf as VALUES, not NULLs, so the
        # divergence must be folded to real nulls (review r6). The
        # nullable Float64 astype maps NaN (incl. a NULL price's
        # element-wise NaN) to <NA>.
        if not np.isfinite(std) or std == 0:
            z = pd.array([None] * len(out), dtype="Float64")
        else:
            z = ((out["o_totalprice"] - mean) / std).round(6).astype("Float64")
        return pd.DataFrame(
            {
                "o_orderkey": out["o_orderkey"],
                "o_orderpriority": out["o_orderpriority"],
                "zscore": z,
            }
        )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return orders.groupBy("o_orderpriority").applyInPandas(zscore, ZSCORE_SCHEMA)


ARROW_SCHEMA = T.StructType(
    [
        T.StructField("p_partkey", T.LongType()),
        T.StructField("name_upper", T.StringType()),
        T.StructField("price_bucket", T.LongType()),
    ]
)


def _arrow_transform(batches):
    """pyarrow.RecordBatch -> RecordBatch transform: columnar compute
    without ever materializing pandas objects — the zero-copy tier
    below mapInPandas for kernels that stay in Arrow memory."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("p_partkey"),
                pc.utf8_upper(batch.column("p_name")),
                pc.cast(
                    pc.floor(pc.divide(batch.column("p_retailprice"), 500.0)),
                    pa.int64(),
                ),
            ],
            names=["p_partkey", "name_upper", "price_bucket"],
        )


@query(
    "q_udf_map_in_arrow",
    oracle="""
        SELECT p_partkey,
               upper(p_name)                                     AS name_upper,
               CAST(floor(p_retailprice / 500.0) AS BIGINT)      AS price_bucket
        FROM part
        WHERE p_partkey % 7 = 0
    """,
    description="mapInArrow: RecordBatch-level columnar transform (no pandas materialization)",
    tags=("udf", "arrow"),
)
def q_udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` completes the Python extension ladder below
    ``mapInPandas``: the worker hands raw ``pyarrow.RecordBatch``es to
    the function, skipping the Arrow->pandas conversion entirely —
    the right tier for columnar kernels (dictionary ops, takes,
    compute-function chains) where a pandas round-trip would only add
    copies. Same Arrow wire path and batch sizing as the pandas
    tiers, so partition sizing guidance carries over unchanged.
    """
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select("p_partkey", "p_name", "p_retailprice")
    )
    return p.mapInArrow(_arrow_transform, ARROW_SCHEMA)


GROUPED_ARROW_SCHEMA = T.StructType(
    [
        T.StructField("p_brand", T.StringType()),
        T.StructField("n_parts", T.LongType()),
        T.StructField("sum_price_cents", T.LongType()),
        T.StructField("min_partkey", T.LongType()),
        T.StructField("max_partkey", T.LongType()),
    ]
)


@query(
    "q_udf_grouped_arrow",
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT)  AS n_parts,
               CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT)           AS sum_price_cents,
               CAST(min(p_partkey) AS BIGINT) AS min_partkey,
               CAST(max(p_partkey) AS BIGINT) AS max_partkey
        FROM part
        GROUP BY p_brand
    """,
    description="applyInArrow grouped-map: per-group pyarrow.Table aggregation (Arrow all the way, no pandas) vs SQL GROUP BY",
    tags=("udf", "arrow", "grouped-map"),
)
def q_udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInArrow`` grouped-map (r13) — the last rung of the Arrow
    ladder this surface had not pinned: per-group logic receiving a
    ``pyarrow.Table`` and returning one, no pandas materialization
    anywhere (q_udf_grouped_map is the pandas twin). The group body
    computes with pyarrow.compute kernels only; prices fold as
    floor(x*100+0.5) BIGINT cents so the sum is integer-exact against
    the SQL oracle (q_agg_group contract).

    Scale shape: one shuffle on the 25-value brand key; each group
    streams through the executor's Python worker as Arrow batches.
    Same caveat as every grouped-map: a 100 TB run must bound per-group
    size (brands here are uniform); the aggregation itself belongs in
    JVM built-ins unless the body genuinely needs Python."""

    def brand_stats(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        cents = pc.cast(
            pc.floor(
                pc.add(pc.multiply(table.column("p_retailprice"), 100.0), 0.5)
            ),
            pa.int64(),
        )
        keys = table.column("p_partkey")
        return pa.table(
            {
                "p_brand": [table.column("p_brand")[0].as_py()],
                "n_parts": [table.num_rows],
                "sum_price_cents": [pc.sum(cents).as_py()],
                "min_partkey": [pc.min(keys).as_py()],
                "max_partkey": [pc.max(keys).as_py()],
            },
            schema=pa.schema(
                [
                    ("p_brand", pa.string()),
                    ("n_parts", pa.int64()),
                    ("sum_price_cents", pa.int64()),
                    ("min_partkey", pa.int64()),
                    ("max_partkey", pa.int64()),
                ]
            ),
        )

    part = load(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice"
    )
    return part.groupBy("p_brand").applyInArrow(
        brand_stats, GROUPED_ARROW_SCHEMA
    )

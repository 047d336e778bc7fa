"""UDF / UDAF / UDTF surface (SURVEY.md §2.9, U1-U3) — the escape
hatch for bolt logic the built-ins can't express.

Engine policy (SURVEY §2.9): built-ins first; when Python is
unavoidable, Arrow-vectorized pandas UDFs (U1), grouped
``applyInPandas`` (U2), and Python UDTFs (U3) — never row-at-a-time
``@udf`` in a hot path. Cross-engine determinism: all float math
inside the Python code is integer/cent-based so partition order and
pandas summation order cannot move a bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.udtf import AnalyzeResult

from gostream_spark.io import load_spread, load_table
from gostream_spark.registry import register

# --- U1 scalar pandas UDF ----------------------------------------------


def _spend_band_fn(total: pd.Series, key: pd.Series) -> pd.Series:
    """Vectorized scalar logic: integer spend band + key residue
    (exact integer math — no float drift)."""
    return (total // 50000).astype("int64") * 10 + (key % 7).astype("int64")


_U1_ORACLE = """
SELECT o_orderkey,
       CAST(floor(o_totalprice / 50000) AS BIGINT) * 10 + (o_orderkey % 7) AS spend_band
FROM orders
"""


@register("udf_spend_band", oracle=_U1_ORACLE, tags=("U1",))
def udf_spend_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: Arrow-batched pandas UDF (10-100× a row-at-a-time Python
    UDF; still ~an order slower than the equivalent built-in Column
    expression the oracle uses — which is the point of the policy)."""
    orders = load_table(spark, sf_dir, "orders")
    spend_band = pandas_udf(_spend_band_fn, "bigint")
    return orders.select(
        "o_orderkey", spend_band("o_totalprice", "o_orderkey").alias("spend_band")
    )


# --- U2 grouped-map UDAF (applyInPandas) --------------------------------


def _priority_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact per-group aggregate in pandas: cent-integer sums, so the
    result is independent of row order within the group."""
    cents = (pdf["o_totalprice"] * 100).round().astype("int64")
    n = len(pdf)
    return pd.DataFrame(
        {
            "o_orderpriority": [pdf["o_orderpriority"].iloc[0]],
            "order_cnt": [n],
            "total_spend": [round(int(cents.sum()) / 100.0, 2)],
            "avg_spend": [round(int(cents.sum()) / 100.0 / n, 2)],
        }
    )


_U2_ORACLE = """
SELECT o_orderpriority,
       count(*) AS order_cnt,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS total_spend,
       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
             / count(*), 2) AS avg_spend
FROM orders GROUP BY o_orderpriority
"""


@register("udaf_priority_stats", oracle=_U2_ORACLE, tags=("U2",))
def udaf_priority_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: custom aggregation via grouped applyInPandas — the whole
    group streams to one Python worker as Arrow batches. At 100 TB
    this requires group cardinality × size awareness (a hot key pulls
    its entire group into one worker); prefer mergeable built-ins when
    the aggregate decomposes."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").applyInPandas(
        _priority_stats,
        schema="o_orderpriority string, order_cnt bigint, total_spend double, avg_spend double",
    )


# --- U3 Python UDTF -----------------------------------------------------


class _TokenizeTF:
    """1→N table function: (position, token, length) per whitespace
    token — the UDTF form of the flatMap bolt."""

    def eval(self, text: str):  # noqa: D102
        if text:
            for i, tok in enumerate(text.split(" ")):
                yield i, tok, len(tok)


_U3_ORACLE = """
SELECT doc_id,
       generate_subscripts(toks, 1) - 1 AS pos,
       unnest(toks) AS token,
       length(unnest(toks)) AS tok_len
FROM (SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id % 50 = 0)
"""


@register("udtf_tokenize", oracle=_U3_ORACLE, tags=("U3",))
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: Python UDTF via LATERAL join — one output table per input
    row. The built-in posexplode twin (`explode_tokens`) is the hot-
    path form; the UDTF exists for logic that genuinely needs Python
    (custom tokenizers)."""
    _enable_arrow_udtf(spark)
    spark.udtf.register(
        "gs_tokenize", udtf(_TokenizeTF, returnType="pos int, token string, tok_len int")
    )
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT doc_id, t.pos, t.token, t.tok_len
        FROM documents, LATERAL gs_tokenize(text) t
        WHERE doc_id % 50 = 0
        """
    )


# --- U1b iterator-of-batches pandas UDF (mapInPandas shape) -------------


def _doc_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: per-batch feature extraction with exact
    integer features."""
    for pdf in batches:
        lens = pdf["text"].str.len().astype("int64")
        # Empty text: ratio is DEFINED as 0 (both engine sides) — a
        # bare floordiv would divide by zero in the Python worker.
        safe_lens = lens.where(lens > 0, 1)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_words": pdf["text"].str.count(" ").astype("int64") + 1,
                "n_chars": lens,
                "caps_ratio_pct": (
                    pdf["text"].str.count(r"[A-Z]") * 100 // safe_lens
                ).astype("int64"),
            }
        )


_U1B_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       length(text) AS n_chars,
       CAST(CASE WHEN length(text) > 0
                 THEN floor(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                            * 100 / length(text))
                 ELSE 0 END AS BIGINT) AS caps_ratio_pct
FROM documents
"""


@register("mapinpandas_doc_features", oracle=_U1B_ORACLE, tags=("U1", "L6"))
def mapinpandas_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: mapInPandas — iterator-of-Arrow-batches form, the shape for
    per-partition Python feature extraction (and the L9 multimodal
    decode path). Batch size follows
    spark.sql.execution.arrow.maxRecordsPerBatch; partitioning is
    inherited (spread_for_compute only exchanges when the input's
    splits would leave Python workers idle)."""
    docs = load_spread(spark, sf_dir).select("doc_id", "text")
    return docs.mapInPandas(
        _doc_features, schema="doc_id bigint, n_words bigint, n_chars bigint, caps_ratio_pct bigint"
    )


# --- U2 wave 2: regression slope with exact integer accumulation --------


def _slope_fn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Least-squares slope of spend (cents) vs order date (epoch days),
    accumulated in arbitrary-precision Python ints so the only float
    operation is the final division — bit-identical regardless of row
    order or partitioning."""
    xs = [int(v) for v in pdf["x_days"]]
    ys = [int(v) for v in pdf["y_cents"]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = round(float(num) / float(den), 6) if den else None
    return pd.DataFrame(
        {"o_orderpriority": [pdf["o_orderpriority"].iloc[0]], "n": [n], "slope": [slope]}
    )


_U2B_ORACLE = """
WITH pts AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT)
           AS x_days,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT) AS y_cents
  FROM orders
), sums AS (
  SELECT o_orderpriority,
         count(*) AS n,
         sum(CAST(x_days AS HUGEINT)) AS sx,
         sum(CAST(y_cents AS HUGEINT)) AS sy,
         sum(CAST(x_days AS HUGEINT) * x_days) AS sxx,
         sum(CAST(x_days AS HUGEINT) * y_cents) AS sxy
  FROM pts GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
FROM sums
"""


@register("udaf_regression_slope", oracle=_U2B_ORACLE, tags=("U2",))
def udaf_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 wave 2: grouped applyInPandas computing a least-squares
    regression slope (spend drift over order date per priority class)
    — an aggregate with real cross-row math, not just reductions. The
    UDAF accumulates in exact integers and divides once, so the DuckDB
    closed-form oracle (HUGEINT sums, one double division) matches to
    the bit. Same 100 TB caveat as all applyInPandas: a whole group
    visits one worker — decompose to mergeable sums (these ARE the
    mergeable sums) when groups are huge."""
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).cast("bigint")
          .alias("x_days"),
        F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100, 0).cast("bigint")
          .alias("y_cents"),
    )
    return pts.groupBy("o_orderpriority").applyInPandas(
        _slope_fn, schema="o_orderpriority string, n bigint, slope double"
    )


def _priority_stats_arrow(table: "object") -> "object":
    """Arrow-native grouped aggregation: the group arrives as a
    pyarrow Table; cent-integer math over Arrow buffers, one output
    row. Same exact contract as the pandas twin."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cents = pc.cast(pc.round(pc.multiply(table.column("o_totalprice"), 100)), pa.int64())
    n = table.num_rows
    total_cents = pc.sum(cents).as_py()
    return pa.table(
        {
            "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
            "order_cnt": pa.array([n], pa.int64()),
            "total_spend": pa.array([round(total_cents / 100.0, 2)], pa.float64()),
            "avg_spend": pa.array([round(total_cents / 100.0 / n, 2)], pa.float64()),
        }
    )


@register("udaf_priority_stats_arrow", oracle=_U2_ORACLE, tags=("U2", "ext"))
def udaf_priority_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 Arrow-native twin of udaf_priority_stats via
    ``applyInArrow`` (Spark 4 grouped-map Arrow API): the group stays
    a pyarrow Table end to end — no pandas block consolidation on the
    worker, the cheaper path when the custom aggregate is expressible
    in Arrow compute kernels. Bounded groups (5 priorities), same
    cent-exact oracle."""
    from gostream_spark.io import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    return orders.groupBy("o_orderpriority").applyInArrow(
        _priority_stats_arrow,
        schema=(
            "o_orderpriority string, order_cnt bigint, "
            "total_spend double, avg_spend double"
        ),
    )


def _enable_arrow_udtf(spark: SparkSession) -> None:
    """Arrow-optimized Python UDTF execution (Spark 4): rows cross the
    Python boundary in Arrow batches (ArrowEvalPythonUDTF) instead of
    pickled one at a time (BatchEvalPythonUDTF) — the same ~10-100x
    boundary win pandas UDFs get. Runtime-settable, so it works under
    the driver's session too."""
    key = "spark.sql.execution.pythonUDTF.arrow.enabled"
    if spark.conf.get(key, None) != "true":
        spark.conf.set(key, "true")


# --- U3 polymorphic UDTF: analyze()-derived output schema ---------------


class _LeadTokensTF:
    """Polymorphic UDTF (Spark 4): the output schema is COMPUTED by
    ``analyze`` from the constant column-spec argument — one UDTF
    serves any width, the schema stays a plan-time constant (no
    runtime surprises, full column pruning above it)."""

    @staticmethod
    def analyze(text, spec):
        from pyspark.sql.types import StringType, StructType

        names = [s.strip() for s in spec.value.split(",")]
        schema = StructType()
        for name in names:
            schema = schema.add(name, StringType())
        return AnalyzeResult(schema=schema)

    def eval(self, text, spec):
        names = [s.strip() for s in spec.split(",")]
        toks = (text or "").split(" ")
        yield tuple(
            toks[i] if i < len(toks) and toks[i] != "" else "(none)"
            for i in range(len(names))
        )


_U3_POLY_ORACLE = """
SELECT doc_id,
       coalesce(nullif(toks[1], ''), '(none)') AS first_tok,
       coalesce(nullif(toks[2], ''), '(none)') AS second_tok,
       coalesce(nullif(toks[3], ''), '(none)') AS third_tok
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


@register("udtf_lead_tokens", oracle=_U3_POLY_ORACLE, tags=("U3", "ext"))
def udtf_lead_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 polymorphic flavor: the UDTF's ``analyze`` static method
    derives a 3-string-column schema from the literal spec argument
    ('first_tok,second_tok,third_tok') at PLAN time — the Spark 4
    API for table functions whose shape depends on their arguments
    (the batch twin of a dynamic parser bolt). Missing positions
    surface as the '(none)' sentinel (hashed-output convention)."""
    _enable_arrow_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_poly_docs")
    spark.udtf.register("gs_lead_tokens", udtf(_LeadTokensTF))
    return spark.sql(
        """
SELECT d.doc_id, t.first_tok, t.second_tok, t.third_tok
FROM _poly_docs d,
     LATERAL gs_lead_tokens(d.text, 'first_tok,second_tok,third_tok') t
"""
    )

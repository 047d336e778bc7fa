"""Heavy hitters: exact frequent-item detection with a sketch first
pass (L8/A-family extension; the Storm/streaming "top talkers" op).

``heavy_hitter_tokens`` finds every token whose corpus-wide count is
at least a fixed FRACTION of all token occurrences (phi = 1/200 =
0.5%) — the standard phi-heavy-hitter problem (Misra & Gries 1982;
Metwally et al.'s Space-Saving is the same summary).

Why not just groupBy-count-having? That shuffles ONE RECORD PER
DISTINCT TOKEN — at 100 TB of text the distinct-token table is
billions of rows of long-tail garbage that all gets hashed,
exchanged, and aggregated only to be discarded by the HAVING clause.
The classic scale shape is two linear passes instead:

- **Pass 1 (candidates)**: each partition runs a Misra-Gries summary
  of capacity k = 2/phi in a ``mapInPandas`` worker and emits only
  its surviving candidate tokens (≤ k rows per partition, regardless
  of partition size). MG guarantees no false negatives: a token with
  global count ≥ phi*N has, in at least one partition, a partition
  count > n_p/k (else its global count ≤ sum(n_p)/k = N/k < phi*N
  since k = 2/phi), and MG never evicts an item whose count exceeds
  n_p/k. The union of partition candidates is therefore a SUPERSET
  of the true phi-heavy hitters, and its size is bounded by
  k × partitions — sketch-sized, never corpus-sized.
- **Pass 2 (exact verify)**: re-scan the tokens, inner-join on the
  candidate set (shuffled hash join on the token; the candidate side
  is bounded, but it is corpus-DERIVED so we do not force a
  broadcast — AQE may choose one, per the VERDICT r4 #3 rule), count
  exactly, and keep count ≥ ceil(phi * N). N itself is a 1-row
  global count joined in by cross join (constant-size, broadcast-safe).

False positives from pass 1 are eliminated by pass 2's exact counts,
so the result EQUALS the naive groupBy-having oracle — an exact query
with a sketch-shaped plan. Total cost: two linear scans + one
bounded-cardinality shuffle, vs one unbounded distinct-token shuffle.

Siblings in this module: ``streaming_heavy_hitters_stateful`` keeps
the same summary as per-key state (Space-Saving — approximate, with
guarantee tests), and ``heavy_hitter_sketch_builtin`` /
``streaming_heavy_hitters_builtin`` run Spark 4's built-in
``approx_top_k`` DataSketches aggregate batch- and stream-side; the
batch two-pass form here is the exact-at-any-scale contract.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.io import load_table
from gostream_spark.registry import register

# phi = 1/PHI_INV: report tokens with count >= ceil(N / PHI_INV).
_PHI_INV = 200
# MG capacity k = 2/phi guarantees survival of every token with
# count >= N/k = N*phi/2, comfortably below the report threshold.
_MG_CAPACITY = 2 * _PHI_INV


def _mg_candidates_fn(capacity: int):
    """Build the per-partition Misra-Gries summary closure for a given
    counter capacity (k = 2/phi). Parameterized so decade fixtures
    can run the operator at a scale-appropriate phi; the registered
    query uses the default ``_MG_CAPACITY``."""

    def _misra_gries_candidates(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        """Per-partition Misra-Gries summary over whitespace tokens.

        r16 vectorized form (guide §4.2 — hand whole batches to
        native code instead of looping rows in Python): each Arrow
        batch is reduced to exact token counts with pandas
        ``value_counts`` (C speed), merged into the running summary,
        and the summary is then shrunk with the MERGEABLE-SUMMARIES
        decrement (Agarwal et al., "Mergeable summaries", PODS 2012):
        subtract the (capacity+1)-th largest count from everything and
        drop the non-positive rest. That is weighted Misra-Gries —
        total undercount ≤ W/(capacity+1) for partition token mass W —
        so any token with partition share ≥ W/phi_inv (> W/(2·phi_inv
        + 1)) survives, and a GLOBAL phi-heavy token is phi-heavy in
        at least one partition by pigeonhole: the candidate set
        remains a provable superset, exactly the guarantee the
        row-at-a-time loop gave (the exact verification pass
        downstream is unchanged either way). Candidate SETS can differ
        from the sequential form (both are valid MG summaries; the
        pass-2 verification makes the query output identical — pinned
        by the exact oracle). Memory stays O(capacity) per partition;
        the Python loop is now over DISTINCT tokens per batch, not
        occurrences. Measured at sf0.1: 0.604 s vs 0.750 s
        end-to-end.
        """
        counters: pd.Series | None = None
        for pdf in batches:
            vc = pdf["text"].str.split(" ").explode().value_counts()
            counters = vc if counters is None else counters.add(vc, fill_value=0)
            if len(counters) > capacity:
                counters = counters.sort_values(ascending=False)
                d = counters.iloc[capacity]
                counters = counters.iloc[:capacity] - d
                counters = counters[counters > 0]
        toks = [] if counters is None else list(counters.index)
        yield pd.DataFrame({"token": toks})

    return _misra_gries_candidates


_misra_gries_candidates = _mg_candidates_fn(_MG_CAPACITY)


def hh_oracle(phi_inv: int = _PHI_INV) -> str:
    """DuckDB oracle for ``heavy_hitter_tokens`` at a given phi —
    shared between the registered entry (default phi) and the decade
    fixtures' scale-parameterized run (tools/decade_scope.py)."""
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), tot AS (
  SELECT count(*) AS n FROM toks
), cnt AS (
  SELECT token, count(*) AS cnt FROM toks GROUP BY token
)
SELECT c.token, CAST(c.cnt AS BIGINT) AS cnt
FROM cnt c, tot
WHERE c.cnt >= ceil(tot.n / {phi_inv}.0)
"""


_HH_ORACLE = hh_oracle()


@register("heavy_hitter_tokens", oracle=_HH_ORACLE, tags=("L8", "A1", "ext"), bench=True)
def heavy_hitter_tokens(
    spark: SparkSession, sf_dir: str, phi_inv: int = _PHI_INV
) -> DataFrame:
    """Exact phi-heavy-hitter tokens (count >= 0.5% of all tokens) via
    Misra-Gries candidates + exact verification — see module docstring
    for the guarantee argument and the 100 TB shape.

    Plan: pass 1 is a pushed-down single-column scan of ``text`` into
    a mapInPandas stage emitting <= k rows per partition; ``distinct``
    on that sketch-sized output is a trivial exchange. Pass 2 explodes
    tokens JVM-side, joins the candidate set (no forced broadcast —
    corpus-derived), counts, and compares to ceil(N/200) from a 1-row
    global count (broadcast-safe constant size).

    phi_inv (probe knob, default 200): the decade fixture salts every
    token into 10 disjoint per-replica variants, so a fixed 0.5%
    threshold reports nothing at 10x — the probe passes a
    scale-matched phi (from the fixture manifest) so the operator
    does its full two-pass work and the output decades with the
    input; oracle parity holds at any phi via ``hh_oracle``.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    candidates = docs.mapInPandas(
        _mg_candidates_fn(2 * phi_inv), schema="token string"
    ).distinct()

    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    total = tokens.select(F.count("*").alias("n"))
    counts = (
        tokens.join(candidates, "token")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.ceil(F.col("n") / F.lit(float(phi_inv))))
        .select("token", "cnt")
    )


_SS_STATEFUL_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), tot AS (
  SELECT source, count(*) AS n FROM toks GROUP BY source
), cnt AS (
  SELECT source, token, count(*) AS c FROM toks GROUP BY source, token
), heavy AS (
  SELECT c.source, count(*) AS n_heavy
  FROM cnt c JOIN tot t USING (source)
  WHERE c.c >= ceil(t.n / {_PHI_INV}.0)
  GROUP BY c.source
)
SELECT t.source,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(coalesce(h.n_heavy, 0) AS BIGINT) AS n_heavy,
       CAST(1 AS BIGINT) AS covered_ok,
       CAST(1 AS BIGINT) AS overest_ok,
       CAST(1 AS BIGINT) AS stream_total_ok
FROM tot t LEFT JOIN heavy h USING (source)
"""


@register(
    "streaming_heavy_hitters_stateful",
    oracle=_SS_STATEFUL_ORACLE,
    tags=("S2", "T6", "T8", "L8", "ext"),
)
def streaming_heavy_hitters_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin: per-SOURCE Space-Saving heavy-hitter summaries
    held in ``applyInPandasWithState`` state (sketch-in-state — the
    continuous top-talkers op). Update-mode memory sink accumulates
    one emission per key per micro-batch; the final emission per
    source (max n_tokens) is the full-stream summary.

    Space-Saving estimates are arrival-order-dependent overestimates,
    so the GUARANTEE shape makes this exact-checkable: per source the
    row carries the exact token total and exact phi-heavy count plus
    verdicts for the Metwally guarantees that hold on ANY input and
    ANY arrival order — every true phi = 1/{_PHI_INV} heavy hitter is
    in the final summary (capacity m = {2 * _PHI_INV} >= 2/phi, no
    false negatives), every emitted estimate overestimates by at most
    N/m, and the stream's running token total equals the batch-exact
    total (the stream processed every row)."""
    from pyspark.sql import Window

    from gostream_spark.streaming import (
        file_stream,
        run_available_now,
        space_saving_stateful,
    )

    docs = file_stream(spark, sf_dir, "documents")
    res = run_available_now(space_saving_stateful(docs), output_mode="update")
    w = Window.partitionBy("source")
    final = (
        res.withColumn("mx", F.max("n_tokens").over(w))
        .filter(F.col("n_tokens") == F.col("mx"))
        .select("source", "token", "est_cnt", "n_tokens")
    )

    toks = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    exact = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    heavy = exact.join(tot, "source").filter(
        F.col("c") >= F.ceil(F.col("n") / F.lit(float(_PHI_INV)))
    )
    heavy_stats = heavy.groupBy("source").agg(F.count(F.lit(1)).alias("n_heavy"))
    missed = (
        heavy.join(final, ["source", "token"], "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_missed"))
    )
    # A NULL source is a legal group (the stream emits key=None and
    # batch groupBy keeps it), so every verdict join below must be
    # null-safe — a plain equi-join would orphan the NULL group and
    # flip its verdicts to 0 while the oracle asserts 1.
    emitted = (
        final.join(
            exact.withColumnRenamed("source", "_src").withColumnRenamed(
                "token", "_tok"
            ),
            F.col("source").eqNullSafe(F.col("_src"))
            & (F.col("token") == F.col("_tok")),
            "left",
        )
        .drop("_src", "_tok")
        .join(
            tot.withColumnRenamed("source", "_src"),
            F.col("source").eqNullSafe(F.col("_src")),
        )
        .drop("_src")
        .withColumn("true_c", F.coalesce("c", F.lit(0)))
        .groupBy("source")
        .agg(
            F.sum(
                (
                    (F.col("est_cnt") < F.col("true_c"))
                    | (
                        F.col("est_cnt")
                        > F.col("true_c") + F.col("n") / F.lit(float(_MG_CAPACITY))
                    )
                ).cast("long")
            ).alias("n_bad_est"),
            F.max("n_tokens").alias("stream_n"),
        )
    )
    return (
        tot.join(F.broadcast(heavy_stats), "source", "left")
        .join(F.broadcast(missed), "source", "left")
        .join(
            F.broadcast(emitted.withColumnRenamed("source", "_src")),
            F.col("source").eqNullSafe(F.col("_src")),
            "left",
        )
        .drop("_src")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.coalesce("n_heavy", F.lit(0)).alias("n_heavy"),
            (F.coalesce("n_missed", F.lit(0)) == 0).cast("long").alias("covered_ok"),
            (F.coalesce("n_bad_est", F.lit(0)) == 0).cast("long").alias("overest_ok"),
            (F.coalesce("stream_n", F.lit(-1)) == F.col("n"))
            .cast("long")
            .alias("stream_total_ok"),
        )
    )


# --- Built-in JVM-side sketch twin (Spark 4 approx_top_k) ---------------

_HH_SKETCH_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), tot AS (
  SELECT source, count(*) AS n FROM toks GROUP BY source
), cnt AS (
  SELECT source, token, count(*) AS cnt FROM toks GROUP BY source, token
)
SELECT c.source, c.token, CAST(c.cnt AS BIGINT) AS cnt
FROM cnt c JOIN tot t ON c.source = t.source
WHERE c.cnt >= ceil(t.n / {_PHI_INV}.0)
"""


@register(
    "heavy_hitter_sketch_builtin",
    oracle=_HH_SKETCH_ORACLE,
    tags=("A4", "L8", "ext"),
)
def heavy_hitter_sketch_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy hitters via Spark 4's BUILT-IN ``approx_top_k``
    (an Apache DataSketches frequent-items sketch aggregated JVM-side,
    partials merged map-side like any other agg) — the zero-Python
    sibling of ``heavy_hitter_tokens``'s mapInPandas Misra-Gries pass.

    The sketch tracks 10^4 slots; the fixture vocabulary (31 tokens)
    never evicts, so every returned count is exact and the
    threshold-filtered output (count >= ceil(N_source/200)) matches
    the exact oracle — set semantics, so sketch-internal tie order
    cannot leak into the result. At a 100 TB vocabulary the sketch
    overcounts evicted items by a bounded epsilon (same guarantee
    family as Space-Saving); when exactness is required at that
    scale, ``heavy_hitter_tokens``'s candidates+verify two-pass is
    the path — this query is the one-pass, one-shuffle estimate.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    sketched = docs.groupBy("source").agg(
        # k = 2/phi: up to _PHI_INV tokens can pass the ceil(n/200) filter,
        # so the sketch must be able to return at least that many — a
        # fixed small k would silently drop true heavy hitters on data
        # with a wider heavy tail than the fixture's 31-token vocabulary.
        F.expr(f"approx_top_k(token, {2 * _PHI_INV}, 10000)").alias("items"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        sketched.select(
            "source", "n", F.explode("items").alias("it")
        )
        .select("source", "n", F.col("it.item").alias("token"), F.col("it.count").alias("cnt"))
        .filter(F.col("cnt") >= F.ceil(F.col("n") / F.lit(float(_PHI_INV))))
        .select("source", "token", "cnt")
    )


@register(
    "streaming_heavy_hitters_builtin",
    oracle=_HH_SKETCH_ORACLE,
    tags=("S2", "T8", "A4", "L8", "ext"),
)
def streaming_heavy_hitters_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in-sketch heavy hitters as a STREAM job: because the
    DataSketches frequent-items aggregate is MERGEABLE, it runs as an
    ordinary complete-mode streaming aggregation — each micro-batch's
    partial sketches merge into the state-store sketch exactly like a
    partial count. Same threshold-filter set semantics (and the same
    exact oracle) as the batch twin ``heavy_hitter_sketch_builtin``;
    state per source is one bounded sketch, not a token table."""
    from gostream_spark.streaming import file_stream, run_available_now

    docs = file_stream(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    agg = toks.groupBy("source").agg(
        # k = 2/phi: up to _PHI_INV tokens can pass the ceil(n/200) filter,
        # so the sketch must be able to return at least that many — a
        # fixed small k would silently drop true heavy hitters on data
        # with a wider heavy tail than the fixture's 31-token vocabulary.
        F.expr(f"approx_top_k(token, {2 * _PHI_INV}, 10000)").alias("items"),
        F.count(F.lit(1)).alias("n"),
    )
    res = run_available_now(agg, output_mode="complete")
    return (
        res.select("source", "n", F.explode("items").alias("it"))
        .select(
            "source",
            "n",
            F.col("it.item").alias("token"),
            F.col("it.count").alias("cnt"),
        )
        .filter(F.col("cnt") >= F.ceil(F.col("n") / F.lit(float(_PHI_INV))))
        .select("source", "token", "cnt")
    )

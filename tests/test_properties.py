"""Property-based tests (hypothesis) for the operator library —
semantic invariants on randomized inputs, complementing the
fixture-oracle gate. Few examples per property (each example runs a
Spark job); deadline disabled accordingly."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gostream_spark.operators import keep_first, tumbling_windowed
from gostream_spark.operators.pareto import bucketed_prefix_sum
from gostream_spark.operators.ranking import topk_per_group

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),     # key
        st.integers(min_value=0, max_value=100),   # ord
        st.integers(min_value=0, max_value=1000),  # payload
    ),
    min_size=1,
    max_size=40,
)


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_keep_first_is_min_per_key(spark, rows):
    df = spark.createDataFrame(rows, "k INT, o INT, v INT")
    out = keep_first(df, keys=["k"], order_by=["o", "v"]).collect()
    got = {r.k: (r.o, r.v) for r in out}
    want = {}
    for k, o, v in rows:
        if k not in want or (o, v) < want[k]:
            want[k] = (o, v)
    assert len(out) == len(want)
    assert got == want


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_keep_first_is_idempotent(spark, rows):
    df = spark.createDataFrame(rows, "k INT, o INT, v INT")
    once = keep_first(df, keys=["k"], order_by=["o", "v"])
    twice = keep_first(once, keys=["k"], order_by=["o", "v"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_topk_per_group_is_true_topk(spark, rows):
    df = spark.createDataFrame(rows, "k INT, o INT, v INT")
    out = topk_per_group(
        df, 3, partition_by=["k"], order_by=[F.col("o").desc(), F.col("v").desc()]
    ).collect()
    by_key: dict[int, list[tuple[int, int]]] = {}
    for k, o, v in rows:
        by_key.setdefault(k, []).append((o, v))
    for k, vals in by_key.items():
        want = sorted(vals, reverse=True)[:3]
        got = sorted(((r.o, r.v) for r in out if r.k == k), reverse=True)
        assert got == want


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # user/key
        st.integers(min_value=0, max_value=10_000),   # ts offset seconds
        st.booleans(),                                 # is_probe (else build)
    ),
    min_size=1,
    max_size=30,
)


@given(evs=events_strategy)
@settings(**_SETTINGS)
def test_asof_join_attaches_latest_earlier_build(spark, evs):
    from gostream_spark.operators import asof_join

    base = datetime(2024, 1, 1)
    # microsecond-unique timestamps: the operator's tie behavior at
    # identical (ts) is deterministic but intentionally unspecified
    rows = [
        (i, k, base + timedelta(seconds=s, microseconds=i), "p" if probe else "b")
        for i, (k, s, probe) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "event_id INT, k INT, ts TIMESTAMP, typ STRING")
    out = asof_join(
        df,
        key="k",
        ts="ts",
        probe_filter=F.col("typ") == "p",
        build_filter=F.col("typ") == "b",
        carry=["event_id", "ts"],
    ).collect()
    by_id = {r[0]: r for r in rows}
    for r in out:
        assert r.typ == "p"
        if r.asof_event_id is None:
            # no build row at-or-before this probe for the same key
            assert not any(
                rr[1] == r.k and rr[3] == "b" and rr[2] <= r.ts for rr in rows
            )
        else:
            build = by_id[r.asof_event_id]
            assert build[3] == "b" and build[1] == r.k
            assert build[2] <= r.ts
            # latest: no other build row strictly between
            assert not any(
                rr[1] == r.k and rr[3] == "b" and build[2] < rr[2] <= r.ts
                for rr in rows
            )


@given(
    offsets=st.lists(
        st.integers(min_value=0, max_value=72 * 3600 - 1), min_size=1, max_size=40
    )
)
@settings(**_SETTINGS)
def test_tumbling_windows_partition_rows(spark, offsets):
    """Every row lands in exactly one epoch-aligned hourly bucket:
    counts sum to the input size and each bucket matches the floor of
    its members' timestamps."""
    base = datetime(2024, 1, 1)
    rows = [(i, base + timedelta(seconds=s)) for i, s in enumerate(offsets)]
    df = spark.createDataFrame(rows, "id INT, ts TIMESTAMP")
    out = tumbling_windowed(
        df, "ts", "1 hour", aggs=(F.count(F.lit(1)).alias("cnt"),)
    ).collect()
    assert sum(r.cnt for r in out) == len(rows)
    want: dict[datetime, int] = {}
    for _, s in enumerate(offsets):
        start = base + timedelta(hours=s // 3600)
        want[start] = want.get(start, 0) + 1
    got = {r.w.start: r.cnt for r in out}
    assert got == want
    for r in out:
        assert (r.w.end - r.w.start) == timedelta(hours=1)


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo", "fox"]),
        min_size=3,
        max_size=10,
    ).map(" ".join),
    min_size=2,
    max_size=12,
)


def _zip_with_shingles(text):
    """Reference word 3-shingles: the slice/zip_with form the dedup
    queries used before ``sketches.trigram_shingles``. The slice
    length is clamped at 0 because ``slice(.., -1)`` throws on texts
    of fewer than 3 tokens."""
    toks = F.split(text, " ")
    n_sh = F.greatest(F.size(toks) - 2, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n_sh),
        F.zip_with(
            F.slice(toks, 2, n_sh), F.slice(toks, 3, n_sh),
            lambda x, y: F.concat(x, F.lit(" "), y),
        ),
        lambda x, yz: F.concat(x, F.lit(" "), yz),
    )


# Spaces (runs of them make empty tokens), letters, an accented
# letter, an emoji (a UTF-16 surrogate pair inside the JVM) and other
# whitespace that must not split tokens.
_SHINGLE_CHARS = st.sampled_from([" ", " ", "a", "b", "é", "\U0001F600", "\n", "\t"])


@given(
    texts=st.lists(
        st.one_of(st.none(), st.text(alphabet=_SHINGLE_CHARS, max_size=24)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_trigram_shingles_match_zip_with_form(spark, texts):
    """``trigram_shingles`` (one regex pass) returns the same array,
    element for element, as the slice/zip_with form: for NULL text,
    empty tokens, texts shorter than 3 tokens and emoji."""
    from gostream_spark.functions.sketches import trigram_shingles

    texts = texts + [None, "", " ", "  ", "a b", "a b c", "a  b c ", "\U0001F600 a b"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i INT, text STRING")
    rows = df.select(
        "i",
        _zip_with_shingles(F.col("text")).alias("want"),
        trigram_shingles(F.col("text")).alias("got"),
    ).collect()
    assert len(rows) == len(texts)
    bad = [(texts[r.i], r.want, r.got) for r in rows if r.want != r.got]
    assert not bad, bad


@given(texts=docs_strategy)
@settings(**_SETTINGS)
def test_minhash_bands_collide_for_exact_duplicates(spark, texts):
    """LSH candidate guarantee: documents with identical text have
    identical MinHash signatures, hence identical hashes in EVERY
    band — an exact duplicate can never escape candidate generation.
    (The converse — distinct docs rarely colliding — is statistical,
    not asserted.)"""
    from gostream_spark.functions.sketches import minhash_band_table, minhash_khash_sig

    # Force at least one duplicate pair.
    texts = texts + [texts[0]]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    bands = minhash_band_table(df, minhash_khash_sig).groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("band_id") == b, F.col("band_hash"))).alias(f"band{b}")
            for b in range(4)
        ]
    )
    sig = df.join(bands, "doc_id")
    rows = sig.collect()
    by_text = {}
    for r in rows:
        bands = (r.band0, r.band1, r.band2, r.band3)
        by_text.setdefault(r.text, set()).add(bands)
    # identical text -> identical band tuple, for every text
    assert all(len(v) == 1 for v in by_text.values())


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_simhash_hamming_monotone_under_perturbation(spark, seed):
    """SimHash locality property: perturbing MORE of a document's
    tokens moves the fingerprint FURTHER in Hamming distance, on
    average over a corpus. Identical docs hash identically (distance
    0); a ~20% token replacement must stay (mean-)closer than a full
    rewrite. Per-doc monotonicity is only statistical for a 16-bit
    sketch, so the assertion averages 8 docs with a 1-bit slack."""
    import random

    from gostream_spark.functions.sketches import simhash_expr

    rng = random.Random(seed)
    rows = []
    for d in range(8):
        toks = [f"tok{rng.randrange(5000)}n{d}i{i}" for i in range(30)]
        lo = list(toks)
        for i in rng.sample(range(30), 6):  # 20% replaced
            lo[i] = f"rep{rng.randrange(5000)}"
        hi = [f"new{rng.randrange(5000)}n{d}i{i}" for i in range(30)]  # 100%
        rows += [
            (d, "orig", " ".join(toks)),
            (d, "same", " ".join(toks)),
            (d, "lo", " ".join(lo)),
            (d, "hi", " ".join(hi)),
        ]
    df = spark.createDataFrame(rows, "doc INT, kind STRING, text STRING")
    fp = df.select(
        "doc",
        "kind",
        simhash_expr(F.array_distinct(F.split("text", " ")), 16).alias("s"),
    ).collect()
    sig = {(r.doc, r.kind): r.s for r in fp}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert all(ham(sig[(d, "orig")], sig[(d, "same")]) == 0 for d in range(8))
    mean_lo = sum(ham(sig[(d, "orig")], sig[(d, "lo")]) for d in range(8)) / 8
    mean_hi = sum(ham(sig[(d, "orig")], sig[(d, "hi")]) for d in range(8)) / 8
    assert mean_lo <= mean_hi + 1.0, (mean_lo, mean_hi)


@given(
    overlap=st.sampled_from([0.0, 0.3, 0.6, 0.9]),
    seed=st.integers(min_value=0, max_value=500),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_minhash_bottomk_and_khash_estimators_agree(spark, overlap, seed):
    """The two MinHash sketch families must estimate the SAME Jaccard:
    the k-independent-hashes signature (fraction of equal components)
    and the bottom-k/KMV sketch (|bottomk(A∪B) ∩ bk(A) ∩ bk(B)| / k)
    are different estimators of one quantity, so both must land within
    sketch-noise tolerance of the true Jaccard and of each other —
    the invariant that justifies swapping the 8×-cheaper bottom-k
    variant in for the k-hash one at 100 TB (k=48 → σ≈0.07; bounds
    are ~5σ)."""
    import random

    from gostream_spark.functions.sketches import bottomk_sketch, minhash_khash_sig

    k = 48
    rng = random.Random(seed)
    shared_n = int(round(overlap * 120))
    shared = [f"s{rng.randrange(10**9)}" for _ in range(shared_n)]
    only_a = [f"a{rng.randrange(10**9)}" for _ in range(120 - shared_n)]
    only_b = [f"b{rng.randrange(10**9)}" for _ in range(120 - shared_n)]
    set_a, set_b = shared + only_a, shared + only_b
    true_j = len(set(set_a) & set(set_b)) / len(set(set_a) | set(set_b))

    df = spark.createDataFrame([("a", set_a), ("b", set_b)], "id STRING, items ARRAY<STRING>")
    out = df.select(
        "id",
        minhash_khash_sig(F.col("items"), k).alias("sig"),
        bottomk_sketch(F.col("items"), k).alias("bk"),
    ).collect()
    by_id = {r.id: r for r in out}
    a, b = by_id["a"], by_id["b"]

    est_khash = sum(x == y for x, y in zip(a.sig, b.sig)) / k
    union_bottomk = sorted(set(a.bk) | set(b.bk))[:k]
    est_bottomk = sum(h in set(a.bk) and h in set(b.bk) for h in union_bottomk) / k

    assert abs(est_khash - true_j) <= 0.35, (est_khash, true_j)
    assert abs(est_bottomk - true_j) <= 0.35, (est_bottomk, true_j)
    assert abs(est_khash - est_bottomk) <= 0.45, (est_khash, est_bottomk)


_DUCK_SHINGLES = """
sub AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
)"""

# The two MinHash signatures the dedup oracles compute, as one list
# column ``m`` per doc.
_DUCK_SIGS = {
    "khash": "SELECT doc_id, ["
    + ", ".join(f"min(substr(md5(shingle || '#{i}'), 1, 15))" for i in range(8))
    + "] AS m FROM sh GROUP BY doc_id",
    "bottomk": "SELECT doc_id,"
    " list_slice(list_sort(list(substr(md5(shingle), 1, 15))), 1, 8) AS m"
    " FROM sh GROUP BY doc_id HAVING count(*) >= 8",
}


def _duck_bands(sig: str) -> str:
    """The dedup oracles' band CTE, row level: (doc_id, band_id,
    band_hash) for the named signature."""
    return (
        f"WITH {_DUCK_SHINGLES}, sig AS ({_DUCK_SIGS[sig]})\n"
        + "\nUNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, md5(m[{2 * b + 1}] || m[{2 * b + 2}])"
            " AS band_hash FROM sig"
            for b in range(4)
        )
    )


def _kernel_sigs():
    from gostream_spark.functions.sketches import bottomk_sketch, minhash_khash_sig

    return {"khash": minhash_khash_sig, "bottomk": bottomk_sketch}


def test_minhash_band_table_matches_duckdb_bands(spark, sf_dir, oracle):
    """The one banding kernel equals the DuckDB band CTE row for row on
    the fixture, under both signatures: the bottom-k one behind the
    near-dup graph and the k-hash one behind ``minhash_md5_bands`` and
    the streaming near-dup join."""
    from gostream_spark.functions.sketches import minhash_band_table
    from gostream_spark.io import load_table
    from tools.oracle import compare

    docs = load_table(spark, sf_dir, "documents")
    for name, sig in _kernel_sigs().items():
        n = compare(minhash_band_table(docs, sig), _duck_bands(name), oracle)
        assert n > 0, name


def test_minhash_band_table_short_docs(spark, tmp_path):
    """Short and repetitive docs: a doc with 3-7 distinct shingles gets
    k-hash bands but no bottom-k bands, a doc of < 3 tokens or NULL
    text gets none, and repeated shingles count once. Component i of
    the k-hash signature is md5(item || '#i') (15-hex prefix)."""
    import hashlib

    from gostream_spark.functions.sketches import minhash_band_table, minhash_khash_sig
    from tools.oracle import compare, oracle_con

    long_text = " ".join(f"w{i}" for i in range(14))
    docs = spark.createDataFrame(
        [
            (1, long_text),
            (2, "a b c d e f g"),  # 5 distinct shingles
            (3, "x y x y x y x y x y x y"),  # 2 distinct, 10 in all
            (4, "a b"),
            (5, None),
            (6, long_text + " " + long_text),  # repeats of doc 1's shingles
        ],
        "doc_id BIGINT, text STRING",
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    con = oracle_con(str(tmp_path))
    banded = {}
    for name, sig in _kernel_sigs().items():
        bands = minhash_band_table(docs, sig)
        compare(bands, _duck_bands(name), con)
        banded[name] = {r.doc_id for r in bands.select("doc_id").distinct().collect()}
    con.close()
    assert banded == {"khash": {1, 2, 3, 6}, "bottomk": {1, 6}}, banded

    items = ["s0", "s1", "s2"]
    got = spark.range(1).select(
        minhash_khash_sig(F.array(*map(F.lit, items)), 4).alias("sig")
    ).first().sig
    want = [
        min(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:15] for s in items)
        for i in range(4)
    ]
    assert got == want


def _package_owners_of(needle: str) -> set:
    """``(module, innermost enclosing function)`` of every line under
    ``gostream_spark/`` that contains ``needle`` (case-sensitive)."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "gostream_spark")
    hits = set()
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            src = open(path).read()
            funcs = [
                n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)
            ]
            for i, line in enumerate(src.splitlines(), 1):
                if needle in line:
                    owner = min(
                        (f for f in funcs if f.lineno <= i <= f.end_lineno),
                        key=lambda f: f.end_lineno - f.lineno,
                        default=None,
                    )
                    hits.add((os.path.relpath(path, pkg), owner and owner.name))
    return hits


def test_md5_banding_lives_in_one_kernel():
    """One banding kernel: a band ``stack(4, ...)`` appears in the
    package only in ``functions.sketches.minhash_band_table`` and in
    the xxhash64 path of ``minhash_lsh_buckets``."""
    hits = _package_owners_of("stack(4,")
    assert hits == {
        ("functions/sketches.py", "minhash_band_table"),
        ("queries/llm_similarity.py", "minhash_lsh_buckets"),
    }, hits


def test_centroid_rule_lives_in_one_kernel():
    """One centroid kernel: the Spark-side ``decimal(18,7)`` element sum
    appears in the package only in ``functions.centroids``. The
    oracles' upper-case SQL ``DECIMAL(18,7)`` is the reference and
    does not match."""
    hits = _package_owners_of("decimal(18,7)")
    assert hits == {("functions/__init__.py", "centroids")}, hits


def test_fold_rules_live_in_one_function():
    """One stateful-fold layer in ``streaming.ops``: the event-order
    sort has one owner, the ordered group reader; every Python
    ``.strftime(`` is the oracle-string formatter (the oracles' SQL
    ``strftime(ts, ...)`` has no dot and does not match); and the
    capped-session gap is defined once, beside the one walk."""
    ops = "streaming/ops.py"
    assert _package_owners_of('sort_values(["ts", "event_id"])') == {
        (ops, "_ordered_group")
    }
    assert _package_owners_of("datetime64[") == {(ops, "_ordered_group")}
    assert _package_owners_of(".strftime(") == {(ops, "_fmt_us")}
    assert _package_owners_of("_GAP_US =") == {(ops, None)}
    assert _package_owners_of("1_800 * 1_000_000") == {(ops, None)}


def test_no_lambda_default_arguments():
    """No lambda in the package takes a default argument. A
    ``lambda s, i=i: ...`` handed to ``F.transform`` gets the element
    index bound to ``i``, silently replacing the captured value (the
    fault that once salted every k-hash MinHash component with a
    lambda variable's name instead of its seed)."""
    import ast
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "gostream_spark")
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                for node in ast.walk(ast.parse(open(path).read())):
                    if isinstance(node, ast.Lambda) and (
                        node.args.defaults or any(node.args.kw_defaults)
                    ):
                        bad.append((os.path.relpath(path, repo), node.lineno))
    assert not bad, bad


def test_word_ngrams_short_doc_guard(spark):
    """Docs shorter than n yield an EMPTY gram array (not a negative
    sequence error) — the guard decontamination relies on at corpus
    scale where fragmentary docs are common."""
    from gostream_spark.queries.corpus_ops import _word_ngrams

    df = spark.createDataFrame([("a b c",), ("a b c d e",)], "text STRING")
    out = df.select(
        F.size(_word_ngrams(F.split("text", " "), 4)).alias("n")
    ).collect()
    assert sorted(r.n for r in out) == [0, 2]


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must close a LONG chain (label walks one
    hop per iteration — the multi-iteration case) and leave islands
    and singletons untouched."""
    from gostream_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 13)], "id BIGINT")
    chain = [(i, i + 1) for i in range(1, 9)]  # 1-2-...-9: diameter 8
    island = [(10, 11)]
    edges = spark.createDataFrame(chain + island, "src BIGINT, dst BIGINT")
    got = {r.id: r.cluster for r in connected_components(nodes, edges).collect()}
    assert all(got[i] == 1 for i in range(1, 10))
    assert got[10] == got[11] == 10
    assert got[12] == 12


def test_no_driver_side_antipatterns_in_package():
    """Pin the engine-wide discipline the scale posture depends on:
    no .collect()/.toPandas()/row-at-a-time @udf anywhere in package
    code, and driver-side .count() only at the audited sites
    (tiny-dim-table count; the streaming_session_timeout memory-sink
    stop predicate, which its docstring marks as test scaffolding
    outside the streaming plan — the BSP convergence check left the
    list in r17, see allowed_count_sites note), and streams started or
    awaited only in streaming/runner.py — in the package, tests/ AND
    tools/ — with no ``state_partitions`` keyword in the package
    outside streaming/runner.py (one state width, chosen there),
    matched on code tokens (string literals and comments, this
    test's own patterns included, do not count)."""
    import os
    import re
    import tokenize

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "gostream_spark")
    # r17: operators/components.py left the list — its BSP convergence
    # check now rides the checkpoint job as an observe metric, so a
    # reappearing DataFrame.count() there is a regression this catches.
    allowed_count_sites = {
        "queries/streaming_queries.py",
        "queries/python_datasource.py",
    }
    bad = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            src = open(path).read()
            for pat in (r"\.collect\(\)", r"\.toPandas\(\)", r"^\s*@udf\b"):
                if re.search(pat, src, re.M):
                    bad.append((rel, pat))
            if re.search(r"(?<!itertools)\.count\(\)", src) and rel not in allowed_count_sites:
                bad.append((rel, ".count()"))
    # One stream lifecycle: every start/wait/stop goes through
    # streaming/runner.py (progress capture, state guard, startup lock,
    # state width, checkpoint cleanup) — the crash/restart tests and
    # the probes included. The state width is the runner's too: no
    # query in the package picks its own.
    runner = os.path.join(pkg, "streaming", "runner.py")
    for top in (pkg, os.path.join(repo, "tests"), os.path.join(repo, "tools")):
        for root, _dirs, files in os.walk(top):
            for fn in files:
                path = os.path.join(root, fn)
                if not fn.endswith(".py") or path == runner:
                    continue
                with open(path) as f:
                    code = [
                        t for t in tokenize.generate_tokens(f.readline)
                        if t.type not in (tokenize.STRING, tokenize.COMMENT, tokenize.NL)
                    ]
                pins = (("state_partitions", "="),) if top == pkg else ()
                for a, b in zip(code, code[1:]):
                    if (a.string, b.string) in (
                        (".", "writeStream"), ("awaitTermination", "("), *pins
                    ):
                        bad.append((os.path.relpath(path, repo), a.start[0]))
    assert not bad, bad


def test_oracle_views_built_only_in_tools_oracle():
    """One oracle harness: within tests/ and tools/, DuckDB views over
    a fixture are created only by ``tools.oracle.oracle_con``, so every
    Spark-vs-oracle check reads the same tables the same way."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pat = re.compile(r"CREATE\s+VIEW", re.I)
    hits = []
    for top in ("tests", "tools"):
        for root, _dirs, files in os.walk(os.path.join(repo, top)):
            for fn in files:
                path = os.path.join(root, fn)
                if fn.endswith(".py") and pat.search(open(path).read()):
                    hits.append(os.path.relpath(path, repo))
    assert hits == [os.path.join("tools", "oracle.py")], hits


def test_results_invariant_under_shuffle_partitioning(spark, sf_dir):
    """The determinism discipline's end-to-end claim: rerunning a
    query with a different shuffle-partition count (different partial
    -aggregation order, different reducer assignment) must produce
    IDENTICAL rows — pinned for a decimal-fold aggregate, a sketch
    pipeline, and a rank-assigning window."""
    from gostream_spark.registry import get_query

    names = ("pricing_summary", "minhash_bottomk_bands", "corpus_shuffle_order")
    old = spark.conf.get("spark.sql.shuffle.partitions")

    def run(name):
        df = get_query(name).fn(spark, sf_dir)
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        base = {n: run(n) for n in names}
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            assert run(n) == base[n], n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_results_invariant_under_aqe_toggle(spark, sf_dir):
    """AQE re-plans at runtime (coalescing, join-strategy switches,
    skew splits) — none of which may change RESULTS. Pinned for a
    broadcast-join star, a salted skew join, and a windowed rank."""
    from gostream_spark.registry import get_query

    names = ("join_star_revenue", "skew_salted_join", "topk_per_group")
    old = spark.conf.get("spark.sql.adaptive.enabled")

    def run(name):
        df = get_query(name).fn(spark, sf_dir)
        return sorted(tuple(str(v) for v in r) for r in df.collect())

    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        base = {n: run(n) for n in names}
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for n in names:
            assert run(n) == base[n], n
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_asof_join_matches_pure_python_reference(spark, seed):
    """J7 operator property: on random (key, ts, kind) data the
    windowed as-of must attach exactly the latest build row at-or-
    before each probe row — checked against an O(n^2) pure-Python
    reference."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.operators import asof_join

    rng = random.Random(seed)
    rows = []
    for i in range(120):
        rows.append(
            (i, rng.randrange(5), rng.randrange(1000),
             "probe" if rng.random() < 0.5 else "build")
        )
    df = spark.createDataFrame(rows, "rid BIGINT, k BIGINT, t BIGINT, kind STRING")
    out = asof_join(
        df,
        key="k",
        ts="t",
        probe_filter=F.col("kind") == "probe",
        build_filter=F.col("kind") == "build",
        carry=["rid"],
    )
    got = {r.rid: r.asof_rid for r in out.collect()}

    expect = {}
    for rid, k, t, kind in rows:
        if kind != "probe":
            continue
        # reference mirrors the operator's documented tie rule: the
        # window orders by (ts, carry), so a build row is visible iff
        # (t2, rid2) <= (t, rid) lexicographically; latest such wins
        cands = [(t2, r2) for (r2, k2, t2, kd2) in rows
                 if kd2 == "build" and k2 == k and (t2, r2) <= (t, rid)]
        expect[rid] = max(cands)[1] if cands else None
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_token_budget_matches_sequential_reference(spark, seed):
    """Budget-admission property: the windowed cumulative-sum filter
    must admit exactly the docs a sequential per-source scan admits
    (same order, same <= boundary), on random doc sizes — including
    the doc that lands exactly ON the budget."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    budget = 100
    rows = []
    for i in range(200):
        # sizes chosen so exact-boundary hits are common
        rows.append((i, f"s{rng.randrange(6)}", rng.choice([10, 20, 25, 50])))
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING, n BIGINT")
    w = (
        Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = sorted(
        r.doc_id
        for r in df.withColumn("cum", F.sum("n").over(w))
        .filter(F.col("cum") <= budget)
        .collect()
    )
    expect, cum = [], {}
    for doc_id, src, n in rows:  # rows are already doc_id-ordered
        cum[src] = cum.get(src, 0) + n
        if cum[src] <= budget:
            expect.append(doc_id)
    assert got == sorted(expect)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_session_window_matches_gap_sessionizer(spark, seed):
    """T3 semantics fuzz: Spark's session_window must produce exactly
    the sessions a sequential 30-unit-gap scanner produces on random
    event times — session start = first event, end = last event + gap,
    count = events in session. Boundary semantic (discovered by this
    fuzz, invisible in the microsecond-timestamped fixtures): an event
    EXACTLY gap after the previous one still merges — the scanner must
    use diff > gap, not >=, to open a session."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from gostream_spark.operators import session_windowed

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = []
    for uid in range(4):
        t = 0
        for _ in range(40):
            t += rng.choice([1, 5, 29, 30, 31, 90])  # straddle the gap
            rows.append((uid, base + timedelta(minutes=t)))
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP")
    out = session_windowed(
        df, "ts", "30 minutes", keys=("user_id",),
        aggs=(F.count(F.lit(1)).alias("n"),),
    ).select("user_id", "w.start", "w.end", "n").collect()
    got = sorted((r.user_id, r.start, r.end, r.n) for r in out)

    expect = []
    gap = timedelta(minutes=30)
    for uid in range(4):
        times = sorted(t for (u, t) in rows if u == uid)
        start, last, n = times[0], times[0], 1
        for t in times[1:]:
            if t - last <= gap:
                last, n = t, n + 1
            else:
                expect.append((uid, start, last + gap, n))
                start, last, n = t, t, 1
        expect.append((uid, start, last + gap, n))
    assert got == sorted(expect)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_tumbling_window_bucket_boundaries(spark, seed):
    """T1 semantics fuzz: events landing EXACTLY on a window boundary
    must go to the bucket they start (start-inclusive, end-exclusive)
    — checked against epoch-floor bucketing on random times that
    frequently hit exact hour marks."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from gostream_spark.operators import tumbling_windowed

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(minutes=rng.choice([0, 59, 60, 61, 119, 120, 121])
                             + 180 * rng.randrange(8)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, ts TIMESTAMP")
    out = tumbling_windowed(
        df, "ts", "1 hour", aggs=(F.count(F.lit(1)).alias("n"),)
    ).select("w.start", "n").collect()
    got = sorted((r.start, r.n) for r in out)

    buckets = {}
    for _i, t in rows:
        epoch = int(t.timestamp())
        start = datetime.utcfromtimestamp(epoch - epoch % 3600)
        buckets[start] = buckets.get(start, 0) + 1
    assert got == sorted(buckets.items())


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_topk_ranked_total_order_with_duplicate_keys(spark, seed):
    """W4 tie fuzz: with HEAVY duplication in the primary sort value,
    topk_ranked under a (value, id) total order must return exactly
    python's sorted()[:k] with 1..k ranks."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.operators import topk_ranked

    rng = random.Random(seed)
    rows = [(i, rng.randrange(5)) for i in range(300)]  # ~60 ties/value
    df = spark.createDataFrame(rows, "id BIGINT, v BIGINT")
    out = topk_ranked(df, 10, F.col("v").desc(), F.col("id").asc()).collect()
    got = [(r.v, r.id, r.rn) for r in sorted(out, key=lambda r: r.rn)]
    expect = sorted(rows, key=lambda t: (-t[1], t[0]))[:10]
    assert got == [(v, i, rank + 1) for rank, (i, v) in enumerate(expect)]


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_salted_agg_equals_direct_agg(spark, seed):
    """Skew fuzz: two-phase salted aggregation must equal the direct
    group-by exactly (decimal sums, counts) on random 90%-one-key
    data."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.operators.skew import salted_agg

    rng = random.Random(seed)
    rows = [(0 if rng.random() < 0.9 else rng.randrange(1, 8), rng.randrange(1000))
            for _ in range(2000)]
    df = spark.createDataFrame(rows, "k BIGINT, v BIGINT")
    salted = salted_agg(
        df, keys=["k"],
        partial_aggs=[F.sum("v").alias("s"), F.count(F.lit(1)).alias("c")],
        final_aggs=[F.sum("s").alias("s"), F.sum("c").alias("c")],
    )
    got = {(r.k): (r.s, r.c) for r in salted.collect()}
    expect = {}
    for k, v in rows:
        s, c = expect.get(k, (0, 0))
        expect[k] = (s + v, c + 1)
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_keep_first_deterministic_under_duplicates(spark, seed):
    """L1 fuzz: keep_first must keep exactly the order_by-minimal row
    per key regardless of input order or partitioning."""
    import random

    from gostream_spark.operators import keep_first

    rng = random.Random(seed)
    rows = [(i, rng.randrange(20), rng.randrange(100)) for i in range(300)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "rid BIGINT, key BIGINT, ord BIGINT").repartition(7)
    got = {r.key: (r.ord, r.rid) for r in keep_first(df, keys=["key"], order_by=["ord", "rid"]).collect()}
    expect = {}
    for rid, key, ordv in rows:
        if key not in expect or (ordv, rid) < expect[key]:
            expect[key] = (ordv, rid)
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_bottomk_sketch_merges_distributively(spark, seed):
    """The docstring's scale claim, pinned: bottomk(A ∪ B) must be
    computable from the two sketches alone (merge + re-take k
    smallest) — i.e. sketch(union) == take_k(sorted(set(sk_a) ∪
    set(sk_b)))."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.functions.sketches import bottomk_sketch

    rng = random.Random(seed)
    k = 8
    a = [f"a{rng.randrange(10**6)}" for _ in range(60)]
    b = [f"b{rng.randrange(10**6)}" for _ in range(60)] + a[:20]  # overlap
    df = spark.createDataFrame(
        [("a", a), ("b", b), ("u", a + b)], "id STRING, items ARRAY<STRING>"
    )
    sk = {r.id: r.s for r in df.select("id", bottomk_sketch(F.col("items"), k).alias("s")).collect()}
    merged = sorted(set(sk["a"]) | set(sk["b"]))[:k]
    assert merged == list(sk["u"])


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_cosine_fold_matches_numpy(spark, seed):
    """The JVM-side float64 cosine fold must agree with numpy to
    ~1e-9 on random vectors (same element order, both float64 — only
    summation-order-free because the fold is sequential per row)."""
    import random

    import numpy as np
    from pyspark.sql import functions as F

    from gostream_spark.functions import cosine_similarity

    rng = random.Random(seed)
    pairs = []
    for i in range(40):
        a = [rng.uniform(-1, 1) for _ in range(16)]
        b = [rng.uniform(-1, 1) for _ in range(16)]
        pairs.append((i, a, b))
    df = spark.createDataFrame(pairs, "i BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
    got = {r.i: r.c for r in df.select(
        "i", cosine_similarity(F.col("a"), F.col("b")).alias("c")).collect()}
    for i, a, b in pairs:
        an, bn = np.array(a), np.array(b)
        want = float(an @ bn / (np.linalg.norm(an) * np.linalg.norm(bn)))
        assert abs(got[i] - want) < 1e-9, (i, got[i], want)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_sliding_window_expansion(spark, seed):
    """T2 fuzz: every event must appear in exactly size/slide hopping
    windows, and per-window counts must match a reference expansion
    (including exact-boundary event times)."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from gostream_spark.operators import sliding_windowed

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(minutes=rng.choice([0, 30, 60, 90, 115, 120, 125])
                             + 240 * rng.randrange(5)))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "event_id BIGINT, ts TIMESTAMP")
    out = sliding_windowed(
        df, "ts", duration="2 hours", slide="1 hour",
        aggs=(F.count(F.lit(1)).alias("n"),),
    ).select("w.start", "n").collect()
    got = sorted((r.start, r.n) for r in out)

    buckets = {}
    for _i, t in rows:
        epoch = int(t.timestamp())
        # windows [s, s+2h) with s on hour marks containing t: the
        # hour-floor and the previous hour
        floor = epoch - epoch % 3600
        for s in (floor - 3600, floor):
            if s <= epoch < s + 7200:
                start = datetime.utcfromtimestamp(s)
                buckets[start] = buckets.get(start, 0) + 1
    assert got == sorted(buckets.items())


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_connected_components_random_graph_vs_union_find(spark, seed):
    """Random sparse graph: the BSP fixpoint must equal a union-find
    reference exactly (cluster id = min node id of the component)."""
    import random

    from gostream_spark.operators.components import connected_components

    rng = random.Random(seed)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id BIGINT")
    edf = spark.createDataFrame(edges or [(0, 0)], "src BIGINT, dst BIGINT")
    got = {r.id: r.cluster for r in connected_components(nodes, edf, max_iter=30).collect()}

    parent = list(range(n))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps = {}
    for i in range(n):
        comps.setdefault(find(i), []).append(i)
    expect = {i: min(members) for members in comps.values() for i in members}
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_cdc_boundaries_are_content_local(spark, seed):
    """The reason content-defined chunking exists: an edit at position
    q must leave every boundary whose 8-char window lies entirely
    before q unchanged (line/offset-based chunking fails this; the
    md5-window boundary rule must pass it)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(seed)
    text = "".join(rng.choice("abcdefgh ") for _ in range(400))
    q = rng.randrange(100, 300)
    edited = text[:q] + ("X" + text[q:])  # insertion at q

    df = spark.createDataFrame([("o", text), ("e", edited)], "id STRING, text STRING")
    n = F.length("text")
    bnds = F.filter(
        F.sequence(F.lit(1), n - 7),
        lambda p: F.substring(F.md5(F.col("text").substr(p, F.lit(8))), 1, 2) == "00",
    )
    got = {r.id: set(r.b) for r in df.select("id", bnds.alias("b")).collect()}
    horizon = q - 8  # windows starting here end before the edit
    assert {p for p in got["o"] if p <= horizon} == {
        p for p in got["e"] if p <= horizon
    }


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_topk_per_group_matches_reference(spark, seed):
    """W5 fuzz: per-group top-k under a total order must equal
    python's per-group sorted()[:k] — including groups smaller than
    k and heavy ties in the ranking value."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.operators import topk_per_group

    rng = random.Random(seed)
    rows = [(i, rng.randrange(8), rng.randrange(4)) for i in range(200)]
    df = spark.createDataFrame(rows, "id BIGINT, g BIGINT, v BIGINT")
    out = topk_per_group(
        df, 3, ["g"], [F.col("v").desc(), F.col("id").asc()]
    ).collect()
    got = sorted((r.g, r.rn, r.id) for r in out)

    expect = []
    for g in {r[1] for r in rows}:
        members = sorted(((v, i) for i, gg, v in rows if gg == g),
                         key=lambda t: (-t[0], t[1]))[:3]
        expect += [(g, rank + 1, i) for rank, (_v, i) in enumerate(members)]
    assert got == sorted(expect)


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_gapfill_grid_and_forward_fill(spark, seed):
    """Resample fuzz: per-key hourly grid must span exactly
    [floor(min), floor(max)] with no holes; zero-filled counts and
    last-observation-carried-forward values must match a sequential
    reference on sparse random event times."""
    import random
    from datetime import datetime, timedelta

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    base = datetime(2024, 1, 1)
    rows = []
    rid = 0
    for uid in range(3):
        for _ in range(12):  # sparse: big random gaps
            rows.append((rid, uid,
                         base + timedelta(minutes=rng.randrange(0, 3000)),
                         float(rng.randrange(100))))
            rid += 1
    df = spark.createDataFrame(rows, "rid BIGINT, uid BIGINT, ts TIMESTAMP, v DOUBLE")
    hourly = df.groupBy("uid", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("c"), F.round(F.sum("v"), 2).alias("vs")
    )
    bounds = df.groupBy("uid").agg(
        F.min(F.date_trunc("hour", "ts")).alias("lo"),
        F.max(F.date_trunc("hour", "ts")).alias("hi"),
    )
    grid = bounds.select(
        "uid", F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    w = (
        Window.partitionBy("uid").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        grid.join(hourly, ["uid", "h"], "left")
        .select(
            "uid", "h",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.last("vs", ignorenulls=True).over(w).alias("ffill"),
        )
        .collect()
    )
    got = {(r.uid, r.h): (r.c, round(r.ffill, 2)) for r in out}

    expect = {}
    for uid in range(3):
        times = [(t, v) for (_r, u, t, v) in rows if u == uid]
        floor = lambda t: t.replace(minute=0, second=0, microsecond=0)
        lo, hi = min(floor(t) for t, _ in times), max(floor(t) for t, _ in times)
        per_hour = {}
        for t, v in times:
            h = floor(t)
            c, s = per_hour.get(h, (0, 0.0))
            per_hour[h] = (c + 1, s + v)
        h, last = lo, None
        while h <= hi:
            c, s = per_hour.get(h, (0, None))
            if s is not None:
                last = round(s, 2)
            expect[(uid, h)] = (c, last)
            h += timedelta(hours=1)
    assert got == expect


@given(seed=st.integers(min_value=0, max_value=10**6))
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
def test_simhash64_duplicate_and_locality_invariants(spark, seed):
    """64-bit xxhash SimHash guarantees (no oracle possible): equal
    token sets ⇒ equal fingerprints; distinct random docs ⇒ distinct
    fingerprints (2^64 keyspace); a 20% perturbation stays (mean-)
    Hamming-closer than a full rewrite."""
    import random

    from pyspark.sql import functions as F

    from gostream_spark.functions.sketches import simhash64_from_xxhashes

    rng = random.Random(seed)
    rows = []
    for d in range(6):
        toks = [f"t{rng.randrange(10**6)}d{d}i{i}" for i in range(40)]
        lo = list(toks)
        for i in rng.sample(range(40), 8):
            lo[i] = f"r{rng.randrange(10**6)}"
        hi = [f"n{rng.randrange(10**6)}d{d}i{i}" for i in range(40)]
        rows += [(d, "orig", " ".join(toks)), (d, "same", " ".join(toks)),
                 (d, "lo", " ".join(lo)), (d, "hi", " ".join(hi))]
    df = spark.createDataFrame(rows, "doc INT, kind STRING, text STRING")
    hashed = df.select(
        "doc", "kind",
        F.transform(F.array_distinct(F.split("text", " ")), lambda t: F.xxhash64(t)).alias("hs"),
    )
    fp = hashed.select("doc", "kind", simhash64_from_xxhashes(F.col("hs")).alias("f"))
    sig = {(r.doc, r.kind): r.f for r in fp.collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert all(sig[(d, "orig")] == sig[(d, "same")] for d in range(6))
    origs = [sig[(d, "orig")] for d in range(6)]
    assert len(set(origs)) == 6  # random docs -> distinct fingerprints
    mean_lo = sum(ham(sig[(d, "orig")], sig[(d, "lo")]) for d in range(6)) / 6
    mean_hi = sum(ham(sig[(d, "orig")], sig[(d, "hi")]) for d in range(6)) / 6
    assert mean_lo < mean_hi, (mean_lo, mean_hi)


def test_winnowing_all_tied_window_picks_rightmost(spark):
    """Deterministic pin of the rightmost-tie rule (r16 regression
    class: the CASE-probe rewrite's first cut probed LEFTMOST-first —
    it survived sf0.1, where ties never move a selection, and was
    caught by the sf0.01 oracle). A constant-token doc makes every
    shingle hash identical, so every window is an all-way tie and the
    selected positions must be each window's RIGHT edge: 1-based
    {W, W+1, …, m}. A leftmost-first probe yields {1, …, m-W+1}."""
    from gostream_spark.queries.dedup_advanced import (
        _WINNOW_K,
        _WINNOW_W,
        _winnow_selected,
    )

    n_toks = 10
    df = spark.createDataFrame(
        [(1, " ".join(["aa"] * n_toks))], "doc_id LONG, text STRING"
    )
    row = _winnow_selected(df).collect()[0]
    m = n_toks - (_WINNOW_K - 1)
    assert sorted(row.fps) == list(range(_WINNOW_W, m + 1)), row.fps


_winnow_vocab = ["aa", "bb", "cc", "dd", "ee"]


@given(
    toks=st.lists(st.sampled_from(_winnow_vocab), min_size=0, max_size=24),
    doc_id=st.integers(min_value=0, max_value=10),
)
@settings(**_SETTINGS)
def test_winnowing_selection_matches_reference(spark, toks, doc_id):
    """Fuzz `_winnow_selected` against a pure-Python winnower on
    random token sequences, including the degenerate sizes the
    fixtures never produce (empty docs, fewer shingles than the
    window)."""
    import hashlib

    from gostream_spark.queries.dedup_advanced import (
        _WINNOW_K,
        _WINNOW_W,
        _winnow_selected,
    )

    text = " ".join(toks)
    df = spark.createDataFrame([(doc_id, text)], "doc_id LONG, text STRING")
    row = _winnow_selected(df).collect()[0]

    m = len(toks) - (_WINNOW_K - 1)
    hs = [
        hashlib.md5(" ".join(toks[p : p + _WINNOW_K]).encode()).hexdigest()[:8]
        for p in range(max(m, 0))
    ]
    sel = set()
    for i in range(_WINNOW_W - 1, m):
        win = hs[i - _WINNOW_W + 1 : i + 1]
        mn = min(win)
        sel.add(i - list(reversed(win)).index(mn))
    # engine positions are 1-based
    assert sorted(p - 1 for p in row.fps) == sorted(sel), (toks, row.fps)


# Values with heavy ties and skew: the two-pass prefix sum must equal
# the global ordered cumsum REGARDLESS of where the distribution
# sketch places its bucket cuts (ties always share a bucket).
pareto_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),  # id (tiebreak)
        st.integers(min_value=0, max_value=8),       # value — few distincts => many ties
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(rows=pareto_rows, n_buckets=st.sampled_from([1, 2, 4, 256]))
@settings(**_SETTINGS)
def test_bucketed_prefix_sum_matches_global_cumsum(spark, rows, n_buckets):
    df = spark.createDataFrame(rows, "id LONG, v LONG")
    out = bucketed_prefix_sum(
        df, "v", ["id"], out_col="cum", n_buckets=n_buckets
    ).collect()
    got = {r.id: r.cum for r in out}

    want, acc = {}, 0
    for rid, v in sorted(rows, key=lambda t: (-t[1], t[0])):
        acc += v
        want[rid] = acc
    assert got == want


# --- heavy-hitter sketch guarantees (pure Python, no Spark job) ---------

_hh_stream = st.lists(
    st.sampled_from([f"t{i}" for i in range(30)]),
    min_size=1,
    max_size=600,
)


@given(stream=_hh_stream, n_chunks=st.integers(min_value=1, max_value=4))
@settings(max_examples=60, deadline=None)
def test_misra_gries_candidates_are_superset_of_heavy_tokens(stream, n_chunks):
    """The mapInPandas worker's Misra-Gries summary must retain every
    token with count > N/k, for any chunking of the partition (the
    no-false-negative half of heavy_hitter_tokens' exactness proof;
    pass 2 handles false positives)."""
    import pandas as pd

    from gostream_spark.queries import heavy_hitters as hh

    # One document per token keeps the worker's tokenize trivial.
    docs = pd.DataFrame({"text": stream})
    step = max(1, len(docs) // n_chunks)
    batches = [docs[i : i + step] for i in range(0, len(docs), step)]
    (out,) = list(hh._misra_gries_candidates(iter(batches)))
    candidates = set(out["token"])

    from collections import Counter

    counts = Counter(stream)
    n = len(stream)
    for tok, cnt in counts.items():
        if cnt > n / hh._MG_CAPACITY:
            assert tok in candidates, (tok, cnt, n)


class _FakeGroupState:
    """Minimal stand-in for pyspark GroupState: exists/get/update, and
    a timer that never fires."""

    hasTimedOut = False

    def __init__(self):
        self._v = None

    def setTimeoutTimestamp(self, _ms):
        pass

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from([f"w{i}" for i in range(25)]), min_size=1, max_size=30
        ).map(" ".join),
        min_size=1,
        max_size=40,
    ),
    n_batches=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_space_saving_state_guarantees(texts, n_batches):
    """The streaming Space-Saving fold must, after ANY micro-batch
    split of the input: (a) emit every token with true count >= the
    ceil(N/200) report threshold, (b) only overestimate, by at most
    N/capacity — the invariants streaming_heavy_hitters_stateful's
    fixture test checks once, here fuzzed across arrival orders."""
    import pandas as pd

    from gostream_spark.streaming import ops

    state = _FakeGroupState()
    step = max(1, len(texts) // n_batches)
    out = None
    for i in range(0, len(texts), step):
        pdf = pd.DataFrame({"text": texts[i : i + step]})
        (out,) = list(ops._space_saving_fn(("src",), iter([pdf]), state))

    from collections import Counter

    all_tokens = [t for txt in texts for t in txt.split(" ")]
    counts = Counter(all_tokens)
    n = len(all_tokens)
    emitted = dict(zip(out["token"], out["est_cnt"]))
    thresh = -(-n // ops._SS_PHI_INV)
    for tok, cnt in counts.items():
        if cnt >= thresh:
            assert tok in emitted, (tok, cnt, thresh)
    for tok, est in emitted.items():
        true = counts.get(tok, 0)
        assert true <= est <= true + n / ops._SS_CAPACITY, (tok, est, true, n)


def test_space_saving_hostile_tokens_and_nulls():
    """State round-trip must be collision-proof for tokens containing
    the old ad-hoc separators (\\x1e/\\x1f), JSON metachars, and
    non-ASCII, and a null text row must contribute nothing rather
    than crash the fold (ADVICE r5: the \\x1e-joined encoding silently
    corrupted such tokens)."""
    import pandas as pd

    from gostream_spark.streaming import ops

    hostile = ["a\x1eb", "a\x1fb", 'q"uote', "back\\slash", "café", "普通"]
    state = _FakeGroupState()
    # Two batches so the summary round-trips through the serialized state.
    pdf1 = pd.DataFrame({"text": [" ".join(hostile), None]})
    pdf2 = pd.DataFrame({"text": [" ".join(hostile), None, " ".join(hostile)]})
    list(ops._space_saving_fn(("src",), iter([pdf1]), state))
    (out,) = list(ops._space_saving_fn(("src",), iter([pdf2]), state))
    emitted = {t: c for t, c in zip(out["token"], out["est_cnt"]) if t is not None}
    assert emitted == {t: 3 for t in hostile}, emitted
    # Exactly one sentinel row (NULL token, est 0) rides along so the
    # batch's running n_tokens always reaches the sink (ADVICE r8).
    assert (out["token"].isna() & (out["est_cnt"] == 0)).sum() == 1
    n_total = out["n_tokens"].iloc[0]
    assert n_total == 3 * len(hostile), n_total


def test_space_saving_empty_candidate_batch_still_emits_total():
    """ADVICE r8: a near-uniform batch where EVERY counter falls below
    ceil(n/200) must still emit >= 1 row carrying the running token
    total — otherwise the downstream stream_total_ok verdict reads a
    stale total and flips to 0 on a perfectly legal input."""
    import pandas as pd

    from gostream_spark.streaming import ops

    # 2000 distinct tokens, each once: n=2000, threshold ceil(n/200)=10,
    # every Space-Saving estimate <= 1 + n/400 = 6 < 10 -> zero
    # candidates, the exact shape the old code emitted nothing for.
    toks = [f"u{i}" for i in range(2000)]
    pdf = pd.DataFrame({"text": [" ".join(toks)]})
    state = _FakeGroupState()
    (out,) = list(ops._space_saving_fn(("src",), iter([pdf]), state))
    assert len(out) == 1
    assert out["token"].iloc[0] is None and out["est_cnt"].iloc[0] == 0
    assert out["n_tokens"].iloc[0] == 2000


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from([f"e{i}" for i in range(12)]),
            min_size=1,
            max_size=10,
            unique=True,
        ),
        min_size=2,
        max_size=12,
    ),
    seed=st.integers(min_value=0, max_value=10),
)
@settings(**_SETTINGS)
def test_prefix_filtered_join_equals_bruteforce(spark, docs, seed):
    """The AllPairs/PPJoin operator must return EXACTLY the pairs with
    Jaccard >= 3/5 that a brute-force all-pairs scan finds — on random
    element sets, where the prefix/length/positional filters all get
    exercised (the fixture corpus only covers one shape)."""
    from gostream_spark.operators.prefix_join import prefix_filtered_jaccard_pairs

    rows = [(i, sorted(set(d)), len(set(d))) for i, d in enumerate(docs)]
    g = spark.createDataFrame(rows, "doc_id long, sh array<string>, n long")
    got = {
        (r.doc_a, r.doc_b, r.inter_cnt)
        for r in prefix_filtered_jaccard_pairs(g, 3, 5).collect()
    }
    want = set()
    for i, (ida, sa, na) in enumerate(rows):
        for idb, sb, nb in rows[i + 1 :]:
            inter = len(set(sa) & set(sb))
            if 8 * inter >= 3 * (na + nb):
                want.add((ida, idb, inter))
    assert got == want, (got, want)


@given(
    gaps_s=st.lists(st.integers(min_value=0, max_value=4000), min_size=1, max_size=60),
)
@settings(max_examples=80, deadline=None)
def test_capped_session_fold_invariants(gaps_s):
    """Fuzz the duration-capped session fold against its invariants
    for ANY gap sequence: (a) inside a session every inter-event gap
    <= 30 min AND the span from the session's first event <= 2 h;
    (b) at every session boundary the split was FORCED (gap too big,
    or keeping the event would burst the cap); (c) session numbers
    are 1..K dense and event counts sum to n."""
    import pandas as pd

    from gostream_spark.streaming.ops import (
        _CS_GAP_US,
        _CS_LEN_US,
        _capped_session_fold,
    )

    base = pd.Timestamp("2024-01-01")
    ts, t = [], base
    for g in gaps_s:
        t = t + pd.Timedelta(seconds=g)
        ts.append(t)
    pdf = pd.DataFrame(
        {"user_id": 1, "ts": ts, "event_id": range(len(ts))}
    )
    out = _capped_session_fold(pdf.copy())
    assert out["n_events"].sum() == len(ts)
    assert sorted(out["session_no"]) == list(range(1, len(out) + 1))

    # replay: assign each event its session via the same boundaries
    us = pd.Series(ts).astype("datetime64[us]").astype("int64")
    sess_first = {}
    cur, anchor, prev = 0, None, None
    assignment = []
    for u in us:
        if anchor is None or u - prev > _CS_GAP_US or u - anchor > _CS_LEN_US:
            cur += 1
            anchor = u
            sess_first[cur] = u
        else:
            # staying in-session must satisfy BOTH constraints
            assert u - prev <= _CS_GAP_US
            assert u - sess_first[cur] <= _CS_LEN_US
        prev = u
        assignment.append(cur)
    counts = pd.Series(assignment).value_counts().sort_index()
    got = out.sort_values("session_no")["n_events"].tolist()
    assert got == counts.tolist()


@given(
    gaps_s=st.lists(st.integers(min_value=0, max_value=4000), min_size=2, max_size=50),
    n_batches=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=60, deadline=None)
def test_streaming_capped_session_equals_batch_minus_open(gaps_s, n_batches):
    """The streaming capped-session adapter, fed the same events over
    ANY time-ordered micro-batch split, must emit exactly the batch
    adapter's sessions minus the final still-open one (both run
    ``ops._capped_session_walk``)."""
    import pandas as pd

    from gostream_spark.streaming import ops

    base = pd.Timestamp("2024-01-01")
    ts, t = [], base
    for g in gaps_s:
        t = t + pd.Timedelta(seconds=g)
        ts.append(t)
    pdf = pd.DataFrame({"user_id": 7, "ts": ts, "event_id": range(len(ts))})

    batch = ops._capped_session_fold(pdf.copy())
    want = batch.iloc[:-1]  # drop the last (open) session

    state = _FakeGroupState()
    step = max(1, len(ts) // n_batches)
    emitted = []
    for i in range(0, len(ts), step):
        chunk = pdf.iloc[i : i + step]
        for out in ops._capped_session_state_fn((7,), iter([chunk]), state):
            emitted.append(out)
    got = (
        pd.concat(emitted, ignore_index=True)
        if emitted
        else pd.DataFrame(columns=want.columns)
    )
    assert len(got) == len(want), (len(got), len(want))
    for col in ("session_no", "n_events", "session_start", "session_end"):
        assert got[col].tolist() == want[col].tolist(), col


_ORDERED_FOLDS = (
    "_ewma_fn",
    "_transition_fn",
    "_count_window_fn",
    "_event_session_fn",
    "_lindley_fn",
    "_capped_session_state_fn",
)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4000),  # seconds after the last event
            st.sampled_from(["view", "cart", "buy"]),
            st.one_of(st.none(), st.integers(min_value=-5000, max_value=5000)),
        ),
        min_size=1,
        max_size=40,
    ),
    n_chunks=st.integers(min_value=1, max_value=4),
    rnd=st.randoms(use_true_random=False),
)
@settings(max_examples=60, deadline=None)
def test_ordered_folds_ignore_chunk_order(rows, n_chunks, rnd):
    """A group larger than ``arrow.maxRecordsPerBatch`` reaches a fold
    as several Arrow chunks in any order. Every order-sensitive fold
    must emit the same frames and leave the same state whether it gets
    the group as one chunk, as its shuffled rows split into 1-4 chunks
    in any order, or as one chunk whose ``ts`` is microseconds rather
    than nanoseconds. Zero gaps tie ``ts`` so that ``event_id`` (a
    random permutation) decides the order."""
    import pandas as pd

    from gostream_spark.streaming import ops

    ts, t = [], pd.Timestamp("2024-01-01")
    for gap, _, _ in rows:
        t = t + pd.Timedelta(seconds=gap)
        ts.append(t)
    group = pd.DataFrame(
        {
            "user_id": 3,
            "ts": ts,
            "event_id": rnd.sample(range(1000), len(rows)),
            "event_type": [r[1] for r in rows],
            # a NULL double reaches pandas as NaN
            "value": [float("nan") if r[2] is None else r[2] / 100 for r in rows],
            "delta": [r[2] or 0 for r in rows],
        }
    )
    shuffled = group.sample(frac=1, random_state=rnd.randrange(2**32))
    cuts = sorted(rnd.sample(range(1, len(rows)), min(n_chunks, len(rows)) - 1))
    chunks = [shuffled.iloc[a:b] for a, b in zip([0, *cuts], [*cuts, len(rows)])]
    rnd.shuffle(chunks)
    feeds = {
        "one chunk": [group],
        "shuffled chunks": chunks,
        "microsecond ts": [group.astype({"ts": "datetime64[us]"})],
    }

    for name in _ORDERED_FOLDS:
        fold = getattr(ops, name)
        results = {}
        for feed, pdfs in feeds.items():
            state = _FakeGroupState()
            out = list(fold((3,), iter(pdfs), state))
            frame = pd.concat(out, ignore_index=True) if out else None
            results[feed] = (frame, repr(state.get))
        want_frame, want_state = results.pop("one chunk")
        for feed, (frame, got_state) in results.items():
            assert got_state == want_state, (name, feed)
            if want_frame is None:
                assert frame is None, (name, feed)
            else:
                pd.testing.assert_frame_equal(frame, want_frame, obj=f"{name} {feed}")


@given(
    batches=st.lists(
        st.lists(
            st.tuples(
                st.sampled_from(["a", "b", "c"]),
                st.integers(min_value=-500, max_value=500),
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    ),
    replay_mask=st.lists(st.booleans(), min_size=4, max_size=4),
)
@settings(**_SETTINGS)
def test_matview_merger_random_batches_and_replays(
    spark, tmp_path_factory, batches, replay_mask
):
    """Fuzz the incremental-view merger: arbitrary batch contents
    (including empty batches and negative amounts), with arbitrary
    batches replayed after later ones committed — the final view must
    equal the one-shot aggregate of every batch applied exactly
    once."""
    from collections import defaultdict

    from gostream_spark.queries.streaming_queries import make_matview_merger

    mv_root = str(tmp_path_factory.mktemp("mv"))
    state, merge = make_matview_merger(mv_root)

    def mkdf(rows):
        return spark.createDataFrame(
            rows or [("__none__", 0)], "event_type string, cents long"
        ).filter(F.col("event_type") != "__none__")

    for bid, rows in enumerate(batches):
        merge(mkdf(rows), bid)
    for bid, rows in enumerate(batches):
        if bid < len(replay_mask) and replay_mask[bid]:
            merge(mkdf(rows), bid)  # replays, in arbitrary late order

    want: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for rows in batches:
        for etype, cents in rows:
            want[etype][0] += 1
            want[etype][1] += cents
    if state["current"] is None:
        assert not want
        return
    got = {
        r.event_type: [r.event_cnt, r.value_cents]
        for r in spark.read.parquet(state["current"]).collect()
    }
    assert got == dict(want), (got, dict(want))


@given(
    n=st.integers(min_value=-2_000_000, max_value=2_000_000),
    half=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_mmr_quantizer_matches_half_away_from_zero(n, half):
    """The MMR fold's round_half_up must implement HALF-AWAY-FROM-ZERO
    (the F.round / DuckDB round semantic) for every representable
    micro-unit value, exact halves included — Python's built-in
    round() is half-to-even and would diverge on ties (r5 advice)."""
    import decimal

    from gostream_spark.queries.llm_similarity import _mmr_select  # noqa: F401
    # the quantizer is defined inside _mmr_select; re-derive the same
    # formula here and check it against decimal ROUND_HALF_UP ground
    # truth over exact binary-representable inputs
    import math

    x = n + (0.5 if half else 0.25)  # .5 exactly representable
    got = math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)
    want = int(
        decimal.Decimal(repr(x)).quantize(0, rounding=decimal.ROUND_HALF_UP)
    )
    assert got == want, (x, got, want)


@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]),
                min_size=0,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=8,
    ),
)
@settings(**_SETTINGS)
def test_exact_substr_dedup_equals_bruteforce(spark, tmp_path_factory, docs):
    """ExactSubstr span removal must match a direct Python replay of
    its definition — global first occurrence per 5-gram kept, every
    other occurrence's 5-word span cut, per-doc spans unioned — on
    random corpora from a 4-token vocabulary (dense gram collisions:
    cross-doc dups, within-doc repeats, overlapping spans, full
    wipe-outs, sub-5-token docs, NULL text all arise)."""
    import os
    import shutil
    import uuid

    from gostream_spark.queries.corpus_ops import exact_substr_dedup

    K = 5
    d = str(tmp_path_factory.mktemp(f"exsub{uuid.uuid4().hex[:6]}"))
    rows = [
        (i, None if t is None else " ".join(t), "en", "s", 0)
        for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    stage = os.path.join(d, "stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(stage, part), os.path.join(d, "documents.parquet"))

    # Brute-force reference
    toks = {i: (None if t is None else " ".join(t).split(" ")) for i, t in enumerate(docs)}
    occ = []
    for did in sorted(toks):
        t = toks[did]
        if t is None:
            continue
        for p in range(1, len(t) - K + 2):
            occ.append((did, p, " ".join(t[p - 1 : p - 1 + K])))
    first = {}
    for did, p, g in sorted(occ):
        first.setdefault(g, (did, p))
    removed = {did: set() for did in toks}
    for did, p, g in occ:
        if first[g] != (did, p):
            removed[did].update(range(p, p + K))
    want = {}
    for did, t in toks.items():
        if t is None:
            want[did] = (None, 0, None)
        else:
            rem = removed[did]
            kept = [tok for i, tok in enumerate(t, 1) if i not in rem]
            want[did] = (len(t), len(rem), " ".join(kept))

    got = {
        r.doc_id: (r.n_words, r.n_removed, r.clean_text)
        for r in exact_substr_dedup(spark, d).collect()
    }
    assert got == want, (got, want)

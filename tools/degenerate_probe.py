"""Degenerate fixture: pathological versions of all ten tables, and
``stage``, the one writer of rows as single-file parquet tables for
the degenerate sweep and tests.

The production fixtures are statistically benign (every order has
lineitems, every part sells, no 100% discounts, no zero-norm vectors,
no NULL payloads). This fixture is where the other shapes live:

  - orders with NO lineitems / customers with no orders / parts never
    ordered / suppliers with no sales (unmatched keys through every
    outer/semi/anti join)
  - discount = 1.0 (zero revenue -> zero denominators in share/ratio
    queries), zero and negative balances and prices
  - duplicate lineitems differing only in linenumber; tied order dates
  - empty/sub-shingle documents, NULL event payloads, tied event
    timestamps, zero-norm embeddings

Run every registered query (batch and streaming) on it against its
DuckDB oracle with ``python tools/sweep.py --degenerate``; promote
findings into tests/test_degenerate_inputs.py once fixed.

This found (r7): MMR crashing on zero-norm vectors, the dim-stats
oracle hardcoding the fixture's 64 dims, and NULL JSON payloads
silently diverging between engines in dead-letter routing.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime

from pyspark.sql.types import TimestampType

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")

REGION = [(0, "AMERICA"), (1, "EMPTYREG")]
NATION = [(0, "ALPHA", 0), (1, "BRAVO", 0), (2, "ORPHAN", 1)]
CUSTOMER = [
    # zero balance / negative balance / customer with NO orders
    (100, "Cust#100", 0, 0.0, "BUILDING"),
    (101, "Cust#101", 0, -999.99, "AUTOMOBILE"),
    (102, "Cust#102", 1, 500.5, "BUILDING"),
]
SUPPLIER = [
    (200, "Supp#200", 0, 100.0),
    (201, "Supp#201", 1, -5.0),  # supplier with NO lineitems
]
PART = [
    (300, "green alpha part", "Brand#1", "STANDARD BRASS", 1, 10.0),
    (301, "red bravo part", "Brand#1", "PROMO STEEL", 50, 99.99),
    (302, "never ordered", "Brand#2", "ECONOMY TIN", 0, 0.0),
]
ORDERS = [
    (1000, 100, "F", 100.0, "1995-01-01 00:00:00", "1-URGENT"),
    (1001, 100, "O", 200.0, "1995-01-01 00:00:00", "5-LOW"),  # tied date
    (1002, 101, "F", 0.0, "1996-06-15 00:00:00", "1-URGENT"),  # zero total
    (1003, 101, "O", 50.0, "1997-12-31 00:00:00", "3-MEDIUM"),  # NO lineitems
]
LINEITEM = [
    # (okey, pkey, skey, ln, qty, extprice, disc, tax, rflag, lstatus, ship)
    (1000, 300, 200, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1995-01-10 00:00:00"),
    # discount 1.0: revenue exactly zero
    (1000, 301, 200, 2, 2.0, 199.98, 1.0, 0.08, "R", "F", "1995-01-12 00:00:00"),
    (1001, 301, 200, 1, 5.0, 499.95, 0.5, 0.0, "A", "F", "1995-02-01 00:00:00"),
    # identical rows except linenumber
    (1002, 300, 200, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", "1996-06-20 00:00:00"),
    (1002, 300, 200, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", "1996-06-20 00:00:00"),
]
EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (1, "2024-01-05 12:00:00", 100, "click", 1.5, '{"k":1}'),  # lone event
    (2, "2024-01-05 12:00:00", 101, "click", 2.0, '{"k":2}'),  # tied ts...
    (3, "2024-01-05 12:00:00", 101, "view", 3.0, '{"k":3}'),  # ...same user
    (4, "2024-01-05 12:00:00", 101, "purchase", 4.0, "{}"),
    (5, "2024-01-06 12:00:00", 102, "click", None, None),  # NULL value, payload
    (6, "2024-01-06 13:00:00", 102, "view", 5.0, '{"k":4}'),
    (7, "2024-01-07 12:00:00", 103, "click", 0.0, "{}"),
    (8, "2024-01-07 12:00:01", 103, "click", -1.0, "{}"),
    (9, "2024-01-07 12:00:02", 103, "click", -1.0, "{}"),
]
DOCUMENTS = [
    # (doc_id, text, lang, source, n_chars)
    (1, "", "en", "src1", 0),  # empty
    (2, "a", "en", "src1", 1),  # single char
    (3, "abcdefg", "en", "src2", 7),  # one short of a hash window
    (4, "abcdefgh", "en", "src2", 8),  # exactly one hash window
    (5, "one two", "de", "src3", 7),  # 2 tokens < 3-shingle
    (6, "alpha bravo charlie delta echo", "en", "src3", 30),  # normal
]
EMBEDDINGS = [
    (0, [1.0, 0.0, 0.0, 0.0], 0),  # the conventional query vector
    (10, [0.0, 0.0, 0.0, 0.0], 1),  # zero norm
    (20, [1.0, 0.0, 0.0, 0.0], 2),  # identical to the query
    (30, [-1.0, 0.0, 0.0, 0.0], 0),  # antipodal
    (40, [0.5, 0.5, 0.5, 0.5], 1),
    (50, [1e-30, 0.0, 0.0, 0.0], 2),  # tiny norm
]

SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey LONG, c_name STRING, c_nationkey INT, "
    "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING, "
    "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    "lineitem": "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, "
    "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
    "l_linestatus STRING, l_shipdate TIMESTAMP",
    "events": "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING",
    "documents": "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    "embeddings": "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
}
FIXTURE = {
    "region": REGION, "nation": NATION, "customer": CUSTOMER,
    "supplier": SUPPLIER, "part": PART, "orders": ORDERS,
    "lineitem": LINEITEM, "events": EVENTS, "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}


def stage(spark, tables: dict | None = None) -> str:
    """Write each table's rows as a single-file parquet table into a
    fresh ``.tmp/degen-*`` directory and return it; the caller removes
    it. ``tables`` maps a table name to its rows (default: the full
    degenerate fixture above), each written with its ``SCHEMAS`` DDL.
    A timestamp column may hold ``"%Y-%m-%d %H:%M:%S"`` strings."""
    d = os.path.join(TMP, f"degen-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    for t, rows in (tables or FIXTURE).items():
        schema = spark.createDataFrame([], SCHEMAS[t]).schema
        ts = {
            i for i, f in enumerate(schema.fields)
            if isinstance(f.dataType, TimestampType)
        }
        conv = [
            tuple(
                datetime.strptime(v, "%Y-%m-%d %H:%M:%S")
                if i in ts and isinstance(v, str) else v
                for i, v in enumerate(r)
            )
            for r in rows
        ]
        sub = os.path.join(TMP, f"stage-{uuid.uuid4().hex[:8]}")
        spark.createDataFrame(conv, schema).coalesce(1).write.parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(sub, part), os.path.join(d, f"{t}.parquet"))
        shutil.rmtree(sub, ignore_errors=True)
    return d

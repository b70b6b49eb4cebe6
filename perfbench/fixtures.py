"""Seeded parquet fixtures for the catalog workload.

Writes the ten tables the query catalog reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
column names and types of the repository's fixture schema, at the sf0.001
row counts (documents and embeddings: 500 rows). The same seed always
writes the same rows.

    python3 perfbench/fixtures.py <out_dir> <seed>
"""
import math
import os
import random
import sys
from datetime import datetime, timedelta

import duckdb
import pandas as pd

VOCAB = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

# {table: {column: duckdb type}} in the fixture schema's column order
SCHEMA = {
    "region": {"r_regionkey": "INTEGER", "r_name": "VARCHAR"},
    "nation": {"n_nationkey": "INTEGER", "n_name": "VARCHAR", "n_regionkey": "INTEGER"},
    "customer": {"c_custkey": "BIGINT", "c_name": "VARCHAR", "c_nationkey": "INTEGER",
                 "c_acctbal": "DOUBLE", "c_mktsegment": "VARCHAR"},
    "supplier": {"s_suppkey": "BIGINT", "s_name": "VARCHAR", "s_nationkey": "INTEGER",
                 "s_acctbal": "DOUBLE"},
    "part": {"p_partkey": "BIGINT", "p_name": "VARCHAR", "p_brand": "VARCHAR",
             "p_type": "VARCHAR", "p_size": "INTEGER", "p_retailprice": "DOUBLE"},
    "orders": {"o_orderkey": "BIGINT", "o_custkey": "BIGINT", "o_orderstatus": "VARCHAR",
               "o_totalprice": "DOUBLE", "o_orderdate": "TIMESTAMP",
               "o_orderpriority": "VARCHAR"},
    "lineitem": {"l_orderkey": "BIGINT", "l_partkey": "BIGINT", "l_suppkey": "BIGINT",
                 "l_linenumber": "INTEGER", "l_quantity": "DOUBLE",
                 "l_extendedprice": "DOUBLE", "l_discount": "DOUBLE", "l_tax": "DOUBLE",
                 "l_returnflag": "VARCHAR", "l_linestatus": "VARCHAR",
                 "l_shipdate": "TIMESTAMP"},
    "events": {"event_id": "BIGINT", "ts": "TIMESTAMP", "user_id": "BIGINT",
               "event_type": "VARCHAR", "value": "DOUBLE", "props": "VARCHAR"},
    "documents": {"doc_id": "BIGINT", "text": "VARCHAR", "lang": "VARCHAR",
                  "source": "VARCHAR", "n_chars": "BIGINT"},
    "embeddings": {"vec_id": "BIGINT", "embedding": "FLOAT[]", "label": "INTEGER"},
}


def tables(seed):
    r = random.Random(seed)
    day = lambda start, span: datetime(*start) + timedelta(days=r.randrange(span))
    money = lambda lo, hi: round(r.uniform(lo, hi), 2)
    out = {
        "region": [(i, n) for i, n in enumerate(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
        "nation": [(i, f"NATION_{i}", i % 5) for i in range(25)],
        "customer": [(i, f"Customer#{i:09d}", r.randrange(25), money(-999.99, 9999.99),
                      r.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                                "BUILDING"])) for i in range(150)],
        "supplier": [(i, f"Supplier#{i:09d}", r.randrange(25), money(-999.99, 9999.99))
                     for i in range(10)],
        "part": [(i, f"{r.choice(['blue', 'hot', 'small', 'old', 'red', 'new', 'cold'])} "
                     f"{r.choice(['bolt', 'gear', 'anvil', 'ring', 'widget', 'rod', 'plate'])}",
                  f"Brand#{r.randint(1, 25)}",
                  r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]),
                  r.randint(1, 50), round(900 + (i % 1000) / 10, 1)) for i in range(200)],
        "orders": [(i, r.randrange(150), r.choice("FOP"), money(1000, 500000),
                    day((1995, 1, 1), 2400),
                    r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
                   for i in range(1500)],
    }
    lines = []
    for i in range(6000):
        q = float(r.randint(1, 50))
        lines.append((r.randrange(1500), r.randrange(200), r.randrange(10),
                      r.randint(1, 7), q, round(q * r.uniform(900, 2100), 2),
                      r.randint(0, 10) / 100, r.randint(0, 8) / 100, r.choice("ANR"),
                      r.choice("OF"), day((1995, 1, 2), 2500)))
    out["lineitem"] = lines
    t0 = datetime(2024, 1, 1)
    out["events"] = [(i, t0 + timedelta(microseconds=r.randrange(30 * 86400 * 10**6)),
                      r.randrange(150), r.choice(EVENT_TYPES), round(r.uniform(0.01, 490), 2),
                      '{"k": %d}' % r.randrange(100)) for i in range(1000)]
    docs = []
    for i in range(500):
        if i % 20 == 19:  # a near-duplicate of the previous document
            text = docs[-1][1] + " dup"
        else:
            text = " ".join(r.choice(VOCAB) for _ in range(r.randint(10, 90)))
        lang = r.choices(["en", "es", "zh", "de", "fr"], [44, 15, 15, 14, 12])[0]
        docs.append((i, text, lang, f"src{i % 20}", len(text)))
    out["documents"] = docs
    centers = [[r.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    embs = []
    for i in range(500):
        label = r.randrange(10)
        v = [c + r.gauss(0, 0.8) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        embs.append((i, [x / norm for x in v], label))
    out["embeddings"] = embs
    return out


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, rows in tables(seed).items():
        cols = SCHEMA[name]
        df = pd.DataFrame(rows, columns=list(cols))
        con.register("src", df)
        select = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in cols.items())
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY (SELECT {select} FROM src) TO '{path}' (FORMAT PARQUET)")
        con.unregister("src")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))

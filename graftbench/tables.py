"""Tables for the query-mix workload, and the DuckDB check of its outputs.

`generate(seed, dir)` writes the ten tables the SparkEntry queries read
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as one parquet file each, at about a thousandth of
the TPC-H scale factor 1 row counts. The same seed gives the same bytes.
The workload always uses `SEED`: the query work then is the same in every
run, and the run's own seed only shuffles the query order.

`check(tables, out)` runs each query's oracle SQL in DuckDB over the same
tables and compares it with the engine's output: columns sorted by name,
rows sorted, values compared exactly (the queries round their float
aggregates), as the repository's parity tool does.
"""
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 10, 200, 1500
N_LINEITEM, N_EVENTS, N_DOCS, N_VECS, DIM = 6000, 1000, 500, 500, 64
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big stream group filter vector me").split()


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _tables(seed):
    rng = np.random.default_rng(seed)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {"c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                     "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                     "c_acctbal": money(-999, 9999, N_CUSTOMER),
                     "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMER)]}
    t["supplier"] = {"s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                     "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                     "s_acctbal": money(-999, 9999, N_SUPPLIER)}
    adj = np.array(["small", "large", "cold", "blue", "red", "old", "new"])
    noun = np.array(["widget", "bolt", "rod", "anvil", "ring"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = {"p_partkey": np.arange(N_PART, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 7, N_PART)],
                                                       noun[rng.integers(0, 5, N_PART)])],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
                 "p_type": types[rng.integers(0, 6, N_PART)],
                 "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(N_PART) % 200) * 0.1, 2)}
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {"o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                   "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
                   "o_totalprice": money(1000, 500000, N_ORDERS),
                   "o_orderdate": _days(rng, "1995-01-01", 2400, N_ORDERS),
                   "o_orderpriority": prio[rng.integers(0, 5, N_ORDERS)]}
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = {"l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
                     "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
                     "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
                     "l_quantity": qty,
                     "l_extendedprice": np.round(qty * money(900, 2000, N_LINEITEM), 2),
                     "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                     "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
                     "l_shipdate": _days(rng, "1995-01-02", 2500, N_LINEITEM)}
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    t["events"] = {"event_id": np.arange(N_EVENTS, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                   "user_id": rng.integers(0, 15, N_EVENTS).astype(np.int64),
                   "event_type": np.array(["click", "view", "purchase", "error", "signup"])[
                       rng.integers(0, 5, N_EVENTS)],
                   "value": money(0, 330, N_EVENTS),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}
    # a fifth of the documents are near-copies of an earlier one, so the
    # dedup and similarity operators find pairs
    vocab = np.array(VOCAB)
    texts = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.2:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))])
        texts.append(" ".join(words))
    t["documents"] = {"doc_id": np.arange(N_DOCS, dtype=np.int64), "text": texts,
                      "lang": np.array(["en", "es", "zh", "de", "fr"])[rng.integers(0, 5, N_DOCS)],
                      "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
                      "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    centres = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, N_VECS)
    vecs = centres[label] + rng.normal(0, 0.3, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(N_VECS, dtype=np.int64),
                       "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                       "label": label.astype(np.int32)}
    return t


def generate(seed, out_dir):
    out_dir = Path(out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, cols in _tables(seed).items():
        pq.write_table(pa.table(cols), out_dir / f"{name}.parquet")


def _key(tbl):
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    norm = lambda v: "NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
    rows = sorted(tuple(norm(data[c][i]) for c in cols) for i in range(tbl.num_rows))
    return cols, rows


def check(tables_dir, out_dir):
    """Failure messages, one per query whose output differs from DuckDB's."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{Path(tables_dir) / t}.parquet')")
    oracle = json.loads((Path(out_dir) / "oracle_sql.json").read_text())
    errors = []
    for name, sql in sorted(oracle.items()):
        try:
            got = _key(pq.read_table(str(Path(out_dir) / name)))
            want = _key(con.execute(sql).fetch_arrow_table())
        except Exception as e:  # a query that cannot be read or run is a failure
            errors.append(f"{name}: {e}")
            continue
        if got[0] != want[0]:
            errors.append(f"{name}: columns {got[0]} != {want[0]}")
        elif got[1] != want[1]:
            errors.append(f"{name}: {len(got[1])} rows differ from the oracle's {len(want[1])}")
    con.close()
    return errors

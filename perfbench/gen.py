"""Seeded input generator for the benchmark workloads.

Every input the program sees comes from here and depends only on the
seed: the same seed writes byte-identical parquet files and transaction
logs. Sizes and the reasons behind them are in README.md.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the small relational tables of the pipeline's corpus directory (1% of
# the sf0.1 row counts, at least 25 rows each)
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_EVENTS = 150, 25, 200, 1_500, 1_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")

# llm_pipeline corpus and vectors.
N_DOCS, DUP_RATE, VOCAB = 2_000, 0.05, 3_000
N_VECS, DIM, N_CLUSTERS, N_QUERIES = 5_000, 64, 32, 50
# the fixed BM25 query of the catalog's q204 entry, planted in the vocabulary
BM25_TERMS = ["hash", "join", "merge", "filter"]

# table_write transaction log.
TW_ROWS, TW_ROUNDS = 5_000, 40


def write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 22)


def ts(us):
    return pa.array(EPOCH_1995 + us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def gen_tables(rng, out):
    """TPC-H-style star schema and the events table, the relational
    tables Tables.registerAll loads."""
    write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMER), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIER), 2)})
    adj, noun = ["large", "hot", "blue", "small", "green"], ["ring", "bolt", "nut", "gear"]
    write(f"{out}/part.parquet", {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{adj[i % 5]} {noun[i % 4]}" for i in rng.integers(0, 20, N_PART)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD"])[
            rng.integers(0, 4, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2)})
    odate = rng.integers(0, 2404, N_ORDERS) * DAY_US  # 1995-01-01 .. 2001-08
    write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, N_ORDERS), 2),
        "o_orderdate": ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    lines = rng.integers(1, 8, N_ORDERS)  # 4 lines per order on average
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    n = len(okey)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, N_PART, n),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ts(np.repeat(odate, lines) + rng.integers(1, 122, n) * DAY_US)})
    etype = np.array(["view", "click", "purchase", "signup", "error"])
    write(f"{out}/events.parquet", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": ts(np.sort(rng.integers(0, 365 * DAY_US, N_EVENTS)) + 9 * 365 * DAY_US),
        "user_id": rng.integers(0, 2000, N_EVENTS),
        "event_type": etype[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.uniform(0, 200, N_EVENTS), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)]})


def vocabulary(rng, size):
    """Pseudo-words from syllables, with the BM25 query terms planted at
    Zipf ranks 40..43 so they occur in a few percent of documents."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu"]
    seen, out = set(BM25_TERMS), []
    while len(out) < size - len(BM25_TERMS):
        w = "".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out[:40] + BM25_TERMS + out[40:]


def corpus(rng, words, n, dup_rate):
    """Zipf(1.1) documents of 40..160 tokens. A `dup_rate` share are
    planted near-duplicates: a copy of an earlier document with 3% of
    its tokens replaced, i.e. word-3-shingle Jaccard around 0.8 and a
    simhash within a few bits. Returns (texts, planted (orig, dup) pairs)."""
    cdf = np.cumsum(1.0 / np.arange(1, len(words) + 1) ** 1.1)
    cdf /= cdf[-1]
    wa = np.array(words)
    draw = lambda k: wa[np.minimum(np.searchsorted(cdf, rng.random(k)), len(wa) - 1)]
    texts, pairs = [], []
    for i in range(n):
        if i > 10 and rng.random() < dup_rate:
            src = int(rng.integers(0, i))
            toks = texts[src].split(" ")
            swap = rng.choice(len(toks), max(1, len(toks) * 3 // 100), replace=False)
            for j, w in zip(swap, draw(len(swap))):
                toks[j] = w
            texts.append(" ".join(toks))
            pairs.append((src, i))
        else:
            texts.append(" ".join(draw(int(rng.integers(40, 161)))))
    return texts, pairs


def documents(rng, texts):
    n = len(texts)
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)],
            "source": [f"src{i}" for i in rng.integers(0, 8, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def vectors(rng, n, nq):
    """Gaussian-mixture vectors (so IVF cells mean something) and `nq`
    query vectors drawn near corpus points."""
    cents = rng.normal(0, 1, (N_CLUSTERS, DIM))
    lab = rng.integers(0, N_CLUSTERS, n)
    vecs = (cents[lab] + rng.normal(0, 0.6, (n, DIM))).astype(np.float32)
    q = vecs[rng.integers(0, n, nq)] + rng.normal(0, 0.3, (nq, DIM)).astype(np.float32)
    return (vecs, lab), q.astype(np.float32)


def embeddings(rng, vl, id0=0):
    vecs, lab = vl
    return {"vec_id": np.arange(id0, id0 + len(vecs), dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": lab.astype(np.int32)}


# ---- table_write transaction log -------------------------------------

def tw_rows(rng, ids):
    tags = ["alpha", "beta", "gamma", "delta", "eps"]
    return [(int(i), int(rng.integers(0, 50)), int(rng.integers(1, 1000)),
             round(float(rng.integers(100, 100_000)) / 100, 2),
             tags[int(rng.integers(0, 5))]) for i in ids]


def values(rows):
    return ", ".join(f"({i}, {k}, {q}, {p}, '{t}')" for i, k, q, p, t in rows)


def tw_log(rng):
    """Rounds of committing statements on table `acct` (an INSERT batch, an
    UPDATE, a copy-on-write and a merge-on-read DELETE, a MERGE), each
    followed by a read-after-write SELECT, with two time-travel reads and
    a read before the MERGE; a change-feed read, a drain and a maintenance
    cycle (compaction, expire_snapshots, vacuum) end every round.

    Every seed gives every round the same amount of work: batch sizes and
    id-range widths are fixed, and the seed places each range within a
    fixed stratum of the id space. A round's six reads cover its six
    strata, and the UPDATE and the two DELETEs cover the three thirds, each
    rotating by round. A statement's cost depends on which files its range
    touches, old or freshly written, so unstratified ranges would make one
    seed's run measurably heavier than another's. INSERT ids are fresh; a
    MERGE batch holds 60 distinct existing-or-deleted ids and 40 fresh
    ones."""
    next_id = TW_ROWS
    log = []

    def at(stratum, n_strata, width):
        """A seeded range start inside one stratum of the ids so far."""
        span = (next_id - width) / n_strata
        return int(span * (stratum + rng.random()))

    for r in range(TW_ROUNDS):
        reads = iter(range(r, r + 6))

        def read():
            a = at(next(reads) % 6, 6, 2000)
            return ("select", f"""SELECT k, count(*) AS n, sum(qty) AS s_qty,
  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS s_price
FROM acct WHERE id BETWEEN {a} AND {a + 2000} GROUP BY k ORDER BY k""")

        log.append(("insert", f"INSERT INTO acct VALUES {values(tw_rows(rng, range(next_id, next_id + 125)))}"))
        next_id += 125
        log.append(read())
        a = at(r % 3, 3, 175)
        log.append(("update", f"UPDATE acct SET qty = qty + {int(rng.integers(1, 9))}, tag = 'upd{r}' WHERE id BETWEEN {a} AND {a + 175}"))
        log.append(read())
        log.append(("time_travel", ""))  # version chosen at run time among retained ones
        for i, mode in enumerate(("cow", "mor")):
            a = at((r + 1 + i) % 3, 3, 55)
            log.append(("set", f"SET delete_mode = '{mode}'"))
            log.append(("delete", f"DELETE FROM acct WHERE id BETWEEN {a} AND {a + 55}"))
            log.append(read())
        log.append(("set", "SET delete_mode = 'cow'"))
        log.append(("time_travel", ""))
        stage = tw_rows(rng, list(rng.choice(next_id, 60, replace=False)) + list(range(next_id, next_id + 40)))
        next_id += 40
        log.append(("stage", "CREATE OR REPLACE TABLE stg AS SELECT * FROM (VALUES "
                    f"{values(stage)}) AS v(sid, sk, sqty, sprice, stag)"))
        log.append(read())
        log.append(("merge", """MERGE INTO acct USING stg ON acct.id = stg.sid
WHEN MATCHED THEN UPDATE SET qty = stg.sqty, price = stg.sprice
WHEN NOT MATCHED THEN INSERT (id, k, qty, price, tag) VALUES (stg.sid, stg.sk, stg.sqty, stg.sprice, stg.stag)"""))
        log.append(read())
        log.append(("table_changes", ""))  # span of the last commits, chosen at run time
        log.append(("drain", ""))
        log.append(("maintenance", ""))
    return log


def main(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "llm_pipeline":
        # the corpus directory Queries.prep registers: small relational
        # tables next to the pipeline's documents and embeddings
        gen_tables(rng, out)
        words = vocabulary(rng, VOCAB)
        texts, pairs = corpus(rng, words, N_DOCS, DUP_RATE)
        write(f"{out}/documents.parquet", documents(rng, texts))
        vl, q = vectors(rng, N_VECS, N_QUERIES)
        write(f"{out}/embeddings.parquet", embeddings(rng, vl))
        write(f"{out}/queries.parquet", embeddings(
            rng, (q, np.zeros(N_QUERIES, np.int32)), id0=10_000_000))
        json.dump({"planted_pairs": pairs, "bm25_terms": BM25_TERMS},
                  open(f"{out}/planted.json", "w"))
    elif workload == "table_write":
        write(f"{out}/acct_base.parquet", dict(zip(
            ["id", "k", "qty", "price", "tag"],
            map(list, zip(*tw_rows(rng, range(TW_ROWS)))))))
        json.dump({"log": tw_log(rng)}, open(f"{out}/log.json", "w"))
    else:
        raise SystemExit(f"unknown workload {workload}")

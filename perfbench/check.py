"""Correctness gate, run after the timed window: every result the program
returned is compared with an oracle computed over the same generated
inputs. Each check returns a list of mismatch messages (empty = correct)
and, where the workload has them, useful-outcome ratios."""
import math
import re
from collections import Counter

import duckdb
import numpy as np


def cell(v):
    """Canonical cell, as tools/oracle_check.py canonicalizes: floats to
    6 dp, ints compared as floats, type-tagged so mixed columns sort."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (2, str(v))
    if isinstance(v, float):
        return (3, "nan") if math.isnan(v) else (1, round(v, 6))
    if isinstance(v, int):
        return (1, float(v))
    if isinstance(v, list):
        return (4, str([cell(x) for x in v]))
    return (2, str(v))


def canon(cols, rows):
    """Columns sorted by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def same(name, got_cols, got_rows, exp_cols, exp_rows):
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in exp_cols):
        return [f"{name}: columns {sorted(got_cols)} != oracle {sorted(exp_cols)}"]
    g, e = canon(got_cols, got_rows), canon(exp_cols, exp_rows)
    if g != e:
        i = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
        return [f"{name}: {len(g)} rows vs oracle {len(e)}; first diff @{i}: "
                f"{g[i] if i < len(g) else None} vs {e[i] if i < len(e) else None}"]
    return []


def duck(inputs, tables):
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


# ---- llm_pipeline ------------------------------------------------------

def shingles(text):
    toks = text.strip().split()
    last = max(len(toks) - 2, 1)
    return {" ".join(toks[i:i + 3]) for i in range(last)}


def knn_exact(emb, ids, q, qids, k):
    """Top-k cosine neighbours, cosine rounded to 6 dp, id tie-break."""
    ids = np.asarray(ids)
    cos = (q / np.linalg.norm(q, axis=1, keepdims=True)) @ \
        (emb / np.linalg.norm(emb, axis=1, keepdims=True)).T
    out = []
    for a, qid in enumerate(qids):
        c = np.round(cos[a], 6)
        top = np.lexsort((ids, -c))[:k]
        out += [[int(qid), int(ids[j]), float(c[j]), n + 1] for n, j in enumerate(top)]
    return out


PIPELINE_OPS = ("minhash_dup", "simhash_dup", "exact_substr_dedup", "bpe_train",
                "knn_brute", "ann_ivf", "knn_q8", "bm25_topn")


def llm_pipeline(inputs, checks, planted):
    out, bad, ratios = checks["outputs"], [], {}
    # an op whose every call failed has no output: one mismatch, and its
    # checks below are skipped
    bad += [f"{name}: no output, every call failed" for name in PIPELINE_OPS
            if name not in out]
    con = duck(inputs, ["documents"])
    for name in ("bpe_train", "bm25_topn"):
        if name in out:
            # the BPE chain's CTEs are materialized: inlined, DuckDB re-plans
            # every earlier merge step in each later one (minutes, not seconds)
            d = con.sql(re.sub(r"\b([wpbv]\d+) AS \(", r"\1 AS MATERIALIZED (",
                               checks["oracle"][name]))
            bad += same(name, out[name]["cols"], out[name]["rows"], d.columns, d.fetchall())
    if "exact_substr_dedup" in out:
        con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"'{inputs}/documents.parquet' WHERE doc_id < {checks['exact_docs']}")
        d = con.sql(checks["oracle"]["exact_substr_dedup"])
        bad += same("exact_substr_dedup", out["exact_substr_dedup"]["cols"],
                    out["exact_substr_dedup"]["rows"], d.columns, d.fetchall())

    # exact kNN against a numpy brute force; ANN recall against it
    emb = con.sql(f"SELECT vec_id, embedding FROM '{inputs}/embeddings.parquet' "
                  "ORDER BY vec_id").fetchall()
    qs = con.sql(f"SELECT vec_id, embedding FROM '{inputs}/queries.parquet' "
                 "ORDER BY vec_id").fetchall()
    k = checks["k"]
    exact = knn_exact(np.array([e[1] for e in emb], np.float64), [e[0] for e in emb],
                      np.array([q[1] for q in qs], np.float64), [q[0] for q in qs], k)
    if "knn_brute" in out:
        bad += same("knn_brute", out["knn_brute"]["cols"], out["knn_brute"]["rows"],
                    ["qid", "id", "cos", "rn"], exact)
    truth = {(r[0], r[1]) for r in exact}
    for name, floor in (("ann_ivf", 0.80), ("knn_q8", 0.95)):
        if name not in out:
            continue
        c = out[name]["cols"]
        got = {(r[c.index("qid")], r[c.index("id")]) for r in out[name]["rows"]}
        rec = len(got & truth) / len(truth)
        ratios[f"{name}_recall_at_{k}"] = rec
        if rec < floor:
            bad.append(f"{name}: recall@{k} {rec:.3f} below floor {floor}")

    # near-dup detection against the planted pairs; MinHash pairs must
    # carry their exact Jaccard
    texts = dict(con.sql(f"SELECT doc_id, text FROM '{inputs}/documents.parquet'").fetchall())
    plant = {tuple(sorted(p)) for p in planted["planted_pairs"]}
    for name, floor in (("minhash_dup", 0.95), ("simhash_dup", 0.50)):
        if name not in out:
            continue
        c = out[name]["cols"]
        ia, ib = c.index("id_a"), c.index("id_b")
        got = {(min(r[ia], r[ib]), max(r[ia], r[ib])) for r in out[name]["rows"]}
        rec = len(got & plant) / len(plant)
        ratios[f"{name}_recall"] = rec
        if rec < floor:
            bad.append(f"{name}: recall {rec:.3f} of planted pairs below floor {floor}")
    c = out.get("minhash_dup", {}).get("cols")
    for r in out.get("minhash_dup", {}).get("rows", []):
        a, b = shingles(texts[r[c.index("id_a")]]), shingles(texts[r[c.index("id_b")]])
        jac = len(a & b) / len(a | b)
        if round(jac, 6) < 0.5 or abs(jac - r[c.index("jac")]) > 1e-9:
            bad.append(f"minhash_dup: pair {r} has exact Jaccard {jac:.6f}")
            break
    if checks["repeat_mismatches"]:
        bad.append(f"{checks['repeat_mismatches']} op calls returned a different result")
    return bad, ratios


# ---- table_write -------------------------------------------------------

COLS = ["id", "k", "qty", "price", "tag"]


def row_key(cols, r):
    return tuple(cell(r[cols.index(c)]) for c in COLS)


def signed(cols, rows, tag_col):
    """(rows gained, rows lost) that a change feed nets to."""
    net = Counter()
    for r in rows:
        net[row_key(cols, r)] += 1 if r[cols.index(tag_col)] == "insert" else -1
    return (Counter({k: n for k, n in net.items() if n > 0}),
            Counter({k: -n for k, n in net.items() if n < 0}))


def diff(new, old):
    """(rows gained, rows lost) between two table states."""
    return new - old, old - new


def merge_sql():
    return ["UPDATE acct SET qty = stg.sqty, price = stg.sprice FROM stg "
            "WHERE acct.id = stg.sid",
            "INSERT INTO acct SELECT sid, sk, sqty, sprice, stag FROM stg "
            "WHERE sid NOT IN (SELECT id FROM acct)"]


def table_write(inputs, checks):
    """Replays the executed log in DuckDB (MERGE expanded into its
    matched UPDATE and not-matched INSERT, as the q257 oracle does) and
    compares every read, time-travel read, change feed and drain."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE acct AS SELECT * FROM '{inputs}/acct_base.parquet'")
    bad, states, changed = [], {}, {}
    state = lambda: Counter(row_key(COLS, r) for r in con.execute(
        "SELECT id, k, qty, price, tag FROM acct").fetchall())
    cur = state()
    drained = Counter()
    for i, e in enumerate(checks["executed"]):
        kind, res = e["kind"], e.get("result")
        # versions a statement commits before its last one (the first
        # DML's materialization, a maintenance cycle's compaction) hold
        # the content it started from
        for v in range(e["before"], e["version"]):
            states.setdefault(v, cur)
        if not e["ok"]:
            bad.append(f"#{i} {kind}: failed in the program")
        if kind in ("insert", "update", "delete"):
            changed[i] = con.execute(e["sql"]).fetchone()[0]
            cur = state()
        elif kind == "merge":
            changed[i] = sum(con.execute(s).fetchone()[0] for s in merge_sql())
            cur = state()
        elif kind == "stage":
            con.execute(e["sql"])
        elif kind == "select" and res:
            d = con.sql(e["sql"])
            bad += same(f"#{i} select", res["cols"], res["rows"], d.columns, d.fetchall())
        elif kind == "time_travel" and res:
            at = states.get(e["at"])
            if at is None:
                bad.append(f"#{i} time_travel: version {e['at']} never observed")
            else:
                agg = {}
                for (_, k, q, _, _), n in at.items():
                    a = agg.setdefault(k[1], [0, 0])
                    a[0] += n
                    a[1] += q[1] * n
                exp = [[int(k), n, int(s)] for k, (n, s) in agg.items()]
                bad += same(f"#{i} time_travel", res["cols"], res["rows"],
                            ["k", "n", "s_qty"], exp)
        elif kind == "table_changes" and res:
            c = res["cols"]
            for v in range(e["from"], e["to"] + 1):
                rows = [r for r in res["rows"] if r[c.index("_commit_version")] == v]
                if v not in states or v - 1 not in states:
                    bad.append(f"#{i} table_changes: version {v} never observed")
                elif signed(c, rows, "change_type") != diff(states[v], states[v - 1]):
                    bad.append(f"#{i} table_changes: version {v} differs from the replay")
        elif kind == "drain" and res:
            if signed(res["cols"], res["rows"], "change_type") != diff(cur, drained):
                bad.append(f"#{i} drain: net change differs from the replay")
            drained = cur
        states.setdefault(e["version"], cur)
    fin = checks["final"]
    if Counter(row_key(fin["cols"], r) for r in fin["rows"]) != cur:
        bad.append("final table state differs from the replay")
    return bad, {"changed": changed}

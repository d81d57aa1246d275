"""Seeded, single-process input generator for the graft benchmark.

Everything a run needs is written here, before any timing starts:

* lake workloads (``lake_cow_batch``, ``lake_mor_stream``): DMS-style raw
  files for three tables -- ``LOAD00000001.parquet`` snapshots and one
  ``2*`` change file per table per delivery -- plus a *model* copy of every
  row tagged with its delivery and in-file position, from which the
  benchmark computes the expected lake independently of graft.
* ``corpus_index``: a document corpus and an embedding set, one merged
  change batch per delivery for each, and the probe sets of every read
  round.

The same seed always produces byte-identical inputs.  The parameters that
shape the data (sizes, key skew, I/U/D mix, in-file repeats) are written to
``params.json`` next to the data.

Usage (normally called by ``run.py``)::

    python3 perfbench/gen.py --workload lake_cow_batch --seed 1 --out DIR
"""
import argparse
import bisect
import datetime
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LAKE = {
    "orders": 10000,           # initial orders rows (unpartitioned table)
    "lines_per_order": 4,      # lineitem rows per order
    "deliveries": 12,          # change files generated per table
    "order_changes": 200,      # order change rows per delivery (2% of orders)
    "mix": {"I": 0.2, "U": 0.65, "D": 0.15},  # exact counts per delivery
    "hot_fraction": 0.05,      # the newest 5% of live keys ...
    "hot_probability": 0.9,    # ... receive 90% of updates and deletes
    "repeat_probability": 0.15,  # an update hits a key already changed earlier in the file
    "points_per_round": 1,     # orders point lookups per read round
}

CORPUS = {
    "docs": 2000,
    "vectors": 1000,
    "dim": 32,
    "clusters": 8,             # IVF centroids: vectors 0..clusters-1
    "vocabulary": 2000,
    "zipf_s": 1.1,
    "near_dup_fraction": 0.1,
    "deliveries": 12,
    "doc_changes": 40,         # merged doc change rows per delivery (2%)
    "vector_changes": 20,      # merged embedding change rows per delivery (2%)
    "mix": {"I": 0.25, "U": 0.6, "D": 0.15},
    "bm25_queries": 4,
    "phrase_queries": 3,
    "lsh_probes": 5,
}

EPOCH = datetime.date(1992, 1, 1)
DAYS = 1100  # order dates span three years: ~40 lineitem month partitions
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = ["carefully", "final", "packages", "deposits", "furiously", "regular",
         "ideas", "requests", "accounts", "pending", "express", "quickly",
         "blithely", "special", "theodolites", "platelets", "ironic", "bold"]

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.date32()), ("o_orderpriority", pa.string()),
    ("o_comment", pa.string())])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_partkey", pa.int64()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
    ("l_returnflag", pa.string()), ("l_shipdate", pa.date32()),
    ("l_month", pa.string())])
SCHEMAS = {"orders": ORDERS_SCHEMA, "lineitem": LINEITEM_SCHEMA}


def write(path, schema, rows):
    """One parquet file, one row group, rows in the given order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)


def with_model_cols(schema):
    return pa.schema([("Op", pa.string())] + list(schema) +
                     [("__d", pa.int32()), ("__pos", pa.int64())])


class LiveKeys:
    """Live primary keys in ascending order (new keys are the largest)."""

    def __init__(self, keys):
        self.keys = sorted(keys)
        self.alive = set(keys)

    def add(self, k):
        self.keys.append(k)
        self.alive.add(k)

    def remove(self, k):
        self.keys.pop(bisect.bisect_left(self.keys, k))
        self.alive.discard(k)

    def pick(self, rnd, hot_fraction, hot_probability):
        n = len(self.keys)
        if rnd.random() < hot_probability:
            lo = n - max(1, int(n * hot_fraction))
            return self.keys[rnd.randrange(lo, n)]
        return self.keys[rnd.randrange(n)]


def gen_lake(seed, out):
    p = LAKE
    rnd = random.Random(seed)

    def comment():
        return " ".join(rnd.choice(WORDS) for _ in range(rnd.randint(3, 8)))

    def order_row(k, day):
        return (k, rnd.randint(1, 1000), rnd.choice(STATUSES),
                round(rnd.uniform(900.0, 450000.0), 2),
                EPOCH + datetime.timedelta(days=day), rnd.choice(PRIORITIES),
                comment())

    def line_row(k, ln, odate, ship=None):
        ship = ship or odate + datetime.timedelta(days=rnd.randint(1, 120))
        qty = float(rnd.randint(1, 50))
        return (k, ln, rnd.randint(1, 20000), qty,
                round(qty * rnd.uniform(900.0, 2100.0), 2),
                round(rnd.randint(0, 10) / 100.0, 2), rnd.choice("ANR"),
                ship, ship.strftime("%Y-%m"))

    orders, lines = {}, {}
    for k in range(1, p["orders"] + 1):
        orders[k] = order_row(k, k * DAYS // p["orders"] + rnd.randint(0, 3))
        for ln in range(1, p["lines_per_order"] + 1):
            lines[(k, ln)] = line_row(k, ln, orders[k][4])
    live = LiveKeys(orders)
    next_order = p["orders"] + 1
    lines_of = {}
    for (k, ln) in lines:
        lines_of.setdefault(k, []).append(ln)

    state = {"orders": orders, "lineitem": lines}
    for t, schema in SCHEMAS.items():
        rows = list(state[t].values())
        write(f"{out}/load/{t}/LOAD00000001.parquet", schema, rows)
        write(f"{out}/model/{t}/part-000000.parquet", with_model_cols(schema),
              [("I",) + r + (0, i) for i, r in enumerate(rows)])

    counts = {op: round(p["order_changes"] * f) for op, f in p["mix"].items()}
    rounds = [probe_round(rnd, orders, live, [], p)]
    change_rows = [0]
    for d in range(1, p["deliveries"] + 1):
        ch = {"orders": [], "lineitem": []}
        touched = []
        plan = [op for op, c in counts.items() for _ in range(c)]
        rnd.shuffle(plan)
        for op in plan:
            if op == "I":
                k, next_order = next_order, next_order + 1
                orders[k] = order_row(k, DAYS + d * 2 + rnd.randint(0, 3))
                live.add(k)
                ch["orders"].append(("I",) + orders[k])
                lines_of[k] = list(range(1, p["lines_per_order"] + 1))
                for ln in lines_of[k]:
                    lines[(k, ln)] = line_row(k, ln, orders[k][4])
                    ch["lineitem"].append(("I",) + lines[(k, ln)])
            elif op == "U":
                again = [t for t in touched if t in live.alive]
                if again and rnd.random() < p["repeat_probability"]:
                    k = rnd.choice(again)
                else:
                    k = live.pick(rnd, p["hot_fraction"], p["hot_probability"])
                o = orders[k]
                orders[k] = (k, o[1], rnd.choice(STATUSES),
                             round(rnd.uniform(900.0, 450000.0), 2), o[4],
                             rnd.choice(PRIORITIES), o[6])
                ch["orders"].append(("U",) + orders[k])
                for ln in rnd.sample(lines_of[k], 2):
                    old = lines[(k, ln)]
                    lines[(k, ln)] = line_row(k, ln, None, ship=old[7])
                    ch["lineitem"].append(("U",) + lines[(k, ln)])
            else:
                k = live.pick(rnd, p["hot_fraction"], p["hot_probability"])
                ch["orders"].append(("D",) + orders.pop(k))
                live.remove(k)
                for ln in lines_of.pop(k):
                    ch["lineitem"].append(("D",) + lines.pop((k, ln)))
            touched.append(k)
        for t, schema in SCHEMAS.items():
            op_schema = pa.schema([("Op", pa.string())] + list(schema))
            write(f"{out}/changes/{t}/20260101-{d:06d}.parquet", op_schema, ch[t])
            write(f"{out}/model/{t}/part-{d:06d}.parquet", with_model_cols(schema),
                  [r + (d, i) for i, r in enumerate(ch[t])])
        rounds.append(probe_round(rnd, orders, live, touched, p))
        change_rows.append(sum(len(rows) for rows in ch.values()))
    return {"rounds": rounds, "change_rows": change_rows}


def probe_round(rnd, orders, live, touched, p):
    """Keys and ranges one read round asks for: half the point keys (at
    least one) were just changed -- some deleted, some new -- the rest are
    uniform over every key ever issued; the range and the aggregate cover
    the newest dates."""
    top = live.keys[-1]
    points = rnd.sample(touched, min(len(touched), (p["points_per_round"] + 1) // 2))
    while len(points) < p["points_per_round"]:
        points.append(rnd.randint(1, top))
    newest = max(orders[live.keys[-1]][4], EPOCH + datetime.timedelta(days=DAYS))
    lo = newest - datetime.timedelta(days=rnd.randint(30, 240))
    month = (newest - datetime.timedelta(days=rnd.randint(60, 360))).strftime("%Y-%m")
    return {"points": points, "range": [lo.isoformat(), (lo + datetime.timedelta(days=30)).isoformat()],
            "month": month}


DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
DOC_CHANGE_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                               ("op", pa.string())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
EMB_CHANGE_SCHEMA = pa.schema([("vec_id", pa.int64()),
                               ("embedding", pa.list_(pa.float32())), ("op", pa.string())])


def gen_corpus(seed, out):
    p = CORPUS
    rnd = random.Random(seed)
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "gu"]
    vocab = sorted({"".join(rnd.choice(syll) for _ in range(rnd.randint(2, 4)))
                    for _ in range(p["vocabulary"] * 2)})[: p["vocabulary"]]
    rnd.shuffle(vocab)
    cum = list(itertools.accumulate(1.0 / (i + 1) ** p["zipf_s"] for i in range(len(vocab))))

    def words(n):
        return rnd.choices(vocab, cum_weights=cum, k=n)

    def fresh_text():
        return " ".join(words(rnd.randint(20, 80)))

    def near_dup(text):
        toks = text.split()
        for _ in range(2):
            toks[rnd.randrange(len(toks))] = words(1)[0]
        return " ".join(toks)

    docs = {}
    for i in range(p["docs"]):
        if docs and rnd.random() < p["near_dup_fraction"]:
            docs[i] = near_dup(docs[rnd.randrange(i)])
        else:
            docs[i] = fresh_text()
    centres = [[rnd.gauss(0.0, 1.0) for _ in range(p["dim"])] for _ in range(p["clusters"])]

    def vector():
        c = rnd.choice(centres)
        return [x + rnd.gauss(0.0, 0.35) for x in c]

    vecs = {i: (centres[i] if i < p["clusters"] else vector()) for i in range(p["vectors"])}
    write(f"{out}/base/docs.parquet", DOCS_SCHEMA, sorted(docs.items()))
    write(f"{out}/base/emb.parquet", EMB_SCHEMA, sorted(vecs.items()))
    write(f"{out}/model/docs/part-000000.parquet", with_d(DOC_CHANGE_SCHEMA),
          [(k, v, "I", 0) for k, v in sorted(docs.items())])
    write(f"{out}/model/emb/part-000000.parquet", with_d(EMB_CHANGE_SCHEMA),
          [(k, v, "I", 0) for k, v in sorted(vecs.items())])

    ops, weights = zip(*p["mix"].items())
    next_doc, next_vec = p["docs"], p["vectors"]
    rounds = [corpus_round(rnd, docs, words, near_dup, p, 0)]
    change_rows = [0]
    for d in range(1, p["deliveries"] + 1):
        dch, seen = [], set()
        while len(dch) < p["doc_changes"]:
            op = rnd.choices(ops, weights)[0]
            if op == "I":
                k, next_doc = next_doc, next_doc + 1
                src = list(docs.values())
                docs[k] = near_dup(rnd.choice(src)) if rnd.random() < 0.5 else fresh_text()
                dch.append((k, docs[k], "I"))
                seen.add(k)
                continue
            k = rnd.choice(list(docs))
            if k in seen:
                continue
            seen.add(k)
            if op == "U":
                docs[k] = near_dup(docs[k]) + " " + " ".join(words(rnd.randint(1, 5)))
                dch.append((k, docs[k], "U"))
            else:
                del docs[k]
                dch.append((k, None, "D"))
        vch, seen = [], set(range(p["clusters"]))
        while len(vch) < p["vector_changes"]:
            op = rnd.choices(ops, weights)[0]
            if op == "I":
                k, next_vec = next_vec, next_vec + 1
                vecs[k] = vector()
                vch.append((k, vecs[k], "I"))
                seen.add(k)
                continue
            k = rnd.choice(list(vecs))
            if k in seen:
                continue
            seen.add(k)
            if op == "U":
                vecs[k] = vector()
                vch.append((k, vecs[k], "U"))
            else:
                vch.append((k, vecs.pop(k), "D"))
        write(f"{out}/changes/docs/{d:06d}.parquet", DOC_CHANGE_SCHEMA, dch)
        write(f"{out}/changes/emb/{d:06d}.parquet", EMB_CHANGE_SCHEMA, vch)
        write(f"{out}/model/docs/part-{d:06d}.parquet", with_d(DOC_CHANGE_SCHEMA),
              [r + (d,) for r in dch])
        write(f"{out}/model/emb/part-{d:06d}.parquet", with_d(EMB_CHANGE_SCHEMA),
              [r + (d,) for r in vch])
        rounds.append(corpus_round(rnd, docs, words, near_dup, p, d))
        change_rows.append(len(dch) + len(vch))
    for name in ("bm25", "phrase", "lsh"):
        schema = pa.schema([("round", pa.int32()), ("qid", pa.int64()), ("qtext", pa.string())])
        write(f"{out}/probes/{name}.parquet", schema,
              [(r["round"], q, t) for r in rounds for q, t in r[name]])
    return {"change_rows": change_rows}


def with_d(schema):
    return pa.schema(list(schema) + [("__d", pa.int32())])


def corpus_round(rnd, docs, words, near_dup, p, r):
    """Probe sets of read round ``r`` (taken right after delivery ``r``):
    Zipf-sampled BM25 queries, three-word phrases cut from live documents,
    and near-duplicates of live documents for the LSH probe."""
    live = list(docs)
    base = r * 100
    bm25 = [(base + i, " ".join(words(3))) for i in range(p["bm25_queries"])]
    phrase = []
    for i in range(p["phrase_queries"]):
        toks = docs[rnd.choice(live)].split()
        j = rnd.randrange(len(toks) - 2)
        phrase.append((base + i, " ".join(toks[j:j + 3])))
    lsh = [(10_000_000 + base + i, near_dup(docs[rnd.choice(live)]))
           for i in range(p["lsh_probes"])]
    return {"round": r, "bm25": bm25, "phrase": phrase, "lsh": lsh}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


def generate(workload, seed, out):
    if workload.startswith("lake_"):
        extra, params = gen_lake(seed, out), LAKE
    elif workload == "corpus_index":
        extra, params = gen_corpus(seed, out), CORPUS
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    with open(f"{out}/params.json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "params": params, **extra}, f)


if __name__ == "__main__":
    main()

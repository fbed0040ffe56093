"""Input generator for the graft benchmark.

Everything a workload reads is made here, so the same seed always gives
byte-identical inputs:

* ``tables(dst, seed, workload)`` writes the TPC-H-ish star schema plus the
  ``events`` and ``documents`` tables, one parquet file per table, with the
  same schemas and value recipes as the repo's relational test data
  (TESTDATA.md). Money columns are generated so that every sum, product
  and rounded aggregate the queries compute lands on an exact cent grid:
  the DuckDB oracle and Spark then agree on every rounded value whatever
  the summation order, for any seed.
  Like the repo's fixtures, the tables do not vary with the workload seed:
  they are always made with ``TABLE_SEED``, so every run of a workload
  queries the same tables and the seed varies the op order instead. (The
  dedup kernels' work, e.g. the number of connected-components rounds,
  depends on the exact near-duplicate structure.)
* ``corpus(dst, seed, n_shards, shard_bytes)`` writes WordCount text shards
  following the reference recipe (FIXTURES.md section A1).
* ``graph(dst, seed, n_nodes, n_edges)`` writes a PageRank adjacency list
  in the reference's TSV shape (FIXTURES.md section A2).

Run directly to inspect a data set:
``python3 perfbench/gen.py <dst> <seed> olap|dedup``.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

# 100 common English words: ~70% of the corpus tokens (FIXTURES.md A1).
COMMON = ("the be to of and a in that have i it for not on with he as you do "
          "at this but his by from they we say her she or an will my one all "
          "would there their what so up out if about who get which go me when "
          "make can like time no just him know take people into year your "
          "good some could them see other than then now look only come its "
          "over think also back after use two how our work first well way "
          "even new want because any these give day most us").split()
assert len(COMMON) == 100

# Row counts. olap uses sf0.02 of the TPC-H-ish fixture plus a small
# corpus and graph for its closure-engine ops; dedup uses a documents table
# small enough that a round of its kernels fits a run.
SIZES = {
    "olap": dict(customer=3000, supplier=200, part=4000, orders=30000,
                 lineitem=120000, events=20000, users=300, documents=1000,
                 n_shards=2, shard_bytes=128 << 10, n_nodes=5000,
                 n_edges=12000),
    "dedup": dict(documents=500),
}

TABLE_SEED = 42
DAY_US = 86400 * 10**6


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us")
               .astype(np.int64))


def _dates(rng, n, lo, hi):
    """Midnight timestamps uniform over [lo, hi] (inclusive days)."""
    days = rng.integers(0, (hi - lo) // DAY_US + 1, n)
    return pa.array(lo + days * DAY_US, pa.timestamp("us"))


def _write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:        # near duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:     # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = rng.integers(10, 101)
            texts.append(" ".join(DOC_WORDS[j]
                                  for j in rng.integers(0, len(DOC_WORDS), k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def tables(dst, seed, workload):
    os.makedirs(dst, exist_ok=True)
    size = SIZES[workload]
    rng = np.random.default_rng([seed, 1])
    _write(dst, "documents", _documents(rng, size["documents"]))
    if workload != "olap":
        return
    i32 = lambda a: pa.array(np.asarray(a, np.int32))
    i64 = lambda a: pa.array(np.asarray(a, np.int64))
    _write(dst, "region", {"r_regionkey": i32(range(5)),
                           "r_name": pa.array(REGIONS)})
    _write(dst, "nation", {"n_nationkey": i32(range(25)),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": i32([i % 5 for i in range(25)])})
    nc, ns, np_, no, nl = (size[k] for k in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    cents = lambda lo, hi, n: rng.integers(lo * 100, hi * 100, n) / 100.0
    _write(dst, "customer", {
        "c_custkey": i64(range(nc)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": i32(rng.integers(0, 25, nc)),
        "c_acctbal": pa.array(cents(-999, 9999, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    _write(dst, "supplier", {
        "s_suppkey": i64(range(ns)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": i32(rng.integers(0, 25, ns)),
        "s_acctbal": pa.array(cents(-999, 9999, ns))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(dst, "part", {
        "p_partkey": i64(range(np_)),
        "p_name": pa.array(np.array(names)[rng.integers(0, 64, np_)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, np_)]),
        "p_size": i32(rng.integers(1, 51, np_)),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0)})
    _write(dst, "orders", {
        "o_orderkey": i64(range(no)),
        "o_custkey": i64(rng.integers(0, nc, no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(cents(1000, 500000, no)),
        "o_orderdate": _dates(rng, no, _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})
    # Whole-dollar prices in multiples of 100 with 2-decimal discount and
    # tax rates keep price*(1-disc)*(1+tax) on the cent grid (see module doc).
    _write(dst, "lineitem", {
        "l_orderkey": i64(rng.integers(0, no, nl)),
        "l_partkey": i64(rng.integers(0, np_, nl)),
        "l_suppkey": i64(rng.integers(0, ns, nl)),
        "l_linenumber": i32(rng.integers(1, 8, nl)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(9, 1050, nl) * 100.0),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _dates(rng, nl, _epoch_us(1995, 1, 2), _epoch_us(2001, 11, 4))})
    ne = size["events"]
    t0 = _epoch_us(2024, 1, 1)
    _write(dst, "events", {
        "event_id": i64(range(ne)),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, ne)),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, size["users"], ne)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(cents(0, 560, ne)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})


def corpus(dst, seed, n_shards, shard_bytes):
    """Text shards: lines of 50-120 characters, ~70% common-word tokens and
    ~30% random 3-10 letter strings, ~30% of lines ending in . ! or ? and
    ~20% in a comma (FIXTURES.md A1)."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    paths = []
    for s in range(n_shards):
        # draw tokens in bulk, then cut them into lines
        n_tok = shard_bytes // 4
        common = rng.random(n_tok) < 0.7
        words = np.array(COMMON, dtype=object)[rng.integers(0, 100, n_tok)]
        n_rand = int((~common).sum())
        lens = rng.integers(3, 11, n_rand)
        chars = letters[rng.integers(0, 26, int(lens.sum()))]
        cuts = np.cumsum(lens)[:-1]
        words[~common] = ["".join(c) for c in np.split(chars, cuts)]
        targets = rng.integers(50, 121, n_tok)
        ends = rng.random(n_tok)
        lines, line, size, written, k = [], [], 0, 0, 0
        for w in words:
            line.append(w)
            size += len(w) + 1
            if size >= targets[k]:
                text = " ".join(line)
                e = ends[k]
                text += "." if e < 0.1 else "!" if e < 0.2 else "?" if e < 0.3 \
                    else "," if e < 0.5 else ""
                lines.append(text)
                written += len(text) + 1
                line, size, k = [], 0, k + 1
                if written >= shard_bytes:
                    break
        path = os.path.join(dst, f"shard-{s:02d}.txt")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def graph(dst, seed, n_nodes, n_edges):
    """Adjacency list ``source<TAB>t1 t2 ...``; about 3% of the sources list
    no targets, and out-degrees are skewed (geometric)."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    srcs = rng.permutation(n_nodes)[: int(n_nodes * 0.97)]
    deg = rng.geometric(len(srcs) / n_edges, len(srcs))
    deg[rng.random(len(srcs)) < 0.03] = 0
    deg = np.minimum(deg, 200)
    dsts = rng.integers(0, n_nodes, int(deg.sum()))
    path = os.path.join(dst, "adjacency.tsv")
    with open(path, "w") as f:
        off = 0
        for s, d in zip(srcs, deg):
            ts = " ".join(map(str, dsts[off:off + d]))
            off += d
            f.write(f"{s}\t{ts}\n" if d else f"{s}\n")
    return path


def make(dst, seed, workload):
    """Writes one workload's inputs under ``dst``; returns their manifest."""
    size = SIZES[workload]
    tables(os.path.join(dst, "tables"), TABLE_SEED, workload)
    out = {"tables": os.path.join(dst, "tables")}
    if "n_shards" in size:
        out["shards"] = corpus(os.path.join(dst, "corpus"), seed,
                               size["n_shards"], size["shard_bytes"])
        out["graph"] = graph(os.path.join(dst, "graph"), seed,
                             size["n_nodes"], size["n_edges"])
        out["nodes"] = size["n_nodes"]
    return out


if __name__ == "__main__":
    d, sd, wl = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(make(d, sd, wl)))

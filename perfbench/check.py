"""Output checks for the graft benchmark, made outside the timed window.

* Catalog ops (``olap``, ``dedup``): each result the cold pass wrote is
  compared with the op's DuckDB oracle run over the same generated
  tables: same column names, same row count and the same hash over
  canonicalized values, canonicalized the way ``tools/check.py`` does it.
* ``mapreduce``: for each WordCount job the JSON and TSV sinks hold the
  same number of entries, the TSV header states that number, the TSV body
  is in its documented order (count descending, then word ascending), and
  the counts equal a count made here over the shard. The ranks equal an
  independent PageRank with the reference's semantics. Every round
  rewrites the same word-count files, so each round's digests must equal
  the digests of the files checked here; each round's ranks are checked.

Each function returns a list of problems; an empty list means correct.
"""
import collections
import glob
import hashlib
import json
import math
import os
import re

import duckdb
import numpy as np


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def catalog(tables_dir, work):
    """Compares every op result under ``work/out`` with its oracle."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    problems = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(work, "out", name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no output written")
            continue
        got = con.execute(f"SELECT * FROM '{work}/out/{name}/*.parquet'")
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        stages = [s for s in sql.split("--graft-stage--") if s.strip()]
        for st in stages[:-1]:
            con.execute(st)
        exp = con.execute(stages[-1])
        exp_cols = [d[0] for d in exp.description]
        exp_rows = exp.fetchall()
        if sorted(got_cols) != sorted(exp_cols):
            problems.append(f"{name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
        elif len(got_rows) != len(exp_rows):
            problems.append(f"{name}: {len(got_rows)} rows != {len(exp_rows)}")
        elif len(exp_rows) == 0:
            problems.append(f"{name}: empty result")
        elif table_hash(got_cols, got_rows) != table_hash(exp_cols, exp_rows):
            problems.append(f"{name}: value hash differs from the oracle")
    return problems


WORD = re.compile(r"[a-z0-9'_-]+")


def word_counts(path):
    """WordCount's tokenizer for ASCII text: lowercase runs of letters,
    digits, ' _ -; keep "a" and "i", else 2+ bytes with a letter."""
    c = collections.Counter()
    with open(path) as f:
        for line in f:
            c.update(WORD.findall(line.lower()))
    return {w: n for w, n in c.items()
            if w in ("a", "i") or (len(w) >= 2 and any(ch.isalpha() for ch in w))}


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def pagerank(path, iterations, total_pages, d=0.85):
    """The reference's PageRank: each adjacency row gives its source
    (1-d)/N; each target gets d*rank(source)/out_degree, where a source
    without a previous rank counts as 1.0; no dangling redistribution."""
    ids, row_src, edge_row, edge_dst, deg = {}, [], [], [], []
    idx = lambda p: ids.setdefault(p, len(ids))
    with open(path) as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            src = parts[0].strip()
            if not src:
                continue
            targets = [t for t in parts[1].split(" ") if t] if len(parts) > 1 else []
            row = len(row_src)
            row_src.append(idx(src))
            deg.append(len(targets))
            for t in targets:
                edge_row.append(row)
                edge_dst.append(idx(t))
    n = len(ids)
    row_src, edge_row = np.array(row_src), np.array(edge_row)
    edge_dst, deg = np.array(edge_dst), np.array(deg, dtype=np.float64)
    rank, has = np.zeros(n), np.zeros(n, bool)
    for _ in range(iterations):
        prev = np.where(has[row_src], rank[row_src], 1.0)
        new = np.bincount(row_src, minlength=n) * ((1 - d) / total_pages)
        new += np.bincount(edge_dst, weights=d * prev[edge_row] / deg[edge_row],
                           minlength=n)
        has = np.zeros(n, bool)
        has[row_src] = True
        has[edge_dst] = True
        rank = new
    names = sorted(ids, key=ids.get)
    return {p: rank[i] for p, i in zip(names, range(n)) if has[i]}


def mapreduce(shards, graph, nodes, work, result):
    problems = []
    final = {}
    for i, shard in enumerate(shards):
        d = os.path.join(work, "mr", f"shard-{i}")
        jpath = os.path.join(d, "word_count.json")
        tpath = os.path.join(d, "word_count_sorted_by_default.txt")
        if not (os.path.exists(jpath) and os.path.exists(tpath)):
            problems.append(f"shard {i}: sink files missing")
            continue
        final[jpath], final[tpath] = sha256(jpath), sha256(tpath)
        js = json.load(open(jpath))
        header, *body = open(tpath).read().split("\n")
        m = re.fullmatch(r"# sorted by default - Total: (\d+) entries", header)
        rows = [ln.split("\t") for ln in body]
        rows = [(w, int(c)) for w, c in rows]
        if not m or int(m.group(1)) != len(rows) or len(rows) != len(js):
            problems.append(f"shard {i}: json has {len(js)} entries, tsv header "
                            f"{header!r}, tsv body {len(rows)} lines")
        if any((-a[1], a[0]) > (-b[1], b[0]) for a, b in zip(rows, rows[1:])):
            problems.append(f"shard {i}: tsv not sorted by count desc, word asc")
        expect = word_counts(shard)
        if js != expect or dict(rows) != expect:
            problems.append(f"shard {i}: counts differ from an independent count")
    bad_rounds = sum(1 for r in result["digests"] if r != final)
    if bad_rounds:
        problems.append(f"{bad_rounds} rounds wrote word counts that differ "
                        "from the checked files")
    exp = pagerank(graph, result["iterations"], nodes)
    ranks = glob.glob(os.path.join(work, "mr", "ranks-*.json"))
    if len(ranks) != len(result["digests"]):
        problems.append(f"{len(ranks)} rank files for {len(result['digests'])} rounds")
    for rpath in ranks:
        got = json.load(open(rpath))
        if got.keys() != exp.keys() or any(
                not math.isclose(got[p], exp[p], rel_tol=1e-9, abs_tol=1e-15)
                for p in exp):
            bad_rounds += 1
            problems.append(f"{os.path.basename(rpath)}: ranks differ from "
                            "an independent computation")
    return problems, bad_rounds

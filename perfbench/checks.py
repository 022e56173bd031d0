"""Correctness checks and the DuckDB reference for perfbench.

The comparison rules and similarity metrics are those of the
repository's gates, imported from `tools/check.py` (column names
compared sorted, rows compared as sorted multisets, values exact, NaN
equal to NaN) and `tools/check_dedup.py` (tokenizer, word n-grams,
byte shingles, Jaccard). The dedup pipelines, which have no SQL
oracle, are checked against invariants of their output, and the
maintain workload is replayed in DuckDB op by op.
"""
import math
import os
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import TABLES, norm, rowkey  # noqa: E402
from check_dedup import ascii_lower_tokens, byte_shingles, jacc, word_ngrams  # noqa: E402


def connect(data_dir, threads=None):
    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads = {int(threads)}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def compare(con, sql, path):
    """None when the dumped result equals DuckDB's, else a reason."""
    got_t = pq.read_table(path)
    got_cols = sorted(got_t.column_names)
    got = sorted((tuple(norm(r[c]) for c in got_cols) for r in got_t.to_pylist()),
                 key=rowkey)
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    exp = sorted((tuple(norm(r[i]) for i in order) for r in rel.fetchall()), key=rowkey)
    if got_cols != [cols[i] for i in order]:
        return f"schema {got_cols} vs {[cols[i] for i in order]}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for g, e in zip(got, exp):
        if g != e:
            return f"values differ, first {g} vs {e}"
    return None


# ---- dedup invariants (the metrics of tools/check_dedup.py) ----

def _pairs_at_least(sets, t):
    """Every pair (a < b) of ids with jaccard >= t, by prefix filtering:
    such a pair shares an element among the first |s| - ceil(t|s|) + 1
    elements of each set in a global order (rarest first)."""
    freq = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    index, out = {}, set()
    for i in sorted(sets):
        s = sorted(sets[i], key=lambda g: (freq[g], g))
        plen = len(s) - math.ceil(t * len(s)) + 1
        cands = set()
        for g in s[:plen]:
            cands.update(index.get(g, ()))
            index.setdefault(g, []).append(i)
        for j in cands:
            if jacc(sets[i], sets[j]) >= t:
                out.add((min(i, j), max(i, j)))
    return out


def dedup(data_dir, name, path):
    """None when a dedup pipeline's output holds its invariant."""
    docs = pq.read_table(f"{data_dir}/documents.parquet").to_pylist()
    rep = {}
    for d in docs:
        if d["text"] not in rep or d["doc_id"] < rep[d["text"]]:
            rep[d["text"]] = d["doc_id"]
    reps = {i: t for t, i in rep.items()}
    rows = pq.read_table(path).to_pylist()
    if name == "d04_ngram_jaccard":
        grams = {i: word_ngrams(ascii_lower_tokens(t)) for i, t in reps.items()}
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        unsound = sum(1 for (a, b), j in got.items()
                      if abs(jacc(grams[a], grams[b]) - j) > 1e-9)
        if unsound:
            return f"{unsound}/{len(got)} pairs disagree with the true jaccard"
        want = _pairs_at_least(grams, 0.5)
        hit = sum(1 for p in want if p in got)
        if want and hit / len(want) < 0.9:
            return f"recall at jaccard >= 0.5 is {hit}/{len(want)}"
    elif name == "d02_dedup_minhash":
        sh = {i: byte_shingles(t) for i, t in reps.items()}
        errs = [abs(jacc(sh[r["id_a"]], sh[r["id_b"]]) - r["est_jaccard"]) for r in rows]
        if not errs:
            return "no pairs"
        if statistics.mean(errs) > 0.2:
            return f"mean |estimate - jaccard| = {statistics.mean(errs):.3f} > 0.2"
    else:
        return "no invariant to check"
    return None


# ---- maintain: replay the executed op list in DuckDB ----

def replay(data_dir, copy_dir, cycles, dml_stats):
    """Replays cycles 1..`cycles` and the final compaction; returns
    (connection over the replayed state, list of mismatches)."""
    con = connect(data_dir)
    bad = []
    for t in ("orders", "lineitem"):
        con.execute(f"DROP VIEW {t}")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    mdir = f"{data_dir}/maintain"
    ops = {}
    for line in open(f"{mdir}/ops.txt"):
        f = line.split()
        if f:
            ops.setdefault(int(f[0]), []).append(f[1:])
    expected = {}
    for c in range(1, cycles + 1):
        for op in ops[c]:
            kind, table = op[0], op[1]
            name = f"{kind}_{table}"
            if kind == "insert":
                n = con.execute(f"SELECT count(*) FROM '{mdir}/{op[2]}'").fetchone()[0]
                con.execute(f"INSERT INTO {table} SELECT * FROM '{mdir}/{op[2]}'")
                expected.setdefault((c, name), []).append((0, n))
            elif kind == "update":
                n = con.execute(
                    f"UPDATE orders SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.0 "
                    f"WHERE o_orderkey BETWEEN {op[2]} AND {op[3]}").fetchone()[0]
                expected.setdefault((c, name), []).append((n, 0))
            elif kind == "delete":
                n = con.execute(f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {op[2]} AND {op[3]}"
                                ).fetchone()[0]
                expected.setdefault((c, name), []).append((n, 0))
            elif kind == "merge":
                src = f"'{mdir}/{op[2]}'"
                matched = con.execute(f"SELECT count(*) FROM {src} s WHERE s.o_orderkey IN "
                                      f"(SELECT o_orderkey FROM orders)").fetchone()[0]
                total = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
                con.execute(f"CREATE TEMP TABLE src AS SELECT * FROM {src}")
                con.execute("INSERT INTO orders SELECT * FROM src WHERE o_orderkey NOT IN "
                            "(SELECT o_orderkey FROM orders)")
                con.execute("UPDATE orders SET o_totalprice = src.o_totalprice, "
                            "o_orderpriority = src.o_orderpriority FROM src "
                            "WHERE orders.o_orderkey = src.o_orderkey")
                con.execute("DROP TABLE src")
                expected.setdefault((c, name), []).append((matched, total - matched))
    # each executed op matches the replay of the same cycle (set-up
    # rounds replay cycle 1 on their own fresh copies)
    for c, name, hit_files, rewritten, inserted in dml_stats:
        if c < 0:  # compaction: rewrites every row of the table
            table = name.split("_", 1)[1]
            n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if hit_files and rewritten != n:
                bad.append((name, f"compaction rewrote {rewritten} rows of {n}"))
            continue
        want = expected.get((c, name))
        if not want or (rewritten, inserted) not in want:
            bad.append((name, f"cycle {c}: stats rows rewritten/inserted "
                              f"{rewritten}/{inserted}, replay {want}"))
    for t in ("orders", "lineitem"):
        got = f"read_parquet('{copy_dir}/{t}.parquet/*.parquet')"
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT * FROM {t} EXCEPT ALL SELECT * FROM {got})) + "
            f"(SELECT count(*) FROM (SELECT * FROM {got} EXCEPT ALL SELECT * FROM {t}))"
        ).fetchone()[0]
        if diff:
            bad.append((f"table_{t}", f"{diff} rows differ from the replay"))
    return con, bad


def duckdb_times(data_dir, statements, threads, reps=3):
    """Median DuckDB wall time of each (name, sql), after one warm-up."""
    con = connect(data_dir, threads)
    out = {}
    for name, sql in statements:
        con.sql(sql).fetchall()
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            ts.append(time.perf_counter() - t0)
        out[name] = statistics.median(ts)
    return out

"""Output checks. They run after the JVM has exited, so they are outside
both the timed phase and the set-up time.

diff_tall: each op's written status matrix must have the same per-column
status histogram, and its `DiffSummary` row the same counts, as DuckDB
gets by running `DiffSql.generate`'s SQL over the same parquet inputs.
The expected side is computed once per seed and cached.

ingest_neardup: across one lifecycle's batches, shipped doc_ids are
unique, each shard's seq runs densely from 1 (`Sampling.shardForTraining`
numbers rows with row_number), each source's shipped
weight stays within its budget, every batch ships, and at most one member
of each exact-copy pair (doc_id, doc_id + 1000000) ships.
"""

import collections
import csv
import glob
import hashlib
import json
import os

import duckdb

SUMMARY_KEYS = ("total_rows", "rows_in_both", "missing_in_before",
                "missing_in_after", "rows_with_cell_diffs")


def _status_columns(con, rel):
    cols = [r[0] for r in con.execute("DESCRIBE %s" % rel).fetchall()]
    return [c for c in cols if c != "_row_status" and not c.startswith("K_")]


def diff_profile(con, rel):
    """Per-column status histogram (including `_row_status`) and the five
    summary counts of a diff result relation."""
    status = _status_columns(con, rel)
    hist = {}
    for c in ["_row_status"] + status:
        rows = con.execute('SELECT "%s", count(*) FROM %s GROUP BY 1' % (c, rel)).fetchall()
        hist[c] = {str(k): n for k, n in rows}
    differs = "greatest(%s) > 0" % ", ".join('"%s"' % c for c in status)
    summary = dict(zip(SUMMARY_KEYS, con.execute(
        "SELECT count(*), count(*) FILTER (_row_status IS NULL), "
        "count(*) FILTER (_row_status = 4), count(*) FILTER (_row_status = 5), "
        "count(*) FILTER (_row_status IS NULL AND %s) FROM %s" % (differs, rel)).fetchone()))
    return {"histogram": hist, "summary": summary}


def expected_diff(data_dir, oracle_sql, cache_dir):
    """The oracle's profile for these inputs, cached per oracle text."""
    key = hashlib.sha256(oracle_sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, "expected_%s.json" % key)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    con.execute("CREATE VIEW __before AS SELECT * FROM read_parquet('%s')"
                % os.path.join(data_dir, "before.parquet"))
    con.execute("CREATE VIEW __after AS SELECT * FROM read_parquet('%s')"
                % os.path.join(data_dir, "after.parquet"))
    con.execute("CREATE TEMP TABLE expected AS " + oracle_sql)
    prof = diff_profile(con, "expected")
    with open(path + ".tmp", "w") as f:
        json.dump(prof, f)
    os.replace(path + ".tmp", path)
    return prof


def check_diff_op(op, expected):
    """Problems with one diff op's output (empty when it is correct)."""
    if op.get("error"):
        return ["op failed: %s" % op["error"]]
    files = glob.glob(os.path.join(op["output"], "*.parquet"))
    if not files:
        return ["no diff_result written"]
    con = duckdb.connect()
    con.execute("CREATE VIEW actual AS SELECT * FROM read_parquet(%s)" % json.dumps(files).replace('"', "'"))
    got = diff_profile(con, "actual")
    problems = []
    if got["histogram"] != expected["histogram"]:
        bad = sorted(c for c in set(got["histogram"]) | set(expected["histogram"])
                     if got["histogram"].get(c) != expected["histogram"].get(c))
        problems.append("status histogram differs from the oracle in %s" % ", ".join(bad))
    summary = {k: op["summary"][k] for k in SUMMARY_KEYS}
    if summary != expected["summary"]:
        problems.append("DiffSummary %s != oracle %s" % (summary, expected["summary"]))
    return problems


def corpus_weights(data_dir, corpus_sql):
    """doc_id -> (source, n_chars) over the corpus the ingest reads."""
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % os.path.join(data_dir, "documents.parquet"))
    return {d: (s, n) for d, s, n in con.execute(
        "SELECT doc_id, source, n_chars FROM (%s)" % corpus_sql).fetchall()}


def read_shipped(path):
    with open(path, newline="") as f:
        return [{"shard": int(r["shard"]), "seq": int(r["seq"]),
                 "doc_id": int(r["doc_id"]), "source": r["source"]}
                for r in csv.DictReader(f)]


def check_ingest_lifecycle(batches, weights, budgets):
    """`batches` holds each batch's shipped rows in arrival order; returns
    one problem list per batch, blaming the batch where a rule first
    breaks."""
    shipped_ids = set()
    next_seq = {}
    spent = {}
    out = []
    for rows in batches:
        problems = []
        if not rows:
            problems.append("batch shipped nothing")
        ids = [r["doc_id"] for r in rows]
        batch = set(ids)
        dup = {i for i, n in collections.Counter(ids).items() if n > 1} | (batch & shipped_ids)
        if dup:
            problems.append("doc_ids shipped twice: %s" % sorted(dup)[:5])
        seen = shipped_ids | batch
        copies = sorted(i for i in seen if 1000000 <= i < 2000000 and i - 1000000 in seen
                        and (i in batch or i - 1000000 in batch))
        if copies:
            problems.append("both members of exact-copy pairs shipped: %s" % copies[:5])
        for shard in sorted(set(r["shard"] for r in rows)):
            seqs = sorted(r["seq"] for r in rows if r["shard"] == shard)
            start = next_seq.get(shard, 1)
            if seqs != list(range(start, start + len(seqs))):
                problems.append("shard %d seq not dense from %d" % (shard, start))
            next_seq[shard] = start + len(seqs)
        for r in rows:
            src, n = weights.get(r["doc_id"], (None, None))
            if src is None:
                problems.append("shipped unknown doc_id %d" % r["doc_id"])
                continue
            spent[src] = spent.get(src, 0) + n
        # a batch is blamed when it ships for a source that ends up over
        over = sorted({r["source"] for r in rows
                       if spent.get(r["source"], 0) > budgets.get(r["source"], float("inf"))})
        if over:
            problems.append("sources over budget: %s" % over)
        shipped_ids |= batch
        out.append(problems)
    return out

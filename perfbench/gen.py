"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed): DuckDB evaluates
`hash(seed, row, column)` expressions over `range(n)` and writes parquet,
so the same seed always yields the same table contents. The program under
test only ever sees the parquet files written here.

Inputs are cached per (workload, seed, generator source) under a cache
directory together with a content fingerprint, so a repeated seed skips
generation.
"""

import hashlib
import json
import os
import shutil

import duckdb

# diff_tall: one before/after pair, ~0.1% drift of each kind
TALL_ROWS = 800_000
# ingest_neardup: base documents (Corpus.docCorpus adds its planted
# copies) and the arrival batches one lifecycle splits them into
DOCS = 1200
BATCHES = 2
SOURCES = 20

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]

WORKLOADS = ("diff_tall", "ingest_neardup")


def _h(seed, *parts):
    """DuckDB expression: a seeded non-negative hash of the given parts."""
    return "hash(%d, %s)" % (seed, ", ".join(str(p) for p in parts))


def _copy(con, select_sql, path):
    con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (select_sql, path))


# ---------------------------------------------------------------- diff_tall

def _tall_columns(seed):
    """(name, before-expression, changed-expression) per data column."""
    h = lambda j: _h(seed, "i", j)
    return [
        ("c_long", "(%s %% 1000000000)::BIGINT" % h(1), "c_long + 1"),
        ("c_int", "(%s %% 100000)::INTEGER" % h(2), "c_int + 1"),
        ("c_double", "(%s %% 10000000)::DOUBLE / 100.0" % h(3), "c_double + 0.5"),
        ("c_dec", "((%s %% 10000000)::DECIMAL(12,2) / 100)::DECIMAL(12,2)" % h(4),
         "(c_dec + 0.01)::DECIMAL(12,2)"),
        ("c_str", "'s' || (%s %% 1000000)::VARCHAR" % h(5), "c_str || 'x'"),
        ("c_date", "DATE '2000-01-01' + (%s %% 9000)::INTEGER" % h(6), "c_date + 1"),
        ("n_long", "CASE WHEN %s %% 10 = 0 THEN NULL ELSE (%s %% 100000)::BIGINT END"
         % (h(7), h(8)), "n_long + 1"),
        ("n_str", "CASE WHEN %s %% 10 = 0 THEN NULL ELSE 'n' || (%s %% 100000)::VARCHAR END"
         % (h(9), h(10)), "n_str || 'y'"),
    ]


def gen_diff_tall(con, seed, out, rows=TALL_ROWS):
    """Composite key (k1, k2); 8 mixed-type data columns, two of them
    nullable; the after side adds `added_col`. Drift, each about 0.1%:
    deleted rows, inserted rows, one changed cell per changed row, and
    NULL flips in both directions on the nullable columns."""
    cols = _tall_columns(seed)
    base = "SELECT i, i // 8 AS k1, (i % 8)::INTEGER AS k2, " + ", ".join(
        "%s AS %s" % (e, n) for n, e, _ in cols) + " FROM range(%d) t(i)" % rows
    con.execute("CREATE OR REPLACE TEMP TABLE base AS " + base)
    names = [n for n, _, _ in cols]
    _copy(con, "SELECT k1, k2, %s FROM base ORDER BY i" % ", ".join(names),
          os.path.join(out, "before.parquet"))
    drift = lambda tag: "%s %% 1000" % _h(seed, "i", "'%s'" % tag)
    after_cols = []
    for j, (n, _, changed) in enumerate(cols):
        e = "CASE WHEN %s = 0 AND %s %% %d = %d THEN %s ELSE %s END" % (
            drift("chg"), _h(seed, "i", "'col'"), len(cols), j, changed, n)
        if n.startswith("n_"):
            fill = "(%s %% 100000)::BIGINT" % _h(seed, "i", "'fill'") if n == "n_long" \
                else "'f' || (%s %% 100000)::VARCHAR" % _h(seed, "i", "'fill'")
            e = ("CASE WHEN %s = 0 AND %s IS NOT NULL THEN NULL "
                 "WHEN %s = 0 AND %s IS NULL THEN %s ELSE %s END") % (
                drift("to_null_" + n), n, drift("from_null_" + n), n, fill, e)
        after_cols.append("%s AS %s" % (e, n))
    added = "(%s %% 1000)::DOUBLE AS added_col" % _h(seed, "i", "'added'")
    kept = ("SELECT i, k1, k2, %s, %s FROM base WHERE %s <> 0"
            % (", ".join(after_cols), added, drift("del")))
    # inserted rows: fresh keys beyond the before side's key range
    ins_n = rows // 1000
    ins = ("SELECT %d + i AS i, (%d + i) // 8 AS k1, ((%d + i) %% 8)::INTEGER AS k2, %s, %s "
           "FROM range(%d) t(i)") % (
        rows, rows, rows, ", ".join("%s AS %s" % (e, n) for n, e, _ in cols), added, ins_n)
    _copy(con, "SELECT k1, k2, %s, added_col FROM (%s UNION ALL %s) ORDER BY i"
          % (", ".join(names), kept, ins), os.path.join(out, "after.parquet"))
    con.execute("DROP TABLE base")
    return {"keys": ["k1", "k2"],
            "input_rows_per_op": _rows(con, out, "before.parquet") + _rows(con, out, "after.parquet")}


# ----------------------------------------------------------- ingest_neardup

def gen_ingest_neardup(con, seed, out, docs=DOCS, batches=BATCHES):
    """`documents` with the shape of the sf0.1 test table, which the
    benchmark cannot read: texts of 10..100 words over a 30-word
    vocabulary, 41% `en`, source = src(doc_id % 20). Like that table,
    5% of documents are an earlier document's text plus the word `dup`
    (sf0.1: 250 of 5,000) and 0.16% are verbatim copies of an earlier
    one (sf0.1: 8 of 5,000); `Corpus.docCorpus` then plants its own
    exact and near-dup copies on top."""
    vocab = "[" + ", ".join("'%s'" % w for w in VOCAB) + "]"
    text = ("array_to_string(list_transform(range(10 + (%s %% 91)::INTEGER), "
            "k -> %s[1 + (hash(%d, i, k) %% %d)::INTEGER]), ' ')"
            % (_h(seed, "i", "'len'"), vocab, seed, len(VOCAB)))
    lang = ("CASE WHEN %s %% 100 < 41 THEN 'en' ELSE ['de', 'es', 'fr', 'zh'][1 + (%s %% 4)::INTEGER] END"
            % (_h(seed, "i", "'lang'"), _h(seed, "i", "'lang2'")))
    con.execute("CREATE OR REPLACE TEMP TABLE raw AS SELECT i AS doc_id, %s AS text, %s AS lang, "
                "'src' || (i %% %d)::VARCHAR AS source FROM range(%d) t(i)"
                % (text, lang, SOURCES, docs))
    # planted copies point at an earlier document chosen by hash
    pick = "(%s %% greatest(r.doc_id, 1))::BIGINT" % _h(seed, "r.doc_id", "'src'")
    kind = "%s %% 10000" % _h(seed, "r.doc_id", "'kind'")
    _copy(con, """
        SELECT r.doc_id,
               CASE WHEN r.doc_id > 0 AND %s < 500 THEN o.text || ' dup'
                    WHEN r.doc_id > 0 AND %s < 516 THEN o.text
                    ELSE r.text END AS text,
               r.lang, r.source,
               length(CASE WHEN r.doc_id > 0 AND %s < 500 THEN o.text || ' dup'
                           WHEN r.doc_id > 0 AND %s < 516 THEN o.text
                           ELSE r.text END)::BIGINT AS n_chars
        FROM raw r LEFT JOIN raw o ON o.doc_id = %s
        ORDER BY r.doc_id""" % (kind, kind, kind, kind, pick),
          os.path.join(out, "documents.parquet"))
    con.execute("DROP TABLE raw")
    # per-source budget in chars: a fixed share of the source's raw
    # weight. About 40% of documents pass the curation funnel, so the
    # budget binds in the last arrival batch while every batch still ships
    budgets = con.execute(
        "SELECT source, (sum(n_chars) * 0.33)::BIGINT FROM read_parquet('%s') "
        "GROUP BY source ORDER BY source" % os.path.join(out, "documents.parquet")).fetchall()
    return {"budgets": [[s, int(b)] for s, b in budgets], "batches": batches}


# ------------------------------------------------------------------ caching

_GEN = {"diff_tall": gen_diff_tall, "ingest_neardup": gen_ingest_neardup}
# cached inputs are only reused by the generator code that wrote them
with open(__file__, "rb") as _f:
    _SOURCE_KEY = hashlib.sha256(_f.read()).hexdigest()[:12]


def _rows(con, d, f):
    return con.execute("SELECT count(*) FROM read_parquet('%s')"
                       % os.path.join(d, f)).fetchone()[0]


def fingerprint(con, root):
    """Content fingerprint: per parquet file, its row count and the XOR
    of every row's hash, folded in sorted path order."""
    parts = []
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                n, x = con.execute("SELECT count(*), bit_xor(hash(t)) FROM read_parquet('%s') t"
                                   % p).fetchone()
                parts.append("%s:%d:%s" % (os.path.relpath(p, root), n, x))
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def fingerprint_of(root):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return fingerprint(con, root)


def prepare(workload, seed, cache_root, force=False, **sizes):
    """Return (data_dir, meta, generated) for (workload, seed), generating
    into the cache when absent (or when `force`). Checking a cached copy
    against `meta["fingerprint"]` is the caller's job."""
    d = os.path.join(cache_root, "%s_seed%d_%s" % (workload, seed, _SOURCE_KEY))
    data = os.path.join(d, "data")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path) and not force:
        with open(meta_path) as f:
            return data, json.load(f), False
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(data)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    meta = _GEN[workload](con, seed, data, **sizes)
    meta["workload"] = workload
    meta["seed"] = seed
    meta["fingerprint"] = fingerprint(con, data)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return data, meta, True

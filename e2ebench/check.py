"""Correctness checks for each timed call, run outside the timed window.

Expected values come from DuckDB over the generated bindings and from the
e0x oracle SQL, never from the harvest code under test. Every check
returns None when it passes and a one-line reason when it fails.
"""
import glob
import math
import os
import sqlite3

import duckdb
import pyarrow.parquet as pq

SKOS = "http://www.w3.org/2004/02/skos/core#"
TABLES = ["terms", "term_fields", "translations", "appeals", "appeal_messages", "users"]
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def _files(d):
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _expected(con, files, name):
    """Funnel of a harvest over `files`: valid distinct rows, their concepts
    and their melted (concept, field_uri, value) triples, as tables
    <name>_valid, <name>_terms, <name>_fields; returns the counts."""
    src = "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"
    con.execute(f"""CREATE OR REPLACE TEMP TABLE {name}_valid AS
        SELECT DISTINCT * FROM {src}
        WHERE concept IS NOT NULL AND concept <> '' AND regexp_matches(concept, '^https?://')""")
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name}_terms AS SELECT DISTINCT concept AS uri FROM {name}_valid")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE {name}_fields AS
        SELECT DISTINCT concept AS uri, field_uri, v AS original_value FROM (
          SELECT concept, '{SKOS}prefLabel' AS field_uri, prefLabel AS v FROM {name}_valid
          UNION ALL SELECT concept, '{SKOS}altLabel', altLabel FROM {name}_valid
          UNION ALL SELECT concept, '{SKOS}definition', definition FROM {name}_valid)
        WHERE v IS NOT NULL""")
    q = lambda sql: con.execute(sql).fetchone()[0]
    return {
        "bindingsRead": q(f"SELECT count(*) FROM {src}"),
        "validRows": q(f"SELECT count(*) FROM {name}_valid"),
        "distinctTerms": q(f"SELECT count(*) FROM {name}_terms"),
        "fields": q(f"SELECT count(*) FROM {name}_fields"),
    }


def _load_store(con, store, name):
    """Views <name>_<table> over a store's six tables; None or a reason."""
    for t in TABLES:
        d = os.path.join(store, t)
        if not os.path.isdir(d):
            return f"store table {t} missing"
        fs = _files(d)
        if t in ("terms", "term_fields") and not fs:
            return f"store table {t} has no parquet files"
        if fs:
            lst = ",".join(f"'{f}'" for f in fs)
            con.execute(f"CREATE OR REPLACE TEMP VIEW {name}_{t} AS SELECT * FROM read_parquet([{lst}])")
    return None


def _store_common(con, s):
    q = lambda sql: con.execute(sql).fetchone()[0]
    if q(f"SELECT count(*) - count(DISTINCT uri) FROM {s}_terms"):
        return "terms.uri not unique"
    if q(f"""SELECT count(*) FROM (SELECT term_id, field_uri, original_value FROM {s}_term_fields
             GROUP BY ALL HAVING count(*) > 1)"""):
        return "term_fields(term_id, field_uri, original_value) not unique"
    if q(f"SELECT count(*) - count(DISTINCT id) FROM {s}_terms") or \
            q(f"SELECT count(*) - count(DISTINCT id) FROM {s}_term_fields"):
        return "duplicate ids"
    if q(f"SELECT count(*) FROM {s}_term_fields f ANTI JOIN {s}_terms t ON f.term_id = t.id"):
        return "term_fields.term_id without a term"
    return None


def _same_content(con, s, exp):
    """The store holds exactly the expected terms and field triples."""
    q = lambda sql: con.execute(sql).fetchone()[0]
    if q(f"""SELECT count(*) FROM ((SELECT uri FROM {s}_terms EXCEPT SELECT uri FROM {exp}_terms)
             UNION ALL (SELECT uri FROM {exp}_terms EXCEPT SELECT uri FROM {s}_terms))"""):
        return "terms differ from the expected concept set"
    got = f"""SELECT t.uri, f.field_uri, f.original_value FROM {s}_term_fields f
              JOIN {s}_terms t ON f.term_id = t.id"""
    if q(f"""SELECT count(*) FROM (({got} EXCEPT SELECT * FROM {exp}_fields)
             UNION ALL (SELECT * FROM {exp}_fields EXCEPT {got}))"""):
        return "term_fields differ from the expected melted values"
    return None


def _dense(con, table, lo, n):
    r = con.execute(f"SELECT min(id), max(id), count(DISTINCT id) FROM {table}").fetchone()
    if n == 0:
        return None if r[2] == 0 else f"{table}: unexpected rows"
    if r != (lo, lo + n - 1, n):
        return f"{table}: ids {r} are not dense from {lo} over {n} rows"
    return None


def _funnel(got, want):
    for k, v in want.items():
        if got.get(k) != v:
            return f"{k}: harvest reported {got.get(k)}, expected {v}"
    return None


def check_base(c, base_file, con=None):
    """A first harvest of the base corpus into an empty store."""
    con = con or duckdb.connect()
    e = _expected(con, [base_file], "exp")
    want = {"bindingsRead": e["bindingsRead"], "validRows": e["validRows"],
            "distinctTerms": e["distinctTerms"], "termsInserted": e["distinctTerms"],
            "termsUpdated": 0, "fieldsInserted": e["fields"]}
    return (_funnel(c, want) or _load_store(con, c["store"], "s") or _store_common(con, "s")
            or _dense(con, "s_terms", 1, e["distinctTerms"])
            or _dense(con, "s_term_fields", 1, e["fields"])
            or _same_content(con, "s", "exp"))


def check_first(c, base_file):
    """The bootstrap run: like the base store, plus the SQLite artifact."""
    con = duckdb.connect()
    return check_base(c, base_file, con) or _check_db(con, c["db"])


def _preserved(con, table, key):
    """Every base row is still there with its id and created_at, and the
    new rows take dense ids after the base's maximum."""
    q = lambda sql: con.execute(sql).fetchone()[0]
    lost = q(f"""SELECT count(*) FROM b_{table} b LEFT JOIN s_{table} s USING ({key})
                 WHERE s.id IS DISTINCT FROM b.id OR s.created_at IS DISTINCT FROM b.created_at""")
    if lost:
        return f"{table}: {lost} base rows lost their id or created_at"
    top = q(f"SELECT coalesce(max(id), 0) FROM b_{table}")
    n_new = q(f"SELECT count(*) FROM s_{table}") - q(f"SELECT count(*) FROM b_{table}")
    con.execute(f"CREATE OR REPLACE TEMP VIEW new_{table} AS SELECT * FROM s_{table} WHERE id > {top}")
    return _dense(con, f"new_{table}", top + 1, n_new)


def check_rerun(c, base_file, corpus_files):
    """A re-run over the base store with base + increment, plus the
    SQLite artifact."""
    con = duckdb.connect()
    b = _expected(con, [base_file], "old")
    e = _expected(con, corpus_files, "exp")
    q = lambda sql: con.execute(sql).fetchone()[0]
    want = {"bindingsRead": e["bindingsRead"], "validRows": e["validRows"],
            "distinctTerms": e["distinctTerms"],
            "termsInserted": q("SELECT count(*) FROM exp_terms ANTI JOIN old_terms USING (uri)"),
            "termsUpdated": q("SELECT count(*) FROM exp_terms SEMI JOIN old_terms USING (uri)"),
            "fieldsInserted": q("SELECT count(*) FROM (SELECT * FROM exp_fields EXCEPT SELECT * FROM old_fields)")}
    bad = (_funnel(c, want) or _load_store(con, c["store"], "s") or _store_common(con, "s")
           or _load_store(con, c["base_store"], "b") or _preserved(con, "terms", "uri")
           or _preserved(con, "term_fields", "term_id, field_uri, original_value")
           or _same_content(con, "s", "exp"))
    return bad or _check_db(con, c["db"])


def _check_db(con, path):
    """translations.db passes SQLite's integrity check and holds the
    store's row counts."""
    db = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        ok = db.execute("PRAGMA integrity_check").fetchone()[0]
        if ok != "ok":
            return f"translations.db integrity_check: {ok}"
        for t in TABLES:
            got = db.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            try:
                want = con.execute(f"SELECT count(*) FROM s_{t}").fetchone()[0]
            except duckdb.CatalogException:
                want = 0
            if got != want:
                return f"translations.db {t}: {got} rows, store has {want}"
    finally:
        db.close()
    return None


def _canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _cell(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v)


def check_pipelines(c, oracle):
    """Each e0x output equals its oracle SQL's result in DuckDB: same
    column names and row count, equal cells as strings after sorting
    columns by name and rows by all columns (the compare rules of
    tools/check.py)."""
    con = duckdb.connect()
    for t in SF_TABLES:
        p = os.path.join(c["tables"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for name in c["names"]:
        files = _files(os.path.join(c["out"], name))
        if not files:
            return f"{name}: no output"
        exp = con.sql(oracle[name]).fetchdf()
        got = pq.ParquetDataset(files).read().to_pandas()
        if sorted(got.columns) != sorted(exp.columns):
            return f"{name}: columns {sorted(got.columns)} vs oracle {sorted(exp.columns)}"
        if len(got) != len(exp):
            return f"{name}: {len(got)} rows vs oracle {len(exp)}"
        g, e = _canon(got), _canon(exp)
        for col in g.columns:
            for i, (a, b) in enumerate(zip(g[col], e[col])):
                if _cell(a) != _cell(b):
                    return f"{name}: col {col} row {i}: {a!r} vs oracle {b!r}"
    return None

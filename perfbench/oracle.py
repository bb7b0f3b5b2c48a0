"""Result checks for the benchmark, computed with DuckDB and independently
of Spark.

Registry ops are compared with the query's DuckDB oracle SQL over the same
parquet tables, the way the engine's own correctness check does. Each
MapReduce job is recomputed from `documents.parquet` using only its
description (which documents, which aggregate), never the engine's globs.

`check` returns, per op kind, whether its checked output is right and the
fingerprint every timed op of that kind must reproduce.
"""
import glob
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    return df.reset_index(drop=True)


def _registry(con, name, c):
    if "error" in c:
        return False, c["error"]
    if not c["oracle"]:
        return False, "no oracle SQL"
    want = _norm(con.execute(c["oracle"]).df())
    files = glob.glob(os.path.join(c["dir"], "*.parquet"))
    got = _norm(con.execute(f"SELECT * FROM read_parquet({files!r})").df()) if files else None
    if got is None:
        return False, "no output written"
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want) or len(got) != c["rows"]:
        return False, f"rows {len(got)} (counted {c['rows']}) != {len(want)}"
    if got.equals(want):
        return True, ""
    ks = list(got.columns)
    if got.sort_values(ks).reset_index(drop=True).equals(want.sort_values(ks).reset_index(drop=True)):
        return True, "equal after row sort"
    return False, "values differ"


def _where(s):
    conds = []
    if s["lang_or_source"]:
        conds.append(f"(lang = '{s['lang']}' OR source = '{s['source']}')")
    else:
        if s["lang"]:
            conds.append(f"lang = '{s['lang']}'")
        if s["source"]:
            conds.append(f"source = '{s['source']}'")
    if s["digit_at"] == "prefix":
        conds.append(f"CAST(doc_id AS VARCHAR) LIKE '{s['digit']}%'")
    if s["digit_at"] == "suffix":
        conds.append(f"CAST(doc_id AS VARCHAR) LIKE '%{s['digit']}'")
    return " AND ".join(conds) or "TRUE"


def _one(con, sql):
    return con.execute(sql).fetchone()


def _counts(con, sql):
    rows = con.execute(sql).fetchall()
    return ";".join(sorted(f"{k}={int(v)}" for k, v in rows))


def _expected(con, s):
    w = _where(s)
    words = "list_filter(string_split(text, ' '), x -> x <> '')"
    k = s["kind"]
    if k == "bytes":
        return str(int(_one(con, f"SELECT COALESCE(SUM(strlen(text)), 0) FROM docs WHERE {w}")[0]))
    if k == "files":
        n = _one(con, "SELECT COUNT(*) + 1 + COUNT(DISTINCT lang) "
                      "+ COUNT(DISTINCT (lang, source)) FROM docs")[0]
        return str(int(n))
    if k == "tokens":
        return str(int(_one(con, f"SELECT COALESCE(SUM(len({words})), 0) FROM docs WHERE {w}")[0]))
    if k == "word":
        sql = (f"SELECT COALESCE(SUM(len(list_filter(string_split(text, ' '), "
               f"x -> x = '{s['word']}'))), 0) FROM docs WHERE {w}")
        return str(int(_one(con, sql)[0]))
    if k == "vocab":
        return _counts(con, f"SELECT t, COUNT(*) FROM (SELECT unnest({words}) AS t "
                            f"FROM docs WHERE {w}) GROUP BY t")
    if k == "docs":
        n, b = _one(con, f"SELECT COUNT(*), COALESCE(SUM(strlen(text)), 0) FROM docs WHERE {w}")
        return f"{int(n)},{int(b)}"
    if k == "ctx_chain":
        return _counts(con, f"SELECT 'root|lang=' || lang, COUNT(*) FROM docs WHERE {w} GROUP BY lang")
    if k == "ctx_lang_bytes":
        return str(int(_one(con, f"SELECT COUNT(*) * strlen('lang=' || '{s['lang']}') "
                                 f"FROM docs WHERE {w}")[0]))
    if k == "max_id":
        return str(int(_one(con, f"SELECT COALESCE(MAX(doc_id), -1) FROM docs WHERE {w}")[0]))
    if k == "min_id":
        return str(int(_one(con, f"SELECT COALESCE(MIN(doc_id), -1) FROM docs WHERE {w}")[0]))
    raise ValueError(f"unknown job kind {k}")


def check(workload, checks, sf_dir):
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    if workload == "mr_shared_traversal":
        con.execute(f"CREATE VIEW docs AS SELECT * FROM '{os.path.join(sf_dir, 'documents.parquet')}'")
        for kind, c in checks.items():
            bad = []
            for s in c["specs"]:
                want, got = _expected(con, s), c["results"].get(s["name"])
                if got != want:
                    bad.append(f"{s['name']}: got {str(got)[:80]} want {want[:80]}")
            if set(c["results"]) != {s["name"] for s in c["specs"]}:
                bad.append("job names differ from the specs")
            out[kind] = {"ok": not bad, "fingerprint": c["fingerprint"], "detail": "; ".join(bad)}
    else:
        for name, c in checks.items():
            try:
                ok, detail = _registry(con, name, c)
            except Exception as e:  # a broken oracle or output is a failed check
                ok, detail = False, f"{type(e).__name__}: {e}"
            out[name] = {"ok": ok, "fingerprint": str(c.get("rows")), "detail": detail}
    con.close()
    return out

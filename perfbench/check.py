"""Output checks. Spark's result and the registry's oracle SQL, run by DuckDB
on the same generated files, are both reduced to an order-insensitive hash
of their rows (columns sorted by name, every value rendered with `str`).
q_dedup_minhash has no oracle SQL; it is checked against the duplicate
pairs the generator planted.
"""
import hashlib
import os
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canonical_hash(rel):
    """sha256 of the sorted, column-name-ordered rows of a DuckDB relation."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(str(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256()
    h.update("\x1e".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return {"hash": h.hexdigest(), "rows": len(rows)}


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    return con


def expected(data_dir, oracle_sql, jobs):
    """Expected hash per job (None when the job has no oracle SQL), plus
    DuckDB's time per job as context."""
    con = connect(data_dir)
    out = {}
    for name in jobs:
        if name not in oracle_sql:
            out[name] = None
            continue
        t0 = time.time()
        out[name] = canonical_hash(con.sql(oracle_sql[name]))
        out[name]["duckdb_s"] = time.time() - t0
    return out


def read_output(con, path):
    return con.sql(f"SELECT * FROM read_parquet('{path}/**/*.parquet', "
                   "hive_partitioning = true, hive_types_autocast = false)")


def shingles(text, k=3):
    w = text.split()
    if len(w) < k:
        return {" ".join(w)}
    return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}


def check_minhash(con, path, planted):
    """The job's input is the corpus plus a copy shifted by +10000. Every
    (doc, its copy) pair and every planted pair with its shifted variants
    must be reported; every reported pair must share at least half its word
    3-shingles. Returns None when this holds, else the reason."""
    got = read_output(con, path).fetchall()
    pairs = {(min(a, b), max(a, b)) for a, b, *_ in got}
    texts = dict(con.sql("SELECT doc_id, text FROM documents").fetchall())
    want = {(i, i + 10000) for i in texts}
    for a, b, _ in planted:
        for x in (a, a + 10000):
            for y in (b, b + 10000):
                want.add((min(x, y), max(x, y)))
    missing = want - pairs
    if missing:
        return f"{len(missing)} planted pairs missing, e.g. {sorted(missing)[:3]}"
    texts.update({i + 10000: t for i, t in list(texts.items())})
    for a, b in pairs:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        if len(sa & sb) < 0.5 * len(sa | sb):
            return f"pair ({a}, {b}) has shingle jaccard below 0.5"
    return None


def check_outputs(data_dir, out_dir, jobs, expect, planted):
    """Status per job: None when the output matches, else the reason."""
    con = connect(data_dir)
    status = {}
    for name in jobs:
        path = os.path.join(out_dir, "check", name)
        if not os.path.isdir(path):
            status[name] = "no output written"
            continue
        try:
            if expect[name] is None:
                status[name] = check_minhash(con, path, planted)
                continue
            got = canonical_hash(read_output(con, path))
            status[name] = None if got["hash"] == expect[name]["hash"] else (
                f"hash mismatch: {got['rows']} rows vs {expect[name]['rows']} expected")
        except Exception as e:  # an unreadable output is a failed check
            status[name] = f"{type(e).__name__}: {e}"[:300]
    return status

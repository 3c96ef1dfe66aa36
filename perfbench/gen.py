"""Seeded input generator. The same (workload, seed) always writes the same
bytes; the engine sees only the files written here.

Tables follow the schema of the registry's typed views (queries/Tables.scala):
a TPC-H-like star schema, an `events` stream, `documents` and `embeddings`.
Each table is a directory `<name>.parquet/` of `part-NNNNN.parquet` files.

Document ids run in blocks of 10,000 with 10,000-id gaps (0-9999,
20000-29999, ...): the registry's dedup jobs union the corpus with a copy
shifted by +10000, and the gaps keep those copies from colliding with real
ids.

    python3 perfbench/gen.py --selfcheck   # same seed -> same hashes
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import WORKLOADS  # noqa: E402

FORMAT = 1  # bump when the generated content changes for a given seed

BASE_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
              "line merge order part query row scan slow small sort spark stream table "
              "the value vector window").split()
SYLLABLES = "ka lo mi nu pe ra si to vu ze bri cla dro fen gor hal jun kes lim mor".split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH_2024_US = 1704067200 * 10**6
DAY_US = 86400 * 10**6


def vocabulary(n=2000):
    """Fixed word list: the base words, then two- and three-syllable words."""
    words = list(BASE_WORDS)
    i = 0
    while len(words) < n:
        s = SYLLABLES
        w = s[i % 20] + s[(i // 20) % 20] + ("" if i < 400 else s[(i // 400) % 20])
        if w not in words:
            words.append(w)
        i += 1
    return np.array(words, dtype=object)


VOCAB = vocabulary()
ZIPF_P = 1.0 / np.arange(1, len(VOCAB) + 1)
ZIPF_P /= ZIPF_P.sum()


def doc_id(k):
    k = np.asarray(k, dtype=np.int64)
    return (k // 10000) * 20000 + k % 10000


def words(rng, n):
    return VOCAB[rng.choice(len(VOCAB), size=n, p=ZIPF_P)]


def short_docs(rng, spec):
    n = spec["n"]
    lens = rng.integers(spec["min_words"], spec["max_words"] + 1, size=n)
    toks = words(rng, int(lens.sum()))
    ends = np.cumsum(lens)
    return [list(toks[e - l:e]) for e, l in zip(ends, lens)]


def long_docs(rng, spec):
    """Documents stitched from seeded draws out of a shared pool of 8-30
    word segments. The pool holds 20 segments per document, so segments
    recur across documents but rarely, and contamination stays low."""
    n = spec["n"]
    pool_n = 20 * n
    seg_lens = rng.integers(8, 31, size=pool_n)
    toks = words(rng, int(seg_lens.sum()))
    ends = np.cumsum(seg_lens)
    segs = [list(toks[e - l:e]) for e, l in zip(ends, seg_lens)]
    seg_chars = [sum(len(w) + 1 for w in s) for s in segs]
    docs = []
    for t in rng.integers(spec["min_chars"], spec["max_chars"] + 1, size=n):
        doc, size = [], 0
        while size < t:
            s = int(rng.integers(0, pool_n))
            doc.extend(segs[s])
            size += seg_chars[s]
        docs.append(doc)
    return docs


def documents(rng, spec):
    """Returns the table and the planted duplicate pairs (by doc_id)."""
    docs = long_docs(rng, spec) if spec["kind"] == "long" else short_docs(rng, spec)
    n = len(docs)
    planted = []
    n_exact = int(n * spec.get("exact_dup_frac", 0))
    n_near = int(n * spec.get("near_dup_frac", 0))
    targets = rng.choice(np.arange(1, n), size=n_exact + n_near, replace=False)
    copies = set(targets.tolist())
    for i, j in enumerate(targets):
        src = int(rng.integers(0, j))
        while src in copies:  # copy only from docs that stay original
            src = int(rng.integers(0, j))
        docs[j] = list(docs[src])
        kind = "exact"
        if i >= n_exact:
            pos = int(rng.integers(0, len(docs[j])))
            repl = words(rng, 1)[0]
            while repl == docs[j][pos]:
                repl = words(rng, 1)[0]
            docs[j][pos] = repl
            kind = "near"
        planted.append([int(doc_id(src)), int(doc_id(j)), kind])
    texts = [" ".join(d) for d in docs]
    table = pa.table({
        "doc_id": pa.array(doc_id(np.arange(n)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k % 20}" for k in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, planted


def embeddings(rng, spec):
    n = spec["n"]
    vecs = rng.normal(0.0, 0.15, size=(n, 64)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def events(rng, spec):
    n = spec["n"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, size=n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, spec["users"], size=n), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0


def dates(rng, n):
    days = rng.integers(0, 7 * 365, size=n)
    return pa.array((np.datetime64("1995-01-01") + days).astype("datetime64[us]"),
                    pa.timestamp("us"))


def star(rng, scale):
    n_cust, n_supp = int(15000 * scale), max(int(1000 * scale), 10)
    n_part, n_ord = int(20000 * scale), int(150000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], size=n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    adj = np.array(["large", "hot", "small", "cold", "shiny"], dtype=object)
    noun = np.array(["ring", "bolt", "gear", "nut", "pipe"], dtype=object)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": (adj[rng.integers(0, 5, size=n_part)] + " "
                   + noun[rng.integers(0, 5, size=n_part)]).tolist(),
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                             size=n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(money(rng, 900, 1000, n_part), pa.float64())})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord).tolist(),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": dates(rng, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], size=n_ord).tolist()})
    lines = rng.integers(0, 8, size=n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n_li), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0, pa.float64()),
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], size=n_li).tolist(),
        "l_shipdate": dates(rng, n_li)})
    return t


def write_table(table, path, files, row_groups=1):
    os.makedirs(path)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        part = table.slice(bounds[f], bounds[f + 1] - bounds[f])
        rg = max(1, -(-part.num_rows // row_groups))
        pq.write_table(part, os.path.join(path, f"part-{f:05d}.parquet"),
                       row_group_size=rg, compression="snappy")


def table_stats(path):
    files = sorted(os.listdir(path))
    h = hashlib.sha256()
    size = rows = 0
    for f in files:
        with open(os.path.join(path, f), "rb") as fh:
            b = fh.read()
        h.update(f.encode() + b"\0" + b)
        size += len(b)
        rows += pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
    return {"files": len(files), "rows": rows, "bytes": size, "sha256": h.hexdigest()}


def generate(workload, seed, out_dir):
    """Writes the workload's tables for `seed` under out_dir (reused when a
    complete earlier write is there) and returns the manifest."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            m = json.load(f)
        if m.get("format") == FORMAT:
            return m
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    w = WORKLOADS[workload]
    rng = np.random.default_rng([seed, FORMAT, sorted(WORKLOADS).index(workload)])
    tables = star(rng, w["star_scale"])
    docs, planted = documents(rng, w["docs"])
    layout = {name: (w["star_files"] if t.num_rows > 1000 else 1, 1)
              for name, t in tables.items()}
    tables["documents"] = docs
    layout["documents"] = (w["docs"]["files"], w["docs"]["row_groups"])
    tables["embeddings"] = embeddings(rng, w["embeddings"])
    layout["embeddings"] = (w["embeddings"]["files"], 1)
    tables["events"] = events(rng, w["events"])
    layout["events"] = (w["events"]["files"], 1)
    stats = {}
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        write_table(tables[name], path, *layout[name])
        stats[name] = table_stats(path)
    m = {"format": FORMAT, "workload": workload, "seed": seed, "tables": stats,
         "planted_pairs": planted,
         "input_bytes": sum(stats[t]["bytes"] for t in w["primary"])}
    m["content_sha256"] = hashlib.sha256(
        "".join(stats[t]["sha256"] for t in sorted(stats)).encode()).hexdigest()
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(m, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return m


def selfcheck(workload, base):
    """Same seed twice gives identical content hashes; another seed differs."""
    a = generate(workload, 1, os.path.join(base, "a"))["content_sha256"]
    b = generate(workload, 1, os.path.join(base, "b"))["content_sha256"]
    c = generate(workload, 2, os.path.join(base, "c"))["content_sha256"]
    shutil.rmtree(base)
    return a == b and a != c


if __name__ == "__main__":
    if sys.argv[1:] != ["--selfcheck"]:
        sys.exit("usage: gen.py --selfcheck")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ok = True
    for wl in WORKLOADS:
        good = selfcheck(wl, os.path.join(root, ".perfbench", "gen-selfcheck", wl))
        print(f"{wl}: {'ok' if good else 'FAILED'}")
        ok &= good
    sys.exit(0 if ok else 1)

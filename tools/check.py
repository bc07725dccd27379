#!/usr/bin/env python3
"""Local correctness harness mirroring the driver's DuckDB-oracle compare.

Usage:
  python3 tools/check.py [sfdir] [outdir] [--run] [--json=PATH] [query...]

With --run, first runs `sbt runMain graft.Verify <sfdir> <outdir>`. Then for
every query in <outdir>/oracle_sql.json: execute the oracle SQL in DuckDB
(tables = parquet files in sfdir), read the engine's parquet output, sort
columns by name, canonicalize (round doubles to 6dp, timestamps to us), sort
rows, and hash-compare.

Round-18 gate hardening (VERDICT r17 "What's wrong" #1 — the driver round
shipped an EMPTY correctness artifact after a wall-time blowout):

 - INCREMENTAL emission: per-query results are flushed to --json=PATH
   (default <outdir>/check_results.json) after EVERY query, in the driver's
   CORRECTNESS_rN.json record shape plus an `oracle_sec` timing field. A
   timeout mid-run now leaves N green rows on disk, not `{}`.
 - CTE result cache: many oracle families embed the SAME expensive CTE
   bodies (the Jaccard shingle-pair CTEs, the recursive edge closures).
   The harness parses each query's WITH-prefix; the SECOND time a CTE body
   (keyed by the md5 of its text PLUS all in-scope prior definitions — a
   same-text body over different upstream CTEs must not collide) is seen,
   it is materialized once into a TEMP TABLE and every later occurrence is
   substituted with `name AS (SELECT * FROM cache_<k>)`. Pure textual
   identity, so the substituted query is equivalent by construction; the
   oracle SQL shipped to the driver is unchanged.
 - Per-query timing is always printed; the slowest 15 are summarized at
   exit so oracle-side hot spots stay visible round over round.

Round-19 record-survival + gate-economics hardening (VERDICT r18 #1/#7):

 - The LAST stdout line is ONE compact JSON record —
   `{"component":"check","n_ok":…,"n_fail":…,"failed":[…],
   "families":{…},"wall_sec":…}` — the exact discipline that made
   BENCH_r18 the first bench artifact to parse (the driver keeps a
   2000-char stdout tail). The full per-query record remains at
   --json=PATH (default <outdir>/check_results.json), the canonical
   correctness artifact (see README).
 - `--budget-report` prints the top-15 oracle costs as a markdown table
   ready for BASELINE.md's gate-economics ledger (data already collected
   as `oracle_sec`).
 - The family rollup reads <outdir>/families.json (written by
   graft.Verify alongside oracle_sql.json); absent file => omitted.
"""
import glob
import json, os, subprocess, sys, hashlib, tempfile, time, re
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64" or df[c].dtype == "float32":
            df[c] = df[c].astype("float64").round(6)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def h(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()

# ---------------------------------------------------------------------------
# WITH-prefix parser for the CTE cache. Handles WITH [RECURSIVE] name [(cols)]
# AS ( body ) [, ...] <main query>; paren balancing skips single-quoted
# strings ('' escape). Returns (recursive_kw, [(name, cols, body)], main) or
# None when the SQL has no leading WITH (or parsing bails — caching is an
# optimization, never a correctness dependency, so any surprise => None).
# ---------------------------------------------------------------------------
def parse_with(sql: str):
    m = re.match(r"\s*WITH(\s+RECURSIVE)?\b", sql, re.I)
    if not m:
        return None
    rec = bool(m.group(1))
    i = m.end()
    ctes = []
    try:
        while True:
            nm = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*", sql[i:])
            if not nm:
                return None
            name = nm.group(1)
            i += nm.end()
            cols = ""
            if sql[i] == "(":  # optional column list
                j = scan_parens(sql, i)
                cols = sql[i:j]
                i = j
                i += len(sql[i:]) - len(sql[i:].lstrip())
            am = re.match(r"AS\s*", sql[i:], re.I)
            if not am or sql[i + am.end()] != "(":
                return None
            i += am.end()
            j = scan_parens(sql, i)
            body = sql[i + 1:j - 1]
            i = j
            ws = re.match(r"\s*", sql[i:])
            i += ws.end()
            ctes.append((name, cols, body))
            if i < len(sql) and sql[i] == ",":
                i += 1
                continue
            return (rec, ctes, sql[i:])
    except IndexError:
        return None

def scan_parens(sql: str, i: int) -> int:
    """i points at '('; return index just past its matching ')'."""
    depth = 0
    in_str = False
    while i < len(sql):
        c = sql[i]
        if in_str:
            if c == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise IndexError("unbalanced parens")

def materialize_ctes(sql: str):
    """The same query with every CTE written `AS MATERIALIZED`, or None when
    the SQL has no parseable WITH-prefix. DuckDB otherwise inlines a CTE at
    each reference, so an oracle that references one CTE chain from several
    arms plans that chain once per arm; materialized, each CTE runs once.
    Same text, same semantics: only the evaluation strategy changes."""
    parsed = parse_with(sql)
    if not parsed:
        return None
    rec, ctes, main = parsed
    kw = "WITH RECURSIVE " if rec else "WITH "
    return kw + ", ".join(f"{name}{cols} AS MATERIALIZED ({body})"
                          for (name, cols, body) in ctes) + " " + main

class CteCache:
    """Cross-query CTE materialization. seen: key -> None (seen once) or
    temp-table name (materialized)."""
    def __init__(self, con):
        self.con = con
        self.seen = {}
        self.hits = 0

    def rewrite(self, sql: str) -> str:
        parsed = parse_with(sql)
        if not parsed:
            return sql
        rec, ctes, main = parsed
        hits_before = self.hits
        scope = ""  # accumulated (name, body) context for keying
        prefix_sql = []  # definitions as they stand AFTER substitution
        # Under WITH RECURSIVE a body may reference CTEs defined LATER
        # (mutual recursion), so prior-definitions scope alone under-keys:
        # two identical bodies with identical prefixes but different later
        # siblings must not share a cache entry. Key on the full CTE list
        # plus the RECURSIVE flag in that case (plain WITH only allows
        # backward references, where the prior-scope key is exact).
        rec_scope = ""
        if rec:
            rec_scope = "R|" + "|".join(f"{n}{c}:{b}" for (n, c, b) in ctes)
        for (name, cols, body) in ctes:
            key = hashlib.md5((rec_scope + scope + "|" + name + cols + "|" + body)
                              .encode()).hexdigest()[:16]
            scope += f"<{name}{cols}:{body}>"
            status = self.seen.get(key, "unseen")
            if status == "unseen":
                self.seen[key] = None
                new_body = body
            elif status is None:
                tbl = f"cte_cache_{key}"
                # materialize: full WITH prefix (post-substitution defs so
                # upstream cached CTEs are reused here too) selecting this CTE
                kw = "WITH RECURSIVE " if rec else "WITH "
                defs = ",\n".join(prefix_sql + [f"{name}{cols} AS ({body})"])
                self.con.execute(
                    f"CREATE TEMP TABLE {tbl} AS {kw}{defs} SELECT * FROM {name}")
                self.seen[key] = tbl
                new_body = f"SELECT * FROM {tbl}"
                self.hits += 1
            else:
                new_body = f"SELECT * FROM {status}"
                self.hits += 1
            prefix_sql.append(f"{name}{cols} AS ({new_body})")
        if self.hits == hits_before:
            return sql  # nothing substituted: the raw text, not a re-spelling
        kw = "WITH RECURSIVE " if rec else "WITH "
        return kw + ", ".join(prefix_sql) + " " + main

def duckdb_memory_limit():
    """DuckDB's memory cap: half of MemTotal in whole GiB, clamped to 2..8,
    the rule the tier-1 command uses to size SPARK_DRIVER_MEM. Uncapped,
    DuckDB may take 80 % of RAM, and an oracle whose inlined CTE chain
    cannot fit (q396 at sf0.1) grows that far before its materialized
    attempt runs; capped, that attempt fails at the cap instead."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
        gib = kb // 2097152
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{min(max(gib, 2), 8)}GiB"


def main():
    t_start = time.time()
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])
    json_path = next((a.split("=", 1)[1] for a in sys.argv[1:]
                      if a.startswith("--json=")), f"{outdir}/check_results.json")
    no_cache = "--no-cte-cache" in sys.argv
    if "--run" in sys.argv:
        names = " ".join(sorted(only))
        subprocess.run(["sbt", "-batch",
                        f"runMain graft.Verify {sfdir} {outdir} {names}".strip()],
                       check=True, capture_output=True, text=True)
    con = duckdb.connect()
    # big-shard oracles (e.g. a 10x replicated sfdir) need spill-to-disk
    # and don't care about insertion order (canon() sorts).
    # The spill dir is a managed tempdir (removed at interpreter exit) — a
    # fixed /tmp path would accrete spill files across runs forever.
    spill = tempfile.TemporaryDirectory(prefix="duckdb_spill_")
    con.execute(f"SET temp_directory='{spill.name}'")
    con.execute("SET preserve_insertion_order=false")
    con.execute(f"SET memory_limit='{duckdb_memory_limit()}'")
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    n_views = 0
    for t in tables:
        # driver testdata ships single-file parquet; Spark-written dirs
        # (a replicated shard) need the part-file glob, and a shard dir
        # legitimately lacks the tables its queries never touch
        path = f"{sfdir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        elif not os.path.exists(path):
            # a notice, not an error: a shard dir legitimately lacks tables
            # its queries never touch, but a PARTIAL shard write should be
            # distinguishable from that at a glance, not via 380 per-query
            # 'table not found' failures
            print(f"note: no {t} parquet under {sfdir} — view skipped")
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        n_views += 1
    if n_views == 0:
        # a shard dir may lack SOME tables, but zero tables means a typo'd
        # sfdir — fail fast with one clear error, not 380 per-query ones
        print(f"FATAL: no table parquet found under {sfdir}")
        sys.exit(2)
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    cache = CteCache(con)
    results = {}
    timings = []

    def record(name, *, rows_match=False, schema_match=False, hash_match=False,
               spark_rows=None, oracle_rows=None, err=None, sec=None):
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err, "oracle_sec": sec,
        }
        # incremental flush: a timeout kills the PROCESS, not the artifact
        tmp = json_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(results, f, indent=1)
        os.replace(tmp, json_path)

    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        # Attempts in order: the cached rewrite; the raw text (a
        # cache-rewrite surprise must never fail a query the raw SQL would
        # pass); last, every CTE materialized (an oracle whose inlined CTE
        # chain runs DuckDB out of memory, e.g. q396/q398/q413 at sf0.1).
        # A text already tried is not run again. The first error is the one
        # reported.
        exp, err, tried = None, None, set()
        for how, attempt in (
                ("cached", lambda: sql if no_cache else cache.rewrite(sql)),
                ("raw", lambda: sql),
                ("with materialized CTEs", lambda: materialize_ctes(sql))):
            try:
                run_sql = attempt()
                if run_sql is None or run_sql in tried:
                    continue
                tried.add(run_sql)
                exp = con.sql(run_sql).df()
                break
            except Exception as e:
                err = err or e
        if exp is not None and err is not None:
            print(f"note {name}: oracle ran {how} after: {err}")
        if exp is None:
            sec = time.time() - t0
            # a failed oracle still spent this wall time — it must show
            # up in the slow-15 / budget report, or the ledger under-
            # reports exactly when the gate blows its budget
            timings.append((sec, name))
            print(f"FAIL {name}: oracle error: {err}")
            record(name, err=f"oracle error: {err}", sec=round(sec, 2))
            fail += 1
            continue
        sec = time.time() - t0
        timings.append((sec, name))
        try:
            # Read engine output via pyarrow/pandas (NOT DuckDB): the driver
            # does the same, so decimal columns stay Decimal objects and a
            # decimal-vs-double mismatch against the oracle is caught here.
            parts = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
            if not parts:
                print(f"FAIL {name}: no parquet parts found in {outdir}/{name}")
                record(name, oracle_rows=len(exp), err="no engine parquet",
                       sec=round(sec, 2))
                fail += 1
                continue
            got = pd.concat([pd.read_parquet(p) for p in parts],
                            ignore_index=True)
        except Exception as e:
            print(f"FAIL {name}: engine output missing: {e}")
            record(name, oracle_rows=len(exp), err=f"engine output: {e}",
                   sec=round(sec, 2))
            fail += 1
            continue
        exp_c, got_c = canon(exp), canon(got)
        if list(exp_c.columns) != list(got_c.columns):
            print(f"FAIL {name}: schema exp={list(exp_c.columns)} got={list(got_c.columns)}")
            record(name, spark_rows=len(got_c), oracle_rows=len(exp_c),
                   err="schema mismatch", sec=round(sec, 2))
            fail += 1
            continue
        if len(exp_c) != len(got_c):
            print(f"FAIL {name}: rows exp={len(exp_c)} got={len(got_c)}")
            record(name, schema_match=True, spark_rows=len(got_c),
                   oracle_rows=len(exp_c), err="row count", sec=round(sec, 2))
            fail += 1
            continue
        if h(exp_c) != h(got_c):
            diff = (exp_c != got_c) & ~(exp_c.isna() & got_c.isna())
            bad = diff.any(axis=1)
            print(f"FAIL {name}: hash mismatch ({bad.sum()} rows differ)")
            with pd.option_context("display.width", 200):
                print("  exp:", exp_c[bad].head(3).to_dict("records"))
                print("  got:", got_c[bad].head(3).to_dict("records"))
            record(name, rows_match=True, schema_match=True,
                   spark_rows=len(got_c), oracle_rows=len(exp_c),
                   err="hash mismatch", sec=round(sec, 2))
            fail += 1
            continue
        print(f"ok   {name} ({len(exp_c)} rows, {sec:.1f}s)")
        record(name, rows_match=True, schema_match=True, hash_match=True,
               spark_rows=len(got_c), oracle_rows=len(exp_c),
               sec=round(sec, 2))
        ok += 1
    wall = time.time() - t_start
    for sec, name in sorted(timings, reverse=True)[:15]:
        print(f"  slow: {name} {sec:.1f}s")
    print(f"  cte-cache: {cache.hits} substitutions, "
          f"{sum(1 for v in cache.seen.values() if v)} materialized")
    if "--budget-report" in sys.argv:
        # BASELINE.md gate-economics ledger fragment: the oracle-side top-15
        print("| query | oracle_sec |")
        print("|---|---|")
        for sec, name in sorted(timings, reverse=True)[:15]:
            print(f"| {name} | {sec:.1f} |")
    print(f"== {ok} ok, {fail} fail, {wall:.0f}s wall ==")
    # family rollup (ok/total per catalog group) for the compact line
    families = {}
    fam_file = f"{outdir}/families.json"
    if os.path.exists(fam_file):
        fam_of = json.load(open(fam_file))
        for name, rec in results.items():
            g = fam_of.get(name, "?")
            a, b = families.get(g, (0, 0))
            families[g] = (a + (1 if rec["hash_match"] else 0), b + 1)
    failed_names = sorted(n for n, r in results.items() if not r["hash_match"])
    # ONE compact JSON record as the LAST stdout line — survives the
    # driver's 2000-char tail capture (the fix that made BENCH_r18 parse);
    # the failed list is capped so a systemic breakage can't push the
    # counts out of the tail window
    print(json.dumps({
        "component": "check", "n_ok": ok, "n_fail": fail,
        "failed": failed_names[:20],
        "families": {g: f"{a}/{b}" for g, (a, b) in sorted(families.items())},
        "wall_sec": round(wall, 1), "results_path": json_path,
    }, separators=(",", ":")))
    sys.exit(1 if fail else 0)

if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Runs DuckDB oracle SQL (from Verify's oracle_sql.json) against the parquet
tables and compares with the Spark-written parquet per query: schema
(column names), row count, and value hash (columns sorted by name).

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

Named queries must all have Spark output. With no names, a query that
has none (a `graft.Verify` run over a subset) is reported as skipped.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df


def row_hash(df: pd.DataFrame):
    # stringify everything; floats via repr (exact)
    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    rows = ["|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    import hashlib
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), rows


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    # Bound the oracle's buffer pool and give it a spill path: DuckDB's
    # default memory_limit is 80% of PHYSICAL ram with no temp_directory
    # for in-memory databases — a heavy oracle (q66's triangle join,
    # td110's residual ADC at sf1) then HOARDS ~100 GB of buffer pool on
    # the long-lived sweep connection and the next heavy query (or a
    # fresh-connection retry, a separate instance that cannot evict the
    # first one's blocks) dies on a raw allocation failure. Capped +
    # spillable, heavy oracles get slower instead of failing.
    def tune(c):
        c.execute("SET temp_directory='/tmp/duckdb_check_spill'")
        c.execute(f"SET memory_limit='{os.environ.get('CHECK_ORACLE_MEM', '80GB')}'")
        return c

    con = tune(duckdb.connect())
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # fixture-aware oracle overrides (graft.Verify writes the recipes;
    # tools/gen_fixtures.py materializes the fixture parquet per dataset):
    # an override replaces a query's oracle ONLY when every fixture table
    # it references exists in the SF dir — the driver's gate dirs carry no
    # fixtures, so it always runs the self-contained originals.
    fixture_views = {}
    fx_path = f"{out_dir}/oracle_fixtures.json"
    if os.path.exists(fx_path):
        fx = json.load(open(fx_path))
        # freshness gate: a fixture older than any source table is from
        # a PREVIOUS generation of the dataset — using it would silently
        # compare Spark against stale signatures
        newest_src = max((os.path.getmtime(f"{sf_dir}/{t}.parquet")
                          for t in TABLES
                          if os.path.exists(f"{sf_dir}/{t}.parquet")),
                         default=0)
        present = set()
        for name in fx.get("fixtures", {}):
            p = f"{sf_dir}/{name}.parquet"
            if not os.path.exists(p):
                continue
            if os.path.getmtime(p) < newest_src:
                print(f"NOTE {name}: fixture older than the dataset — "
                      f"rerun tools/gen_fixtures.py (override disabled)")
                continue
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
            present.add(name)
            fixture_views[name] = p
        for qname, sql in fx.get("overrides", {}).items():
            needed = [n for n in fx.get("fixtures", {}) if n in sql]
            if qname in oracle and needed and all(n in present for n in needed):
                oracle[qname] = sql
                print(f"NOTE {qname}: using fixture-backed oracle "
                      f"({', '.join(needed)})")
    def fresh_connection():
        c = tune(duckdb.connect())
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for name, p in fixture_views.items():
            c.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
        return c

    n_pass = n_fail = n_skip = n_absent = 0
    # optional per-query ORACLE budget (seconds) for large-SF sweeps:
    # some oracle replications (regex scrubs, pair algebra) are
    # impractical in DuckDB at 10x the gate SF while the Spark side is
    # fine — a skip records an oracle-resource limit, not a failure.
    budget = float(os.environ.get("CHECK_ORACLE_TIMEOUT_SEC", "0") or 0)
    for name in sorted(oracle):
        if only and name not in only:
            continue
        spark_path = f"{out_dir}/{name}"
        files = glob.glob(f"{spark_path}/*.parquet")
        if not files:
            if only:
                print(f"FAIL {name}: no spark output at {spark_path}")
                n_fail += 1
            else:
                print(f"SKIP {name}: no spark output (not dumped by this Verify run)")
                n_absent += 1
            continue
        timer = None
        timed_out = []
        # budgeted oracles run on a PER-QUERY cursor (its own connection
        # to the same catalog): the Timer's interrupt can fire after the
        # query returns but before cancel() lands, and on a shared
        # connection that poisons the NEXT query into a spurious FAIL —
        # a discarded per-query cursor absorbs the late interrupt.
        qcon = con.cursor() if budget > 0 else con
        if budget > 0:
            import threading
            def _interrupt():
                timed_out.append(True)
                try:
                    qcon.interrupt()
                except Exception:
                    pass
            timer = threading.Timer(budget, _interrupt)
            timer.start()
        try:
            duck = qcon.execute(oracle[name]).df()
        except Exception as e:
            if timer: timer.cancel()
            if timed_out:
                print(f"SKIP {name}: oracle exceeded {budget:.0f}s budget")
                n_skip += 1
                continue
            # a long-lived shared connection accumulates buffer-pool
            # blocks across a 200-query sweep, and a HEAVY oracle late in
            # it can OOM even though it passes standalone (measured:
            # q66/td110 at sf1 — both green alone in ~160s). A SECOND
            # instance cannot help (it can't evict the first one's
            # blocks and the two pools together exceed physical RAM), so:
            # CLOSE the hoarding instance, rebuild, retry there, and
            # continue the sweep on the rebuilt one — one instance alive
            # at any time.
            duck = None
            if "Out of Memory" in str(e) or "failed to pin" in str(e):
                try:
                    con.close()
                    con = fresh_connection()
                    duck = con.execute(oracle[name]).df()
                    print(f"NOTE {name}: oracle OOM'd on the sweep "
                          f"connection; passed after a rebuild")
                except Exception as e2:
                    e = e2
            if duck is None:
                print(f"FAIL {name}: oracle error: {e}")
                n_fail += 1
                continue
        finally:
            if timer: timer.cancel()
            if qcon is not con:
                try:
                    qcon.close()
                except Exception:
                    pass
        spark = pd.read_parquet(spark_path)
        duck, spark = norm(duck), norm(spark)
        if list(duck.columns) != list(spark.columns):
            print(f"FAIL {name}: columns duck={list(duck.columns)} spark={list(spark.columns)}")
            n_fail += 1
            continue
        if len(duck) != len(spark):
            print(f"FAIL {name}: rows duck={len(duck)} spark={len(spark)}")
            n_fail += 1
            continue
        hd, rd = row_hash(duck)
        hs, rs = row_hash(spark)
        if hd != hs:
            n_fail += 1
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(rd, rs)) if a != b][:5]
            print(f"FAIL {name}: hash mismatch ({len([1 for a,b in zip(rd,rs) if a!=b])} differing rows)")
            for i, a, b in diffs:
                print(f"  row {i}:\n    duck : {a}\n    spark: {b}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(duck)} rows)")
    skip_note = f", {n_skip} oracle-skipped" if n_skip else ""
    print(f"\n{n_pass} passed, {n_fail} failed, {n_absent} skipped{skip_note}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

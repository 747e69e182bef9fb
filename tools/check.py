#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB against the same sf dir and compare with Verify.scala's parquet output
(schema + row/values, columns sorted by name, rows sorted)."""
import sys, json, glob, math
import duckdb

args = [a for a in sys.argv[1:] if not a.startswith("--")]
flags = [a for a in sys.argv[1:] if a.startswith("--")]
sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out_dir = args[1] if len(args) > 1 else "/tmp/verify"
# --scale: use the staged/sharded recipes from oracle_scale.json for the
# queries whose one-statement oracle can't run at large SFs (per-token
# unnest OOMs, ~1e9-row pair joins). --shards=N controls shard count.
use_scale = "--scale" in flags
n_shards = next((int(f.split("=")[1]) for f in flags
                 if f.startswith("--shards=")), 32)
mem_limit = next((f.split("=")[1] for f in flags
                  if f.startswith("--mem=")), "80GB")

import os.path, gc, time
def new_con():
    c = duckdb.connect()
    # without a temp_directory an in-memory DuckDB cannot spill AT ALL —
    # the heavy sf10 oracles then die on "bad allocation" instead of
    # going to disk
    c.execute(f"PRAGMA memory_limit='{mem_limit}'")
    c.execute(f"PRAGMA temp_directory='{out_dir}/.duckdb_spill'")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        # synthetic scale dirs (tools.GenScale) hold Spark-written DIRECTORIES
        p = f"{sf_dir}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return c

def is_oom(e):
    return any(s in str(e) for s in (
        "Out of Memory", "bad allocation", "closed pending query"))

def robust_new_con():
    # a just-closed heavy instance releases its arenas asynchronously; a
    # fresh connection opened in that window dies on tiny allocations —
    # give the allocator a few settle-and-retry rounds before giving up
    last = None
    for _ in range(5):
        gc.collect()
        try:
            return new_con()
        except Exception as e:
            if not is_oom(e):
                raise
            last = e
            time.sleep(4)
    raise last
con = new_con()

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
scale_recipes = {}
if use_scale and os.path.exists(f"{out_dir}/oracle_scale.json"):
    scale_recipes = json.load(open(f"{out_dir}/oracle_scale.json"))

import re as _re
def run_scale(name):
    """Execute a staged recipe: every statement but the last for effect
    (per_shard once per shard), the last is the result relation."""
    steps = scale_recipes[name]
    for st in steps[:-1]:
        if st["per_shard"]:
            for s in range(n_shards):
                con.execute(st["sql"].replace("__NSHARDS__", str(n_shards))
                            .replace("__SHARD__", str(s)))
        else:
            con.execute(st["sql"])
    return con.sql(steps[-1]["sql"])

def drop_scale_tables(name):
    """Free a finished staged query's temp tables — leftover accumulators
    from earlier heavy queries would eat the memory budget of later ones."""
    for st in scale_recipes.get(name, []):
        for t in _re.findall(r"CREATE (?:OR REPLACE )?TEMP TABLE (\w+)", st["sql"]):
            try:
                con.execute(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass
fail = 0
names = sorted({p.split('/')[-1] for p in glob.glob(f"{out_dir}/*") if not p.endswith('.json')})

# Gate-shrink detection: every DECLARED query must have an output dir, and
# the dump's failure manifest must be empty. A query that errored during the
# dump previously just vanished — "N/N pass" with a smaller N.
import os
dump_errors = {}
if os.path.exists(f"{out_dir}/_failed.json"):
    dump_errors = json.load(open(f"{out_dir}/_failed.json"))
declared = set()
if os.path.exists(f"{out_dir}/_declared.json"):
    declared = set(json.load(open(f"{out_dir}/_declared.json")))
# --names=a,b,c (debug): restrict the whole gate to a subset; every
# derived set shrinks consistently so the N/N line stays truthful
only = next((set(f.split("=")[1].split(",")) for f in flags
             if f.startswith("--names=")), None)
if only is not None:
    names = sorted(set(names) & only)
    dump_errors = {k: v for k, v in dump_errors.items() if k in only}
    declared &= only
# total counts every query we know about, whether or not the declaration
# manifest exists — a _failed.json-only dump dir must still widen the
# denominator so "N/N pass" can't undercount.
total = len(declared | set(names) | set(dump_errors))
# --scale self-chunking: a single process running every heavy staged
# oracle wedges DuckDB's buffer pool (arena release is asynchronous; a
# long-lived process accumulates until tiny allocations OOM). Instead of
# the manual "~20-query chunks, retry by hand" procedure, the parent
# splits the gate into chunks and runs each in its OWN subprocess; any
# chunk that reports failures or dies uncleanly (native crash, OOM kill)
# is escalated to one-query-per-process — the last-resort recipe — and
# the per-query results of the escalation are what count. The final
# exit code reflects the aggregate. --no-chunk forces the old
# single-process behavior; --chunk=N sizes the chunks.
chunk_size = next((int(f.split("=")[1]) for f in flags
                   if f.startswith("--chunk=")), 20)
if use_scale and "--child" not in flags and "--no-chunk" not in flags:
    import subprocess
    con.close()
    universe = sorted(declared | set(names) | set(dump_errors))
    def run_sub(sub_names):
        """Run one child gate over sub_names; returns (clean, fails, out).
        clean = the child printed a final summary covering every name
        (crashes and truncated runs are NOT clean, whatever the code)."""
        cmd = [sys.executable, __file__, sf_dir, out_dir, "--scale",
               f"--shards={n_shards}", f"--mem={mem_limit}", "--child",
               "--names=" + ",".join(sub_names)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        m = _re.search(r"(\d+)/(\d+) pass\s*$", p.stdout)
        clean = (m is not None and int(m.group(2)) == len(sub_names)
                 and p.returncode in (0, 1))
        fails = (int(m.group(2)) - int(m.group(1))) if m else len(sub_names)
        return clean, fails, p.stdout + (
            "" if clean else f"[chunk] child exit {p.returncode}; stderr tail:\n"
            + p.stderr[-1500:])
    total_fail = 0
    for i in range(0, len(universe), chunk_size):
        chunk = universe[i:i + chunk_size]
        clean, fails, out = run_sub(chunk)
        if clean and fails == 0:
            sys.stdout.write(out[:out.rfind("\n\n")] + "\n")
            sys.stdout.flush()
            continue
        # escalate: fresh buffer pool per query; these results are final
        print(f"[chunk] {'unclean exit' if not clean else f'{fails} fail(s)'}"
              f" in chunk {i // chunk_size + 1} — retrying one query per process")
        for nm in chunk:
            c1, f1, out1 = run_sub([nm])
            sys.stdout.write(out1[:out1.rfind("\n\n")] + "\n" if c1
                             else out1 + f"FAIL {nm}: child died\n")
            sys.stdout.flush()
            if not c1 or f1:
                total_fail += 1
    print(f"\n{len(universe) - total_fail}/{len(universe)} pass")
    sys.exit(1 if total_fail else 0)

# Gate-shrink / dump-error reporting runs BELOW the chunking branch:
# when chunking, each child re-derives both from the manifests for its
# own name subset — reporting here first would print every failure
# twice and then discard the parent's fail counter on delegation.
for missing in sorted(declared - set(names) - set(dump_errors)):
    print(f"FAIL {missing}: declared but produced NO output (gate shrink)")
    fail += 1
for name, msg in sorted(dump_errors.items()):
    print(f"FAIL {name}: dump error: {msg[:200]}")
    if name in names:  # errored after partial write; don't double-count below
        names.remove(name)
    fail += 1

def check_one(name):
    """Returns True on pass, False on fail, None for rows-only."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); return False
    got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
    if name not in oracle and name not in scale_recipes:
        print(f"ROWS-ONLY {name}: {len(got.fetchall())} rows")
        return None
    try:
        if name in scale_recipes:
            exp = run_scale(name)
        else:
            exp = con.sql(oracle[name])
    except Exception as e:
        if is_oom(e):
            raise  # the outer loop retries OOMs on a fresh connection
        print(f"FAIL {name}: oracle error {e}"); return False
    gcols = sorted(zip(got.columns, [str(t) for t in got.types]))
    ecols = sorted(zip(exp.columns, [str(t) for t in exp.types]))
    if [c for c,_ in gcols] != [c for c,_ in ecols]:
        print(f"FAIL {name}: columns {gcols} vs {ecols}"); return False
    if gcols != ecols:
        print(f"FAIL {name}: type drift {gcols} vs {ecols}"); return False
    gsel = ", ".join(f'"{c}"' for c,_ in gcols)
    gN = con.sql("SELECT count(*) FROM got").fetchone()[0]
    eN = con.sql("SELECT count(*) FROM exp").fetchone()[0]
    if gN != eN:
        print(f"FAIL {name}: rowcount {gN} vs {eN}"); return False
    if gN > 200000:
        # huge results (sf10 full-corpus outputs): fetching every row into
        # Python is the OOM, not the query — compare an order-independent,
        # multiplicity-sensitive checksum inside DuckDB instead
        chk = (f"SELECT CAST(sum(CAST(hash({gsel}) AS HUGEINT)) AS VARCHAR),"
               f" count(*) FROM ")
        gh = con.sql(chk + "got").fetchone()
        eh = con.sql(chk + "exp").fetchone()
        if gh != eh:
            print(f"FAIL {name}: checksum {gh} vs {eh} over {gN} rows")
            return False
        print(f"OK   {name}: {gN} rows (checksum)")
        return True
    grows = con.sql(f"SELECT {gsel} FROM got ORDER BY ALL").fetchall()
    erows = con.sql(f"SELECT {gsel} FROM exp ORDER BY ALL").fetchall()
    bad = None
    for i,(g,e) in enumerate(zip(grows, erows)):
        for j,(gv,ev) in enumerate(zip(g,e)):
            ok = gv == ev
            if not ok and isinstance(gv,float) and isinstance(ev,float):
                ok = (math.isnan(gv) and math.isnan(ev)) or gv == ev
            if not ok:
                bad = (i, gcols[j][0], gv, ev); break
        if bad: break
    if bad:
        print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
        return False
    print(f"OK   {name}: {len(grows)} rows")
    return True

prev_staged = False
for name in names:
    # an OOM or other DuckDB crash on one heavy oracle must not take down
    # the rest of the gate — record it as that query's failure and move on.
    # The staged heavy queries each get a FRESH connection: a wedged
    # buffer pool after one of them otherwise cascades tiny-allocation
    # OOMs into every later query (connection churn is kept to these few
    # queries — churning per-query has shown native crashes).
    if use_scale and (name in scale_recipes or prev_staged):
        try:
            con.close()
        except Exception:
            pass
        con = robust_new_con()
    prev_staged = name in scale_recipes
    try:
        if check_one(name) is False:
            fail += 1
    except Exception as e:
        # an OOM usually means a wedged buffer pool from EARLIER heavy
        # queries, not this query's own footprint — one retry on a fresh
        # connection before recording a failure keeps a single heavy
        # neighbor from cascading into every query after it
        if is_oom(e):
            print(f"RETRY {name}: fresh connection after OOM "
                  f"({str(e)[:120]})")
            try:
                con.close()
            except Exception:
                pass
            try:
                con = robust_new_con()
                if check_one(name) is False:
                    fail += 1
            except Exception as e2:
                print(f"FAIL {name}: check error after OOM retry: "
                      f"{type(e2).__name__}: {str(e2)[:200]}")
                fail += 1
        else:
            print(f"FAIL {name}: check error: {type(e).__name__}: {str(e)[:200]}")
            fail += 1
    finally:
        drop_scale_tables(name)
print(f"\n{total-fail}/{total} pass")
sys.exit(1 if fail else 0)

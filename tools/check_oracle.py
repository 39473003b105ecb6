#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check_oracle.py [--iterative-closures] [--only q30,q31,...]
                                     <sfDir> <outDir>

Reads every result parquet under <outDir>/<name>/ (written by graft.Verify),
runs the matching oracle SQL from <outDir>/oracle_sql.json in DuckDB with
views over <sfDir>'s parquet tables, and compares: columns sorted by name,
rows sorted by all columns, exact value equality (doubles must be
bit-identical — the engine routes aggregate sums through DECIMAL to
guarantee that).

--only names the queries a targeted graft.Verify ran, by id (q30) or full
name (q30_...). Without it every query the oracle declares must have a
result; with it only the named ones must, and a named query without a
result still FAILs. Results that were written are checked either way.

--iterative-closures (round 17, VERDICT r16 ask #4): replay the three
connected-component oracles (q116/q117/q123) with the recursive `reach`
CTE replaced by ITERATIVE min-label propagation over per-round temp
tables. The recursive all-pairs reachability set is |V| + sum(|cluster|^2)
rows held at once, which OOMs DuckDB / exhausts spill at sf1; the
iteration's peak state is one (edges + labels) round. The tail of the
stored oracle SQL only ever consumes `MIN(dst) ... GROUP BY src` — the
component min-label — so substituting the converged label table for
`reach` is value-identical by construction. The transformation derives
mechanically from the COMMITTED oracle SQL (the recursive member is
matched verbatim and refused on drift), so the replica cannot silently
diverge from what the driver runs at sf0.01.
"""
import json
import re
import sys
import glob
import os

import duckdb
import pandas as pd
import numpy as np

# queries whose recursive-closure oracle is replayed iteratively under
# --iterative-closures; every one MUST use the shared reach(src, dst)
# member shape below (VectorQueries.semClosureSql / q123's inline copy)
ITERATIVE_CLOSURE = {"q116_semdedup_resolve", "q117_semdedup_keep_best",
                     "q123_kmeans_semdedup"}
REACH_RE = re.compile(r"reach\(src,\s*dst\)\s+AS\s+\(", re.IGNORECASE)
REACH_MEMBER = ("select vec_id, vec_id from base union select r.src, e.dst "
                "from reach r join edges e on r.dst = e.src")
# label propagation computes min-over-ANCESTORS while the recursive reach
# computes min-over-DESCENDANTS; they coincide exactly when (a) the edge
# set is symmetric and (b) the tail consumes reach only through the
# component-min shape MIN(dst) ... GROUP BY src. Round 17 pinned only the
# recursive member, so a directed-edge or non-min-tail drift in a listed
# query would have passed the guard and silently diverged (ADVICE r17
# low #2); both preconditions are now matched verbatim too.
EDGES_RE = re.compile(r"edges\s+AS\s+\(", re.IGNORECASE)
EDGES_MEMBER = ("select vec_id1 as src, vec_id2 as dst from sims "
                "union select vec_id2, vec_id1 from sims")
# the only tail shapes allowed to touch `reach`: the component-min
# aggregate, with or without the q116 `kept` bit (src = MIN(dst) is a
# function of the component min, so it is closure-formulation-invariant)
TAIL_REACH_RE = re.compile(
    r"select src as vec_id, min\(dst\) as canonical"
    r"(?:, src = min\(dst\) as kept)? from reach group by src")
MAX_LP_ROUNDS = 200

# The closure replays' candidate-generation SQL drives DuckDB's buffer
# manager through ~126k simultaneously-mapped 256 KB blocks at sf1
# (measured) — twice the kernel's default vm.max_map_count of 65530, and
# the failure mode is a misleading tiny-block "bad allocation" while RSS
# sits under 6 GB and free memory is abundant. Raise the cap up front when
# privileged (the gate container runs as root); warn and continue when not.
MIN_MAP_COUNT = 1048576


def ensure_map_headroom() -> None:
    path = "/proc/sys/vm/max_map_count"
    try:
        cur = int(open(path).read())
    except OSError:
        return  # non-Linux or unreadable: nothing to do
    if cur >= MIN_MAP_COUNT:
        return
    try:
        with open(path, "w") as f:
            f.write(str(MIN_MAP_COUNT))
        print(f"[check_oracle] raised vm.max_map_count {cur} -> "
              f"{MIN_MAP_COUNT} (closure replays hold ~126k mapped blocks "
              f"at sf1)")
    except OSError:
        print(f"[check_oracle] WARNING: vm.max_map_count={cur} and not "
              f"raisable (need root); iterative closures may die with "
              f"'Failed to allocate block' at benchdata scales")


def iterative_closure(con, sql: str, name: str) -> pd.DataFrame:
    """Run a reach-closure oracle with label propagation replacing the
    recursive CTE. See the module docstring for the value-equality
    argument."""
    m = REACH_RE.search(sql)
    if not m:
        raise ValueError(f"{name}: no reach(src, dst) CTE in oracle SQL")
    depth, i = 1, m.end()
    while depth and i < len(sql):
        if sql[i] == "(":
            depth += 1
        elif sql[i] == ")":
            depth -= 1
        i += 1
    member = " ".join(sql[m.end():i - 1].split()).lower()
    if member != REACH_MEMBER:
        raise ValueError(
            f"{name}: recursive member drifted from the shared shape — "
            f"refusing to transform: {member!r}")
    # precondition (a): the edges CTE is the SYMMETRIZING union, verbatim
    em = EDGES_RE.search(sql[:m.start()])
    if not em:
        raise ValueError(f"{name}: no edges CTE before reach — refusing")
    depth, j = 1, em.end()
    while depth and j < m.start():
        if sql[j] == "(":
            depth += 1
        elif sql[j] == ")":
            depth -= 1
        j += 1
    edges_member = " ".join(sql[em.end():j - 1].split()).lower()
    if edges_member != EDGES_MEMBER:
        raise ValueError(
            f"{name}: edges CTE drifted from the symmetrizing shape — "
            f"label propagation requires symmetric edges: {edges_member!r}")
    # precondition (b): the tail consumes reach ONLY via the component-min
    # MIN(dst) ... GROUP BY src aggregate
    tail_norm = " ".join(sql[i:].split()).lower()
    if "reach" in TAIL_REACH_RE.sub("", tail_norm):
        raise ValueError(
            f"{name}: tail references reach outside the MIN(dst) GROUP BY "
            f"src shape — refusing to transform")
    prefix = sql[:m.start()].strip()
    head = prefix[:len("WITH RECURSIVE")]
    if head.upper() != "WITH RECURSIVE":
        raise ValueError(f"{name}: oracle does not start WITH RECURSIVE")
    ctes = prefix[len("WITH RECURSIVE"):].strip().rstrip(",")
    # materialize the closure's inputs ONCE each (base may be expensive —
    # q123 runs three Lloyd passes — but evaluating it per label round
    # would be worse, and temp tables bound peak memory to one round)
    con.execute(f"CREATE OR REPLACE TEMP TABLE it_nodes AS "
                f"WITH {ctes} SELECT vec_id FROM base")
    con.execute(f"CREATE OR REPLACE TEMP TABLE it_edges AS "
                f"WITH {ctes} SELECT src, dst FROM edges")
    con.execute("CREATE OR REPLACE TEMP TABLE it_lbl AS "
                "SELECT vec_id AS src, vec_id AS dst FROM it_nodes")
    for _ in range(MAX_LP_ROUNDS):
        con.execute("""
            CREATE OR REPLACE TEMP TABLE it_lbl_next AS
            SELECT src, MIN(dst) AS dst FROM (
              SELECT src, dst FROM it_lbl
              UNION ALL
              SELECT e.dst AS src, l.dst
              FROM it_edges e JOIN it_lbl l ON l.src = e.src) u
            GROUP BY src""")
        changed = con.execute(
            "SELECT count(*) FROM it_lbl_next n JOIN it_lbl o USING (src) "
            "WHERE n.dst <> o.dst").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE it_lbl AS "
                    "SELECT * FROM it_lbl_next")
        if changed == 0:
            break
    else:
        raise ValueError(f"{name}: label propagation did not converge in "
                         f"{MAX_LP_ROUNDS} rounds")
    final_sql = (sql[:m.start()] + "reach AS (SELECT src, dst FROM it_lbl)"
                 + sql[i:])
    final_sql = re.sub(r"WITH\s+RECURSIVE", "WITH", final_sql, count=1,
                       flags=re.IGNORECASE)
    try:
        return con.execute(final_sql).df()
    finally:
        for t in ("it_lbl_next", "it_lbl", "it_edges", "it_nodes"):
            con.execute(f"DROP TABLE IF EXISTS {t}")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # make list/array cells comparable + sortable
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v.tolist()) if isinstance(v, np.ndarray)
                else (tuple(v) if isinstance(v, list) else v))
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list:
    problems = []
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        problems.append(f"columns differ: spark={list(g.columns)} oracle={list(w.columns)}")
        return problems
    if len(g) != len(w):
        problems.append(f"row count differs: spark={len(g)} oracle={len(w)}")
        return problems
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        # Dtype-strict: an integer column on one side vs a float column on
        # the other means the DECLARED types disagree (e.g. DuckDB HUGEINT
        # -> float64 vs Spark BIGINT -> int64). The driver's gate hashes
        # "4.0" vs "4" as a mismatch, so float-comparing here would pass
        # what the driver fails (this is exactly how q107's bare
        # SUM(CASE...) slipped through in round 8). Fail loudly instead.
        kinds = {a.dtype.kind, b.dtype.kind}
        if "f" in kinds and kinds & {"i", "u"}:
            problems.append(
                f"col {c}: dtype mismatch spark={a.dtype} oracle={b.dtype} "
                f"(integer vs float — likely a missing CAST in the oracle SQL; "
                f"DuckDB widens SUM of integers to HUGEINT/float)")
            continue
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af = a.astype(float); bf = b.astype(float)
            eq = (af == bf) | (np.isnan(af) & np.isnan(bf))
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={af[i]!r} oracle={bf[i]!r} (diff={af[i]-bf[i]!r})")
        else:
            try:
                eq = (pd.Series(a).astype(str) == pd.Series(b).astype(str)).to_numpy()
            except Exception as e:  # noqa: BLE001
                problems.append(f"col {c}: compare failed: {e}")
                continue
            if not eq.all():
                i = int(np.argmin(eq))
                problems.append(
                    f"col {c}: {int((~eq).sum())} mismatches, first at row {i}: "
                    f"spark={a[i]!r} oracle={b[i]!r}")
    return problems


def connect(sf_dir: str, memory_limit: str = "24GB",
            threads: int = 0) -> duckdb.DuckDBPyConnection:
    """A connection with views over <sfDir>'s parquet tables. Big oracles
    (benchdata scales) spill to disk instead of dying; harmless at the
    driver's sf0.01."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{memory_limit}'")
    if threads:
        con.execute(f"SET threads={threads}")
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (benchdata/sf*): a directory of part files
            p = f"{p}/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def query_id(name: str) -> str:
    """q30 for q30_some_query."""
    return name.split("_", 1)[0]


def split_only(argv: list) -> tuple:
    """(argv without --only and its value, the named queries or None)."""
    rest, only = [], None
    it = iter(argv)
    for a in it:
        if a == "--only":
            only = next(it, "")
        elif a.startswith("--only="):
            only = a[len("--only="):]
        else:
            rest.append(a)
    if only is None:
        return rest, None
    return rest, {q.strip() for q in only.split(",") if q.strip()}


def main() -> int:
    argv, only = split_only(sys.argv[1:])
    args = [a for a in argv if not a.startswith("--")]
    iterative = "--iterative-closures" in argv
    sf_dir, out_dir = args[0], args[1]
    if iterative:
        ensure_map_headroom()
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_weak = 0
    result_dirs = sorted(d for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d))
    for d in result_dirs:
        name = os.path.basename(d)
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output")
            n_fail += 1
            continue
        got = duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})").df()
        if name not in oracle:
            status = "WEAK" if len(got) > 0 else "WEAK-EMPTY"
            print(f"{status} {name}: rows={len(got)} (no oracle)")
            n_weak += 1
            continue
        try:
            if iterative and name in ITERATIVE_CLOSURE:
                # FRESH connection per closure query: DuckDB does not fully
                # reclaim a long-lived connection's buffer state across the
                # temp-table churn, and the second closure on a shared
                # connection dies with tiny-block "bad allocation" failures
                # while maxrss sits under 6 GB (measured at sf1: each query
                # alone peaks 4.9-8.5 GB and passes; q116-then-q117 on one
                # connection fails at any limit). 16 threads + a raised
                # limit are the empirically validated envelope; the box is
                # otherwise idle during the gate.
                con2 = connect(sf_dir, memory_limit="64GB", threads=16)
                try:
                    want = iterative_closure(con2, oracle[name], name)
                finally:
                    con2.close()
            else:
                want = con.execute(oracle[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        problems = compare(name, got, want)
        if problems:
            n_fail += 1
            print(f"FAIL {name}:")
            for p in problems:
                print(f"  - {p}")
        else:
            n_pass += 1
            print(f"PASS {name} ({len(got)} rows)")
    written = {os.path.basename(d) for d in result_dirs}
    declared = set(oracle) - written
    if only is not None:
        declared = {n for n in declared if n in only or query_id(n) in only}
        known = written | set(oracle)
        for q in sorted(only):
            if not any(q in (n, query_id(n)) for n in known):
                print(f"FAIL {q}: named by --only but no result written")
                n_fail += 1
    for name in sorted(declared):
        print(f"FAIL {name}: oracle declared but no result written")
        n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

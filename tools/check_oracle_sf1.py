#!/usr/bin/env python3
"""Standing sf1 oracle-parity gate (round 16, VERDICT r15 ask #8; made
file-backed and exclusion-free in round 17, VERDICT r16 asks #1 and #4).

Round 15 ran a 51-query sweep at sf1 (10x the driver's oracle scale) by
hand; this pins it as ONE command so oracle-adjacent changes in future
rounds cannot skip it:

    python3 tools/check_oracle_sf1.py            # full pinned sweep
    python3 tools/check_oracle_sf1.py q150_stupid_backoff_cms ...  # subset

It runs `graft.Verify` over the PINNED query list against benchdata/sf1
(the ScaleData-derived 10x corpus with real duplication density), then the
check_oracle.py DuckDB replica, and exits non-zero unless every pinned
query is rows+schema+hash green.

A FULL sweep (no query args) also writes ORACLE_SF1_r<N>.json at the repo
root — HEAD SHA, dirty flag, per-query rows/schema/hash booleans — so the
"green at sf1" claim is a committed artifact, not prose; the round number
comes from BASELINE.md's "(current)" header or --round.
tools/check_artifacts.py requires the artifact for the current round and
fails if src/main or the oracle tools changed since its recorded SHA.

The pin covers: every query round 15/16 touched, the dedup family, the
heavy LLM kernels, and a relational sample — INCLUDING, since round 17,
the three connected-component closures (q116/q117/q123) that were
previously excluded as replica-capacity-bound: their recursive-CTE
oracles OOM DuckDB at sf1, so check_oracle.py replays them with
--iterative-closures (min-label propagation over per-round temp tables —
peak memory one round, value-identical tail; see check_oracle.py).
"""
import hashlib
import json
import os
import re
import subprocess
import sys

# enforcement tools whose sha256 the artifact pins (VERDICT r17 ask #5) —
# keep in sync with check_artifacts.TOOL_HASH_FILES (it verifies what this
# file writes)
TOOL_HASH_FILES = [
    "tools/bench_gate.py", "tools/check_artifacts.py",
    "tools/check_oracle.py", "tools/check_oracle_sf1.py",
    "tools/gen_bench_table.py",
]

PINNED = [
    # relational sample
    "q1_pricing_summary", "q3_top_revenue", "q9_top_customers_by_nation",
    "q13_topk_lineitems", "q21_math_funcs",
    # round-touched (r15: q31/q95/q98/q100/q104/q142; r16: q95/q98/q100/
    # q124/q150 + the q131 kernel refactor; r17: the q150 sketch-literal
    # dedup; r18: the rankSelect int-group-code rework -> q58/q86 join
    # the pin alongside the already-pinned q123; r19: the q142 dup-only
    # join-back rework rides the existing q142 pin)
    "q31_zlib_roundtrip", "q95_mixture_rebalance", "q98_vocab_stats",
    "q100_mixture_apply", "q104_training_order", "q124_vocab_coverage",
    "q142_chunk_scrub", "q58_percentiles", "q86_robust_stats",
    # dedup family
    "q40_exact_dedup", "q42_lsh_neardup", "q87_dedup_cc",
    "q103_quality_keep", "q125_cluster_size_histogram",
    "q133_containment_dedup", "q138_chunk_dedup",
    # embedding CC closures — pinned since r17 via the iterative replica
    # (VERDICT r16 ask #4; previously EXCLUDED as replica-capacity-bound)
    "q116_semdedup_resolve", "q117_semdedup_keep_best",
    "q123_kmeans_semdedup",
    # heavy LLM kernels
    "q111_bigram_lm_score", "q112_bigram_lm_cms", "q113_decontaminate_bloom",
    "q114_dsir_select", "q115_boilerplate_scrub",
    "q131_stupid_backoff", "q150_stupid_backoff_cms",
    "q132_heavy_hitters", "q134_dup_pagerank", "q136_dup_triangles",
    "q137_bpe_merges", "q141_bpe_encode",
    "q139_minhash_calibration", "q140_jl_projection", "q143_lang_consistency",
]

# the exclusion list is EMPTY since round 17 — kept as a named hook (and
# echoed into the artifact) so a future capacity-bound oracle is recorded
# here with its failure mode rather than silently dropped from PINNED
EXCLUDED: dict = {}

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1 = os.path.join(ROOT, "benchdata", "sf1")
OUT = "/tmp/verify_sf1_gate"


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                          text=True, timeout=30).stdout.strip()


def current_round() -> str:
    for a in sys.argv[1:]:
        if a.startswith("--round="):
            v = a.split("=", 1)[1]
            # normalize bare numbers: --round=19 and --round=r19 must both
            # name the artifact ORACLE_SF1_r19.json (a bare-number arg once
            # produced a mislabeled ORACLE_SF1_19.json that check_artifacts
            # would never find)
            return v if v.startswith("r") else f"r{v}"
    with open(os.path.join(ROOT, "BASELINE.md")) as f:
        for line in f:
            m = re.match(r"#+\s*Round\s+(\d+)\s*\(current\)", line)
            if m:
                return f"r{m.group(1)}"
    return "r0"


def main() -> int:
    queries = [a for a in sys.argv[1:] if not a.startswith("--")] or PINNED
    full_sweep = queries is PINNED
    bad = [q for q in queries if q in EXCLUDED]
    if bad:
        print(f"refusing excluded queries (replica-capacity-bound): {bad}")
        return 2
    if not os.path.isdir(SF1):
        print(f"FAIL: {SF1} missing — run graft.ScaleData first")
        return 1
    print(f"[sf1-gate] Verify over {len(queries)} pinned queries ...")
    r = subprocess.run(
        ["sbt", "-batch",
         "runMain graft.Verify " + SF1 + " " + OUT + " " + " ".join(queries)],
        cwd=ROOT, capture_output=True, text=True, timeout=3600)
    fails = [ln for ln in r.stderr.splitlines() + r.stdout.splitlines()
             if "[verify]" in ln]
    for ln in fails:
        print(ln)
    if r.returncode != 0:
        print(f"FAIL: Verify exited {r.returncode}")
        return 1
    print("[sf1-gate] DuckDB replica compare (iterative closures on) ...")
    r2 = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         "--iterative-closures", SF1, OUT],
        capture_output=True, text=True, timeout=7200)
    if r2.returncode not in (0, 1):
        # a hard replica abort (not the normal FAIL exit) must be visible,
        # not silently folded into "queries missing"
        print(f"[sf1-gate] replica crashed rc={r2.returncode}; stderr tail:")
        for ln in r2.stderr.splitlines()[-5:]:
            print(f"  {ln}")
    passed = set()
    for ln in r2.stdout.splitlines():
        if ln.startswith("PASS "):
            passed.add(ln.split()[1])
        elif ln.startswith("FAIL ") and \
                ln.split()[1].rstrip(":") in queries:
            print(ln)
    missing = [q for q in queries if q not in passed]
    if full_sweep:
        # file-backed gate artifact (VERDICT r16 ask #1): per-query pass
        # boolean + the code identity the sweep ran against. ONE boolean
        # per query since round 18 (ADVICE r17 low #3): the replica's
        # compare gates on rows+schema+hash jointly and emits a single
        # PASS bit, so recording three booleans overstated the artifact's
        # granularity. tool_sha256 (round 18, VERDICT r17 ask #5) pins the
        # enforcement tools themselves: check_artifacts fails if any of
        # them changes after this artifact without a sweep re-run.
        rnd = current_round()
        art = {
            "round": rnd,
            "head_sha": git("rev-parse", "HEAD"),
            "dirty": bool(git("status", "--porcelain", "--", "src/main",
                              "tools/check_oracle.py",
                              "tools/check_oracle_sf1.py")),
            "sf_dir": SF1,
            "queries": {q: {"pass": q in passed} for q in queries},
            "excluded": EXCLUDED,
            "tool_sha256": {
                rel: hashlib.sha256(
                    open(os.path.join(ROOT, rel), "rb").read()).hexdigest()
                for rel in TOOL_HASH_FILES},
        }
        path = os.path.join(ROOT, f"ORACLE_SF1_{rnd}.json")
        with open(path, "w") as f:
            json.dump(art, f, indent=1, sort_keys=True)
        print(f"[sf1-gate] wrote {os.path.basename(path)} "
              f"(sha {art['head_sha'][:12]}, dirty={art['dirty']})")
    if missing:
        print(f"\nFAIL: {len(missing)} pinned queries not green at sf1: "
              f"{missing}")
        return 1
    print(f"OK: {len(queries)} pinned queries rows+schema+hash green at sf1")
    return 0


if __name__ == "__main__":
    sys.exit(main())

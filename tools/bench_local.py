#!/usr/bin/env python3
"""Full per-round bench evidence: run graft.Bench (Spark, local[32]) and
tools/bench_duckdb.py (DuckDB on the identical oracle SQL) at the same SF,
then write the COMPLETE merged per-query map to BENCH_LOCAL_r{N}.json —
the driver's BENCH_r{N}.json artifact keeps only a 2 KB stdout tail, so
this tracked file is the round's citable evidence for every query.

Same-session by construction (r10 verdict #1): both engines run
back-to-back inside this one invocation, AND a session scale ANCHOR is
recorded — three pinned oracle queries are re-timed in DuckDB immediately
BEFORE the Spark bench and again AFTER the DuckDB bench. The after/before
ratio measures how much the machine's effective speed drifted across the
whole run window; per-query Spark/DuckDB ratios from this artifact are
trustworthy iff the anchor drift is ~1. (r10's committed evidence mixed a
slow Spark session with a normal DuckDB session — uniform ~1.3-1.5x
phantom regressions with zero code cause; the anchor makes that failure
mode visible inside the artifact itself.)

Usage: python3 tools/bench_local.py <round> [sfdir] [verify_outdir]
  round         round number N → writes BENCH_LOCAL_r{N}.json in repo root
  sfdir         default /root/testdata/sf0.1
  verify_outdir a graft.Verify dump holding oracle_sql.json
                (default /tmp/graft_verify — run tools/check.py first)
"""
import json, os, subprocess, sys, time

if len(sys.argv) < 2:
    sys.exit(__doc__)
rnd = int(sys.argv[1])
sfdir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
outdir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/graft_verify"
repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
bench_out = "/tmp/graft_bench_local.json"

# mid-weight, shape-diverse, long-stable catalog queries (scan+scalar /
# join+agg / string-heavy) — ~1-3 s each in DuckDB at sf0.1
ANCHORS = ["x09_quality_score", "x49_incremental_dedup", "x97_cdc_chunks"]

def duckdb_anchor():
    """min-of-2 DuckDB wall seconds for each pinned anchor query."""
    import duckdb
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sfdir}/{t}.parquet')")
    out = {}
    for name in ANCHORS:
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            con.execute(oracle[name]).fetchall()
            runs.append(time.monotonic() - t0)
        out[name] = min(runs)
    con.close()
    return out

anchor_before = duckdb_anchor()

t_spark0 = time.time()
env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_BENCH_OUT=bench_out)
r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                   cwd=repo_root, env=env, capture_output=True, text=True,
                   timeout=3600)
t_spark1 = time.time()
if r.returncode != 0 or not os.path.exists(bench_out):
    print("SPARK BENCH FAILED"); print(r.stdout[-3000:]); print(r.stderr[-2000:])
    sys.exit(1)
spark = json.load(open(bench_out))

t_duck0 = time.time()
d = subprocess.run([sys.executable, "tools/bench_duckdb.py", sfdir, outdir],
                   cwd=repo_root, capture_output=True, text=True, timeout=3600)
t_duck1 = time.time()
duck = json.loads(d.stdout) if d.returncode == 0 else {"error": d.stderr[-2000:]}

anchor_after = duckdb_anchor()
drift = (sum(anchor_after.values()) / sum(anchor_before.values())
         if sum(anchor_before.values()) > 0 else None)


def spark_anchor():
    """Re-time the pinned anchors SPARK-side (graft.tools.Probe time:
    min-of-2 warm through the noop sink, in Bench's session and at its
    64 MB broadcast threshold) AFTER the DuckDB sweep. The DuckDB-only
    anchor cannot indict a Spark-side-only slow session (r10's actual
    failure mode); comparing these walls to the same queries' walls
    inside the full bench run catches exactly that. The
    subset runs in a fresh JVM, so its walls carry cold-JIT overhead the
    in-bench walls don't — the ratio is an indicator with a stable
    protocol across rounds, not an identity."""
    # Guarded (r12 advice): a hung sbt here would otherwise raise after
    # BOTH full sweeps completed and lose the round's artifact — degrade
    # to an empty map so spark_drift reads n/a instead.
    try:
        r = subprocess.run(
            ["sbt", "-batch", "runMain graft.tools.Probe time " + " ".join(ANCHORS)],
            cwd=repo_root, env=dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir),
            capture_output=True, text=True, timeout=1800)
    except (subprocess.TimeoutExpired, OSError):
        return {}
    out = {}
    for line in r.stdout.splitlines():
        parts = line.replace("[info]", "").split()
        if len(parts) == 2 and parts[0] in ANCHORS:
            try:
                out[parts[0]] = float(parts[1])
            except ValueError:
                pass
    return out


def scale10x():
    """Committed 10x-scale evidence (r12 verdict #7): graft.tools.Probe
    scale 10 times the gated heavy chains at sf0.1 and at the sf1-equivalent
    synthetic fixture in one session and prints one JSON line. Guarded
    like spark_anchor: a failure degrades to {} rather than losing the
    round's artifact."""
    try:
        r = subprocess.run(
            ["sbt", "-batch", "runMain graft.tools.Probe scale 10"],
            cwd=repo_root, env=dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir),
            capture_output=True, text=True, timeout=3600)
    except (subprocess.TimeoutExpired, OSError):
        return {}
    for line in r.stdout.splitlines():
        s = line.replace("[info]", "").strip()
        if s.startswith("{") and "vs_linear" in s:
            try:
                return json.loads(s)
            except ValueError:
                pass
    return {}


def decode_kernel():
    """Multimodal ingest floor (r16 verdict #6): graft.tools.Probe decode
    times the pure-JVM image codecs (JPEG Huffman+IDCT, PNG inflate+
    unfilter) on the committed fixtures, single-threaded min-of-2 — the
    kernel-level number the catalog's decode queries can't expose at
    sf0.1 (their payloads are sub-KB text). Guarded like scale10x."""
    try:
        r = subprocess.run(
            ["sbt", "-batch", "runMain graft.tools.Probe decode"],
            cwd=repo_root, capture_output=True, text=True, timeout=1800)
    except (subprocess.TimeoutExpired, OSError):
        return {}
    for line in r.stdout.splitlines():
        s = line.replace("[info]", "").strip()
        if s.startswith("{") and "decode_kernel" in s:
            try:
                return json.loads(s)["decode_kernel"]
            except (ValueError, KeyError):
                pass
    return {}


spark_after = spark_anchor()
scale = scale10x()
decode = decode_kernel()
spark_in_bench = {a: spark.get("queries", {}).get(a) for a in ANCHORS}
spark_drift = None
if (len(spark_after) == len(ANCHORS)
        and all(spark_in_bench.get(a) for a in ANCHORS)):
    spark_drift = (sum(spark_after.values())
                   / sum(spark_in_bench[a] for a in ANCHORS))

merged = {
    "round": rnd, "sf": sfdir,
    "protocol": "same-session: duckdb anchor -> spark -> duckdb -> "
                "duckdb anchor -> spark anchor (fresh-JVM Probe time); "
                "spark pass 2 in reversed catalog order",
    "spark_total_sec": spark.get("value"),
    "duckdb_total_sec": duck.get("total"),
    "spark_queries": spark.get("queries"),
    "duckdb_queries": duck.get("queries"),
    "skew": spark.get("skew"),
    "failed": spark.get("failed"),
    "scale10x": scale,
    "decode_kernel": decode,
    "session_anchor": {
        "queries": ANCHORS,
        "duckdb_before_sec": anchor_before,
        "duckdb_after_sec": anchor_after,
        "drift_after_over_before": drift,
        "spark_in_bench_sec": spark_in_bench,
        "spark_after_sec": spark_after,
        "spark_drift": spark_drift,
        "spark_window": [t_spark0, t_spark1],
        "duckdb_window": [t_duck0, t_duck1],
    },
}
path = os.path.join(repo_root, f"BENCH_LOCAL_r{rnd}.json")
with open(path, "w") as f:
    json.dump(merged, f, indent=1, sort_keys=True)
drift_s = f"{drift:.3f}" if drift is not None else "n/a"
sdrift_s = f"{spark_drift:.3f}" if spark_drift is not None else "n/a"
print(f"wrote {path}: spark {merged['spark_total_sec']}s "
      f"vs duckdb {merged['duckdb_total_sec']}s, failed={merged['failed']}, "
      f"anchor drift {drift_s}, spark drift {sdrift_s}")

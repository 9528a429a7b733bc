#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload relational|curation|pipeline \
        --seed N --seconds S --trace 0|1 [--cores C] [--sf 0.01]

Run from the root of a checkout. The first run builds graft and the
harness with sbt (offline) and caches the classpath under perfbench/.build;
later runs rebuild only if a source file changed. Inputs are generated
under perfbench/.work before timing starts: the catalog tables from a fixed
data seed (their query outputs are checked against committed goldens), and
the pipeline pages from --seed.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it holds the run's stamps and details, and
the raw record (ops, spans) is kept in perfbench/.work/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# The catalog tables are fixed, so their goldens can be recorded once; the
# seed varies the pipeline pages. Differently seeded tables changed the
# retained heap by a quarter between seeds while every timing stayed put.
DATA_SEED = 20260101
XMX = "3g"
SHUFFLE_PARTITIONS, BROADCAST_MB = 32, 64  # as set in the harness session
DEADLINE_S = 170  # for everything after the build
WORKLOADS = ("relational", "curation", "pipeline")
ADD_OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc():
    return len(os.sched_getaffinity(0))


def cores_arg(text):
    """Task slots: a whole number in 1..nproc (default nproc)."""
    try:
        n = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"core count {text!r} is not an integer")
    if n <= 0 or n > nproc():
        raise argparse.ArgumentTypeError(f"core count {n} is outside 1..{nproc()}")
    return n


def positive(text):
    v = float(text)
    if not v > 0:
        raise argparse.ArgumentTypeError(f"{text} is not positive")
    return v


def parse(argv):
    p = argparse.ArgumentParser(description="graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=positive)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--cores", type=cores_arg, default=None)
    p.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                   help="scale factor of the generated inputs")
    p.add_argument("--goldens", help="golden file (default: perfbench/goldens/sf<sf>.json)")
    p.add_argument("--fault", choices=("replay",),
                   help="self-test only: make every replay change the table")
    a = p.parse_args(argv)
    a.cores = a.cores or nproc()
    return a


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_paths():
    return [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
            os.path.join(HERE, "src", "main")]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")]).strip()
    return env


def build():
    """Compile graft and the harness; return the runtime classpath."""
    missing = [p for p in source_paths() if not os.path.exists(p)]
    if missing:
        fail("cannot build: missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    stamp = tree_hash(source_paths())
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE, env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"sbt build failed (see {os.path.relpath(log.name, ROOT)})")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def file_hash(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def catalog_data(sf):
    """The catalog tables, generated once per checkout from DATA_SEED."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    done = os.path.join(out, "done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        gen.catalog(out, float(sf), DATA_SEED)
        with open(done, "w") as f:
            json.dump({t: file_hash(os.path.join(out, t)) for t in sorted(os.listdir(out))
                       if t.endswith(".parquet")}, f)
    with open(done) as f:
        return out, json.load(f)


def golden_path(sf):
    return os.path.join(HERE, "goldens", f"sf{sf}.json")


def pipeline_sizes(sf):
    """(seed rows, new rows per page, pages per pass) at scale factor sf."""
    return int(2_000_000 * float(sf)), int(280_000 * float(sf)), 1


def pipeline_pages(sf, seed):
    out = os.path.join(WORK, "pages", "-".join(map(str, (f"sf{sf}", seed, *pipeline_sizes(sf)))))
    if not os.path.exists(os.path.join(out, "manifest.json")):
        shutil.rmtree(out, ignore_errors=True)
        gen.pages(out, seed, *pipeline_sizes(sf))
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def main(argv):
    a = parse(argv)
    cp = build()
    t_start = time.monotonic()
    sf_dir, data_hashes = catalog_data(a.sf)
    goldens = a.goldens or golden_path(a.sf)
    with open(goldens) as f:
        recorded_on = json.load(f)["data"]
    if recorded_on != data_hashes:
        fail(f"generated tables differ from those {os.path.relpath(goldens, ROOT)} "
             "was recorded on; re-record the goldens")
    pages_dir, manifest = (pipeline_pages(a.sf, a.seed) if a.workload == "pipeline"
                           else (None, None))
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-sf{a.sf}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", *ADD_OPENS, f"-Xmx{XMX}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
           "--mode", "run", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(a.cores), "--work", run_dir, "--sf-dir", sf_dir,
           "--goldens", goldens, "--out", out]
    if pages_dir:
        cmd += ["--pages-dir", pages_dir]
    if a.fault:
        cmd += ["--fault", a.fault]
    log_path = os.path.join(results, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=log, timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM did not finish in {budget:.0f}s (log: {log_path})")
    shutil.rmtree(run_dir, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark JVM failed with code {r.returncode}")
    with open(out) as f:
        res = json.load(f)

    ops = res["ops"]
    failed = [o for o in ops if not o["ok"]]
    e2e, tail_info = metrics.end_to_end(res)
    stamps = {
        "nproc": nproc(), "cores": a.cores, "jvm": res["versions"]["java"],
        "spark": res["versions"]["spark"], "git_commit": git_commit(),
        "source_hash": tree_hash(source_paths()), "sf": a.sf,
        "sf_dir": os.path.relpath(sf_dir, ROOT), "shuffle_partitions": SHUFFLE_PARTITIONS,
        "broadcast_mb": BROADCAST_MB, "xmx": XMX}
    if a.trace:
        values = metrics.layers(res, per_layer_names())
    else:
        values = e2e
    units = {m["name"]: m["unit"] for m in
             json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[
                 "per_layer" if a.trace else "end_to_end"]}
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "stamps": stamps,
        "failed_frac": metrics.failed_frac(len(ops), len(failed)), **tail_info,
        "end_to_end": e2e, "setup_runs_s": res["setup_s"],
        "steal_mean": statistics.mean(o["steal"] for o in ops),
        "passes": res["passes"], "loop_s": res["loop_s"],
        "pages": manifest["pages"] if manifest else None,
        "failures": [{"name": o["name"], "pass": o["pass"], "error": o["error"]}
                     for o in failed][:10]}
    res["detail"] = detail
    with open(out, "w") as f:
        json.dump(res, f)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


if __name__ == "__main__":
    main(sys.argv[1:])

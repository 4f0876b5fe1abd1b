#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness from source with sbt (`perfbench/harness`); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
(`gen.py`, `gateway.py`); the harness JVM runs the workload in a working
directory under `perfbench/.work/`; outputs are then checked (DuckDB
oracle for batch rows, the reply model for gateway replies). The last line
of standard output is
`{"correct": …, "attempted": …, "failed": …, "metrics": {…}}` with the
end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`)
named in BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
LAUNCH = os.path.join(HARNESS, "target", "launch.txt")
STAMP = os.path.join(HARNESS, "target", "launch.stamp")
WORKLOADS = ("batch", "gateway")
SF = 0.001          # TPC-H-ish scale of the generated tables
HEAP = "3g"
# A fixed young generation and a floor under the heap: with G1's adaptive
# sizing the same run made 94 or 225 young collections, as the heap grew
# and shrank around the full collections of the heap samples.
GC = ["-Xms1g", "-Xmn512m"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 160

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")):
        files += glob.glob(os.path.join(base, "*.sbt"))
        files += glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        files += glob.glob(os.path.join(base, "**", "*.*"), recursive=True)
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    stamp = sources_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building library and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += (" -Dsbt.override.build.repos=true"
                     f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launch"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_harness(args, work, cpus):
    with open(LAUNCH) as f:
        lines = f.read().split("\n")
    cp, opts = lines[0], [x for x in lines[1:] if x]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}"] + GC + [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}"] + opts +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", os.path.join(work, "data"),
            "--work", work, "--requests", os.path.join(work, "requests.json"),
            "--cpus", str(cpus)])
    with open(os.path.join(work, "harness.log"), "w") as out:
        # the JVM writes its own result file; its stdout goes to the log so
        # our last stdout line stays the result
        r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                           timeout=RUN_TIMEOUT_S)
    with open(os.path.join(work, "result.json")) as f:
        return r.returncode, json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no library sources next to perfbench/: nothing to build")
    build()

    import gateway
    import gen
    import oracle

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    tables = gen.write(data, args.seed, SF)
    reqs, want = gateway.traffic(tables, args.seed)
    with open(os.path.join(work, "requests.json"), "w") as f:
        json.dump(reqs, f)

    cpus = len(os.sched_getaffinity(0))
    code, res = run_harness(args, work, cpus)
    if code != 0:
        raise SystemExit(f"harness exit {code}: {res['errors']}; "
                         f"see {os.path.join(work, 'harness.log')}")
    problems = list(res["errors"])
    failed = res["failed"]
    if args.workload == "gateway":
        bad = gateway.check(os.path.join(work, "replies.jsonl"), want)
    else:
        out = os.path.join(work, "out")
        rows = sorted(d for d in os.listdir(out) if os.path.isdir(os.path.join(out, d)))
        bad = [f"{row}: {p}" for row, p in oracle.check(data, out, rows).items()]
    failed += len(bad)
    problems += bad
    for p in problems:
        log(f"FAILED {p}")
    metrics_key = "per_layer" if args.trace else "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec[metrics_key]}
    got = res[metrics_key]
    missing = [n for n in units if got.get(n) is None]
    if missing:
        raise SystemExit(f"missing metrics {missing}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {n: {"value": got[n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark driver. See perfbench/README.md.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record          # oracle-gated expected fingerprints
    python3 perfbench/run.py --self-check
    python3 perfbench/run.py --compare A.json B.json

A run builds the program if its sources changed, generates the inputs once,
runs one benchmark JVM, and prints one JSON line as the last line of stdout.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, next to this one)

BENCH = build.BENCH
ROOT = build.ROOT
BUILD = build.BUILD
INPUTS = os.path.join(BUILD, "inputs")
EXPECTED = os.path.join(BENCH, "expected.tsv")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
DRIVER_HEAP = "3g"
JVM_TIMEOUT_S = 160
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
# Provenance that may differ between two comparable results.
NOT_PROVENANCE = {"seed", "git_commit", "source_digest"}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(work, main, *args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + build.JAVA_OPENS +
            [f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dderby.system.home={os.path.join(work, 'derby')}",
             f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(), main] + list(args))


def run_jvm(work, log_path, *args, main="graftbench.Main", env=None, timeout=JVM_TIMEOUT_S):
    """Run a JVM to completion in `work`; stdout and stderr go to a log."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(java_cmd(work, main, *args), stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def ensure_inputs():
    """Generate the inputs once per digest of the program sources and the
    workload definitions (excluded from timing)."""
    bench_src = os.path.join(BENCH, "src")
    srcs = [p for p in build.sources() if not p.startswith(bench_src)]
    stamp = build.digest(srcs + [os.path.join(bench_src, "graftbench", "Workloads.scala")],
                         build.spark_jars())
    stamp_file = os.path.join(INPUTS, "inputs.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp:
        return
    shutil.rmtree(INPUTS, ignore_errors=True)
    os.makedirs(INPUTS)
    work = os.path.join(BUILD, "work", "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ, SPARK_GRAFT_MASTER=f"local[{nproc()}]")
    log = os.path.join(BUILD, "inputs.log")
    print("generating inputs ...", file=sys.stderr, flush=True)
    rc = run_jvm(work, log, "inputs", "--inputs", INPUTS, env=env, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        raise build.BuildError(f"input generation failed (rc={rc}):\n{tail(log)}")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")


def input_bytes(input_id):
    total = 0
    for dirpath, _, files in os.walk(os.path.join(INPUTS, input_id)):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if f.endswith(".parquet"))
    return total


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def load_spec():
    with open(SPEC) as f:
        return json.load(f)


def prepare():
    stamp = build.build()
    ensure_inputs()
    return stamp


def fresh_work(name):
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def measure(a):
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"unknown workload {a.workload} (BENCHMARK.json has {', '.join(names)})")
    stamp = prepare()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, tag + ".json")
    if os.path.exists(result):
        os.remove(result)
    work = fresh_work(tag)
    log = os.path.join(results, tag + ".log")
    rc = run_jvm(work, log, "run", "--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace), "--inputs", INPUTS,
                 "--work", work, "--expected", EXPECTED, "--result", result)
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(result):
        sys.exit(f"benchmark JVM failed (rc={rc}) without a result:\n{tail(log)}")
    with open(result) as f:
        r = json.load(f)
    r["provenance"].update({
        "workload": a.workload, "seed": a.seed,
        "input_dir": os.path.relpath(os.path.join(INPUTS, r["provenance"]["input"]), ROOT),
        "input_parquet_bytes": input_bytes(r["provenance"]["input"]),
        "nproc": nproc(), "git_commit": git_commit(), "source_digest": stamp})
    with open(result, "w") as f:
        json.dump(r, f, indent=1)

    key = "per_layer" if a.trace else "end_to_end"
    want = [(m["name"], m["unit"]) for m in spec[key]]
    got = r[key] or {}
    if sorted(want) != sorted((n, v["unit"]) for n, v in got.items()):
        sys.exit(f"metrics of the run do not match BENCHMARK.json {key}")

    for n, _ in want:
        print(f"{a.workload} {n} {got[n]['value']} {got[n]['unit']}")
    print(f"{a.workload} job_p50_s {r['job_p50_s']} s")
    print(f"{a.workload} job_tail_s {r['job_tail_s']} s  "
          f"(p{r['job_tail_percentile']:.1f}, n={r['job_tail_n']})")
    print(f"{a.workload} failed_frac {r['failed_frac']} ratio  "
          f"({r['failed']} of {r['attempted']} jobs; passes={r['passes']})")
    if a.trace:
        print(f"{a.workload} tracing overhead {r['trace_overhead_s']} s per warm pass")
    for m in r["mismatches"]:
        print(f"MISMATCH {m}", file=sys.stderr)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": r["attempted"],
                      "failed": r["failed"],
                      "metrics": {n: got[n] for n, _ in want}}))
    sys.stdout.flush()
    return 0 if rc == 0 and r["correct"] else 1


def self_check():
    problems = []
    spec = load_spec()
    for key in ("end_to_end", "per_layer"):
        for m in spec[key]:
            if not NAME_RE.fullmatch(m["name"]):
                problems.append(f"bad metric name {m['name']}")
    if len({w["name"] for w in spec["workloads"]}) != len(spec["workloads"]):
        problems.append("duplicate workload names")
    build.build()
    log = os.path.join(BUILD, "self-check.log")
    if run_jvm(fresh_work("self-check"), log, "self-check") != 0:
        problems.append("JVM self-check failed:\n" + tail(log, 10))
    for p in problems:
        print(f"self-check: {p}", file=sys.stderr)
    print("self-check: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 0 if not problems else 1


def record():
    """Re-record the expected fingerprints of every workload. The file is
    written only after tools/check_oracle.py prints FAIL=0 for the same
    jobs on the same input directory."""
    prepare()
    lines = {}
    for w in (x["name"] for x in load_spec()["workloads"]):
        work = fresh_work(f"record-{w}")
        listing = os.path.join(work, "jobs.txt")
        if run_jvm(work, listing, "jobs", "--workload", w) != 0:
            sys.exit(f"cannot list the jobs of {w}:\n{tail(listing)}")
        jobs = [l.rstrip("\n").split("\t") for l in open(listing) if l.strip()]
        indir = os.path.join(INPUTS, jobs[0][0])
        queries = [j for _, j in jobs if not j.startswith("cli:")]
        out = os.path.join(work, "verify")
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries), SPARK_GRAFT_CPUS=str(nproc()))
        if run_jvm(work, os.path.join(BUILD, f"verify-{w}.log"), indir, out,
                   main="graft.Verify", env=env, timeout=1800) != 0:
            sys.exit(f"graft.Verify failed for {w}, see {BUILD}/verify-{w}.log")
        oracle = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                                 indir, out] + queries, capture_output=True, text=True)
        last = (oracle.stdout.strip().splitlines() or [""])[-1]
        print(f"{w}: oracle {last}")
        if oracle.returncode != 0 or "FAIL=0" not in last:
            sys.exit(f"oracle check did not pass for {w}; expected fingerprints not written")
        fps = os.path.join(work, "fingerprints.tsv")
        if run_jvm(work, os.path.join(BUILD, f"record-{w}.log"), "record", "--workload", w,
                   "--inputs", INPUTS, "--work", work, "--result", fps, timeout=1800) != 0:
            sys.exit(f"record {w} failed, see {BUILD}/record-{w}.log")
        for l in open(fps):
            i, j, fp = l.rstrip("\n").split("\t")
            lines[(i, j)] = fp
        shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        f.write("# input\tjob\tfingerprint (written by run.py --record after the DuckDB oracle passed)\n")
        for (i, j), fp in sorted(lines.items()):
            f.write(f"{i}\t{j}\t{fp}\n")
    print(f"wrote {EXPECTED}")
    return 0


def compare(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    pa = {k: v for k, v in a["provenance"].items() if k not in NOT_PROVENANCE}
    pb = {k: v for k, v in b["provenance"].items() if k not in NOT_PROVENANCE}
    if pa != pb:
        for k in sorted(set(pa) | set(pb)):
            if pa.get(k) != pb.get(k):
                print(f"provenance differs: {k}: {pa.get(k)!r} vs {pb.get(k)!r}", file=sys.stderr)
        print("refusing to compare results with different provenance", file=sys.stderr)
        return 3
    for key in ("end_to_end", "per_layer"):
        ma, mb = a.get(key) or {}, b.get(key) or {}
        for n in ma:
            if n in mb:
                va, vb = ma[n]["value"], mb[n]["value"]
                ratio = f"{vb / va:.3f}x" if va else "-"
                print(f"{n} {va} -> {vb} {ma[n]['unit']} ({ratio})")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    a = ap.parse_args()
    try:
        if a.compare:
            return compare(*a.compare)
        if a.self_check:
            return self_check()
        if a.record:
            return record()
        if not a.workload:
            ap.error("--workload is required")
        if a.seconds is None:
            a.seconds = load_spec()["run_seconds"]
        return measure(a)
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())

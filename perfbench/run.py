#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. Builds the benchmark (and through it the
program) with sbt on first use; makes the workload's inputs from the seed
three times, keeping the median time as the input part of set-up; then
starts one benchmark JVM and relays its output. The last line of stdout is
the result JSON. Each run leaves an artifact under perfbench/out/runs that
states its own configuration; nothing else outside perfbench/out and
perfbench/target is written.
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

import inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
RUNS = os.path.join(OUT, "runs")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
WORKLOADS = ("pipeline_cli", "catalog_head")
# corpus size per workload: the benchmark's, and the self-test's
SCALE = {"pipeline_cli": {"full": 40000, "tiny": 2000},      # lines
         "catalog_head": {"full": "0.05", "tiny": "0.001"}}   # TPC-H-style scale factor
HEAP = "3g"
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest_files(paths, rel_to):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, rel_to).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree(*roots):
    return [p for r in roots for p in ([r] if os.path.isfile(r) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs))]


def source_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    return digest_files(tree(os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                             os.path.join(ROOT, "project", "build.properties")), ROOT)


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} next to perfbench/: run from the root of a full checkout")
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    # sbt's output goes to stderr: stdout carries only the result
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=850)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def commit():
    """The checkout's git commit, or "none" outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def load():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def cpu_ticks():
    """Host CPU time so far, in ticks: (total, steal). Steal is time the
    hypervisor ran something else on this machine's virtual CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def java_cmd(main, work, args):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
            lines[1:] + ["-cp", lines[0], main] + args)


def make_inputs(workload, scale, seed, work):
    """Inputs made three times into fresh directories; the last is kept."""
    times, d = [], None
    for i in range(3):
        if d:
            shutil.rmtree(d)
        d = os.path.join(work, f"inputs{i}")
        t = time.perf_counter()
        if workload == "pipeline_cli":
            inputs.make_pipeline(d, seed, SCALE[workload][scale])
        else:
            inputs.make_catalog(d, float(SCALE[workload][scale]))
        times.append(time.perf_counter() - t)
    return d, times


def run(args, source):
    """One benchmark run; returns the JVM's stdout."""
    started, ticks = time.perf_counter(), cpu_ticks()
    os.makedirs(RUNS, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(OUT, f"work-{os.getpid()}")
    config = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "load_before": load(),
              "commit": commit(), "source_digest": source[:16], "host_cpus": os.cpu_count()}
    try:
        corpus, prep = make_inputs(args.workload, args.scale, args.seed, work)
        golden = os.path.join(HERE, "golden", f"{args.workload}.sf{SCALE[args.workload][args.scale]}.tsv")
        config.update(corpus=SCALE[args.workload][args.scale], corpus_path=os.path.relpath(corpus, ROOT),
                      corpus_digest=digest_files(tree(corpus), corpus)[:16],
                      input_prep_s=[round(t, 4) for t in prep])
        cmd = java_cmd("perfbench.Main", work, [
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--corpus", corpus, "--golden", golden, "--work", work,
            "--spans", os.path.join(RUNS, stem + "-spans.jsonl"),
            "--prep-s", str(statistics.median(prep)),
            "--corrupt-golden", "1" if args.corrupt_golden else "0",
            "--t0-ms", str(int(time.time() * 1000))])
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = out.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        fail("no result line")
    config["load_after"] = load()
    config["run_s"] = round(time.perf_counter() - started, 3)
    total, steal = (b - a for a, b in zip(ticks, cpu_ticks()))
    config["steal_pct"] = round(100 * steal / max(total, 1), 2)
    notes = dict(l[2:].split(" ", 1) for l in lines if l.startswith("# "))
    artifact = {"config": config, "notes": notes, "result": json.loads(lines[-1])}
    with open(os.path.join(RUNS, stem + ".json"), "x") as f:  # never overwrite
        json.dump(artifact, f, indent=1)
    return lines


def selftest():
    """Tiny corpora through every workload: every metric prints with
    its unit, and a corrupted golden digest shows up as failed units."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    source = build()
    problems = []

    def once(w, trace, corrupt=False):
        a = argparse.Namespace(workload=w, seed=1, seconds=2, trace=trace, scale="tiny",
                               corrupt_golden=corrupt)
        return json.loads(run(a, source)[-1])

    for w in WORKLOADS:
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            res = once(w, trace)
            for m in names:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={trace}: {m['name']} missing or wrong unit")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {res['failed']} failed units")
            print(f"selftest {w} trace={trace}: {res['attempted']} units, {res['failed']} failed")
        if w != "pipeline_cli":
            res = once(w, 0, corrupt=True)
            if res["correct"] or res["failed"] == 0:
                problems.append(f"{w}: corrupted golden digest not detected")
            print(f"selftest {w} corrupted golden: {res['failed']} of {res['attempted']} units failed")
    for p in problems:
        print("selftest FAIL:", p)
    print("selftest", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt-golden", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    if not args.workload:
        fail("--workload is required")
    print("\n".join(run(args, build())))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""CANDIA pipeline benchmark.

Run one workload (from the root of a checkout):

    python3 perfbench/run.py --workload pipeline_ref --seed 1 --seconds 30 --trace 0

The first run builds the program and the harness from source with sbt
(`perfbench/build.sbt`) and caches the classpath; later runs reuse it
until a source file changes. The workload runs in one JVM at
local[nproc]. Human-readable lines go to stdout first; the last line is
the result object. Each result is also appended, with its workload and
seed, to `perfbench/.work/results.jsonl`.

Compare two sets of results (files of such records):

    python3 perfbench/run.py compare parent.jsonl change.jsonl

For each workload and end-to-end metric it prints each side's median and
quartiles, the seed-paired runs the change won, and whether the medians
differ by more than the metric's bound in BENCHMARK.json.

Check how steady one set of results is:

    python3 perfbench/run.py spread results.jsonl

For each workload and end-to-end metric it prints the median and the
distance between the quartiles as a share of the median, next to a third
of the metric's bound.
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
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, "target", "perfbench-build.json")
HEAP = "2g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads from this checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or "none"


def build(digest):
    """Compile with sbt and cache the runtime classpath for this digest."""
    if os.path.exists(BUILD):
        with open(BUILD) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD), exist_ok=True)
    with open(BUILD, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, fh)
    print(f"perfbench build digest={digest} s={time.time() - t0:.1f}")
    return lines[-1].strip()


def run(args):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a candiaspark checkout (no build.sbt / src/main/scala)")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")
    digest = source_digest()
    classpath = build(digest)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dperfbench.commit={git_commit()}", f"-Dperfbench.source={digest}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"workload run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    host = next((l for l in lines if l.startswith("perfbench host ")), "")
    with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "source": digest,
                             "host": host[len("perfbench host "):],
                             "result": result}) + "\n")
    sys.stdout.write(out)
    sys.stdout.flush()
    return 0


# ------------------------------------------------------------------ compare
def load(path):
    recs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                rec = json.loads(line)
                if "result" in rec and not rec.get("trace"):
                    recs.append(rec)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def compare(a_path, b_path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(a_path), load(b_path)
    print(f"A = {a_path} ({len(a)} runs), B = {b_path} ({len(b)} runs)")
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"

            def vals(recs):
                return {r["seed"]: r["result"]["metrics"][name]["value"]
                        for r in recs if r["workload"] == w
                        and name in r["result"]["metrics"]}
            va, vb = vals(a), vals(b)
            if not va or not vb:
                continue
            qa, qb = quartiles(sorted(va.values())), quartiles(sorted(vb.values()))
            seeds = sorted(set(va) & set(vb))
            won = sum(1 for s in seeds
                      if (vb[s] < va[s] if lower else vb[s] > va[s]))
            lost = sum(1 for s in seeds
                       if (vb[s] > va[s] if lower else vb[s] < va[s]))
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            worse = change > m["bound"] if lower else -change > m["bound"]
            spread_a = qa[2] - qa[0]
            gain = (len(seeds) > 0 and won >= 0.9 * len(seeds)
                    and abs(qb[1] - qa[1]) > spread_a)
            verdict = ("REGRESSION beyond bound" if worse
                       else "gain (wins >= 9/10 pairs, beyond A's spread)" if gain
                       else "within bound")
            print(f"{w:14s} {name:16s} A med {qa[1]:.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                  f"  B med {qb[1]:.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                  f"  B won {won}/{len(seeds)} (lost {lost})  change {change:+.3f}"
                  f" bound {m['bound']}  -> {verdict}")
    return 0


def spread(path):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    recs = load(path)
    for w in [x["name"] for x in spec["workloads"]]:
        for m in spec["end_to_end"]:
            xs = sorted(r["result"]["metrics"][m["name"]]["value"] for r in recs
                        if r["workload"] == w and m["name"] in r["result"]["metrics"])
            if len(xs) < 2:
                continue
            q1, q2, q3 = quartiles(xs)
            share = (q3 - q1) / q2 if q2 else float("nan")
            print(f"{w:14s} {m['name']:16s} n={len(xs):2d} median {q2:.4f}"
                  f"  spread {share:.4f}  bound/3 {m['bound'] / 3:.4f}"
                  f"  {'ok' if share <= m['bound'] / 3 else 'WIDE'}")
    return 0


def main():
    if len(sys.argv) > 2 and sys.argv[1] == "spread":
        return spread(sys.argv[2])
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare A.jsonl B.jsonl")
        return compare(sys.argv[2], sys.argv[3])
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(p.parse_args())


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the graft engine through its public `graft.api.Graft` facade.

One run:

    python3 perfbench/run.py --workload <rag_query|train_prep> \
        --seed <n> --seconds <s> --trace <0|1>

from the root of a checkout. It builds the program and the harness from
source when they changed (sbt, offline), runs the workload in a fresh JVM
on local[<all cores>], and prints the workload's named metrics followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. Untraced runs
report the end-to-end metrics, traced runs the per-layer ones.

    python3 perfbench/run.py --all --seed <n> --seconds <s>

runs every workload untraced and traced, and prints every named metric
with its unit plus the tracing overhead.

    python3 perfbench/run.py --selftest

runs the harness's own tests (percentile rule, driver-gap union,
generator determinism, output checks).

Everything it writes stays under `.bench_build/` in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["rag_query", "train_prep"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# What the program's sbt build passes its forked JVMs (build.sbt):
# Spark on JDK 17 needs these opens outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_digest():
    """Hash of every input of the build: program sources and build files,
    and the harness's."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), HARNESS]
    for top in tops:
        paths = []
        if os.path.isfile(top):
            paths = [top]
        else:
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x != "target" and not (
                    x == "project" and os.path.basename(d) == "project"))
                paths += [os.path.join(d, f) for f in files
                          if f.endswith((".scala", ".sbt", ".properties", ".java"))]
        for p in sorted(paths):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def run_proc(cmd, cwd, env, timeout, capture=False):
    """Run `cmd` in its own process group; on timeout kill the group.
    Returns (exit code, captured stdout or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        return -1, None
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def build():
    """Compile program + harness when their sources changed; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp_f = os.path.join(BUILD, "stamp")
    cp_f = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f):
        with open(stamp_f) as f, open(cp_f) as g:
            stamp, cp = f.read().strip(), g.read().strip()
        if stamp == digest and all(os.path.exists(x) for x in cp.split(os.pathsep)):
            return cp
    log("building program and harness (sbt) ...")
    t0 = time.time()
    code, out = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        HARNESS, sbt_env(), BUILD_TIMEOUT_S, capture=True)
    lines = (out or "").splitlines()
    for ln in lines:
        log(ln)
    cps = [ln.strip() for ln in lines
           if os.pathsep in ln and not ln.startswith("[")]
    if code != 0 or not cps:
        log(f"build failed (exit {code})")
        sys.exit(3)
    cp = cps[-1]
    with open(cp_f, "w") as f:
        f.write(cp)
    with open(stamp_f, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def run_workload(cp, workload, seed, seconds, trace):
    """One fresh JVM; returns the report dict, or exits non-zero."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(res_dir, exist_ok=True)
    out = os.path.join(res_dir, f"{tag}.json")
    for stale in (out, out + ".spans.json"):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", work, "--out", out])
    try:
        code, _ = run_proc(cmd, ROOT, env, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        log(f"{workload}: run failed (exit {code})")
        sys.exit(4)
    with open(out) as f:
        rep = json.load(f)
    bad = [k for k, m in rep["metrics"].items()
           if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"])]
    if bad:
        log(f"{workload}: no finite value for {bad}")
        sys.exit(4)
    return rep


def show(rep):
    """Human-readable lines (stdout) for one report."""
    w = rep["workload"]
    print(f"# {w} seed={rep['seed']} trace={int(rep['trace'])} "
          f"correct={rep['correct']} attempted={rep['attempted']} "
          f"failed={rep['failed']}")
    for k, v in rep["info"].items():
        print(f"{w}  {k} = {v}")
    if not rep["trace"]:
        for k, m in rep["named"].items():
            print(f"{w}  {k} = {m['value']:.6g} {m['unit']}")
    for f in rep["check_failures"][:20]:
        print(f"{w}  CHECK FAILED: {f}")


# the named timings of each workload; True when a larger value is slower
TIMINGS = {"build_s": True, "search_p50_ms": True, "pack_queries_per_s": False,
           "curate_docs_per_s": False, "scrub_docs_per_s": False,
           "dedup_docs_per_s": False, "maintain_docs_per_s": False}


def overhead(untraced, traced):
    """Tracing overhead: the median, over the workload's named timings,
    of how much slower the traced run was than the untraced one (same
    workload and seed)."""
    ratios = []
    for k, slower in TIMINGS.items():
        if k in untraced["named"] and k in traced["named"]:
            u, t = untraced["named"][k]["value"], traced["named"][k]["value"]
            ratios.append(t / u - 1.0 if slower else u / t - 1.0)
    return statistics.median(ratios)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        build()
        code, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                           HARNESS, sbt_env(), BUILD_TIMEOUT_S)
        sys.exit(0 if code == 0 else 5)
    cp = build()
    if a.all:
        ok = True
        for w in WORKLOADS:
            u = run_workload(cp, w, a.seed, a.seconds, 0)
            show(u)
            t = run_workload(cp, w, a.seed, a.seconds, 1)
            show(t)
            print(f"{w}  tracing_overhead = {overhead(u, t):+.3f} "
                  "(median over the named timings, traced vs untraced)")
            ok = ok and u["correct"] and t["correct"]
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required (or --all / --selftest)")
    rep = run_workload(cp, a.workload, a.seed, a.seconds, a.trace)
    show(rep)
    if a.trace:
        sib = os.path.join(BUILD, "results", f"{a.workload}-s{a.seed}-t0.json")
        if os.path.isfile(sib):
            with open(sib) as f:
                print(f"{a.workload}  tracing_overhead = "
                      f"{overhead(json.load(f), rep):+.3f}")
    print(json.dumps({
        "correct": rep["correct"], "attempted": rep["attempted"],
        "failed": rep["failed"], "metrics": rep["metrics"]}))


if __name__ == "__main__":
    main()

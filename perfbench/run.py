#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload pages|queries --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --rebuild-memo

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into .bench_build/; each run then
starts one JVM for the workload, checks its outputs against DuckDB and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics; a traced run also keeps its spans in
.bench_build/traces/. Every file a run writes stays under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("pages", "queries")
JVM_TIMEOUT_S = 165

sys.path.insert(0, HERE)
import checks  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"[perfbench] program sources not found under {PROGRAM_SRC}")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=780)
    cps = [l for l in p.stdout.splitlines() if ".bench_build" in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def heap():
    """-Xmx from MemTotal: a quarter of the host's memory, 2-6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // (4 * 1048576)
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 6)}g"


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java(cp, work, args, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main in its own process group; kill the group on timeout."""
    xmx = heap()
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{xmx}", f"-Xms{xmx}", "-XX:ReservedCodeCacheSize=512m",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
        f"-XX:ErrorFile={work}/hs_err_pid%p.log", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            try:  # nothing the JVM started may outlive it
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"[perfbench] JVM exited with {rc}:\n{tail}")


def self_times(path):
    """Self time of each span: its duration minus the part of it that its
    children cover (children may overlap one another, e.g. AQE's stage jobs)."""
    with open(path) as f:
        spans = [json.loads(l) for l in f]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    out = []
    for sp in spans:
        covered, end = 0, sp["start_ms"]
        for c in sorted(kids.get(sp["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], end), min(c["end_ms"], sp["end_ms"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out.append((sp["end_ms"] - sp["start_ms"] - covered, sp["level"], sp["name"]))
    return sorted(out, reverse=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args):
    cp = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        java(cp, work, [args.workload, str(args.seed), str(args.seconds),
                        "1" if args.trace else "0", work, DATA])
        t1 = time.time()
        with open(os.path.join(work, "jvm_result.json")) as f:
            res = json.load(f)
        if args.workload == "pages":
            problems = checks.pages(work, res)
        else:
            problems = checks.queries(work, DATA, res)
        log(f"workload {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s, "
            f"figures {json.dumps(res)}")
        for p in problems:
            log(f"CHECK FAILED: {p}")
        if args.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            dst = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), dst)
            log(f"spans -> {os.path.relpath(dst, ROOT)}; largest self times:")
            for ms, level, name in self_times(dst)[:8]:
                log(f"  {ms / 1e3:8.3f} s  {level:8s} {name}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    s = spec()
    wanted = s["per_layer"] if args.trace else s["end_to_end"]
    ms = res["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in ms and ms[name] is not None:
            v = ms[name]
        elif args.trace and not checks.applies(name, args.workload):
            v = 0  # a layer this workload does not run
        else:
            raise SystemExit(f"[perfbench] metric {name} missing from the {args.workload} run")
        metrics[name] = {"value": v, "unit": m["unit"]}
    out = {"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": metrics}
    print(json.dumps(out))


def rebuild_memo():
    cp = build()
    work = os.path.join(BUILD, "work", f"memo-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        f = os.path.join(work, "oracle_sql.json")
        java(cp, work, ["oracles", f], timeout=120)
        with open(f) as fh:
            sql = json.load(fh)
        checks.rebuild_memo(DATA, sql)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # on SIGTERM, unwind so that java() kills the JVM's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-memo", action="store_true")
    args = ap.parse_args()
    if args.rebuild_memo:
        rebuild_memo()
    elif args.workload:
        run(args)
    else:
        ap.error("--workload or --rebuild-memo is required")


if __name__ == "__main__":
    main()

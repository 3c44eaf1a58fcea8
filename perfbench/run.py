#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md): cron_steady, query_ledger.

The first run builds the program and the harness from source with sbt and
keeps the classpath in perfbench/.build; later runs reuse it while the
sources are unchanged. Every run starts a fresh JVM in a fresh scratch
directory under perfbench/.work, which is removed afterwards. The last
stdout line is the JSON result; with --trace 1 the spans go to
perfbench/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("cron_steady", "query_ledger")
DIGESTS = os.path.join(HERE, ".digests")
# a run must end within 180 s; the JVM is stopped before that
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if os.path.isfile(p) and not p.endswith((".class", ".jar")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath(stamp):
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    # the build resolves only from local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            timeout=BUILD_LIMIT_S, text=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def same_digest_as_before(workload, seed, lines, stamp):
    """The report tree's digest must be equal across runs of one seed and the
    same sources: the first run in a checkout records it, later runs
    compare."""
    digests = [l.split()[-1] for l in lines if l.startswith("report digest ")]
    if not digests:
        return True
    os.makedirs(DIGESTS, exist_ok=True)
    path = os.path.join(DIGESTS, f"{workload}-seed{seed}-{stamp[:16]}")
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(digests[-1])
        return True
    want = open(path).read().strip()
    if want != digests[-1]:
        print(f"perfbench: report digest {digests[-1]} differs from {want}, "
              f"recorded by an earlier run of seed {seed}", file=sys.stderr)
        return False
    return True


def tracing_overhead(workload, result, trace, stamp):
    """Untraced runs record their run_s under the source stamp; a traced run
    reports its run_s minus the median of those recorded in this checkout
    for the workload and the same sources."""
    os.makedirs(DIGESTS, exist_ok=True)
    path = os.path.join(DIGESTS, f"{workload}-{stamp[:16]}.run_s")
    m = result["metrics"]
    if trace == "0":
        if not result["correct"]:
            return
        with open(path, "a") as f:
            f.write(f"{m['run_s']['value']}\n")
        return
    seen = [float(x) for x in open(path)] if os.path.exists(path) else []
    if not seen:
        print("perfbench: no untraced run of this workload recorded here yet; "
              "trace.overhead_s reads 0", file=sys.stderr)
    over = m["trace.run_s"]["value"] - statistics.median(seen) if seen else 0.0
    m["trace.overhead_s"] = {"value": over, "unit": "s"}


def oracle_failures(results):
    """Compares the traced run's query results with DuckDB through the
    repository's own check, tools/check_oracle.py; returns the queries that
    differ or have no result."""
    report = os.path.join(results, "check_oracle.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), results,
                    os.path.join(HERE, "data", "sf0.01"), report],
                   cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=120)
    got = json.load(open(report)) if os.path.exists(report) else {}
    want = json.load(open(os.path.join(results, "oracle_sql.json")))
    return [q for q in sorted(want) if not got.get(q, {}).get("hash_match")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala) are not in this checkout")
    stamp = source_stamp()
    cp = classpath(stamp)

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm_args = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp]
    with open(os.path.join(work, "jvm.args"), "w") as f:
        f.write("\n".join(f'"{x}"' for x in jvm_args) + "\n")
    cmd = ["java", "@" + os.path.join(work, "jvm.args"), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--data", os.path.join(HERE, "data")]
    # a SIGTERM unwinds like an exception, so subprocess.run kills and
    # waits for the JVM before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                              timeout=JVM_LIMIT_S, text=True)
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stdout.write(proc.stdout)
            die(f"the benchmark JVM exited with code {proc.returncode}", 1)
        result = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        if not same_digest_as_before(a.workload, a.seed, lines[:-1], stamp):
            result["failed"] += 1
            result["correct"] = False
        tracing_overhead(a.workload, result, a.trace, stamp)
        if a.trace == "1":
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(
                    HERE, "traces", f"{a.workload}-seed{a.seed}.spans.jsonl"))
            if a.workload == "query_ledger":
                bad = oracle_failures(os.path.join(work, "results"))
                print(f"oracle value check: {len(bad)} queries differ {bad}")
                result["failed"] += len(bad)
                result["correct"] = result["correct"] and not bad
    except subprocess.TimeoutExpired:
        die(f"the benchmark JVM ran past {JVM_LIMIT_S} s and was stopped", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

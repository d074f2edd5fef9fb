#!/usr/bin/env python3
"""Ingest-path benchmark: one command per (workload, seed) run.

    python3 ingestbench/run.py --workload upsert_small --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (ingestbench/build.sbt) into target/ dirs and
.bench_build/; later runs reuse that build until a source file changes. Each
run is one JVM with Spark local[<cores>]. The last stdout line is the result
JSON ({"correct", "attempted", "failed", "metrics"}); the lines before it are
the human-readable report. The run exits non-zero, printing no result, when
the oracle check or any guard fails, or when the program is not there. The
JVM refuses to run (exit 3) when a GRAFT_* variable that changes the program
is set.

Extra options:
    --cores N            Spark local[N] (default: all cores)
    --details FILE       write spans, per-layer metrics and samples as JSON
    --record FILE        run untraced, then traced, with the same seed and
                         write both reports plus the tracing overhead
    --selfcheck          run the benchmark's self-checks and exit
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "ingestbench")
# Spark on JDK 17 outside spark-submit (as the root build.sbt sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880


def fail(msg, code=2):
    print(f"[ingestbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout:.0f} s", 4)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Classpath of the built benchmark; builds when sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # Resolve only from the local caches, as the repository's own test
    # command does, unless the caller configured sbt already.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        FIRST_RUN_LIMIT_S - 120, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    with open(log, "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "ingestbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code}); log in {log}", 5)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def java_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens +
            [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.stream.error.file={os.path.join(BUILD, 'derby.log')}",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "ingestbench.Main"] + args)


def run_once(cp, args, limit):
    """One benchmark JVM; returns (report lines, result dict)."""
    code, out = run_group(java_cmd(cp, args), limit, cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    report = [l for l in lines if not l.startswith("IB_RESULT ")]
    results = [l for l in lines if l.startswith("IB_RESULT ")]
    if code != 0 or len(results) != 1:
        sys.stdout.write("\n".join(report) + "\n")
        fail(f"benchmark run failed (exit {code})", code if code else 1)
    res = json.loads(results[0][len("IB_RESULT "):])
    if set(res) != {"correct", "attempted", "failed", "metrics"} or res["correct"] is not True:
        fail(f"malformed result: {res}", 1)
    if res["failed"] != 0 or res["attempted"] < 1:
        fail(f"{res['failed']} of {res['attempted']} operations failed", 1)
    return report, res


def on_term(signum, _frame):
    # unwinds through run_group, which kills the child's process group
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGHUP, on_term)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--details")
    ap.add_argument("--record")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources next to the benchmark (expected {ROOT}/build.sbt and "
             f"{ROOT}/src/main/scala/graft); run from a full checkout")
    if not a.selfcheck and not a.workload:
        fail("--workload is required")

    cp, built = build()
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    base = ["--cores", str(a.cores), "--work", os.path.join(BUILD, "work")]
    if a.selfcheck:
        code, _ = run_group(java_cmd(cp, base + ["--selfcheck"]), limit, cwd=ROOT,
                            stdin=subprocess.DEVNULL)
        sys.exit(code)
    base += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds)]
    results = os.path.join(BUILD, "results")

    if a.record:
        docs = {}
        for tr in (0, 1):
            d = os.path.join(results, f"{a.workload}-{a.seed}-trace{tr}.json")
            report, _ = run_once(cp, base + ["--trace", str(tr), "--details", d], limit)
            print("\n".join(report))
            with open(d) as f:
                docs[tr] = json.load(f)
            limit = RUN_LIMIT_S
        untraced, traced = docs[0]["end_to_end"], docs[1]["end_to_end"]
        doc = {
            "command": "python3 ingestbench/run.py " + " ".join(sys.argv[1:]),
            "tracing_overhead": {k: (traced[k] - untraced[k]) / untraced[k]
                                 for k in untraced if untraced[k]},
            "untraced": docs[0],
            "traced": docs[1],
        }
        os.makedirs(os.path.dirname(os.path.abspath(a.record)), exist_ok=True)
        with open(a.record, "w") as f:
            json.dump(doc, f, indent=1)
        print(f"recorded {a.record}; tracing overhead (traced vs untraced): " +
              ", ".join(f"{k} {v:+.1%}" for k, v in doc["tracing_overhead"].items()))
        return

    details = a.details or os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json")
    report, res = run_once(cp, base + ["--trace", str(a.trace), "--details", details], limit)
    print("\n".join(report))
    print(json.dumps(res))


if __name__ == "__main__":
    main()

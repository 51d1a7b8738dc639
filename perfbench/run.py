#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the engine's main
sources together with the harness (sbt, offline) into perfbench/target and
records the classpath; later calls rebuild only when a source changed. Each
run starts one JVM (perfbench.Main), which generates the workload's inputs
from the seed, times set-up and jobs, and checks every job's output. The
last line of standard output is the result object; the full artifact (host
context, set-up breakdown, spans) is kept under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("staged_faithful", "ops_slice")
# The JVM's limit is the measuring budget plus this margin for session
# start, set-up, the cold job, the last job to finish and the checks.
JVM_MARGIN_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "test", "scala", "graft",
                          "NaiveSemanticOracle.scala")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    missing = [p for p in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                           os.path.join(ROOT, "src", "test", "scala", "graft",
                                        "NaiveSemanticOracle.scala"))
               if not os.path.exists(p)]
    if missing:
        fail(f"not a checkout of the engine (missing {missing[0]})")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # the root build names Spark's jar directory; use the same one
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        if m:
            env["SPARK_HOME"] = os.path.dirname(m.group(1))
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={BUILD}/tmp", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    r = subprocess.run(java_cmd(cp, BUILD, "perfbench.OracleSql",
                                [os.path.join(BUILD, "oracle_sql.json")]),
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        fail(f"could not export the oracle SQL: {r.stderr[-2000:]}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_cmd(cp, work, main, args):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-cp", cp, main] + args)


def run_jvm(cmd, log_path, timeout):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"JVM exceeded {timeout:.0f}s, see {log_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=30):
    with open(path, errors="replace") as fh:
        return "".join(fh.readlines()[-n:])


def main():
    # A termination request unwinds through run_jvm, which kills the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    cp = build()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{tag}.log")
    try:
        sys.path.insert(0, HERE)
        import tables
        if a.selftest:
            ok = tables.selftest(os.path.join(work, "tables"))
            rc = run_jvm(java_cmd(cp, work, "perfbench.SelfTest", [work]), log,
                         JVM_MARGIN_S)
            with open(log, errors="replace") as fh:
                print("".join(l for l in fh if l.startswith(("ok ", "FAIL"))), end="")
            if rc != 0 or not ok:
                fail("selftest failed", 1)
            print("perfbench selftest: ok")
            return
        extra = []
        if a.workload == "ops_slice":
            extra = ["--pre-setup-s", str(tables.prepare(work, a.seed))]
        result = os.path.join(work, "result.json")
        artifact = os.path.join(out_dir, f"{tag}.json")
        rc = run_jvm(java_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--result", result, "--artifact", artifact]
            + extra), log, a.seconds + JVM_MARGIN_S)
        if rc != 0 or not os.path.exists(result):
            print(tail(log), file=sys.stderr)
            fail(f"no result (JVM exit {rc}), see {log}", 1)
        with open(result) as fh:
            res = json.load(fh)
        errors = {j: e for j, e in enumerate(res["job_errors"]) if e}
        if a.workload == "ops_slice":
            with open(os.path.join(BUILD, "oracle_sql.json")) as fh:
                sql = json.load(fh)
            for j, e in tables.check(os.path.join(work, "inputs-0"),
                                     os.path.join(work, "rows"), sql,
                                     res["attempted"]).items():
                errors.setdefault(j, e)
        messages = res["run_errors"] + [f"job {j}: {e}" for j, e in sorted(errors.items())]
        final = {"correct": not messages, "attempted": res["attempted"],
                 "failed": len(errors), "metrics": res["metrics"]}
        with open(artifact) as fh:
            art = json.load(fh)
        art["errors"] = messages
        art["result"] = final
        with open(artifact, "w") as fh:
            json.dump(art, fh)
        for m in messages[:10]:
            print(f"perfbench: {m}", file=sys.stderr)
        print(json.dumps(final))
        sys.stdout.flush()
        sys.exit(0 if final["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

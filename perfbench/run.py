#!/usr/bin/env python3
"""Benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt) into .bench_build/;
later runs reuse that build while the sources are unchanged. The harness
(perfbench/src) runs one workload in a fresh JVM and writes its result;
this script checks it and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 the per_layer ones. Before that line it prints the
workload's own figures (`report`) and the run record (`record`): seed,
input sizes, nproc, loadavg, Spark and JDK versions, JVM flags. The spans
of a traced run are written to .bench_build/trace/. The exit code is 0 only
when every output was correct.
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
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens", "queries_sf0.01.tsv")
WORKLOADS = ("extract_fresh", "queries")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840

# The harness fixes the heap size: a heap that grows on demand made the
# figures bimodal.
HEAP_FLAGS = ["-Xms3g", "-Xmx3g"]


def jvm_flags():
    """The JVM options the program's build (build.sbt at the root) gives its
    forked runs, so the harness runs it as configured, with the heap flags
    replaced by HEAP_FLAGS. Spark on JDK 17 needs the module opens."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        text = "\n".join(line.split("//")[0] for line in f.read().splitlines())
    text = re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)",\s*"([^"]*)"\)\}',
                  lambda m: os.environ.get(m.group(1), m.group(2)), text)
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", text, re.S)
    if not opens or not opts:
        raise SystemExit("cannot read the JVM options of build.sbt")
    return ([f for m in re.findall(r'"([^"]*)"', opens.group(1))
             for f in ("--add-opens", m + "=ALL-UNNAMED")]
            + [o for o in re.findall(r'"([^"]*)"', opts.group(1))
               if not o.startswith(("-Xmx", "-Xms"))]
            + HEAP_FLAGS)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if "target" in os.path.relpath(f, HERE).split(os.sep):
            continue
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    log("building program and harness (sbt compile)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("build timed out")
        lf.write(out)
    if p.returncode != 0:
        raise SystemExit("build failed; see .bench_build/build.log")
    cp = [l for l in out.splitlines() if l.startswith("/") and ".jar" in l]
    if not cp:
        raise SystemExit("build printed no classpath; see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def run_jvm(cp, main, args, work, log_path, timeout=JVM_TIMEOUT_S):
    """Run one harness JVM in `work`; kills it (and its children) on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_flags()
           + ["-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + os.path.join(work, "local"),
              "-cp", cp, main] + args)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("harness timed out after %ds; see %s" % (timeout, log_path))


# -- result hashes of the queries workload ----------------------------------
# The canonical form of tools/oracle_check.py: columns sorted by name,
# values canonicalized, rows sorted, SHA-256 over the lines; the golden file
# holds this hash of each query's result rows at sf0.01.

def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return format(v, ".12g")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def result_hash(result_dir):
    import duckdb
    con = duckdb.connect()
    cur = con.execute("SELECT * FROM '%s'" % os.path.join(result_dir, "*.parquet"))
    return table_hash([d[0] for d in cur.description], cur.fetchall())


def read_goldens():
    goldens = {}
    with open(GOLDENS) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, rows, sha = line.rstrip("\n").split("\t")
                goldens[name] = (int(rows), sha)
    return goldens


def check_query_hashes(results_dir):
    """Names of the queries whose written result differs from its golden hash."""
    goldens = read_goldens()
    if not os.path.isdir(results_dir):
        return ["no query result was written"]
    bad = []
    for name in sorted(os.listdir(results_dir)):
        want = goldens.get(name, (None, None))[1]
        try:
            got = result_hash(os.path.join(results_dir, name))
        except Exception as e:  # an unreadable result is a wrong result
            got = "error: %s" % e
        if got != want:
            bad.append("%s: result hash %s, golden %s" % (name, got[:16], (want or "missing")[:16]))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit("no program sources at %s: run from the root of a checkout" % PROGRAM_SRC)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "runs", "%s-%d" % (tag, os.getpid()))
    for d in ("logs", "trace", "records"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(BUILD, "logs", tag + ".log")
    try:
        code = run_jvm(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", DATA, "--goldens", GOLDENS,
            "--result", result_path,
            "--trace-out", os.path.join(BUILD, "trace", tag + ".jsonl")], work, log_path)
        if code != 0 or not os.path.exists(result_path):
            raise SystemExit("harness failed (exit %d); see %s" % (code, log_path))
        with open(result_path) as f:
            res = json.load(f)
        notes = list(res["notes"])
        failed = res["failed"]
        if a.workload == "queries":
            bad = check_query_hashes(os.path.join(work, "results"))
            notes += bad
            failed += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    measured = res[kind]
    missing = [m["name"] for m in spec[kind] if m["name"] not in measured]
    if missing:
        raise SystemExit("harness did not measure %s" % ", ".join(missing))
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in spec[kind]}
    correct = bool(res["correct"]) and failed == 0 and not notes
    record = dict(res["record"], failures=notes)
    with open(os.path.join(BUILD, "records", tag + ".json"), "w") as f:
        json.dump({"report": res["report"], "record": record, "metrics": metrics}, f, indent=1)
    for n in notes:
        log("FAILED " + n)
    print(json.dumps({"report": res["report"]}))
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

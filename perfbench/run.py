#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload yaml_batch --seed 1 --seconds 3 --trace 0

Builds graft and the harness from source with sbt on first use (cached
under perfbench/target, keyed by a digest of every source and build file),
then starts one JVM running perfbench.Main. Everything the run writes goes
under perfbench/out: the workload's scratch data (removed afterwards), the
JVM log, and for --trace 1 the spans of the run in out/traces/.
Exits non-zero without a result line if the build or the run fails.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
BUILD = HERE / "target" / "perfbench-build.json"
DATA = HERE / "data" / "sf0.01"
WORKLOADS = ("yaml_batch", "yaml_stream", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as ../build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness's runtime classpath, building first if sources changed."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"graft sources not found under {ROOT}; run from a graft checkout")
        sys.exit(2)
    digest = source_digest()
    if BUILD.exists():
        cached = json.loads(BUILD.read_text())
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and "scala-2.13/classes" in l]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        log("build failed")
        sys.exit(3)
    BUILD.parent.mkdir(parents=True, exist_ok=True)
    BUILD.write_text(json.dumps({"digest": digest, "classpath": cp[-1].strip()}))
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1].strip()


def check_result(line):
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert isinstance(r["failed"], int) and r["failed"] >= 0
    for name, m in r["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert isinstance(m["value"], (int, float)), name
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = classpath()
    work = OUT / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
            "--data", str(DATA)]
    jvm_log = OUT / f"{a.workload}.log"
    with open(jvm_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"run exceeded {RUN_TIMEOUT_S} s; log in {jvm_log}")
            sys.exit(4)
    for l in jvm_log.read_text(errors="replace").splitlines():
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(jvm_log.read_text(errors="replace")[-4000:])
        log(f"run failed with exit code {proc.returncode}")
        sys.exit(5)
    result = check_result(lines[-1])
    if a.trace == "1" and (work / "spans.jsonl").exists():
        traces = OUT / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(work / "spans.jsonl", traces / f"{a.workload}-seed{a.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

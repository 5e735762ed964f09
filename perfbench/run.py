#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
benchmark (its own sbt package, which compiles the repository's main
sources next to its own) and caches the classpath under perfbench/target;
a later run rebuilds only when a source file changed. Each run works in a
fresh directory under .perfbench/ in the checkout and removes it on exit,
keeping only the span dump of the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The benchmark's runtime classpath, building it first if stale."""
    cache = HERE / "target" / "perfbench-classpath.txt"
    fp = sources_fingerprint()
    if cache.is_file():
        stamp, cp = cache.read_text().split("\n", 1)
        if stamp == fp:
            return cp.strip()
    log("building (sbt compile)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and "classes" in ln
          and not ln.startswith("[")][-1].strip()
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(f"{fp}\n{cp}\n")
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: no program sources at src/main/scala/graft; "
                         "run from the root of a repository checkout")
    cp = classpath()

    base = ROOT / ".perfbench"
    run = base / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run / 'tmp'}", f"-Dderby.system.home={run}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--root", str(run)]
    proc = subprocess.Popen(cmd, cwd=run, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run, ignore_errors=True)
        raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    spans = run / "spans.jsonl"
    if spans.is_file():
        shutil.copy(spans, base / f"spans-{a.workload}-{a.seed}-trace{a.trace}.jsonl")
    shutil.rmtree(run, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))
    if not result["correct"]:
        raise SystemExit("perfbench: output check failed")


if __name__ == "__main__":
    main()

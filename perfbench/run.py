#!/usr/bin/env python3
"""Layered benchmark driver: builds the program with the benchmark and runs
one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles ../src/main/scala
together with perfbench/src/main/scala through perfbench/build.sbt (sbt,
offline); later runs reuse the classes while the sources are unchanged.
The measuring JVM prints every metric with its unit and, as its last line,
the JSON result. Workloads, metrics and layers are described in
perfbench/README.md.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
STAMP = TARGET / "perfbench.stamp"
CLASSPATH = TARGET / "perfbench.classpath"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every input of the build, so a changed tree rebuilds."""
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(base.rglob("*.scala"))
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == digest:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    if "SPARK_HOME" not in env:
        # build.sbt compiles against $SPARK_HOME/jars
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        env["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    out = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    cps = [line for line in out.stdout.splitlines()
           if ".jar" in line and not line.startswith("[")]
    sys.stderr.write("".join(line + "\n" for line in out.stdout.splitlines()
                             if line not in cps))
    if out.returncode != 0:
        fail(f"build failed (sbt exit {out.returncode})")
    if not cps:
        fail("build printed no classpath")
    TARGET.mkdir(exist_ok=True)
    CLASSPATH.write_text(cps[-1])
    STAMP.write_text(digest)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala'}")
    data = HERE / "data" / "sf0.01"
    expected = HERE / "expected" / "digests.tsv"
    for p in (data, expected):
        if not p.exists():
            fail(f"missing {p}")
    classpath = build()

    out = HERE / "out"
    (out / "tmp").mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g",
           # no hsperfdata file, which would go to the system temp dir
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--data", str(data), "--out", str(out),
            "--expected", str(expected)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()

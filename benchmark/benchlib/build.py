"""Builds graft and the benchmark's JVM side with sbt, once per source
state: the classpath is cached beside a hash of every input file."""
import hashlib
import os
import subprocess

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
INPUTS = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src"),
          os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]


def source_stamp():
    h = hashlib.sha256()
    for top in INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    """Resolution from the local caches only: the build never goes online."""
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(timeout_s):
    """The runtime classpath, building first when any input changed."""
    stamp_file = os.path.join(TARGET, "graftbench.stamp")
    cp_file = os.path.join(TARGET, "graftbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=timeout_s, stdin=subprocess.DEVNULL)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise RuntimeError(f"sbt build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp

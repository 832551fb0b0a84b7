"""Builds the benchmark's JVM side (perfbench/build.sbt, which compiles
the repository's graft sources it depends on) once per source state and
returns the runtime classpath."""
import hashlib
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
STAMP = os.path.join(BENCH, "target", "bench-sources.sha256")


def sources_digest():
    """Hash of every input of the build: both build definitions and all
    Scala sources of graft and of the benchmark."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def require_sources():
    """The graft sources this benchmark builds; a tree without them is
    not something it can measure."""
    needed = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "src", "main", "scala", "graft")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        raise SystemExit("perfbench: graft sources not found: " +
                         ", ".join(os.path.relpath(p, ROOT) for p in missing))


def ensure(log):
    require_sources()
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return _read_classpath()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's scratch files stay inside the checkout
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the pre-fetched artifact cache only
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           "writeClasspath"]
    with open(log, "w") as out:
        rc = run_group(cmd, out, timeout=840, cwd=BENCH, env=env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    return _read_classpath()


def run_group(cmd, out, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    the whole group is killed (a launcher script's JVM included) and
    reaped before this raises."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout:.0f} s")


def built_digest():
    """The source digest of the current build."""
    with open(STAMP) as f:
        return f.read().strip()


def _read_classpath():
    with open(CLASSPATH) as f:
        return f.read().strip()

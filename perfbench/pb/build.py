"""Build the engine and the harness from source, freeze the classes, and
launch the harness JVM.

The harness build (`perfbench/harness`) depends on the engine's own build
at the repository root, so one sbt call compiles both. The compiled class
directories are then copied into `.perfbench/frozen/<source hash>/`, and
every run starts from that copy with plain `java -cp`: a later compile
cannot change the code under test, and no sbt process (with its build lock
and forked JVMs) is alive while anything is timed.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import time

# Inputs of the build, relative to the repository root.
SOURCES = ["build.sbt", "project", "src/main",
           "perfbench/harness/build.sbt", "perfbench/harness/project",
           "perfbench/harness/src"]

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the engine's build.sbt passes the same list to its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def source_files(root):
    for rel in SOURCES:
        top = os.path.join(root, rel)
        if os.path.isfile(top):
            yield top
            continue
        for d, dirs, files in os.walk(top):
            # build outputs and sbt's own meta-build are not sources
            dirs[:] = sorted(x for x in dirs
                             if x not in ("target", "project")
                             and not x.startswith("."))
            for f in sorted(files):
                yield os.path.join(d, f)


def source_hash(root):
    h = hashlib.sha256()
    for path in source_files(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def sbt_env(state):
    """sbt and coursier strictly offline: every dependency is already in
    the local caches or among Spark's unmanaged jars. sbt's temporary
    files (its load socket) go under `state`, not the system temp dir."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no child outlives the call."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def frozen_classpath(root, state, timeout=850):
    """Classpath of the frozen build for the current sources, building and
    freezing first when there is none."""
    key = source_hash(root)
    frozen = os.path.join(state, "frozen", key)
    cp_file = os.path.join(frozen, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), 0.0
    t0 = time.time()
    os.makedirs(state, exist_ok=True)
    log = os.path.join(state, "build.log")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"], timeout,
                           cwd=os.path.join(root, "perfbench", "harness"),
                           env=sbt_env(state), stdin=subprocess.DEVNULL,
                           stdout=out, stderr=subprocess.STDOUT)
        except subprocess.TimeoutExpired:
            raise BuildError(f"sbt timed out after {timeout}s; see {log}")
        except FileNotFoundError:
            raise BuildError("sbt is not on the PATH")
    with open(log) as f:
        lines = [l.strip() for l in f if l.startswith("/")]
    if rc != 0 or not lines:
        raise BuildError(f"sbt failed (exit {rc}); see {log}")
    shutil.rmtree(os.path.join(state, "frozen"), ignore_errors=True)
    tmp = frozen + ".tmp"
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(tmp, f"classes{i}"))
            entries.append(os.path.join(frozen, f"classes{i}"))
        else:
            entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(cp)
    os.rename(tmp, frozen)
    return cp, time.time() - t0


def spark_jvms():
    """Pids of live JVMs that run Spark or this engine."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        if not argv or not os.path.basename(argv[0]).startswith(b"java"):
            continue
        text = b" ".join(argv)
        if (b"org.apache.spark" in text or b"spark/jars" in text
                or b"perfbench.Main" in text or b" graft." in text):
            found.append(int(pid))
    return found


def wait_for_quiet_host(limit_s=60):
    """Refuse to time while another Spark JVM is alive: wait up to
    `limit_s` for it to end, then give up."""
    deadline = time.time() + limit_s
    while True:
        pids = spark_jvms()
        if not pids or time.time() > deadline:
            return pids
        time.sleep(2)


def java_cmd(cp, main, args, heap="3g", props=None):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir
    cmd += [f"-Xmx{heap}", "-XX:-UsePerfData"]
    cmd += [f"-D{k}={v}" for k, v in (props or {}).items()]
    return cmd + ["-cp", cp, main] + list(args)

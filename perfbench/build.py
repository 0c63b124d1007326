"""Build file of the benchmark's JVM package: compiles the engine's
src/main/scala together with perfbench/harness/*.scala, using the Scala
compiler shipped in Spark's jars ($SPARK_HOME, else the install whose
spark-submit is on PATH), into a directory keyed by the sources' content;
and the JVM command line both the compiler and the harness run under.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# what spark-submit would open on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def sha_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, HERE).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BenchError("no Spark install with a Scala compiler in its jars; set SPARK_HOME")


def call(cmd, log, timeout, cwd=None):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError("%s timed out after %.0f s" % (cmd[-3:], timeout))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def java_cmd(jars, tmp, heap):
    return (["java", "-Xss8m", "-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp] +
            ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"])


def build(root, base, jars, deadline):
    """Compile src/main/scala and the harness into a directory keyed by
    their content; reuse it when it exists."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        raise BenchError("no engine sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    out = os.path.join(base, "classes-" + sha_files(srcs))
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tmp"))
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = java_cmd(jars, os.path.join(tmp, "tmp"), "3g") + [
        "-cp", jars + "/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
        "-d", tmp, "@" + os.path.join(tmp, "sources.txt")]
    log = os.path.join(base, "build.log")
    if call(cmd, log, deadline - time.time()) != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError("compilation failed, see " + log)
    shutil.rmtree(os.path.join(tmp, "tmp"))
    open(os.path.join(tmp, ".ok"), "w").close()
    if os.path.exists(out):  # built concurrently by another run
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)
    return out

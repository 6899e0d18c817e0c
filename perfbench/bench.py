"""Build, input and launch helpers shared by run.py and make_golden.py.

Everything the benchmark writes lives under `.bench_build/` in the
checkout root: the sbt build output and exported classpath, the
events stream split, per-run work directories and result records.
"""
import hashlib
import json
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")

# Tables: the library's seed-42 test tables at sf 0.01, kept in the
# benchmark's directory, so the reference digests in golden.json hold.
DATA_SF = 0.01
DATA_SEED = 42
DATA = os.path.join(HERE, "data", "sf%s" % DATA_SF)
# files the events table is split into for the file-source streaming op
STREAM_FILES = 4
HEAP = "3g"
# These switch the program or the old bench harness into modes that
# would make a run measure something else.
REFUSED_ENV = ("GRAFT_CKPT_MODE", "SPARK_GRAFT_SINK", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_RUNS")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _files(top, suffix):
    for d, _, fs in os.walk(top):
        for f in fs:
            if f.endswith(suffix):
                yield os.path.join(d, f)


def source_digest():
    """Digest of everything the build compiles, to detect a stale build."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BenchError("no program sources at src/main/scala — run from a graft checkout")
    h = hashlib.sha256()
    paths = sorted(list(_files(PROGRAM_SRC, ".scala")) + list(_files(BENCH_SRC, ".scala")) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark not found: set SPARK_HOME")
    return home


def _build(log):
    """sbt compile into .bench_build/sbt; returns the runtime classpath."""
    sbt = shutil.which("sbt")
    if not sbt:
        raise BenchError("sbt not found")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("# building (sbt compile, output in .bench_build/sbt)")
    p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if p.returncode != 0 or cp is None:
        raise BenchError("build failed:\n" + "\n".join(lines[-30:]))
    return cp


def classpath(log):
    """The runtime classpath of program + benchmark, compiled first when
    the sources differ from those of the last build. There is one build
    output, so the stamp records which digest it holds: checking out A,
    then B, then A again rebuilds A."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "built.json")
    try:
        with open(stamp) as f:
            last = json.load(f)
        if last["digest"] == digest:
            return last["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    if os.path.exists(stamp):
        os.remove(stamp)  # the build output is about to change
    cp = _build(log)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def split_events(src, out, parts=STREAM_FILES):
    """Write the events table as `parts` parquet files in time order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(src)
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    os.makedirs(out, exist_ok=True)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), os.path.join(out, "part-%05d.parquet" % i))


def stream_dir(log):
    """The events stream split, made once per checkout."""
    src = os.path.join(DATA, "events.parquet")
    if not os.path.exists(src):
        raise BenchError("no tables at %s" % os.path.relpath(DATA, ROOT))
    with open(src, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "data", "events_stream-%s-%d" % (tag, STREAM_FILES))
    if not os.path.isdir(d):
        log("# splitting events into %s" % os.path.relpath(d, ROOT))
        # the stream source reads every file in d, so d holds the parts only
        # and appears whole or not at all
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        split_events(src, tmp)
        os.rename(tmp, d)
    return d


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BenchError("java not found")
    return exe


def launch(cp, args, work, timeout):
    """Run perfbench.Main in a fresh JVM with a fixed heap; Spark's own
    log goes to work/jvm.log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
           "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    # Spark's scratch space inside the checkout, whatever the caller's env says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("JVM did not finish within %d s" % timeout)
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise BenchError("JVM exited with %d:\n%s" % (rc, tail))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        lines = out.stdout.split()
        if out.returncode == 0 and len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return None

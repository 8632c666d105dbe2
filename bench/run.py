#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 bench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 bench/run.py --selftest

Run from the root of a source tree. The first run compiles the engine
(src/main/scala) together with the benchmark (bench/src) with the Scala
compiler that ships in Spark's jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. The JVM then runs one workload and its last stdout line is
the result JSON: {"correct", "attempted", "failed", "metrics"}.
Everything the run writes stays under $CARGO_TARGET_DIR.
"""
import argparse
import fcntl
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
WORKLOADS = ("container-kselect", "corpus-dedup")

def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d, "spark-submit").resolve().parent.parent)
        for d in os.environ.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        if list(Path(home, "jars").glob("spark-core_*.jar")):
            return Path(home, "jars")
    return None


SPARK_JARS = spark_jars()
# A fixed heap (-Xms = -Xmx): the live-heap metric and GC pressure must
# not depend on how far the heap happened to grow.
HEAP = "3g"
DEADLINE_S = 170
# The engine's session needs these on JDK 17 outside spark-submit (the
# same list the repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def build_root():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "graftbench"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        fail(f"no engine sources under {engine}; run from the root of a graft source tree")
    if SPARK_JARS is None:
        fail("no Spark jars: set SPARK_HOME or put spark-submit on PATH")
    return sorted(engine.rglob("*.scala")), sorted((HERE / "src").rglob("*.scala"))


def compile_stage(root, name, files, classpath, salt):
    """Compiles `files` into root/<name> unless the stamp shows the same
    sources (and `salt`, the key of what they compile against) already
    built there. Returns (classes dir, key)."""
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    key = h.hexdigest()
    classes, stamp = root / name, root / f"{name}.key"
    if stamp.exists() and stamp.read_text() == key and classes.is_dir():
        return classes, key
    tmp = root / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = root / f"{name}.sources"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = ":".join([str(c) for c in classpath] + [f"{SPARK_JARS}/*"])
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={root}", "-cp", f"{SPARK_JARS}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=root)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail(f"compiling {name} failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(key)
    print(f"build: compiled {len(files)} {name} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, key


def build():
    """Engine, then benchmark against it; returns (classpath, engine key)."""
    engine_files, bench_files = sources()
    root = build_root()
    root.mkdir(parents=True, exist_ok=True)
    with open(root / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        engine, key = compile_stage(root, "engine-classes", engine_files, [], "")
        bench, _ = compile_stage(root, "bench-classes", bench_files, [engine], key)
    return f"{bench}:{engine}", key


def commit(key):
    if not (ROOT / ".git").exists():
        return f"source-tree-{key[:16]}"
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return f"source-tree-{key[:16]}"


def jvm(classpath, main, args, work, log, env_extra, deadline):
    """Runs one JVM in its own process group; returns (code, stdout)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    env.update(env_extra)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classpath}:{SPARK_JARS}/*", main] + args
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             env=env, cwd=work, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    classpath, key = build()
    root = build_root()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = root / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Pinned scratch tier: the engine would otherwise pick /dev/shm or the
    # disk by free memory, which can flip between runs.
    scratch = work / "scratch"
    scratch.mkdir()
    env = {"SPARK_GRAFT_SCRATCH_DIR": str(scratch), "GRAFTBENCH_COMMIT": commit(key)}
    deadline = time.time() + DEADLINE_S
    log = root / "logs" / f"{name}.log"
    log.parent.mkdir(exist_ok=True)
    if a.selftest:
        code, out = jvm(classpath, "graftbench.GenCheck", [str(work)], work, log, env, deadline)
        sys.stdout.write(out)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(0 if code == 0 else 1)
    record = root / "records" / f"{name}.json"
    record.unlink(missing_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--record", str(record),
            "--launch-ms", str(int(time.time() * 1000))]
    code, out = jvm(classpath, "graftbench.BenchMain", args, work, log, env, deadline)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != RESULT_KEYS:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        why = "timed out" if code is None else f"exited {code}" if code else "printed no result"
        print(f"run.py: benchmark JVM {why}; log tail of {log}:", file=sys.stderr)
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(1)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()

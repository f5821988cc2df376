#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's main sources (src/main/scala) together with the
harness (perfbench/src/main/scala) using the Scala compiler that ships in
the Spark distribution's jars, into .bench_build/classes-<digest>/. The
digest covers every input, so an unchanged tree reuses its classes and a
changed one rebuilds.

    python3 perfbench/build.py          # build (no-op when up to date)
    python3 perfbench/build.py test     # build, then run the harness tests

Run from the root of the repository. Spark is found through SPARK_HOME,
else through `spark-submit` on PATH, else through the jar directory that
the repository's build.sbt names.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        jars = _sbt_unmanaged_base()
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _sbt_unmanaged_base():
    """The jar directory the repository's own build.sbt compiles against."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        return None
    return m.group(1) if m else None


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def _files(d, suffix=""):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _digest(root, inputs):
    h = hashlib.sha256()
    for f in inputs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _scalac(jars, out_dir, sources, extra_cp=()):
    args_file = out_dir + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(sources))
    cp = os.pathsep.join([*extra_cp, os.path.join(jars, "*")])
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out_dir, "@" + args_file]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    finally:
        os.remove(args_file)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])


def ensure(root):
    """Return the classes directory for the tree at `root`, building it if needed."""
    engine = os.path.join(root, "src", "main", "scala")
    resources = os.path.join(root, "src", "main", "resources")
    harness = os.path.join(root, "perfbench", "src", "main", "scala")
    if not os.path.isdir(engine) or not os.path.isdir(harness):
        raise BuildError("engine or harness sources missing (src/main/scala, perfbench/src/main/scala): "
                         "run from the root of a full checkout of the repository")
    sources = _files(engine, ".scala") + _files(harness, ".scala")
    res_files = _files(resources) if os.path.isdir(resources) else []
    if not any(f.startswith(engine) for f in sources):
        raise BuildError("no engine sources under src/main/scala")
    jars = spark_jars()
    compilers = sorted(f for f in os.listdir(jars) if f.startswith("scala-compiler"))
    if not compilers:
        raise BuildError("the Spark distribution has no scala-compiler jar")
    key = _digest(root, sources + res_files) + "-" + compilers[0].removesuffix(".jar")
    out_root = os.path.join(root, OUT)
    out = os.path.join(out_root, "classes-" + key)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out_root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(sources)} sources", file=sys.stderr)
    _scalac(jars, tmp, sources)
    for f in res_files:
        dst = os.path.join(tmp, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, "_DONE"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)
    for name in os.listdir(out_root):  # drop classes of other trees
        if name.startswith("classes-") and os.path.join(out_root, name) != out:
            shutil.rmtree(os.path.join(out_root, name), ignore_errors=True)
    return out


def test(root):
    classes = ensure(root)
    tests = os.path.join(root, "perfbench", "src", "test", "scala")
    out = os.path.join(root, OUT, "test-classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    _scalac(jars, out, _files(tests, ".scala"), extra_cp=(classes,))
    cp = os.pathsep.join([out, classes, os.path.join(jars, "*")])
    tmp = os.path.join(root, OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return subprocess.run([java(), f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.HarnessTests"]).returncode


if __name__ == "__main__":
    here = os.getcwd()
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test(here))
        print(ensure(here))
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)

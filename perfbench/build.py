"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the harness
(perfbench/src) using the Scala compiler that ships in Spark's jars
directory, so no build tool or network is needed. The classes land in
.bench_build/classes-<hash>, keyed by a hash of every source file, and are
reused while the sources are unchanged.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BUILD_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME, else the first
    install on PATH whose jars include the Scala compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        pathlib.Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (pathlib.Path(d) / "spark-submit").exists()]
    for home in homes:
        jars = pathlib.Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark install with a Scala compiler among its jars; set SPARK_HOME")


def sources(root):
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not main.is_dir():
        raise BuildError(f"program sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def build(root):
    """Compile if needed; returns the runtime classpath as a list."""
    root = pathlib.Path(root).resolve()
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    out_root = root / ".bench_build"
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    if not (classes / "_OK").exists():
        out_root.mkdir(parents=True, exist_ok=True)
        for old in out_root.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out_root / f"tmp-classes-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = out_root / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
               "-nowarn", "-usejavacp", "-d", str(tmp), "@" + str(argfile)]
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        try:
            r = subprocess.run(cmd, cwd=root, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError("compilation timed out")
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac exited with {r.returncode}")
        (tmp / "_OK").write_text("")
        tmp.rename(classes)
    return [str(classes), str(root / "src" / "main" / "resources"), str(jars / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(pathlib.Path.cwd())))
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

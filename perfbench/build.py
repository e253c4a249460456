"""Build graft plus the benchmark harness from source with the Scala compiler
that ships among the Spark jars graft's build.sbt compiles against (no sbt,
no network).

    python3 perfbench/build.py          # prints the classes directory

The classes land in `$CARGO_TARGET_DIR` (default `.bench_build`) under a
directory named by a hash of every source file, so an unchanged tree is
built once per checkout.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

def spark_jars_dir(root):
    """The Spark jar directory graft's build.sbt compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def spark_classpath(root):
    d = spark_jars_dir(root)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d}")
    return jars


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                             recursive=True))
    if not graft:
        raise SystemExit(f"build: no graft sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return graft + bench


def build(root):
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    stamp = os.path.join(out, ".ok")
    if os.path.exists(stamp):
        return out
    os.makedirs(out, exist_ok=True)
    jars = spark_classpath(root)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = os.path.join(out_root, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-d\n" + out + "\n-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("-nowarn\n")
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    open(stamp, "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))

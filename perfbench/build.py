"""Build file of the benchmark: compiles the program (src/main/scala) and
the harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, against the Spark jars, into .bench_build/. The
build is reused while the sources and the JDK are unchanged.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME (no spark-submit on PATH)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no scala-compiler jar in {jars}")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + harness


def _stamp(root, sources):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    h.update(java.encode())
    for s in sources:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classes_dir(root):
    return os.path.join(root, ".bench_build", "classes")


def ensure(root):
    """Compile unless .bench_build/classes matches the current sources."""
    sources = _sources(root)
    stamp = _stamp(root, sources)
    out = classes_dir(root)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, ".bench_build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
                               + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                               + glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    print(f"# perfbench: compiling {len(sources)} sources", file=sys.stderr)
    res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        sys.exit(f"perfbench: compile failed (exit {res.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_command(root, args):
    """`java` with the runtime classpath of the program and the harness."""
    cp = ":".join([classes_dir(root), os.path.join(root, "src", "main", "resources"),
                   os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-Xmx2g", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, *args]


if __name__ == "__main__":
    ensure(os.getcwd())

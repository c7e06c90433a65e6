"""Build file of the benchmark: compiles the program and the benchmark's JVM
side from source.

The program (`src/main/scala`) and the benchmark's own Scala files
(`perfbench/scala`) are compiled together, with the Scala compiler that
ships among the Spark jars the sbt build uses (its `unmanagedBase`, or
`$SPARK_HOME/jars`), into `<build dir>/classes`. A digest of every source file is stamped next
to the classes, so an unchanged tree is not compiled again.

    python3 perfbench/build.py            # build into .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# the program's default Spark 4 / JDK 17 module opens (see build.sbt)
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


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return Path(m.group(1))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources under {main}")
    own = ROOT / "perfbench" / "scala"
    return sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def jvm_base(bdir: Path) -> list:
    """`java` with the flags every benchmark JVM shares: temp files stay
    inside the build dir and no perf-data file is written to /tmp."""
    tmp = bdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build() -> Path:
    """Compile if any source changed; return the classes dir."""
    bdir = build_dir()
    files = sources()
    jars = spark_jars()
    if not any(jars.glob("spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    stamp = bdir / "classes.sha256"
    classes = bdir / "classes"
    want = digest(files)
    if classes.is_dir() and stamp.exists() and stamp.read_text() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = bdir / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = jvm_base(bdir) + ["-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                            "scala.tools.nsc.Main", "-classpath", f"{jars}/*",
                            "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)

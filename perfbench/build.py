"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/harness with the Scala compiler that ships in
the Spark distribution's jars directory, so no build tool or network is
needed. Outputs go to $CARGO_TARGET_DIR (default .bench_build) under the
repository root and are rebuilt only when a source changes.

    python3 perfbench/build.py          # prints the runtime classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else next to
    spark-submit on PATH, else the repository build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sub = shutil.which("spark-submit")
    if sub:
        cands.append(Path(sub).resolve().parent.parent / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if glob.glob(str(c / "scala-compiler-*.jar")):
            return c
    sys.exit("perfbench: no Spark jars directory with a Scala compiler found "
             "(set SPARK_HOME)")


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((HERE / "harness").rglob("*.scala"))
    if not main:
        sys.exit(f"perfbench: no graft sources under {ROOT / 'src' / 'main' / 'scala'}")
    return main, harness


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-classpath", classpath] + [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java(classpath, tmpdir, heap="3g"):
    """A JVM command line for Spark on JDK 17 whose temporary files stay
    under `tmpdir`. The heap is fixed (-Xms = -Xmx): a heap that shrinks
    after a full collection slows the next op by a third."""
    cmd = ["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
    return cmd + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
                  "-Dspark.ui.enabled=false", "-cp", classpath]


def build():
    """Compiles what changed; returns the runtime classpath."""
    jars = spark_jars()
    main, harness = sources()
    out = build_dir()
    digest = hashlib.sha256()
    for f in main + harness:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = out / "classes.stamp"
    graft_cls, bench_cls = out / "graft-classes", out / "perfbench-classes"
    cp = [str(graft_cls), str(bench_cls), str(jars / "*")]
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return os.pathsep.join(cp)
    for d in (graft_cls, bench_cls):
        shutil.rmtree(d, ignore_errors=True)
    stamp.unlink(missing_ok=True)
    print(f"perfbench: compiling {len(main)} graft and {len(harness)} harness sources",
          file=sys.stderr)
    scalac(jars, str(jars / "*"), graft_cls, main)
    scalac(jars, os.pathsep.join([str(graft_cls), str(jars / "*")]), bench_cls, harness)
    stamp.write_text(digest.hexdigest())
    return os.pathsep.join(cp)


if __name__ == "__main__":
    print(build())

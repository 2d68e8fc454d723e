"""Build file of the perfbench package: compiles graft's main sources and
the harness (perfbench/harness) with the Scala compiler that ships in the
Spark distribution, into `.bench_build/perfbench/classes-<hash>`.

    python3 perfbench/build.py        # prints the class directory

No sbt: nothing is resolved or written outside the checkout. The Spark
jars are the ones build.sbt names. The hash covers every compiled source,
so an unchanged tree is not rebuilt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """The Spark jar directory graft's sbt build compiles against
    (`unmanagedBase` in build.sbt), or $SPARK_HOME/jars."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        jars = Path(m.group(1))
    elif "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise SystemExit("perfbench: no Spark jars: build.sbt sets no unmanagedBase and SPARK_HOME is unset")
    if not list(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit("perfbench: graft sources (src/main/scala) not found; "
                         "run from the root of a graft checkout")
    return graft + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = WORK / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    WORK.mkdir(parents=True, exist_ok=True)
    for old in WORK.glob("classes-*"):
        shutil.rmtree(old)
    out.mkdir()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           "-d", str(out)] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out)
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, out, dirs_exist_ok=True)
    (out / ".done").touch()
    return out


if __name__ == "__main__":
    print(build())

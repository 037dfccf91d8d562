"""Builds graft's classes and the benchmark's own sources.

Usage: python3 perfbench/build.py   (from anywhere inside the checkout)

Compiles `src/main/scala` with the Scala compiler that ships in Spark's
`jars/` directory (located through SPARK_HOME, or through `spark-submit`
on the PATH), copies `src/main/resources` next to the classes (what
sbt's `Compile / copyResources` does), then compiles `perfbench/src`
against the result. Output goes to `.bench_build/perfbench/<source digest>/`
and is reused while no source file changes.

The copy of the resources is checked: without
`META-INF/services/org.apache.spark.sql.sources.DataSourceRegister` the
`graft-cdf` change-feed source silently disappears from the classpath,
so the build fails loudly instead.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
SERVICE = "META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("cannot find Spark's jars/: set SPARK_HOME")
    return Path(home) / "jars"


def _sources():
    main = ROOT / "src" / "main" / "scala"
    res = ROOT / "src" / "main" / "resources"
    if not main.is_dir() or not (res / SERVICE).is_file():
        raise BuildError(f"graft sources not found under {ROOT}/src/main "
                         "(run from a full checkout)")
    graft = sorted(main.rglob("*.scala"))
    bench = sorted((BENCH / "src").rglob("*.scala"))
    return graft, sorted(p for p in res.rglob("*") if p.is_file()), bench


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(jars, extra_cp, out, files):
    out.mkdir(parents=True)
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in extra_cp])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")


def _check_services(classes):
    svc = classes / SERVICE
    if not svc.is_file():
        raise BuildError(f"{SERVICE} missing from the built classes: "
                         "the graft-cdf source would not register")
    names = [l.strip() for l in svc.read_text().splitlines()
             if l.strip() and not l.startswith("#")]
    missing = [n for n in names if not (classes / (n.replace(".", "/") + ".class")).is_file()]
    if not names or missing:
        raise BuildError(f"{SERVICE} names classes that were not built: {missing or 'none listed'}")


def ensure():
    """Returns the classpath entries (graft classes, benchmark classes),
    building them first if any source changed. Each source state builds
    into its own directory, so a JVM still running from an older build
    keeps its classes."""
    jars = spark_jars()
    graft, resources, bench = _sources()
    stamp = _digest(graft + resources + bench)[:16]
    OUT.mkdir(parents=True, exist_ok=True)
    done = OUT / stamp
    with open(OUT / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (done / "graft").is_dir():
            tmp = OUT / f"tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            _scalac(jars, [], tmp / "graft", graft)
            res_root = ROOT / "src" / "main" / "resources"
            for p in resources:
                dst = tmp / "graft" / p.relative_to(res_root)
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(p, dst)
            _check_services(tmp / "graft")
            _scalac(jars, [tmp / "graft"], tmp / "bench", bench)
            tmp.rename(done)
        return [done / "graft", done / "bench"]


if __name__ == "__main__":
    try:
        for p in ensure():
            print(p)
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

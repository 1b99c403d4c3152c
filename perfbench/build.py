"""Build file of the benchmark: compiles the program (`src/main/scala`,
`src/main/resources`) together with the benchmark's own Scala sources
(`perfbench/src`) with the Scala compiler that ships in Spark's jars (the
ones the program's build.sbt compiles against), into
`.bench_build/classes`, and dumps the program's oracle SQL for the star
queries beside it. A stamp over every source file skips rebuilding an
unchanged tree.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
ORACLE = os.path.join(BUILD, "oracle_sql.json")


def _spark_jars():
    """The jars the program compiles against: `unmanagedBase` of its
    build.sbt, else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


JARS = _spark_jars()
# the module openings Spark needs on JDK 17 outside spark-submit (the
# same list as the program's build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
# oracle SQL of these queries is needed by the checks; TimeDim's (q17)
# gives the hourly sink's expected keys
ORACLE_QUERIES = ["q09_star_join", "q17_time_dim", "q40_line_dim",
                  "q41_stop_dim", "q42_vehicle_dim", "q43_weather_dim",
                  "q44_delay_fact", "q45_star_rollup"]


def sources():
    """Every input of the build, sorted."""
    main = glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                     recursive=True)
    bench = glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                      recursive=True)
    res = [p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                recursive=True) if os.path.isfile(p)]
    return sorted(main), sorted(bench), sorted(res)


def classpath():
    return f"{CLASSES}:{JARS}/*"


def missing_inputs():
    """What a build needs that this directory lacks, or None."""
    if not glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                     recursive=True):
        return "no program sources under src/main/scala"
    if not os.path.isdir(JARS):
        return f"no Spark jars at {JARS}"
    if shutil.which("java") is None:
        return "no java on PATH"
    return None


def stamp_of(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def stamp():
    """Digest of every build input: names one build of the tree."""
    main, bench, res = sources()
    return stamp_of(main + bench + res)


def build(log=sys.stderr):
    main, bench, res = sources()
    digest = stamp_of(main + bench + res)
    if os.path.exists(STAMP) and open(STAMP).read() == digest \
            and os.path.exists(ORACLE):
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    print(f"[perfbench] compiling {len(main)} program and {len(bench)} "
          f"benchmark sources", file=log, flush=True)
    subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", f"{JARS}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", CLASSES, "-classpath", f"{JARS}/*", f"@{argfile}"],
        check=True, stdout=log, stderr=log)
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(
            p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(),
                    "perfbench.DumpOracle", ORACLE] + ORACLE_QUERIES,
                   check=True, stdout=log, stderr=log)
    with open(STAMP, "w") as f:
        f.write(digest)


def oracle_sql():
    with open(ORACLE) as f:
        return json.load(f)


if __name__ == "__main__":
    why = missing_inputs()
    if why:
        sys.exit(f"perfbench build: {why}")
    build()

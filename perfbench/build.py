"""Build file of the perfbench harness: compiles the engine's sources
(`src/main/scala` of the checkout) together with the harness
(`perfbench/src`) using the Scala compiler that ships in Spark's jars
directory, into `perfbench/.build/{engine,harness}`. A stamp over each
tree's source content skips a compile when nothing in it changed.

    python3 perfbench/build.py          # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars directory under {home}")
    return jars


def scala_files(base):
    out = []
    for d, _, fs in os.walk(base):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def engine_sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the root of a graft checkout")
    return scala_files(ENGINE_SRC)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def engine_sha():
    """Fingerprint of the engine sources: names the code a result
    measured, also in a source tree without git metadata."""
    return stamp(engine_sources(), "")[:16]


def compile_into(name, files, classpath, jars, extra=""):
    """Compile `files` into .build/<name> unless its stamp is current;
    return (classes dir, stamp)."""
    st = stamp(files, extra + classpath + " ".join(sorted(os.listdir(jars))))
    classes = os.path.join(OUT, name)
    stamp_file = classes + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == st:
        return classes, st
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit(f"perfbench: Scala compiler jars not found in {jars}")
    argfile = classes + ".sources"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile of {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(st)
    return classes, st


def ensure_built():
    """Compile what changed; return the run classpath (engine classes,
    harness classes, Spark jars)."""
    jars = spark_jars()
    spark_cp = os.path.join(jars, "*")
    engine, engine_stamp = compile_into("engine", engine_sources(), spark_cp, jars)
    # the harness stamp covers the engine's, so new engine classes
    # recompile the harness against them
    harness, _ = compile_into("harness", scala_files(HARNESS_SRC),
                              os.pathsep.join([engine, spark_cp]), jars, engine_stamp)
    return os.pathsep.join([harness, engine, spark_cp])


if __name__ == "__main__":
    print(ensure_built())

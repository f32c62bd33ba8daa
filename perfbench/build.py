#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the runner.

The program (src/main/scala, plus src/main/resources) and the runner
(perfbench/src) are compiled with the Scala compiler that ships in
Spark's jars directory, against those same jars, into

    <build>/classes   the program
    <build>/runner    the runner

<build> is $CARGO_TARGET_DIR when set, else .bench_build, relative to the
repository root. A stamp of the compiler and source hashes skips a build
whose inputs did not change.

This is a second build of src/main/scala beside build.sbt, made without
sbt because sbt reads and writes outside the repository (its boot,
dependency and compiler-bridge caches under the home directory) and
takes a minute to start. It is only the same program while build.sbt
compiles plain sources against the Spark jars, so the build first checks
that build.sbt still does that (see check_sbt) and fails otherwise.

Usage: python3 perfbench/build.py      (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def check_sbt(root, jars):
    """Fails unless the sbt build compiles what this build compiles: the
    same Scala version as the compiler among the Spark jars, no compiler
    options or plugins, no dependency outside the test scope, no extra
    source or resource directories, no build code under project/."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = re.sub(r"//[^\n]*", "", f.read())
    problems = []
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    jar_version = os.path.basename(compiler[0])[len("scala-compiler-"):-len(".jar")] if compiler else None
    versions = re.findall(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if versions != [jar_version]:
        problems.append(f"scalaVersion {versions} is not the Spark jars' Scala {jar_version}")
    bases = re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if len(bases) != 1 or os.path.realpath(bases[0]) != os.path.realpath(jars):
        problems.append(f"unmanagedBase {bases} is not the Spark jars at {jars}")
    for key in ("scalacOptions", "javacOptions", "addCompilerPlugin", "compilerPlugin",
                "unmanagedSourceDirectories", "unmanagedResourceDirectories",
                "sourceGenerators", "resourceGenerators", "dependsOn", "enablePlugins"):
        if key in sbt:
            problems.append(f"build.sbt sets {key}")
    for deps in re.findall(r"libraryDependencies\s*\+\+?=\s*(Seq\((?:[^()]|\([^()]*\))*\)|[^\n]+)", sbt):
        for dep in re.findall(r'"[^"]+"\s*%%?\s*"[^"]+"\s*%\s*"[^"]+"(?:\s*%\s*\w+)?', deps):
            if not re.search(r"%\s*Test$", dep):
                problems.append(f"build.sbt has a compile dependency: {dep}")
    extra = [p for p in glob.glob(os.path.join(root, "project", "*"))
             if p.endswith((".sbt", ".scala"))]
    if extra:
        problems.append(f"project/ holds build code: {', '.join(map(os.path.basename, extra))}")
    if problems:
        raise SystemExit("build: build.sbt no longer compiles what perfbench/build.py compiles ("
                         + "; ".join(problems) + "); update perfbench/build.py to match")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, sources):
    compiler = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    if len(compiler) != 3:
        raise SystemExit("build: Scala compiler jars not found among the Spark jars")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: compiling into {out} failed")


def build():
    """Builds what changed; returns (classpath for running, build dir)."""
    root = os.getcwd()
    program = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit("build: no program sources (src/main/scala) under the current directory")
    jars = spark_jars()
    check_sbt(root, jars)
    out = build_dir()
    classes, runner = os.path.join(out, "classes"), os.path.join(out, "runner")
    resources = os.path.join(root, "src", "main", "resources")
    res_files = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                       if os.path.isfile(p))
    jar_names = sorted(os.listdir(jars))
    steps = [
        (classes, _sources(program) + res_files, os.path.join(jars, "*"), _sources(program)),
        (runner, _sources(os.path.join(BENCH, "src")),
         classes + ":" + os.path.join(jars, "*"), _sources(os.path.join(BENCH, "src"))),
    ]
    upstream = ""
    for target, inputs, cp, sources in steps:
        stamp = hashlib.sha256(("\n".join(jar_names) + upstream + _stamp(inputs)).encode()).hexdigest()
        stamp_file = target + ".stamp"
        if not (os.path.isdir(target) and os.path.exists(stamp_file)
                and open(stamp_file).read() == stamp):
            _scalac(jars, target, cp, sources)
            if target == classes:
                for p in res_files:
                    dest = os.path.join(classes, os.path.relpath(p, resources))
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    shutil.copyfile(p, dest)
            with open(stamp_file, "w") as f:
                f.write(stamp)
        upstream = stamp
    return f"{runner}:{classes}:{os.path.join(jars, '*')}", out


if __name__ == "__main__":
    print(build()[0])

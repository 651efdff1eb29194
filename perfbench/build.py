"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
benchmark harness (perfbench/harness) with the Scala compiler that ships in
the Spark distribution, packs the classes into <build dir>/classes.jar, and
records a JVM class-data archive (<build dir>/app.jsa) from one short training
run of every workload on tiny generated inputs. Every measured run maps the
archive, which takes class loading and verification of Spark and the program
out of each run's fixed cost. The repository's own sbt build is not used, so
nothing is written outside the build directory. A stamp over the source
contents skips all of this when nothing changed.

    python3 perfbench/build.py [build dir]     # default .bench_build
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TRAIN_SIZES = {
    "interactive": {"rows": 5_000, "signals": 100, "days": 30},
    "ingest_age": {"batch_rows": 500, "signals": 50, "batches": 2, "batches_per_cycle": 1},
}


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def harness_command(build_dir, work, args, archive_flag=None):
    """The harness JVM command line; `archive_flag` dumps or maps the archive."""
    jar = os.path.join(build_dir, "classes.jar")
    flags = [archive_flag] if archive_flag else []
    return ["java", "-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xmx3g", *flags,
            f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
            "-cp", f"{jar}{os.pathsep}{os.path.join(SPARK_JARS, '*')}", "graftbench.Main", *args]


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _train(build_dir, archive):
    """Run every workload for 1 s on tiny inputs, dumping the loaded classes."""
    import gen
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        args = [work, str(len(os.sched_getaffinity(0))), "1", "1", os.path.join(work, "t.jsonl")]
        for w, size in TRAIN_SIZES.items():
            spec = gen.generate(w, 0, os.path.join(work, w), size)
            with open(os.path.join(work, f"{w}.json"), "w") as f:
                json.dump(spec, f)
            args += [os.path.join(work, f"{w}.json"), os.path.join(work, f"{w}.result")]
        subprocess.run(harness_command(build_dir, work, args, f"-XX:ArchiveClassesAtExit={archive}"),
                       check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def ensure_built(build_dir):
    """Compile, pack and train if the sources changed; return the archive flag
    for the measured runs (None when the JVM could not record an archive).
    """
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "build.stamp")
    archive = os.path.join(build_dir, "app.jsa")
    if not (os.path.exists(stamp_file) and open(stamp_file).read().strip() == stamp):
        classes = os.path.join(build_dir, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        jtmp = os.path.join(build_dir, "tmp")
        os.makedirs(jtmp, exist_ok=True)
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={jtmp}",
                        "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main", "-usejavacp",
                        "-nowarn", "-d", classes] + srcs,
                       check=True, stdout=sys.stderr, stderr=sys.stderr)
        _jar(classes, os.path.join(build_dir, "classes.jar"))
        if os.path.exists(archive):
            os.remove(archive)
        try:
            _train(build_dir, archive)
        except (subprocess.SubprocessError, OSError) as e:
            print(f"class archive not recorded ({e}); runs load classes from the jars",
                  file=sys.stderr)
            if os.path.exists(archive):
                os.remove(archive)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive) else None


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    os.makedirs(out, exist_ok=True)
    sys.path.insert(0, HERE)
    print(ensure_built(out))

"""Rebuild the session's JVM jar from its committed sources.

The ``.java`` files of ``p_id_text_extraction_spark/jvm/`` are compiled with
``javac --release 17`` against ``$SPARK_HOME/jars/hadoop-client-api-*.jar``
and stored as ``p_id_text_extraction_spark/jvm/nio-local-fs.jar`` (no
manifest; every entry has the same fixed time, so the same class bytes
always give the same jar).  ``get_spark`` only puts the committed jar on the
class path: nothing is compiled when a session starts.

    python tools/build_jvm.py          # rewrite the jar
    python tools/build_jvm.py --check  # exit 1 if the jar's classes differ
                                       # from a fresh build
"""
from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from p_id_text_extraction_spark.session import NIO_JAR  # noqa: E402

SOURCES = sorted(glob.glob(os.path.join(os.path.dirname(NIO_JAR), "*.java")))
_ENTRY_TIME = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if not jars:
        raise FileNotFoundError("no hadoop-client-api jar under $SPARK_HOME/jars")
    return jars[-1]


def compile_classes() -> dict[str, bytes]:
    """Compile SOURCES; returns {jar entry name: class bytes}."""
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(["javac", "--release", "17", "-nowarn", "-cp", hadoop_api_jar(),
                        "-d", out, *SOURCES], check=True)
        classes = {}
        for path in glob.glob(os.path.join(out, "**", "*.class"), recursive=True):
            with open(path, "rb") as f:
                classes[os.path.relpath(path, out).replace(os.sep, "/")] = f.read()
    return classes


def jar_classes(jar: str = NIO_JAR) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


def write_jar(classes: dict[str, bytes], jar: str = NIO_JAR) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(classes):
            z.writestr(zipfile.ZipInfo(name, _ENTRY_TIME), classes[name],
                       zipfile.ZIP_DEFLATED)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--check", action="store_true",
                   help="compare the committed jar with a fresh build; write nothing")
    args = p.parse_args(argv)
    classes = compile_classes()
    if args.check:
        same = jar_classes() == classes
        print("jar matches source" if same else "jar differs from a fresh build")
        return 0 if same else 1
    write_jar(classes)
    print(f"wrote {NIO_JAR} ({os.path.getsize(NIO_JAR)} bytes, {len(classes)} classes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Compile and attach the package's Java sources.

A Java source is committed beside the Python modules (e.g.
``RunningReduce.java``). It is compiled with ``javac`` against only the
Spark and Hadoop jars it uses, and the jar is cached in ``_build/`` under
a name keyed by a hash of the source and the PySpark version. A missing
``javac`` raises; there is no fallback.

Two ways in:
- ``get_spark`` builds ``core/NioLocalFileSystem.java`` (the local file
  system) and puts it on the driver's launch class path, because Hadoop
  resolves ``fs.file.impl`` with the JVM's own class loader;
- operators (``RunningReduce.java``) are built by the first plan that
  needs one and attached with ``ADD JAR`` once per SparkContext, so plans
  that use no Java operator never pay for one, and a session passed in
  from outside runs them the same as one built by ``get_spark``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

BUILD_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_build")

#: the compile classpath: the jars the Java sources import from
CLASSPATH_JARS = (
    "spark-sql_*.jar",
    "spark-sql-api_*.jar",
    "spark-catalyst_*.jar",
    "spark-core_*.jar",
    "scala-library-*.jar",
    "hadoop-client-api-*.jar",
)

_lock = threading.Lock()


def _javac() -> str:
    java_home = os.environ.get("JAVA_HOME")
    if java_home and os.path.exists(os.path.join(java_home, "bin", "javac")):
        return os.path.join(java_home, "bin", "javac")
    found = shutil.which("javac")
    if found is None:
        raise RuntimeError(
            "the package's Java sources need a JDK to compile: javac was not "
            "found in $JAVA_HOME/bin or on PATH"
        )
    return found


def _classpath() -> str:
    jars_dir = os.path.join(_find_spark_home(), "jars")
    jars = []
    for pattern in CLASSPATH_JARS:
        hits = sorted(glob.glob(os.path.join(jars_dir, pattern)))
        if not hits:
            raise RuntimeError(f"no {pattern} in {jars_dir} to compile against")
        jars.append(hits[0])
    return os.pathsep.join(jars)


def build_jar(source: str, build_dir: str = BUILD_DIR) -> str:
    """Path of the jar compiled from ``source``, compiling it on a cache miss."""
    with open(source, "rb") as f:
        digest = hashlib.sha256(f.read() + pyspark.__version__.encode()).hexdigest()[:16]
    stem = os.path.splitext(os.path.basename(source))[0]
    jar = os.path.join(build_dir, f"{stem}-{digest}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(build_dir, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build_dir) as tmp:
        classes = os.path.join(tmp, "classes")
        done = subprocess.run(
            # C1 only: a run this short is over before C2 pays off (~0.3 s less)
            [_javac(), "-J-XX:TieredStopAtLevel=1", "-nowarn", "-cp", _classpath(), "-d", classes,
             source],
            capture_output=True,
            text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {source}:\n{done.stderr}")
        staged = os.path.join(tmp, "out.jar")
        with zipfile.ZipFile(staged, "w") as z:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(staged, jar)  # atomic: a concurrent build sees all or nothing
    return jar


def attach(spark: SparkSession, source: str) -> None:
    """Make the classes of ``source`` loadable by ``spark``'s driver and
    executors; a no-op when its jar is already attached."""
    with _lock:
        jar = build_jar(source)
        attached = spark.sparkContext._jsc.sc().listJars().mkString("\n").split("\n")
        if not any(j.endswith("/" + os.path.basename(jar)) for j in attached):
            spark.sql(f"ADD JAR '{jar}'")

"""Executor-parallel zstd for text exports.

Hadoop's stock ``ZStandardCodec`` needs the native libhadoop build (absent
in most Python-driven deployments), so zstd text parts normally can't be
written by Spark tasks.  This module closes that gap with a tiny custom
Hadoop ``CompressionCodec`` (``javasrc/ZstdFrameCodec.java``) backed by
zstd-jni — which IS on every Spark classpath — compiled on demand with the
JDK's ``javac`` and attached to sessions via ``spark.jars``.

With the codec on the classpath the sink's one write job emits per-part
``.zst`` frames IN THE WRITE TASKS (executor-parallel compression, the
100 TB path).  Sessions that cannot take a classpath jar (an externally
created SparkSession — ``spark.jars`` must be set before the JVM starts,
and runtime ``addJar`` does not reach the driver-side codec resolver) fall
back to `parallel_compress_parts`: the plain parts are compressed after
the write by a thread pool of JVM streams (the GIL is irrelevant: each
thread blocks in one ``Files.copy`` doing JVM-side work).  Either way both
layouts finish from the same ``.zst`` parts: dir mode keeps them, and a
single file is the byte concat of a `zstd_frame` for the metadata line,
the parts and a frame for the error/warning tail (zstd frames concatenate
like gzip members, RFC 8878) — no driver-sequential recompression of the
bulk data.

Reference parity: the reference recommends zstd for its exports via
CompressionHints (``/root/reference/Neo4jExport/Database/Metadata.fs:344-352``)
but leaves compression to the operator; here it is a first-class sink mode.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess

CODEC_CLASS = "neo4jexportspark.io.ZstdFrameCodec"

# only used if the live CompressionCodecFactory default list can't be read
# (register_read_codecs normally appends to that list so Snappy/Lz4/etc.
# remain registered for later reads in the session)
_FALLBACK_READ_CODECS = (
    "org.apache.hadoop.io.compress.DefaultCodec",
    "org.apache.hadoop.io.compress.GzipCodec",
    "org.apache.hadoop.io.compress.BZip2Codec",
    "org.apache.hadoop.io.compress.DeflateCodec",
)

_JAVA_SRC = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "javasrc",
    "ZstdFrameCodec.java",
)


def _pyspark_jars_dir() -> str | None:
    try:
        import pyspark

        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return d if os.path.isdir(d) else None
    except Exception:
        return None


def _javac() -> str | None:
    jh = os.environ.get("JAVA_HOME")
    if jh and os.path.exists(os.path.join(jh, "bin", "javac")):
        return os.path.join(jh, "bin", "javac")
    return shutil.which("javac")


def codec_jar() -> str | None:
    """Compile-and-cache the codec jar; returns its path, or None when the
    environment can't build it (no JDK / no hadoop jars).  The cache key is
    the Java source hash, so editing the source rebuilds exactly once."""
    if not os.path.exists(_JAVA_SRC):
        return None
    with open(_JAVA_SRC, "rb") as f:
        src_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    cache_dir = os.path.join(
        os.path.expanduser("~"), ".cache", "neo4j-export-tool-spark"
    )
    jar_path = os.path.join(cache_dir, f"zstd-frame-codec-{src_hash}.jar")
    if os.path.exists(jar_path):
        return jar_path

    javac = _javac()
    jars_dir = _pyspark_jars_dir()
    if javac is None or jars_dir is None:
        return None
    hadoop = glob.glob(os.path.join(jars_dir, "hadoop-client-api-*.jar"))
    zstd = glob.glob(os.path.join(jars_dir, "zstd-jni-*.jar"))
    if not hadoop or not zstd:
        return None

    os.makedirs(cache_dir, exist_ok=True)
    build_dir = f"{jar_path}.{os.getpid()}.build"
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(build_dir)
    try:
        subprocess.run(
            [
                javac,
                "-encoding",
                "UTF-8",
                "-classpath",
                os.pathsep.join([hadoop[0], zstd[0]]),
                "-d",
                build_dir,
                _JAVA_SRC,
            ],
            check=True,
            capture_output=True,
        )
        jar_tool = os.path.join(os.path.dirname(javac), "jar")
        # per-process tmp name: two concurrent builders must not interleave
        # writes into one tmp file (each replaces atomically with its own
        # complete jar; last writer wins, both jars identical)
        tmp_jar = f"{jar_path}.{os.getpid()}.tmp"
        subprocess.run(
            [jar_tool, "cf", tmp_jar, "-C", build_dir, "."],
            check=True,
            capture_output=True,
        )
        os.replace(tmp_jar, jar_path)  # atomic: concurrent builders race safely
        return jar_path
    except Exception:
        return None
    finally:
        shutil.rmtree(build_dir, ignore_errors=True)


def codec_loadable(spark) -> bool:
    """True when the codec class resolves on the DRIVER (i.e. the session
    was created with the jar on ``spark.jars``) — the write path's
    ``CompressionCodecs`` lookup happens driver-side, so runtime ``addJar``
    is not enough."""
    try:
        # NB: the py4j Class.forName entry point resolves against the ROOT
        # classloader, which never sees spark.jars — probe the context
        # classloader, the one Spark's own codec resolver consults
        spark._jvm.Thread.currentThread().getContextClassLoader().loadClass(
            CODEC_CLASS
        )
        return True
    except Exception:
        return False


def register_read_codecs(spark) -> None:
    """Make Hadoop's codec factory map ``.zst`` to our codec (idempotent;
    runtime-settable — reads resolve codecs per file open, not per session).

    Appends to the factory's LIVE codec list (``CompressionCodecFactory
    .getCodecClasses`` returns the ServiceLoader defaults when
    ``io.compression.codecs`` is unset), so Snappy/Lz4/etc. stay
    registered for later reads in the same session; the factory maps an
    extension to the LAST codec claiming it, so appending ours last is
    enough to displace the native-only ``ZStandardCodec`` for ``.zst``."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jvm = spark.sparkContext._jvm
    try:
        classes = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory.getCodecClasses(
            hconf
        )
        names = [classes.get(i).getName() for i in range(classes.size())]
    except Exception:
        names = list(_FALLBACK_READ_CODECS)
    names = [n for n in names if n != CODEC_CLASS]
    names.append(CODEC_CLASS)
    hconf.set("io.compression.codecs", ",".join(names))


def compress_file_jvm(spark, src: str, dst: str) -> None:
    """Compress one local file into a single zstd frame via JVM streams
    (zstd-jni); all byte movement stays JVM-side (``Files.copy``)."""
    jvm = spark.sparkContext._jvm
    fos = jvm.java.io.FileOutputStream(dst)
    try:
        zos = jvm.com.github.luben.zstd.ZstdOutputStream(fos)
    except Exception:
        fos.close()
        raise
    try:
        jvm.java.nio.file.Files.copy(jvm.java.io.File(src).toPath(), zos)
    finally:
        zos.close()


def decompress_file_jvm(spark, src: str, dst: str) -> None:
    """Decompress a (possibly multi-frame) ``.zst`` file JVM-side."""
    jvm = spark.sparkContext._jvm
    fis = jvm.java.io.FileInputStream(src)
    try:
        zis = jvm.com.github.luben.zstd.ZstdInputStream(fis)
    except Exception:
        fis.close()  # constructor failure must not leak the JVM handle
        raise
    try:
        jvm.java.nio.file.Files.copy(
            zis,
            jvm.java.io.File(dst).toPath(),
            spark.sparkContext._gateway.new_array(
                jvm.java.nio.file.CopyOption, 0
            ),
        )
    finally:
        zis.close()


def zstd_frame(spark, data: bytes) -> bytes:
    """A small in-memory payload (metadata line, error/warning tail) as one
    zstd frame.  The payload crosses Py4J twice — fine for the
    sub-kilobyte strings this is used for."""
    jvm = spark.sparkContext._jvm
    buf = jvm.java.io.ByteArrayOutputStream()
    zos = jvm.com.github.luben.zstd.ZstdOutputStream(buf)
    try:
        zos.write(bytearray(data))
    finally:
        zos.close()
    return bytes(buf.toByteArray())


def parallel_compress_parts(
    spark, parts: list[str], max_threads: int = 8
) -> list[str]:
    """Fallback lane for sessions without the codec jar: compress each
    plain part into a ``.zst`` frame concurrently.  Python threads only
    dispatch — each blocks inside one JVM ``Files.copy``, so compression
    parallelism is real (JVM-side) despite the GIL.  Returns the ``.zst``
    paths in the same order; originals are removed."""
    import concurrent.futures as fut

    def _one(p: str) -> str:
        out = p + ".zst"
        compress_file_jvm(spark, p, out)
        os.remove(p)
        # drop the Hadoop LocalFileSystem checksum sidecar of the removed
        # plain part (harmless but confusing to leave behind)
        crc = os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        return out

    if not parts:
        return []
    with fut.ThreadPoolExecutor(
        max_workers=min(max_threads, len(parts))
    ) as pool:
        return list(pool.map(_one, parts))

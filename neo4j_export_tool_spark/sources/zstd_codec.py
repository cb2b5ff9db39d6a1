"""zstd for text exports through the codecs on Spark's stock classpath.

Hadoop's own ``ZStandardCodec`` needs the native libhadoop build (absent
in most Python-driven deployments), but Spark ships two pure-JVM zstd
Hadoop codecs, so every session can compress and decompress text parts
in its tasks without an extra jar:

- writes use parquet-hadoop's `WRITE_CODEC` (zstd-jni, level 3): the
  sink's one write job emits each part as zstd frames IN THE WRITE TASKS
  (executor-parallel compression, the 100 TB path).  Its parts end
  ``.zstd``; dir mode renames them to ``.zst``.  A single file is the
  byte concat of a `zstd_frame` for the metadata line, the parts and a
  frame for the error/warning tail (zstd frames concatenate like gzip
  members, RFC 8878) — no driver-sequential recompression of the bulk
  data;
- dir-mode reads use aircompressor's `READ_CODEC`, which
  `register_read_codecs` maps to ``.zst`` at run time.  It is read-only
  here: its Hadoop output stream compresses about half as well as
  zstd-jni.

Reference parity: the reference recommends zstd for its exports via
CompressionHints (``Database/Metadata.fs:344-352``) but leaves
compression to the operator; here it is a first-class sink mode.
"""

from __future__ import annotations

WRITE_CODEC = "org.apache.parquet.hadoop.codec.ZstandardCodec"
READ_CODEC = "io.airlift.compress.zstd.ZstdCodec"

# only used if the live CompressionCodecFactory default list can't be read
# (register_read_codecs normally appends to that list so Snappy/Lz4/etc.
# remain registered for later reads in the session)
_FALLBACK_READ_CODECS = (
    "org.apache.hadoop.io.compress.DefaultCodec",
    "org.apache.hadoop.io.compress.GzipCodec",
    "org.apache.hadoop.io.compress.BZip2Codec",
    "org.apache.hadoop.io.compress.DeflateCodec",
)


def register_read_codecs(spark) -> None:
    """Make Hadoop's codec factory map ``.zst`` to `READ_CODEC` (idempotent;
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
    names = [n for n in names if n != READ_CODEC]
    names.append(READ_CODEC)
    hconf.set("io.compression.codecs", ",".join(names))


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

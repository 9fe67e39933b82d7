"""Filesystem access for the bucketed table: the one place that decides
between a local path and the Hadoop FileSystem.

One scheme rule: a path that starts with a URI scheme (``hdfs://``,
``s3a://``, and ``file:`` like any other) goes through the Hadoop
FileSystem of the Spark session; a plain path uses ``os``, so local
callers may pass ``spark=None``. Listings return paths RELATIVE to the
root the caller passed: callers join them back onto their own root and
never dispatch a Hadoop-qualified path (Hadoop lists ``file:/x/...`` under
a root given as ``file:///x``).
"""

from __future__ import annotations

import os
import re
import shutil

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError

_SCHEME = re.compile(r"[A-Za-z][A-Za-z0-9+.-]*:/")


def has_scheme(path: str) -> bool:
    return _SCHEME.match(path) is not None


def _hadoop(spark, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, conf, p, p.getFileSystem(conf)


def exists(spark, path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    _, _, p, fs = _hadoop(spark, path)
    return fs.exists(p)


def read_text(spark, path: str) -> str:
    """The file's text; ``FileNotFoundError`` on both branches when it
    does not exist, so a reader needs no ``exists`` probe first."""
    if not has_scheme(path):
        with open(path) as f:
            return f.read()
    jvm, _, p, fs = _hadoop(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        gateway = spark.sparkContext._gateway
        if is_instance_of(gateway, e.java_exception, "java.io.FileNotFoundException"):
            raise FileNotFoundError(path) from None
        raise
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream)).decode("utf-8")
    finally:
        stream.close()


def write_text(spark, path: str, text: str, exclusive: bool = False) -> None:
    """Publish ``text`` at ``path`` whole: the bytes are staged to a
    sibling temp file first, so a crash mid-write never leaves a truncated
    file under the final name. The publish replaces any existing file, or
    with ``exclusive`` creates-or-fails (``FileExistsError`` when another
    writer got there first). Locally the exclusive publish is ``os.link``
    — atomic, and it fails on an existing name — and the replace is
    ``os.replace``. On the Hadoop FileSystem the exclusive publish is a
    rename after an existence probe (atomic create-if-absent on HDFS; on
    object stores without atomic rename, such as plain S3A, race
    arbitration is best-effort), the replace a delete + rename."""
    tmp = f"{path}.tmp-{os.getpid()}"
    if not has_scheme(path):
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        if not exclusive:
            os.replace(tmp, path)
            return
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise
        except OSError as e:
            raise OSError(
                e.errno,
                f"cannot publish {path!r}: the filesystem lacks hard links "
                f"({e.strerror}); local tables need a filesystem that "
                "supports os.link",
            ) from e
        finally:
            os.remove(tmp)
        return
    jvm, _, p, fs = _hadoop(spark, path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    stream = fs.create(tmp_p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if exclusive:
        if fs.exists(p) or not fs.rename(tmp_p, p):
            fs.delete(tmp_p, False)
            raise FileExistsError(path)
        return
    fs.delete(p, False)
    if not fs.rename(tmp_p, p):
        raise OSError(f"replacing {path!r} failed at rename")


def list_names(spark, d: str) -> list[str]:
    """Entry names directly under ``d``; none when ``d`` does not exist."""
    if not has_scheme(d):
        return os.listdir(d) if os.path.isdir(d) else []
    _, _, p, fs = _hadoop(spark, d)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_parquet_files(spark, root: str) -> list[tuple[str, int]]:
    """(relpath, bytes) of every parquet data file under ``root``,
    recursively; relpaths are POSIX-style and relative to ``root``, and a
    missing ``root`` lists nothing.

    Hidden path components UNDER ``root`` (leading '_' or '.') are
    skipped, matching Spark's directory-listing filter: staging trees like
    ``spans/_temporary/`` left by a crashed in-flight job must not be
    snapshot-manifested or handed to read_snapshot — Spark's own reads
    would never have counted them. (``root`` itself may be hidden, e.g.
    the _archive walk; only components below it are filtered.)"""
    out = []
    if not has_scheme(root):
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if x[0] not in "_."]
            for n in names:
                if n.endswith(".parquet") and n[0] not in "_.":
                    p = os.path.join(d, n)
                    out.append((os.path.relpath(p, root), os.path.getsize(p)))
        return out
    _, _, p, fs = _hadoop(spark, root)
    if not fs.exists(p):
        return []
    # compare path components: the listing is fully qualified even when
    # ``root`` is not
    base = fs.makeQualified(p).toUri().getPath().rstrip("/") + "/"
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        full = st.getPath().toUri().getPath()
        if not full.startswith(base):
            raise ValueError(f"listed file {full!r} is not under {root!r}")
        rel = full[len(base):]
        if rel.endswith(".parquet") and not any(s[0] in "_." for s in rel.split("/")):
            out.append((rel, st.getLen()))
    return out


def link(spark, src: str, dst: str) -> None:
    """Make ``dst`` another name for ``src``'s bytes without copying where
    the filesystem allows it (a hard link; a copy across devices and on
    the Hadoop FileSystem). No-op if ``dst`` exists: the table's files are
    immutable, so a name never maps to two contents."""
    if not has_scheme(src):
        if os.path.exists(dst):
            return
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.link(src, dst)
        except OSError:  # cross-device / fs without links
            shutil.copy2(src, dst)
        return
    jvm, conf, sp, fs = _hadoop(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.exists(dp):
        jvm.org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, False, conf)


def move(spark, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``, creating ``dst``'s parent directory."""
    if not has_scheme(src):
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        return
    jvm, _, sp, fs = _hadoop(spark, src)
    dp = jvm.org.apache.hadoop.fs.Path(dst)
    fs.mkdirs(dp.getParent())
    if not fs.rename(sp, dp):
        raise OSError(f"rename {src!r} -> {dst!r} failed")


def delete(spark, path: str) -> None:
    """Remove a file or a whole tree; a missing path is not an error."""
    if not has_scheme(path):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.lexists(path):
            os.remove(path)
        return
    _, _, p, fs = _hadoop(spark, path)
    fs.delete(p, True)

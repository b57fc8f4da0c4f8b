"""A JVM shim for Hadoop's local file system: sources and the built jar.

Without ``libhadoop`` Hadoop's ``RawLocalFileSystem`` forks ``chmod``
for every file or directory it creates and ``readlink`` for every
link-status lookup. The ``Nio*`` classes here do both with
``java.nio``; ``session.get_session`` puts the jar on the driver
classpath and registers the classes for the ``file`` scheme.
Rebuild the jar with ``python tools/build_jvm_shim.py`` after editing
a ``.java`` file: the jar records the sources' hash, and a test fails
when the two drift apart.
"""

from __future__ import annotations

import hashlib
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
JAR = HERE / "nio-local-fs.jar"
SOURCES = tuple(sorted(HERE.glob("*.java")))
#: ``fs.file.impl`` (FileSystem API) and
#: ``fs.AbstractFileSystem.file.impl`` (FileContext API).
FILE_SYSTEM_CLASS = "parquetstreamwriter.fs.NioLocalFileSystem"
ABSTRACT_FILE_SYSTEM_CLASS = "parquetstreamwriter.fs.NioLocalFs"
#: Manifest attribute holding :func:`sources_sha256` at build time.
HASH_ATTRIBUTE = "Sources-SHA256"


def sources_sha256() -> str:
    """sha256 over the ``.java`` files' names and bytes."""
    h = hashlib.sha256()
    for src in SOURCES:
        h.update(src.name.encode() + b"\0" + src.read_bytes() + b"\0")
    return h.hexdigest()


def jar_sources_sha256(jar: Path = JAR) -> str | None:
    """The sources hash recorded in ``jar``'s manifest, if any."""
    with zipfile.ZipFile(jar) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    # Manifest lines wrap at 72 bytes; a continuation starts with a space.
    for line in manifest.replace("\r\n", "\n").replace("\n ", "").splitlines():
        key, _, value = line.partition(": ")
        if key == HASH_ATTRIBUTE:
            return value.strip()
    return None

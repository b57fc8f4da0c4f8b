"""Build ``parquet_stream_writer_spark/jvm/nio-local-fs.jar`` from the
``.java`` files next to it.

Compiles with ``javac --release 17`` against the jars bundled with the
installed PySpark, then packs the classes with ``jar``; the manifest
records the sources' sha256 (checked by ``tests/test_local_fs.py``).
Entry timestamps are pinned, so a rebuild from the same sources and
JDK gives the same bytes.

    python tools/build_jvm_shim.py
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyspark  # noqa: E402

from parquet_stream_writer_spark import jvm  # noqa: E402


def main() -> None:
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as tmp:
        classes = Path(tmp, "classes")
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", classpath, "-d", str(classes)]
            + [str(s) for s in jvm.SOURCES],
            check=True,
        )
        manifest = Path(tmp, "MANIFEST.MF")
        manifest.write_text(f"{jvm.HASH_ATTRIBUTE}: {jvm.sources_sha256()}\n")
        jvm.JAR.unlink(missing_ok=True)
        subprocess.run(
            ["jar", "--create", "--file", str(jvm.JAR), "--manifest", str(manifest),
             "--date", "2000-01-01T00:00:02Z", "-C", str(classes), "."],
            check=True,
        )
    print(f"{jvm.JAR} ({jvm.JAR.stat().st_size} bytes, sources {jvm.sources_sha256()[:12]})")


if __name__ == "__main__":
    main()

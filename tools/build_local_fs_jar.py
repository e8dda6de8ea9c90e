"""Build ``discogs_load_spark/jvm/local-fs.jar`` from the ``.java`` sources
beside it: ``javac --release 17`` against pyspark's bundled jars, classes
zipped with a manifest that records the sources' sha256
(``Source-SHA256``), so a test can tell when a source changed and the jar
was not rebuilt. Run after editing a source, and commit both:

    python tools/build_local_fs_jar.py

Nothing compiles at runtime: ``session.get_spark`` puts the committed jar
on the driver's classpath.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
JVM_DIR = REPO / "discogs_load_spark" / "jvm"
JAR = JVM_DIR / "local-fs.jar"
DIGEST_KEY = "Source-SHA256"


def sources_digest(src_dir: Path = JVM_DIR) -> str:
    """sha256 over the ``.java`` files in ``src_dir``: each file's name and
    bytes, in name order."""
    h = hashlib.sha256()
    for src in sorted(src_dir.glob("*.java")):
        h.update(src.name.encode() + b"\0" + src.read_bytes() + b"\0")
    return h.hexdigest()


def jar_digest(jar: Path = JAR) -> str:
    """The ``Source-SHA256`` a jar was built with."""
    with zipfile.ZipFile(jar) as zf:
        manifest = zf.read("META-INF/MANIFEST.MF").decode()
    for line in manifest.splitlines():
        key, _, value = line.partition(": ")
        if key == DIGEST_KEY:
            return value.strip()
    raise ValueError(f"{jar}: no {DIGEST_KEY} in the manifest")


def build(out: Path = JAR, src_dir: Path = JVM_DIR) -> None:
    import pyspark

    classpath = Path(pyspark.__file__).parent / "jars" / "*"
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", str(classpath),
             "-d", classes, *map(str, sorted(src_dir.glob("*.java")))],
            check=True,
        )
        manifest = (
            f"Manifest-Version: 1.0\r\n{DIGEST_KEY}: {sources_digest(src_dir)}\r\n\r\n"
        )
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("META-INF/MANIFEST.MF", manifest)
            for cls in sorted(Path(classes).rglob("*.class")):
                zf.write(cls, cls.relative_to(classes).as_posix())


def main() -> None:
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else JAR
    build(out)
    print(f"{out} {DIGEST_KEY}={sources_digest()}")


if __name__ == "__main__":
    main()

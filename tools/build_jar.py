"""Compile jvm/src → dist/hllspark-udaf.jar against the installed pyspark jars.

The jar carries the SHA-256 of the sources it was built from as the
resource ``hllsparkjvm/source.sha256``.  ``build()`` is idempotent: it skips
the compile when the existing jar's digest equals the digest of the current
sources, and ``hllspark.jvm_udaf.available`` refuses a loaded jar whose
digest differs from this checkout's sources.  Used by
hllspark.jvm_udaf.jar_path() as a lazy build, and runnable directly:
python tools/build_jar.py [--force]
"""

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SRC = ROOT / "jvm" / "src"
JAR = ROOT / "dist" / "hllspark-udaf.jar"
DIGEST_RESOURCE = "hllsparkjvm/source.sha256"


def source_digest() -> str:
    """Hex SHA-256 over every Java source under jvm/src (relative path and
    bytes, in sorted path order) — the version a built jar must carry."""
    sources = sorted(SRC.rglob("*.java"))
    if not sources:
        raise FileNotFoundError(f"no java sources under {SRC}")
    h = hashlib.sha256()
    for s in sources:
        h.update(s.relative_to(SRC).as_posix().encode() + b"\0")
        h.update(s.read_bytes() + b"\0")
    return h.hexdigest()


def _jar_digest(jar: Path) -> str | None:
    try:
        with zipfile.ZipFile(jar) as z:
            return z.read(DIGEST_RESOURCE).decode().strip()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def build(force: bool = False) -> Path:
    digest = source_digest()
    if JAR.exists() and not force and _jar_digest(JAR) == digest:
        return JAR
    javac = shutil.which("javac")
    jar = shutil.which("jar")
    if not javac or not jar:
        raise RuntimeError("JDK (javac/jar) not available")
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    cp = os.path.join(spark_jars, "*")
    with tempfile.TemporaryDirectory() as td:
        subprocess.run(
            [javac, "-classpath", cp, "-d", td, "--release", "17"]
            + [str(s) for s in sorted(SRC.rglob("*.java"))],
            check=True,
        )
        (Path(td) / DIGEST_RESOURCE).write_text(digest + "\n")
        JAR.parent.mkdir(parents=True, exist_ok=True)
        tmp_jar = Path(td) / "out.jar"
        subprocess.run([jar, "cf", str(tmp_jar), "-C", td, "hllsparkjvm"], check=True)
        shutil.move(str(tmp_jar), str(JAR))
    return JAR


if __name__ == "__main__":
    print(build(force="--force" in sys.argv))

"""Build dist/hllspark.zip for `spark-submit --py-files` deployment.

Usage: python tools/make_pyfiles.py [out.zip]

The optional JVM aggregate-buffer engine (engine="jvm_udaf") ships as a
SEPARATE artifact: add `--jars dist/hllspark-udaf.jar` (built by
tools/build_jar.py) next to --py-files.  Without the jar every API still
works — engine="auto" runs the python engine (byte-identical sketches).
"""

import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def build(out: Path | None = None) -> Path:
    out = out or ROOT / "dist" / "hllspark.zip"
    out.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "hllspark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
    return out


if __name__ == "__main__":
    target = Path(sys.argv[1]) if len(sys.argv) > 1 else None
    print(build(target))

"""Emit jvm/src/hllsparkjvm/HllConstants.java from hllspark.core._constants
and the serialized-counter header constants of hllspark.core.hll.

The Java estimate path (HllEstimator) needs the same published HLL++ tables
the Python kernels use (Flajolet et al. 2007; Heule, Nunkesser & Hall 2013
empirical bias curves; layout per /root/reference/src/constants.h).  This
tool renders them, and the header version/flag bits the jar's canonical
writer and decoder use, as Java source so the two sides can never drift —
rerun after tools/extract_constants.py or a header change in core/hll.py
(tests/test_jvm_estimate.py checks the committed file is current):

    python tools/gen_java_constants.py

Bytecode note: a single <clinit> holding all ~6000 double stores would blow
the JVM's 64 KiB method-size limit, so each table row gets its own private
initializer method (~200 stores ≈ 2.5 KiB bytecode each).

Literal exactness: Python repr() emits the shortest digit string that
round-trips the IEEE double, and Java double-literal parsing is exact for
round-trippable strings, so every emitted constant is bit-identical to the
numpy value (asserted below by re-parsing).
"""

from pathlib import Path
import struct
import sys

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hllspark.core import hll  # noqa: E402
from hllspark.core._constants import ALPHAM, BIAS, NUM_POINTS, PE, RAW_ESTIMATE, THRESHOLD  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "jvm" / "src" / "hllsparkjvm" / "HllConstants.java"


def dlit(v: float) -> str:
    s = repr(float(v))
    # sanity: the literal must round-trip to the same bits
    assert struct.pack("<d", float(s)) == struct.pack("<d", float(v))
    return s


def flit(v) -> str:
    import numpy as np

    f = np.float32(v)
    s = repr(float(f))
    assert np.float32(float(s)) == f or (np.isnan(f) and np.isnan(np.float32(float(s))))
    return s + "f"


def emit() -> str:
    lines = []
    w = lines.append
    w("package hllsparkjvm;")
    w("")
    w("/**")
    w(" * GENERATED by tools/gen_java_constants.py from hllspark/core/_constants.py")
    w(" * and hllspark/core/hll.py")
    w(" * — do not edit.  Published HLL++ constants (Flajolet et al. 2007; Heule,")
    w(" * Nunkesser &amp; Hall 2013 empirical bias tables), the same values the")
    w(" * Python kernels use, per /root/reference/src/constants.h.")
    w(" */")
    w("final class HllConstants {")
    w("  private HllConstants() {}")
    w("")
    w(f"  static final int MIN_INDEX_BITS = {hll.MIN_INDEX_BITS};")
    w("")
    w("  /** Serialized-counter header ({@code <BbBBi}, core/hll.py) and its flag bits. */")
    for name, v in [
        ("STRUCT_VERSION", hll.STRUCT_VERSION),
        ("FLAG_DENSE", hll._FLAG_DENSE),
        ("FLAG_PACKED", hll._FLAG_PACKED),
        ("FLAG_VARINT", hll._FLAG_VARINT),
        ("FLAG_DEFLATE", hll._FLAG_DEFLATE),
        ("HASH_KIND_SHIFT", hll._HASH_KIND_SHIFT),
        ("HASH_KIND_MASK", hll._HASH_KIND_MASK),
        ("KNOWN_FLAGS", hll._KNOWN_FLAGS),
        ("HASH_XXHASH_SPARK", hll.HASH_XXHASH_SPARK),
    ]:
        w(f"  static final int {name} = {v};")
    w("")
    # ALPHAM: float32 table, b=4..16 (len 17)
    vals = ", ".join(flit(v) for v in ALPHAM)
    w("  /** alpha*m^2 for b=4..16 (float32 in the reference). */")
    w(f"  static final float[] ALPHAM = {{{vals}}};")
    w("")
    vals = ", ".join(str(int(v)) + "L" for v in THRESHOLD)
    w("  /** Linear-counting cutoffs, THRESHOLD[b] for b=4..18. */")
    w(f"  static final long[] THRESHOLD = {{{vals}}};")
    w("")
    vals = ", ".join(str(int(v)) for v in NUM_POINTS)
    w("  /** Interpolation points per precision, NUM_POINTS[b-4]. */")
    w(f"  static final int[] NUM_POINTS = {{{vals}}};")
    w("")
    vals = ", ".join(dlit(v) for v in PE)
    w("  /** PE[r] = 2^-r (double), register-term lookup. */")
    w(f"  static final double[] PE = {{{vals}}};")
    w("")
    w(f"  static final double[][] RAW_ESTIMATE = new double[{len(RAW_ESTIMATE)}][];")
    w(f"  static final double[][] BIAS = new double[{len(BIAS)}][];")
    w("")
    for i, row in enumerate(RAW_ESTIMATE):
        vals = ", ".join(dlit(v) for v in row)
        w(f"  private static void raw{i}() {{ RAW_ESTIMATE[{i}] = new double[]{{{vals}}}; }}")
    w("")
    for i, row in enumerate(BIAS):
        vals = ", ".join(dlit(v) for v in row)
        w(f"  private static void bias{i}() {{ BIAS[{i}] = new double[]{{{vals}}}; }}")
    w("")
    w("  static {")
    for i in range(len(RAW_ESTIMATE)):
        w(f"    raw{i}();")
    for i in range(len(BIAS)):
        w(f"    bias{i}();")
    w("  }")
    w("}")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    OUT.write_text(emit())
    print(f"wrote {OUT} ({OUT.stat().st_size} bytes)")

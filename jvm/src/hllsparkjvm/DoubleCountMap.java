package hllsparkjvm;

import java.io.Serializable;

/**
 * Open-addressing map double→count used by the quantile aggregate buffers'
 * EXACT mode (the value multiset whose ascending weighted fold is
 * byte-identical to the python sketches' update_weighted).  Keys are
 * stored as double bits with -0.0 normalized to 0.0 — the same collapse
 * Spark's groupBy applies to floating group keys — and a live entry always
 * has count ≥ 1, so counts[i] == 0 marks an empty slot (0.0 bits are a
 * valid key).
 *
 * NaN never enters: the Python wrapper projects NaN→NULL before the
 * aggregator.  ±inf do enter; the finish drops them.
 */
final class DoubleCountMap implements Serializable {
  private static final long serialVersionUID = 1L;

  long[] keys;   // double bits
  long[] counts; // 0 == empty slot
  int n;

  DoubleCountMap() {
    keys = new long[64];
    counts = new long[64];
  }

  private static int mix(long x) {
    x ^= x >>> 33;
    x *= 0xFF51AFD7ED558CCDL;
    x ^= x >>> 33;
    return (int) x;
  }

  void add(double v, long c) {
    long bits = Double.doubleToLongBits(v == 0.0 ? 0.0 : v);
    int mask = keys.length - 1;
    int i = mix(bits) & mask;
    while (true) {
      if (counts[i] == 0) {
        keys[i] = bits;
        counts[i] = c;
        n++;
        if (n * 4 >= keys.length * 3) grow();
        return;
      }
      if (keys[i] == bits) {
        counts[i] += c;
        return;
      }
      i = (i + 1) & mask;
    }
  }

  private void grow() {
    long[] ok = keys;
    long[] oc = counts;
    keys = new long[ok.length * 2];
    counts = new long[ok.length * 2];
    int mask = keys.length - 1;
    for (int j = 0; j < ok.length; j++) {
      if (oc[j] == 0) continue;
      int i = mix(ok[j]) & mask;
      while (counts[i] != 0) i = (i + 1) & mask;
      keys[i] = ok[j];
      counts[i] = oc[j];
    }
  }

  /** Entries as parallel (values, counts) arrays, sorted by value asc. */
  long[] sortedValuesBits() {
    long[] out = new long[n];
    int m = 0;
    for (int i = 0; i < keys.length; i++) {
      if (counts[i] != 0) out[m++] = keys[i];
    }
    // sort by double VALUE (bits order differs for negatives): decorate via
    // the standard monotone bit flip for IEEE doubles
    for (int i = 0; i < n; i++) out[i] = flip(out[i]);
    java.util.Arrays.sort(out);
    for (int i = 0; i < n; i++) out[i] = unflip(out[i]);
    return out;
  }

  // SIGNED-monotone key (Arrays.sort(long[]) is a signed sort): positive
  // doubles keep their bits (already value-ordered, positive longs);
  // negative doubles map to MIN_VALUE - bits, which reverses their
  // magnitude-descending bit order into value-ascending NEGATIVE longs.
  // Self-inverse.  (-0.0 is normalized to 0.0 at insert, NaN never enters.)
  private static long flip(long bits) {
    return bits >= 0 ? bits : Long.MIN_VALUE - bits;
  }

  private static long unflip(long s) {
    return s >= 0 ? s : Long.MIN_VALUE - s;
  }

  long countOf(double v) {
    long bits = Double.doubleToLongBits(v == 0.0 ? 0.0 : v);
    int mask = keys.length - 1;
    int i = mix(bits) & mask;
    while (counts[i] != 0) {
      if (keys[i] == bits) return counts[i];
      i = (i + 1) & mask;
    }
    return 0;
  }
}

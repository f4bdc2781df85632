package hllsparkjvm;

/**
 * In-JVM HLL++ estimation of canonical counters (HllSketchEstimateUdf,
 * HllSetOpUdfs) — the same math as the Python kernels
 * (hllspark/core/hll.py _estimate_sparse / _estimate_dense /
 * _error_estimate, mirroring the reference's hyperloglog.c:421-566):
 *
 *  - identical operation ORDER everywhere (sequential double sums in the
 *    harmonic mean and the OLS bias fit, the float32 alpham table and
 *    m/(float)V ratio quirks, left-associative expression shapes);
 *  - the constants tables are GENERATED from the Python module
 *    (tools/gen_java_constants.py) so the two sides cannot drift;
 *  - {@code StrictMath.log} (fdlibm) rather than {@code Math.log}: the
 *    Math.log C2 intrinsic may differ from the interpreted path in the
 *    last ulp, so the SAME query could flip a final bit across JIT tiers —
 *    StrictMath is bit-reproducible on every JVM, platform and tier.
 *
 * Parity with HLL.estimate(): BIT-identical wherever no logarithm is
 * taken (the bias-corrected dense regime — every register walk, harmonic
 * sum, OLS fit and float32 quirk), and within 1 ulp of the platform libm
 * CPython uses in the linear-counting regimes (sparse estimates and
 * low-fill dense; measured: glibc and fdlibm agree on ~94% of
 * estimator-shaped args, the rest differ by exactly 1 ulp — far inside
 * both the reference's 10-decimal golden tolerance and the micro-unit
 * contract compare; tests/test_jvm_estimate.py pins this).
 *
 * Chain rows (suffix == 0 hashes HllRegisterAggregator defers, probability
 * ~2^-39/row — but an expected ~2 occurrences per 10^12-row query) are
 * replayed at its finish with the murmur rehash chain below, the same one
 * core/hll.py add_hashes applies (_rho_chain / encode_hashes /
 * dense_add_hashes).
 */
final class HllEstimator {
  private HllEstimator() {}

  private static final long MURMUR_M = 0xC6A4A7935BD1E995L;
  private static final int MURMUR_R = 47;
  private static final long MURMUR_SEED = 0xADC83B19L;

  /** MurmurHash64A of one u64 value (its 8 LE bytes, one full block) —
   *  core/hash.py murmur64_u64; the reference's rehash step. */
  static long murmur64(long v) {
    long h = MURMUR_SEED ^ (8 * MURMUR_M);
    long k = v * MURMUR_M;
    k ^= k >>> MURMUR_R;
    k *= MURMUR_M;
    h ^= k;
    h *= MURMUR_M;
    h ^= h >>> MURMUR_R;
    h *= MURMUR_M;
    h ^= h >>> MURMUR_R;
    return h;
  }

  /** Rho rehash chain (core/hll.py _rho_chain; hyperloglog.c:611-620):
   *  the suffix run overflowed, extend it by rehashing. */
  static int rhoChain(long h, int startRho, int cap) {
    int rho = startRho;
    int addn = 64;
    while (addn == 64 && rho < cap) {
      h = murmur64(h);
      addn = Long.numberOfLeadingZeros(h) + 1;
      rho += addn;
    }
    return rho;
  }

  /** 64-bit hash → 32-bit sparse encoding, chain-capable (encode_hashes). */
  static int encodeHash(long h, int b, int binbits) {
    int pprime = 32 - 1 - binbits;
    int idx = (int) (h >>> (64 - pprime));
    if ((idx & ((1 << (pprime - b)) - 1)) != 0) {
      return idx << 1;
    }
    int rho;
    if ((h << pprime) == 0L) { // the only >=64 shape: all suffix bits zero
      rho = rhoChain(h, 64 - pprime, 1 << binbits);
    } else {
      rho = Long.numberOfLeadingZeros(h << pprime) + 1;
    }
    return (((idx << binbits) + rho) << 1) + 1;
  }

  /** Register-max one hash into dense registers (dense_add_hashes). */
  static void denseAdd(byte[] regs, long h, int b, int binbits) {
    int idx = (int) (h >>> (64 - b));
    int rho;
    if ((h << b) == 0L) {
      rho = rhoChain(h, 64 - b, 1 << binbits);
    } else {
      rho = Long.numberOfLeadingZeros(h << b) + 1;
    }
    rho &= 0xff; // uint8 register domain, as the numpy kernels store it
    if (rho > (regs[idx] & 0xff)) regs[idx] = (byte) rho;
  }

  /** Linear counting over the sparse encode space (_estimate_sparse). */
  static double estimateSparse(int uniqueCount, int binbits) {
    double m = (double) (1L << (32 - 1 - binbits));
    return m * StrictMath.log(m / (m - uniqueCount));
  }

  /** alpha*m^2: float32 table to b=16, float32-rounded formula past it
   *  (_alpham — the reference table stops at 16, see core/hll.py note). */
  static double alpham(int b) {
    if (b < HllConstants.ALPHAM.length) return (double) HllConstants.ALPHAM[b];
    double m = (double) (1L << b);
    return (double) (float) (0.7213 / (1.0 + 1.079 / m) * m * m);
  }

  /** HLL++ bias fit: OLS over the 6 nearest published points, exact C
   *  summation order (_error_estimate; hyperloglog.c:485-537). */
  static double errorEstimate(double E, int b) {
    int bi = b - HllConstants.MIN_INDEX_BITS;
    int maxp = HllConstants.NUM_POINTS[bi];
    double[] xsAll = HllConstants.RAW_ESTIMATE[bi];
    double[] ysAll = HllConstants.BIAS[bi];
    int idx = 0; // np.searchsorted(xs[:maxp], E, 'right'): count of xs <= E
    while (idx < maxp && xsAll[idx] <= E) idx++;
    if (idx < 3) idx = 3;
    else if (idx > maxp - 2) idx = maxp - 2;
    int[] order = {idx + 2, idx + 1, idx, idx - 1, idx - 2, idx - 3};
    double sx = 0.0, sxx = 0.0, sy = 0.0, sxy = 0.0;
    for (int i = 0; i < 6; i++) { // sequential left-assoc adds, as written in C
      double x = xsAll[order[i]];
      double y = ysAll[order[i]];
      sx += x;
      sxx += x * x;
      sy += y;
      sxy += x * y;
    }
    double beta = (6.0 * sxy - sx * sy) / (6.0 * sxx - sx * sx);
    double alpha = (1.0 / 6.0) * sy - beta * (1.0 / 6.0) * sx;
    return alpha + E * beta;
  }

  /** HLL++ dense estimator (_estimate_dense; hyperloglog.c:421-482). */
  static double estimateDense(byte[] regs, int b, int binbits) {
    int m = 1 << b;
    double H = 0.0; // sequential double sum — the C (and np.cumsum) order
    if (binbits <= 6) {
      for (int i = 0; i < m; i++) H += HllConstants.PE[regs[i] & 0xff];
    } else {
      for (int i = 0; i < m; i++) {
        int r = regs[i] & 0xff;
        H += r < HllConstants.PE.length ? HllConstants.PE[r] : Math.scalb(1.0, -r);
      }
    }
    double E = alpham(b) / H;
    if (E <= 5.0 * m) {
      E = E - errorEstimate(E, b);
      int V = 0;
      for (int i = 0; i < m; i++) {
        if (regs[i] == 0) V++;
      }
      double Hlin;
      if (V != 0) {
        float ratio = (float) m / (float) V; // C: m / (float)V is float32
        Hlin = m * StrictMath.log((double) ratio);
      } else {
        Hlin = E;
      }
      if (Hlin <= (double) HllConstants.THRESHOLD[b]) E = Hlin;
    }
    return E;
  }
}

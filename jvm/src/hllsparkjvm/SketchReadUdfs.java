package hllsparkjvm;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Per-row read UDFs over STORED canonical sibling-sketch blobs — the
 * all-JVM read path for sketch rollup tables (same role HllSketchEstimateUdf
 * plays for HLL counters): point-query / membership / quantile / rank /
 * jaccard with no Python stage per row.
 *
 * Parity contract: each UDF replicates its pandas reader
 * (hllspark.functions cm_query / bloom_contains / tdigest_quantile /
 * tdigest_rank / kll_quantile / minhash_jaccard) BIT-exactly — the
 * arithmetic is integer selection, exact power-of-two weight sums, or the
 * same double operation order (sequential cumsum, np.searchsorted
 * side='left', np.interp's slope formula), with no transcendental calls.
 * NULL in (either argument) → NULL out, SQL semantics.  An empty digest or
 * a NaN probe gives NULL too, as on the pandas route, where Spark's Arrow
 * conversion turns every NaN result into NULL.
 *
 * Hash-domain contract for the probing readers (count-min, bloom): the
 * probe hash argument must be computed with agg.jvm_hash_expr (Spark
 * xxhash64 over the canonicalized value — the hash_kind=1 build domain).
 * A sketch whose header records any other hash domain (murmur-built, via
 * the python engine) is REFUSED loudly: its cells were addressed by a
 * different hash family and a probe would silently miss.  The pandas
 * readers remain the universal path — they re-hash the probe in whatever
 * domain the sketch header declares.
 *
 * Blob decoding is shared with the stored-blob merge aggregators
 * (CountMinBlobMergeAggregator / BloomBlobMergeAggregator /
 * MinHashBlobMergeAggregator .mergeBlob, TDigestAggregator.fromBytes,
 * KllAggregator.fromBytes) so version/validation rules can never drift.
 */
public final class SketchReadUdfs {

  private SketchReadUdfs() {}

  static void requireXxhashDomain(int hashKind, String kind) {
    if (hashKind != 1) {
      throw new IllegalArgumentException(
          kind + " sketch records hash_kind=" + hashKind
              + " (not the xxhash64 build domain); an xxhash64 probe would never match "
              + "its cells — use the pandas reader (hllspark.functions), which re-hashes "
              + "the probe in the sketch's own domain");
    }
  }

  /** count-min frequency estimate: min over depth rows at the double-hashed
   *  positions (h1 + j*h2) mod width — CountMin.query_hashes exactly
   *  (h1/h2 are the low/high 32 bits of the xxhash64 probe; the sum fits a
   *  positive long, so Java % equals the uint64 modulo). */
  public static final class CountMinQuery implements UDF2<byte[], Long, Long> {
    private static final long serialVersionUID = 1L;

    public CountMinQuery() {}

    @Override
    public Long call(byte[] blob, Long h) {
      if (blob == null || h == null) return null;
      CountMinBlobMergeAggregator.Buf buf = new CountMinBlobMergeAggregator.Buf();
      CountMinBlobMergeAggregator.mergeBlob(buf, blob);
      requireXxhashDomain(buf.hashKind, "count-min");
      long h1 = h & 0xffffffffL;
      long h2 = (h >>> 32) | 1L;
      long min = -1L; // unsigned max
      for (int j = 0; j < buf.depth; j++) {
        long c = buf.counts[j * buf.width + (int) ((h1 + j * h2) % buf.width)];
        if (Long.compareUnsigned(c, min) < 0) min = c;
      }
      // python: uint64 min .astype(int64) — same 64-bit pattern
      return min;
    }
  }

  /** bloom membership: all k double-hashed bits set — Bloom.contains_hashes. */
  public static final class BloomContains implements UDF2<byte[], Long, Boolean> {
    private static final long serialVersionUID = 1L;

    public BloomContains() {}

    @Override
    public Boolean call(byte[] blob, Long h) {
      if (blob == null || h == null) return null;
      BloomBlobMergeAggregator.Buf buf = new BloomBlobMergeAggregator.Buf();
      BloomBlobMergeAggregator.mergeBlob(buf, blob);
      requireXxhashDomain(buf.hashKind, "bloom");
      long h1 = h & 0xffffffffL;
      long h2 = (h >>> 32) | 1L;
      for (int j = 0; j < buf.k; j++) {
        long pos = (h1 + j * h2) % buf.mBits;
        if (((buf.bits[(int) (pos >>> 3)] >>> (pos & 7)) & 1) == 0) return false;
      }
      return true;
    }
  }

  /** minhash jaccard: fraction of equal signature slots — MinHash.jaccard,
   *  including its refusals (k differs, hash kind differs). */
  public static final class MinHashJaccard implements UDF2<byte[], byte[], Double> {
    private static final long serialVersionUID = 1L;

    public MinHashJaccard() {}

    @Override
    public Double call(byte[] a, byte[] b) {
      if (a == null || b == null) return null;
      MinHashBlobMergeAggregator.Buf ba = new MinHashBlobMergeAggregator.Buf();
      MinHashBlobMergeAggregator.mergeBlob(ba, a);
      MinHashBlobMergeAggregator.Buf bb = new MinHashBlobMergeAggregator.Buf();
      MinHashBlobMergeAggregator.mergeBlob(bb, b);
      if (ba.k != bb.k) throw new IllegalArgumentException("minhash k differs");
      if (ba.hashKind != bb.hashKind) {
        throw new IllegalArgumentException("hash kind of sketches differs");
      }
      int eq = 0;
      for (int i = 0; i < ba.k; i++) {
        if (ba.sig[i] == bb.sig[i]) eq++;
      }
      return (double) eq / ba.k;
    }
  }

  // -- t-digest ------------------------------------------------------------

  /** centroid "centers" of a decoded digest: sequential cumsum(weights)
   *  - 0.5*weights — np.cumsum is sequential, so a plain loop reproduces
   *  it bit-for-bit (the weights are integer counts, exact in double, so
   *  the sums are exact anyway). */
  static double[] centers(TDigestAggregator.Buf td) {
    double[] cum = new double[td.ncent];
    double run = 0.0;
    for (int i = 0; i < td.ncent; i++) {
      run += td.weights[i];
      cum[i] = run - 0.5 * td.weights[i];
    }
    return cum;
  }

  /** first index with a[i] >= v — np.searchsorted side='left'. */
  static int searchLeft(double[] a, double v) {
    int lo = 0;
    int hi = a.length;
    while (lo < hi) {
      int mid = (lo + hi) >>> 1;
      if (a[mid] < v) lo = mid + 1;
      else hi = mid;
    }
    return lo;
  }

  /** TDigest.quantile: interpolation over centroid centers. */
  public static final class TDigestQuantile implements UDF2<byte[], Object, Double> {
    private static final long serialVersionUID = 1L;

    public TDigestQuantile() {}

    @Override
    public Double call(byte[] blob, Object qArg) {
      if (blob == null || qArg == null) return null;
      double q = ((Number) qArg).doubleValue(); // SQL literals arrive as BigDecimal
      TDigestAggregator.Buf td = TDigestAggregator.fromBytes(blob);
      if (td.total == 0) return null;
      if (q <= 0) return td.vmin;
      if (q >= 1) return td.vmax;
      if (Double.isNaN(q)) return null;
      double target = q * td.total;
      double[] cum = centers(td);
      int idx = searchLeft(cum, target);
      double loX;
      double loC;
      double hiX;
      double hiC;
      if (idx == 0) {
        loX = td.vmin;
        loC = 0.0;
        hiX = td.means[0];
        hiC = cum[0];
      } else if (idx >= td.ncent) {
        loX = td.means[td.ncent - 1];
        loC = cum[cum.length - 1];
        hiX = td.vmax;
        hiC = td.total;
      } else {
        loX = td.means[idx - 1];
        loC = cum[idx - 1];
        hiX = td.means[idx];
        hiC = cum[idx];
      }
      if (hiC == loC) return loX;
      double frac = (target - loC) / (hiC - loC);
      return loX + frac * (hiX - loX);
    }
  }

  /** TDigest.rank: np.interp(x, means, centers, left=0, right=total)/total.
   *  Replicates numpy's slope formula on the interval found by
   *  largest-j-with-xp[j]<=x, including the NaN rescue for degenerate
   *  intervals. */
  public static final class TDigestRank implements UDF2<byte[], Object, Double> {
    private static final long serialVersionUID = 1L;

    public TDigestRank() {}

    @Override
    public Double call(byte[] blob, Object xArg) {
      if (blob == null || xArg == null) return null;
      double x = ((Number) xArg).doubleValue(); // SQL literals arrive as BigDecimal
      TDigestAggregator.Buf td = TDigestAggregator.fromBytes(blob);
      if (td.total == 0) return null;
      if (x <= td.vmin) return 0.0;
      if (x >= td.vmax) return 1.0;
      if (Double.isNaN(x)) return null;
      double[] xp = td.means;
      double[] fp = centers(td);
      int n = td.ncent;
      double r;
      if (n == 0 || x < xp[0]) {
        r = 0.0;
      } else if (x > xp[n - 1]) {
        r = td.total;
      } else {
        // largest j with xp[j] <= x
        int lo = 0;
        int hi = n;
        while (lo < hi) {
          int mid = (lo + hi) >>> 1;
          if (xp[mid] <= x) lo = mid + 1;
          else hi = mid;
        }
        int j = lo - 1;
        if (j == n - 1) {
          r = fp[n - 1];
        } else {
          double slope = (fp[j + 1] - fp[j]) / (xp[j + 1] - xp[j]);
          r = slope * (x - xp[j]) + fp[j];
          if (Double.isNaN(r)) {
            r = slope * (x - xp[j + 1]) + fp[j + 1];
            if (Double.isNaN(r) && fp[j] == fp[j + 1]) r = fp[j];
          }
        }
      }
      return r / td.total;
    }
  }

  // -- KLL -----------------------------------------------------------------

  /** KLL.quantile over the canonical blob (KllAggregator.fromBytes).
   *  Weighted items are
   *  concatenated level-by-level (weight 2^h) and STABLY sorted by value —
   *  numpy argsort semantics: -0.0 == 0.0 keep input order, NaN sorts
   *  last.  Weight sums are exact powers of two, so cumsum order is
   *  irrelevant to parity. */
  public static final class KllQuantile implements UDF2<byte[], Object, Double> {
    private static final long serialVersionUID = 1L;

    public KllQuantile() {}

    @Override
    public Double call(byte[] blob, Object qArg) {
      if (blob == null || qArg == null) return null;
      double q = ((Number) qArg).doubleValue(); // SQL literals arrive as BigDecimal
      KllAggregator.Buf kll = KllAggregator.fromBytes(blob);
      if (kll.total == 0) return null;
      if (q <= 0) return kll.vmin;
      if (q >= 1) return kll.vmax;
      if (Double.isNaN(q)) return null;
      int nitems = 0;
      for (int h = 0; h < kll.nlevels; h++) nitems += kll.levelLen[h];
      double[] vals = new double[nitems];
      double[] wts = new double[nitems];
      int p = 0;
      for (int h = 0; h < kll.nlevels; h++) {
        double w = Math.scalb(1.0, h); // exact 2^h for any level, no long shift overflow
        for (int i = 0; i < kll.levelLen[h]; i++) {
          vals[p] = kll.levels[h][i];
          wts[p++] = w;
        }
      }
      Integer[] order = new Integer[nitems];
      for (int i = 0; i < nitems; i++) order[i] = i;
      java.util.Arrays.sort(order, (x, y) -> {
        double a = vals[x];
        double b = vals[y];
        boolean na = Double.isNaN(a);
        boolean nb = Double.isNaN(b);
        if (na || nb) return na == nb ? 0 : (na ? 1 : -1);
        if (a == b) return 0; // -0.0 == 0.0: stable keeps input order
        return a < b ? -1 : 1;
      });
      double[] cum = new double[nitems];
      double run = 0.0;
      for (int i = 0; i < nitems; i++) {
        run += wts[order[i]];
        cum[i] = run;
      }
      double target = q * cum[nitems - 1];
      int idx = searchLeft(cum, target);
      if (idx > nitems - 1) idx = nitems - 1;
      return vals[order[idx]];
    }
  }
}

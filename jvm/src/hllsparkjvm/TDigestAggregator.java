package hllsparkjvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;

import com.esotericsoftware.kryo.Kryo;
import com.esotericsoftware.kryo.KryoSerializable;
import com.esotericsoftware.kryo.io.Input;
import com.esotericsoftware.kryo.io.Output;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * t-digest reduction as a typed aggregate buffer with a TWO-MODE buffer,
 * the quantile analogue of the HLL sparse→dense design:
 *
 *  - EXACT mode: an open-addressing value→count map (DoubleCountMap) while
 *    the buffer has ≤ exactCap distinct values.  If every buffer of a group
 *    stays exact, finish() folds the distinct values in ascending order
 *    exactly as hllspark.sketches.tdigest TDigest.update_weighted does —
 *    byte-identical to that fold (tested), and nothing larger than the true
 *    distinct set ever ships in the shuffle.
 *
 *  - DIGEST mode past exactCap: the map is folded into ≤ ~δ/2 k1-scale
 *    centroids (Dunning & Ertl 2019, the same kernel as
 *    hllspark.sketches.tdigest._compress) and the buffer stays BOUNDED —
 *    O(δ) centroids + an O(δ) pending batch — where a value-count reduction
 *    would ship one row per distinct value of a continuous column.
 *    Accuracy keeps the k1-scale rank-error bound; like every practical
 *    t-digest the centroid layout then depends on partition/merge order
 *    (within the bound), so digest-mode results are NOT bit-reproducible
 *    run-to-run — documented in hllspark.jvm_udaf.tdigest_jvm_udaf.
 *
 * finish() writes the canonical TDigest.to_bytes() bytes ({@link #toBytes}).
 * NULL values are skipped (NaN is projected to NULL before the aggregator);
 * ±inf are kept in the exact map but left out of the digest, as
 * update_weighted drops non-finite values.  A group with no values finishes
 * to a SQL NULL sketch (strict-aggregate contract); a group of only ±inf
 * finishes to an empty digest.
 */
public final class TDigestAggregator
    extends Aggregator<Double, TDigestAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  static final int HEADER = 36; // <BBHqddd

  private final int delta;
  private final int exactCap;

  public TDigestAggregator(int delta, int exactCap) {
    if (delta < 10 || delta > 10000) throw new IllegalArgumentException("delta must be in [10, 10000]");
    if (exactCap < 16) throw new IllegalArgumentException("exactCap must be >= 16");
    this.delta = delta;
    this.exactCap = exactCap;
  }

  /** Parallel-array quicksort of (v, w) by v ascending (no boxing). */
  static void sortPairs(double[] v, double[] w, int lo, int hi) {
    while (lo < hi) {
      if (hi - lo < 16) {
        for (int i = lo + 1; i <= hi; i++) {
          double kv = v[i], kw = w[i];
          int j = i - 1;
          while (j >= lo && v[j] > kv) {
            v[j + 1] = v[j];
            w[j + 1] = w[j];
            j--;
          }
          v[j + 1] = kv;
          w[j + 1] = kw;
        }
        return;
      }
      int mid = (lo + hi) >>> 1;
      double pivot = Math.max(Math.min(v[lo], v[mid]), Math.min(Math.max(v[lo], v[mid]), v[hi]));
      int i = lo, j = hi;
      while (i <= j) {
        while (v[i] < pivot) i++;
        while (v[j] > pivot) j--;
        if (i <= j) {
          double t = v[i]; v[i] = v[j]; v[j] = t;
          t = w[i]; w[i] = w[j]; w[j] = t;
          i++;
          j--;
        }
      }
      // recurse on the smaller side, loop on the larger (bounded stack)
      if (j - lo < hi - i) {
        sortPairs(v, w, lo, j);
        lo = i;
      } else {
        sortPairs(v, w, i, hi);
        hi = j;
      }
    }
  }

  /** numpy's pairwise_sum of a[lo, lo+n): sequential below 8 elements,
   *  eight interleaved accumulators up to 128, halved (at a multiple of 8)
   *  above that. */
  static double pairwiseSum(double[] a, int lo, int n) {
    if (n < 8) {
      double res = 0.;
      for (int i = 0; i < n; i++) res += a[lo + i];
      return res;
    }
    if (n <= 128) {
      double[] r = new double[8];
      System.arraycopy(a, lo, r, 0, 8);
      int i = 8;
      for (; i < n - (n % 8); i += 8) {
        for (int j = 0; j < 8; j++) r[j] += a[lo + i + j];
      }
      double res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]));
      for (; i < n; i++) res += a[lo + i];
      return res;
    }
    int n2 = n / 2;
    n2 -= n2 % 8;
    return pairwiseSum(a, lo, n2) + pairwiseSum(a, lo + n2, n - n2);
  }

  /** One segment of np.add.reduceat: the first element plus the pairwise
   *  sum of the rest. */
  static double reduceatSum(double[] a, int lo, int end) {
    return end - lo == 1 ? a[lo] : a[lo] + pairwiseSum(a, lo + 1, end - lo - 1);
  }

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    int delta;
    int exactCap;
    DoubleCountMap map; // non-null == exact mode

    // digest mode
    double[] means;   // sorted centroids
    double[] weights;
    int ncent;
    double[] pvals;   // unfolded pending batch
    double[] pwts;
    int npend;
    double total;
    double vmin = Double.POSITIVE_INFINITY;
    double vmax = Double.NEGATIVE_INFINITY;

    public Buf() {}

    Buf(int delta, int exactCap) {
      this.delta = delta;
      this.exactCap = exactCap;
      this.map = new DoubleCountMap();
    }

    private int pendCap() {
      return Math.max(512, 4 * delta);
    }

    /** k1-scale fold of sorted (v, w)[0..len) into this.means/weights —
     *  hllspark.sketches.tdigest._compress operation for operation, so an
     *  exact-mode finish is byte-identical to TDigest.update_weighted. */
    private void compressInto(double[] v, double[] w, int len) {
      // weights.sum(): numpy adds the pairwise sums of its 8192-element
      // buffer chunks in turn
      double W = 0;
      for (int lo = 0; lo < len; lo += 8192) W += pairwiseSum(w, lo, Math.min(8192, len - lo));
      if (W == 0) {
        ncent = 0;
        total = 0;
        return;
      }
      int[] starts = new int[len];
      int nseg = 0;
      double cum = 0; // np.cumsum is sequential
      long prevCluster = 0;
      double scale = delta / (2 * Math.PI);
      for (int i = 0; i < len; i++) {
        cum += w[i];
        double x = 2.0 * ((cum - 0.5 * w[i]) / W) - 1.0;
        if (x < -1.0) x = -1.0;
        if (x > 1.0) x = 1.0;
        long cluster = (long) Math.floor(scale * Math.asin(x) + delta / 4.0);
        if (i == 0 || cluster != prevCluster) starts[nseg++] = i;
        prevCluster = cluster;
      }
      double[] wm = new double[len];
      for (int i = 0; i < len; i++) wm[i] = w[i] * v[i];
      if (means == null || means.length < nseg) {
        means = new double[Math.max(nseg, delta + 8)];
        weights = new double[means.length];
      }
      for (int s = 0; s < nseg; s++) {
        int end = s + 1 < nseg ? starts[s + 1] : len;
        double ws = reduceatSum(w, starts[s], end);
        means[s] = reduceatSum(wm, starts[s], end) / ws;
        weights[s] = ws;
      }
      ncent = nseg;
      total = W;
    }

    /** Exact map → digest mode: the ascending weighted fold of its finite
     *  values (TDigest.update_weighted on a fresh digest). */
    void promote() {
      long[] bits = map.sortedValuesBits();
      double[] v = new double[bits.length];
      double[] w = new double[bits.length];
      int len = 0;
      for (long b : bits) {
        double x = Double.longBitsToDouble(b);
        if (Double.isInfinite(x)) continue;
        v[len] = x;
        w[len++] = map.countOf(x);
      }
      if (len > 0) {
        vmin = v[0];
        vmax = v[len - 1];
      }
      map = null;
      compressInto(v, w, len);
    }

    void flushPending() {
      if (npend == 0) return;
      sortPairs(pvals, pwts, 0, npend - 1);
      // linear merge of the sorted centroids with the sorted pending batch
      int len = ncent + npend;
      double[] v = new double[len];
      double[] w = new double[len];
      int i = 0, j = 0, o = 0;
      while (i < ncent && j < npend) {
        if (means[i] <= pvals[j]) {
          v[o] = means[i];
          w[o++] = weights[i++];
        } else {
          v[o] = pvals[j];
          w[o++] = pwts[j++];
        }
      }
      while (i < ncent) {
        v[o] = means[i];
        w[o++] = weights[i++];
      }
      while (j < npend) {
        v[o] = pvals[j];
        w[o++] = pwts[j++];
      }
      npend = 0;
      compressInto(v, w, len);
    }

    void addWeighted(double v, double wt) { // digest mode only
      if (pvals == null) {
        pvals = new double[pendCap()];
        pwts = new double[pendCap()];
      }
      if (v < vmin) vmin = v;
      if (v > vmax) vmax = v;
      pvals[npend] = v;
      pwts[npend] = wt;
      npend++;
      if (npend >= pvals.length) flushPending();
    }

    /** Mode-dispatching ingest (promotes when the exact map overflows). */
    void ingest(double v, long c) {
      if (map != null) {
        map.add(v, c);
        if (map.n > exactCap) promote();
      } else if (!Double.isInfinite(v)) {
        addWeighted(v, (double) c);
      }
    }

    // Kryo buffer transport (see HllRegisterAggregator.Buf.write for why)
    @Override
    public void write(Kryo kryo, Output out) {
      out.writeVarInt(delta, true);
      out.writeVarInt(exactCap, true);
      out.writeBoolean(map != null);
      if (map != null) {
        out.writeVarInt(map.n, true);
        for (int i = 0; i < map.keys.length; i++) {
          if (map.counts[i] != 0) {
            out.writeLong(map.keys[i]);
            out.writeVarLong(map.counts[i], true);
          }
        }
        return;
      }
      flushPending(); // ship only the folded centroids
      out.writeVarInt(ncent, true);
      out.writeDouble(total);
      out.writeDouble(vmin);
      out.writeDouble(vmax);
      for (int i = 0; i < ncent; i++) out.writeDouble(means[i]);
      for (int i = 0; i < ncent; i++) out.writeDouble(weights[i]);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      delta = in.readVarInt(true);
      exactCap = in.readVarInt(true);
      boolean exact = in.readBoolean();
      if (exact) {
        map = new DoubleCountMap();
        int cnt = in.readVarInt(true);
        for (int i = 0; i < cnt; i++) {
          long bits = in.readLong();
          map.add(Double.longBitsToDouble(bits), in.readVarLong(true));
        }
        return;
      }
      map = null;
      ncent = in.readVarInt(true);
      total = in.readDouble();
      vmin = in.readDouble();
      vmax = in.readDouble();
      means = new double[Math.max(ncent, delta + 8)];
      weights = new double[means.length];
      for (int i = 0; i < ncent; i++) means[i] = in.readDouble();
      for (int i = 0; i < ncent; i++) weights[i] = in.readDouble();
      npend = 0;
    }
  }

  @Override
  public Buf zero() {
    return new Buf(delta, exactCap);
  }

  @Override
  public Buf reduce(Buf buf, Double value) {
    if (value == null) return buf;
    buf.ingest(value, 1L);
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    if (a.map != null && c.map != null) {
      // exact × exact: sum the value multisets (ingest promotes a if the
      // union overflows, after which the rest streams into the digest)
      for (int i = 0; i < c.map.keys.length; i++) {
        if (c.map.counts[i] != 0) {
          a.ingest(Double.longBitsToDouble(c.map.keys[i]), c.map.counts[i]);
        }
      }
      return a;
    }
    if (a.map != null) a.promote();
    if (c.map != null) c.promote();
    a.flushPending();
    c.flushPending();
    if (c.ncent == 0) return a;
    if (c.vmin < a.vmin) a.vmin = c.vmin;
    if (c.vmax > a.vmax) a.vmax = c.vmax;
    int len = a.ncent + c.ncent;
    double[] v = new double[len];
    double[] w = new double[len];
    int i = 0, j = 0, o = 0;
    while (i < a.ncent && j < c.ncent) {
      if (a.means[i] <= c.means[j]) {
        v[o] = a.means[i];
        w[o++] = a.weights[i++];
      } else {
        v[o] = c.means[j];
        w[o++] = c.weights[j++];
      }
    }
    while (i < a.ncent) {
      v[o] = a.means[i];
      w[o++] = a.weights[i++];
    }
    while (j < c.ncent) {
      v[o] = c.means[j];
      w[o++] = c.weights[j++];
    }
    a.compressInto(v, w, len);
    return a;
  }

  /** Canonical sketch bytes; null (SQL NULL) for a group with no values. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.map != null) {
      if (buf.map.n == 0) return null;
      buf.promote();
    }
    return toBytes(buf);
  }

  /**
   * hllspark.sketches.tdigest TDigest.to_bytes() of a digest-mode buffer,
   * the one writer of both t-digest aggregators: little-endian header
   * {@code <BBHqddd} (version 1, pad, delta, n centroids, total, vmin,
   * vmax), then the n means and the n weights as f64.
   */
  static byte[] toBytes(Buf buf) {
    buf.flushPending();
    int n = buf.ncent;
    ByteBuffer bb = ByteBuffer.allocate(HEADER + 16 * n).order(ByteOrder.LITTLE_ENDIAN);
    bb.put((byte) 1).put((byte) 0).putShort((short) buf.delta).putLong(n);
    bb.putDouble(buf.total).putDouble(buf.vmin).putDouble(buf.vmax);
    for (int i = 0; i < n; i++) bb.putDouble(buf.means[i]);
    for (int i = 0; i < n; i++) bb.putDouble(buf.weights[i]);
    return bb.array();
  }

  /**
   * TDigest.from_bytes, the one decoder of canonical t-digest bytes (stored
   * merge and read UDFs): a digest-mode buffer whose centroid arrays are
   * exactly ncent long.  Refuses a newer version and a header that the
   * payload length disagrees with, with from_bytes's messages.
   */
  static Buf fromBytes(byte[] blob) {
    if (blob.length < HEADER) throw new IllegalArgumentException("tdigest header inconsistent with payload");
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    bb.get(); // pad
    Buf buf = new Buf();
    buf.delta = bb.getShort() & 0xffff;
    long n = bb.getLong();
    buf.total = bb.getDouble();
    buf.vmin = bb.getDouble();
    buf.vmax = bb.getDouble();
    if (version > 1) throw new IllegalArgumentException("unsupported tdigest version " + version);
    if (buf.delta < 10 || buf.delta > 10000 || n < 0 || n > blob.length || blob.length != HEADER + 16 * n) {
      throw new IllegalArgumentException("tdigest header inconsistent with payload");
    }
    buf.ncent = (int) n;
    buf.means = new double[buf.ncent];
    buf.weights = new double[buf.ncent];
    java.nio.DoubleBuffer db = bb.asDoubleBuffer();
    db.get(buf.means);
    db.get(buf.weights);
    return buf;
  }

  @Override
  public Encoder<Buf> bufferEncoder() {
    return Encoders.kryo(Buf.class);
  }

  @Override
  public Encoder<byte[]> outputEncoder() {
    return Encoders.BINARY();
  }
}

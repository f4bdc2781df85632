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
 * KLL reduction as a typed aggregate buffer with the same TWO-MODE design
 * as TDigestAggregator:
 *
 *  - EXACT mode (≤ exactCap distinct values): open-addressing value→count
 *    map; finish() replays hllspark.sketches.kll KLL.update_weighted (the
 *    sorted binary-weight-decomposition insert) over its finite values —
 *    byte-identical to that fold (tested).
 *
 *  - COMPACTOR mode past exactCap: real KLL levels (Karnin, Lang & Liberty
 *    2016) with the same capacity schedule, compaction order and
 *    deterministic alternating compaction coin as hllspark.sketches.kll
 *    (max(2, ceil(k·(2/3)^d)), offset = compactions & 1) — the buffer is
 *    BOUNDED at O(k) items regardless of input cardinality.  Level
 *    contents then depend on partition/merge order (within the ~1.33/k
 *    rank-error bound), so compactor-mode results are not bit-reproducible
 *    run-to-run — documented in hllspark.jvm_udaf.kll_jvm_udaf.
 *
 * finish() writes the canonical KLL.to_bytes() bytes ({@link #toBytes}).
 * NULLs skipped (NaN projected to NULL upstream); ±inf are kept in the
 * exact map but never enter a level, as KLL drops non-finite values.  A
 * group with no values finishes to a SQL NULL sketch (strict-aggregate
 * contract); a group of only ±inf finishes to an empty sketch.
 */
public final class KllAggregator
    extends Aggregator<Double, KllAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  static final int HEADER = 38; // <BBHHqqdd

  private final int k;
  private final int exactCap;

  public KllAggregator(int k, int exactCap) {
    if (k < 8 || k > 65535) throw new IllegalArgumentException("k must be in [8, 65535]");
    if (exactCap < 16) throw new IllegalArgumentException("exactCap must be >= 16");
    this.k = k;
    this.exactCap = exactCap;
  }

  /** max(2, ceil(k * (2/3)^(depth-1-height))) — kll.py _capacity. */
  static int capacity(int k, int depth, int height) {
    return Math.max(2, (int) Math.ceil(k * Math.pow(2.0 / 3.0, depth - 1 - height)));
  }

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    int k;
    int exactCap;
    DoubleCountMap map; // non-null == exact mode

    // compactor mode
    double[][] levels;  // levels[h][0..levelLen[h]) items of weight 2^h
    int[] levelLen;
    int nlevels;
    long total;
    long compactions;
    double vmin = Double.POSITIVE_INFINITY;
    double vmax = Double.NEGATIVE_INFINITY;

    public Buf() {}

    Buf(int k, int exactCap) {
      this.k = k;
      this.exactCap = exactCap;
      this.map = new DoubleCountMap();
    }

    private void ensureLevel(int h) {
      if (levels == null) {
        levels = new double[Math.max(h + 1, 4)][];
        levelLen = new int[levels.length];
      } else if (h >= levels.length) {
        double[][] nl = new double[Math.max(h + 1, levels.length * 2)][];
        int[] nn = new int[nl.length];
        System.arraycopy(levels, 0, nl, 0, nlevels);
        System.arraycopy(levelLen, 0, nn, 0, nlevels);
        levels = nl;
        levelLen = nn;
      }
      while (nlevels <= h) {
        if (levels[nlevels] == null) levels[nlevels] = new double[8];
        nlevels++;
      }
    }

    private void appendLevel(int h, double v) {
      ensureLevel(h);
      if (levelLen[h] == levels[h].length) {
        levels[h] = java.util.Arrays.copyOf(levels[h], levels[h].length * 2);
      }
      levels[h][levelLen[h]++] = v;
    }

    /** kll.py _compact: each pass walks the levels that existed when it
     *  began (a level created mid-pass waits for the next pass, after the
     *  lower levels whose capacity it shrank), so the exact-mode finish
     *  compacts in Python's order and draws the same coins. */
    void compact() {
      boolean changed = true;
      while (changed) {
        changed = false;
        for (int h = 0, depth = nlevels; h < depth; h++) {
          int cap = capacity(k, Math.max(nlevels, h + 2), h);
          if (levelLen[h] <= cap) continue;
          java.util.Arrays.sort(levels[h], 0, levelLen[h]);
          int offset = (int) (compactions & 1); // deterministic alternating coin
          compactions++;
          int len = levelLen[h];
          levelLen[h] = 0; // clear BEFORE promoting (promotion may grow arrays)
          for (int i = offset; i < len; i += 2) appendLevel(h + 1, levels[h][i]);
          changed = true;
        }
      }
    }

    /** Exact map → compactor mode: KLL.update_weighted of its finite
     *  values in ascending order (level-batched binary decomposition). */
    void promote() {
      long[] bits = map.sortedValuesBits();
      double[] v = new double[bits.length];
      long[] c = new long[bits.length];
      int len = 0;
      long maxc = 0;
      for (long b : bits) {
        double x = Double.longBitsToDouble(b);
        if (Double.isInfinite(x)) continue;
        v[len] = x;
        c[len] = map.countOf(x);
        maxc = Math.max(maxc, c[len++]);
      }
      map = null;
      ensureLevel(0);
      if (len == 0) return;
      vmin = v[0];
      vmax = v[len - 1];
      for (int i = 0; i < len; i++) total += c[i];
      // binary weight decomposition, level-batched like kll.py update_weighted
      for (int h = 0; h < 64 - Long.numberOfLeadingZeros(maxc); h++) {
        boolean any = false;
        for (int i = 0; i < len; i++) {
          if (((c[i] >> h) & 1L) == 1L) {
            appendLevel(h, v[i]);
            any = true;
          }
        }
        if (any) compact();
      }
    }

    void addOne(double v) { // compactor mode only
      if (Double.isInfinite(v)) return;
      if (v < vmin) vmin = v;
      if (v > vmax) vmax = v;
      total++;
      appendLevel(0, v);
      if (levelLen[0] > capacity(k, Math.max(nlevels, 2), 0)) compact();
    }

    void ingest(double v, long c) {
      if (map != null) {
        map.add(v, c);
        if (map.n > exactCap) promote();
        return;
      }
      // weighted insert via binary decomposition (exact, no sampling)
      if (Double.isInfinite(v)) return;
      if (v < vmin) vmin = v;
      if (v > vmax) vmax = v;
      total += c;
      for (int h = 0; h < 64 - Long.numberOfLeadingZeros(c); h++) {
        if (((c >> h) & 1L) == 1L) appendLevel(h, v);
      }
      compact();
    }

    // Kryo buffer transport (see HllRegisterAggregator.Buf.write for why)
    @Override
    public void write(Kryo kryo, Output out) {
      out.writeVarInt(k, true);
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
      out.writeVarInt(nlevels, true);
      out.writeVarLong(total, true);
      out.writeVarLong(compactions, true);
      out.writeDouble(vmin);
      out.writeDouble(vmax);
      for (int h = 0; h < nlevels; h++) {
        out.writeVarInt(levelLen[h], true);
        for (int i = 0; i < levelLen[h]; i++) out.writeDouble(levels[h][i]);
      }
    }

    @Override
    public void read(Kryo kryo, Input in) {
      k = in.readVarInt(true);
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
      int nl = in.readVarInt(true);
      total = in.readVarLong(true);
      compactions = in.readVarLong(true);
      vmin = in.readDouble();
      vmax = in.readDouble();
      for (int h = 0; h < nl; h++) {
        int len = in.readVarInt(true);
        ensureLevel(h);
        for (int i = 0; i < len; i++) appendLevel(h, in.readDouble());
      }
      if (nl == 0) ensureLevel(0);
    }
  }

  @Override
  public Buf zero() {
    return new Buf(k, exactCap);
  }

  @Override
  public Buf reduce(Buf buf, Double value) {
    if (value == null) return buf;
    if (buf.map != null) {
      buf.map.add(value, 1L);
      if (buf.map.n > exactCap) buf.promote();
    } else {
      buf.addOne(value);
    }
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    if (a.map != null && c.map != null) {
      for (int i = 0; i < c.map.keys.length; i++) {
        if (c.map.counts[i] != 0) {
          a.ingest(Double.longBitsToDouble(c.map.keys[i]), c.map.counts[i]);
        }
      }
      return a;
    }
    if (a.map != null) a.promote();
    if (c.map != null) c.promote();
    if (c.total == 0) return a;
    // kll.py merge: concatenate levels, sum totals/compactions, compact
    for (int h = 0; h < c.nlevels; h++) {
      for (int i = 0; i < c.levelLen[h]; i++) a.appendLevel(h, c.levels[h][i]);
    }
    a.total += c.total;
    a.compactions += c.compactions;
    if (c.vmin < a.vmin) a.vmin = c.vmin;
    if (c.vmax > a.vmax) a.vmax = c.vmax;
    a.compact();
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
   * hllspark.sketches.kll KLL.to_bytes() of a compactor-mode buffer, the one
   * writer of both KLL aggregators: little-endian header {@code <BBHHqqdd}
   * (version 1, pad, k, nlevels, total, compactions, vmin, vmax), then the
   * nlevels i32 level sizes, then each level's items as f64.
   */
  static byte[] toBytes(Buf buf) {
    int items = 0;
    for (int h = 0; h < buf.nlevels; h++) items += buf.levelLen[h];
    ByteBuffer bb = ByteBuffer.allocate(HEADER + 4 * buf.nlevels + 8 * items).order(ByteOrder.LITTLE_ENDIAN);
    bb.put((byte) 1).put((byte) 0).putShort((short) buf.k).putShort((short) buf.nlevels);
    bb.putLong(buf.total).putLong(buf.compactions).putDouble(buf.vmin).putDouble(buf.vmax);
    for (int h = 0; h < buf.nlevels; h++) bb.putInt(buf.levelLen[h]);
    for (int h = 0; h < buf.nlevels; h++) {
      for (int i = 0; i < buf.levelLen[h]; i++) bb.putDouble(buf.levels[h][i]);
    }
    return bb.array();
  }

  /**
   * KLL.from_bytes, the one decoder of canonical KLL bytes (stored merge
   * and read UDF): a compactor-mode buffer holding the stored levels.
   * Refuses a newer version, a k or level count no sketch has, and a header
   * that the payload length disagrees with, with from_bytes's messages.
   */
  static Buf fromBytes(byte[] blob) {
    if (blob.length < HEADER) throw new IllegalArgumentException("kll payload size inconsistent with header");
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    bb.get(); // pad
    Buf buf = new Buf();
    buf.k = bb.getShort() & 0xffff;
    int nlevels = bb.getShort() & 0xffff;
    buf.total = bb.getLong();
    buf.compactions = bb.getLong();
    buf.vmin = bb.getDouble();
    buf.vmax = bb.getDouble();
    if (version > 1) throw new IllegalArgumentException("unsupported kll version " + version);
    if (buf.k < 8 || nlevels > 64) {
      throw new IllegalArgumentException("kll header out of range: k=" + buf.k + " nlevels=" + nlevels);
    }
    if (blob.length < HEADER + 4L * nlevels) {
      throw new IllegalArgumentException("kll payload size inconsistent with header");
    }
    int[] sizes = new int[nlevels];
    long items = 0;
    for (int h = 0; h < nlevels; h++) {
      sizes[h] = bb.getInt();
      if (sizes[h] < 0) throw new IllegalArgumentException("negative kll level size");
      items += sizes[h];
    }
    if (blob.length != HEADER + 4L * nlevels + 8L * items) {
      throw new IllegalArgumentException("kll payload size inconsistent with header");
    }
    buf.ensureLevel(Math.max(nlevels, 1) - 1);
    for (int h = 0; h < nlevels; h++) {
      for (int i = 0; i < sizes[h]; i++) buf.appendLevel(h, bb.getDouble());
    }
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

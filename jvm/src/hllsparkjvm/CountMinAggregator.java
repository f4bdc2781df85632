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
 * Count-Min reduction as a typed aggregate buffer (TypedImperativeAggregate
 * via functions.udaf) — one flat long[depth×width] per group, updated in
 * place per row; merge is elementwise add.
 *
 * Bit-parity contract with hllspark.sketches.countmin.CountMin: positions
 * are the same double-hash split of the canonicalized xxhash64 input
 * (h1 = h & 0xFFFFFFFF, h2 = (h >>> 32) | 1, (h1 + j*h2) mod width — the
 * sum never exceeds ~2^38 so signed-64 floorMod equals the uint64 modulo),
 * and total counts ROWS added.  NULL hashes are skipped; an all-NULL group
 * leaves total == 0 and finishes to a SQL NULL sketch (the reference
 * strict-aggregate contract).  finish() writes the canonical
 * CountMin.to_bytes() bytes ({@link #toBytes}).
 */
public final class CountMinAggregator
    extends Aggregator<Long, CountMinAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  private final int width;
  private final int depth;

  public CountMinAggregator(int width, int depth) {
    if ((long) depth * width > Integer.MAX_VALUE) {
      // long[depth*width] multiplies two ints: without this guard a width
      // >= ~2^26 at depth 64 wraps to a NegativeArraySizeException on the
      // executors instead of a clear driver-side error
      throw new IllegalArgumentException("depth * width exceeds the flat JVM buffer limit (2^31-1 cells)");
    }
    this.width = width;
    this.depth = depth;
  }

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    int width;
    int depth;
    long[] counts; // depth × width, row-major
    long total;

    public Buf() {}

    Buf(int width, int depth) {
      this.width = width;
      this.depth = depth;
      this.counts = new long[depth * width];
    }

    // Kryo buffer transport (see HllRegisterAggregator.Buf.write for why).
    // Counts go var-length: most cells of a partial buffer hold small
    // values (or zero), so varints shrink the shuffled record well below
    // the flat 8 B/cell form.
    @Override
    public void write(Kryo kryo, Output out) {
      out.writeInt(width);
      out.writeInt(depth);
      out.writeVarLong(total, true);
      for (long c : counts) out.writeVarLong(c, true);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      width = in.readInt();
      depth = in.readInt();
      total = in.readVarLong(true);
      counts = new long[depth * width];
      for (int i = 0; i < counts.length; i++) counts[i] = in.readVarLong(true);
    }
  }

  @Override
  public Buf zero() {
    return new Buf(width, depth);
  }

  @Override
  public Buf reduce(Buf buf, Long value) {
    if (value == null) return buf;
    long h = value;
    long h1 = h & 0xFFFFFFFFL;
    long h2 = (h >>> 32) | 1L;
    for (int j = 0; j < depth; j++) {
      int pos = (int) Math.floorMod(h1 + j * h2, (long) width);
      buf.counts[j * width + pos]++;
    }
    buf.total++;
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    for (int i = 0; i < a.counts.length; i++) a.counts[i] += c.counts[i];
    a.total += c.total;
    return a;
  }

  /** Canonical sketch bytes; null (SQL NULL) for a group with no values. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.total == 0) return null;
    return toBytes(buf.counts, buf.width, buf.depth, buf.total, HllConstants.HASH_XXHASH_SPARK);
  }

  /**
   * hllspark.sketches.countmin CountMin.to_bytes(), the one writer of both
   * count-min aggregators: little-endian header {@code <BBHIq} (version 1,
   * hash_kind, depth, width, total), then the row-major depth×width counts
   * in the narrowest unsigned width (1, 2, 4 or 8 bytes) that holds the
   * largest count.
   */
  static byte[] toBytes(long[] counts, int width, int depth, long total, int hashKind) {
    long mx = 0;
    for (long c : counts) {
      if (Long.compareUnsigned(c, mx) > 0) mx = c;
    }
    int size = Long.compareUnsigned(mx, 1L << 8) < 0 ? 1
        : Long.compareUnsigned(mx, 1L << 16) < 0 ? 2
        : Long.compareUnsigned(mx, 1L << 32) < 0 ? 4 : 8;
    ByteBuffer bb = ByteBuffer.allocate(16 + size * counts.length).order(ByteOrder.LITTLE_ENDIAN);
    bb.put((byte) 1).put((byte) hashKind).putShort((short) depth).putInt(width).putLong(total);
    for (long c : counts) {
      switch (size) {
        case 1: bb.put((byte) c); break;
        case 2: bb.putShort((short) c); break;
        case 4: bb.putInt((int) c); break;
        default: bb.putLong(c); break;
      }
    }
    return bb.array();
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

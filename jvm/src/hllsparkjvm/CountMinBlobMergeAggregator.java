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
 * Merge of STORED canonical CountMin sketch blobs — the sibling of
 * HllMergeAggregator for count-min rollup tables: each input row is
 * hllspark.sketches.countmin.CountMin.to_bytes (header {@code <BBHIq}:
 * version, hash_kind, depth, width, total; payload in the narrowest
 * unsigned dtype that fits, derived from the payload length), decoded and
 * elementwise-added in the JVM.  Parameterless: (width, depth, hash_kind)
 * adopt from the first counter; mismatches refuse to merge exactly like
 * CountMin.merge.  finish() writes the canonical bytes
 * (CountMinAggregator.toBytes).  NULL blobs skipped; an all-NULL group
 * (buffer still uninitialized, width == 0) finishes to a SQL NULL sketch,
 * while total == 0 with width > 0 is a LEGITIMATE empty stored sketch.
 */
public final class CountMinBlobMergeAggregator
    extends Aggregator<byte[], CountMinBlobMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public CountMinBlobMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    int width;  // 0 == uninitialized
    int depth;
    int hashKind = -1;
    long[] counts;
    long total;

    public Buf() {}

    @Override
    public void write(Kryo kryo, Output out) {
      out.writeInt(width);
      if (width == 0) return;
      out.writeInt(depth);
      out.writeByte(hashKind);
      out.writeVarLong(total, true);
      for (long c : counts) out.writeVarLong(c, true);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      width = in.readInt();
      if (width == 0) return;
      depth = in.readInt();
      hashKind = in.readByte();
      total = in.readVarLong(true);
      counts = new long[depth * width];
      for (int i = 0; i < counts.length; i++) counts[i] = in.readVarLong(true);
    }
  }

  static void mergeBlob(Buf buf, byte[] blob) {
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    int hashKind = bb.get() & 0xff;
    int depth = bb.getShort() & 0xffff;
    long width = bb.getInt() & 0xffffffffL;
    long total = bb.getLong();
    if (version > 1) throw new IllegalArgumentException("unsupported countmin version " + version);
    if (depth < 1 || width < 1 || (long) depth * width > Integer.MAX_VALUE) {
      throw new IllegalArgumentException("countmin header out of range: depth=" + depth + " width=" + width);
    }
    int cells = depth * (int) width;
    int itemsize = (blob.length - 16) / cells;
    if (itemsize * cells != blob.length - 16 || Integer.bitCount(itemsize) != 1 || itemsize > 8) {
      throw new IllegalArgumentException("countmin payload size inconsistent with header");
    }
    if (buf.width == 0) {
      buf.width = (int) width;
      buf.depth = depth;
      buf.hashKind = hashKind;
      buf.counts = new long[cells];
    } else {
      if (buf.width != (int) width || buf.depth != depth) {
        throw new IllegalArgumentException("count-min dimensions differ");
      }
      if (buf.hashKind != hashKind) {
        throw new IllegalArgumentException("hash kind of sketches differs");
      }
    }
    int off = 16;
    for (int i = 0; i < cells; i++) {
      long v;
      switch (itemsize) {
        case 1: v = blob[off + i] & 0xffL; break;
        case 2: v = bb.getShort(off + 2 * i) & 0xffffL; break;
        case 4: v = bb.getInt(off + 4 * i) & 0xffffffffL; break;
        default: v = bb.getLong(off + 8 * i); break;
      }
      buf.counts[i] += v;
    }
    buf.total += total;
  }

  @Override
  public Buf zero() {
    return new Buf();
  }

  @Override
  public Buf reduce(Buf buf, byte[] blob) {
    if (blob == null) return buf;
    mergeBlob(buf, blob);
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    if (c.width == 0) return a;
    if (a.width == 0) return c;
    if (a.width != c.width || a.depth != c.depth) {
      throw new IllegalArgumentException("count-min dimensions differ");
    }
    if (a.hashKind != c.hashKind) {
      throw new IllegalArgumentException("hash kind of sketches differs");
    }
    for (int i = 0; i < a.counts.length; i++) a.counts[i] += c.counts[i];
    a.total += c.total;
    return a;
  }

  /** Canonical bytes of the merged sketch; null (SQL NULL) when every input was NULL. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.width == 0) return null;
    return CountMinAggregator.toBytes(buf.counts, buf.width, buf.depth, buf.total, buf.hashKind);
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

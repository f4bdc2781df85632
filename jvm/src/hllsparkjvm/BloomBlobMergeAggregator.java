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
 * Merge of STORED canonical Bloom filter blobs
 * (hllspark.sketches.bloom.Bloom.to_bytes, header {@code <BBHqq}: version,
 * hash_kind, k, m_bits, n_added; payload bit bytes).  Bitwise-OR merge,
 * n_added summed (an upper bound, duplicates double-counted — exactly
 * Bloom.merge).  Parameterless, adopts (m_bits, k, hash_kind) from the
 * first filter, refuses mismatches.  finish() writes the canonical bytes
 * (BloomAggregator.toBytes); an all-NULL group (m_bits still 0) finishes
 * to a SQL NULL sketch.
 */
public final class BloomBlobMergeAggregator
    extends Aggregator<byte[], BloomBlobMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public BloomBlobMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    long mBits; // 0 == uninitialized
    int k;
    int hashKind = -1;
    byte[] bits;
    long nAdded;

    public Buf() {}

    @Override
    public void write(Kryo kryo, Output out) {
      out.writeLong(mBits);
      if (mBits == 0) return;
      out.writeInt(k);
      out.writeByte(hashKind);
      out.writeVarLong(nAdded, true);
      out.writeBytes(bits);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      mBits = in.readLong();
      if (mBits == 0) return;
      k = in.readInt();
      hashKind = in.readByte();
      nAdded = in.readVarLong(true);
      bits = in.readBytes((int) ((mBits + 7) / 8));
    }
  }

  static void mergeBlob(Buf buf, byte[] blob) {
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    int hashKind = bb.get() & 0xff;
    int k = bb.getShort() & 0xffff;
    long mBits = bb.getLong();
    long nAdded = bb.getLong();
    if (version > 1) throw new IllegalArgumentException("unsupported bloom version " + version);
    long nbytes = (mBits + 7) / 8;
    if (mBits < 8 || nbytes != blob.length - 20) {
      throw new IllegalArgumentException("bloom header inconsistent with payload size");
    }
    if (buf.mBits == 0) {
      buf.mBits = mBits;
      buf.k = k;
      buf.hashKind = hashKind;
      buf.bits = new byte[(int) nbytes];
    } else {
      if (buf.mBits != mBits || buf.k != k) {
        throw new IllegalArgumentException("bloom dimensions differ");
      }
      if (buf.hashKind != hashKind) {
        throw new IllegalArgumentException("hash kind of sketches differs");
      }
    }
    for (int i = 0; i < buf.bits.length; i++) buf.bits[i] |= blob[20 + i];
    buf.nAdded += nAdded;
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
    if (c.mBits == 0) return a;
    if (a.mBits == 0) return c;
    if (a.mBits != c.mBits || a.k != c.k) {
      throw new IllegalArgumentException("bloom dimensions differ");
    }
    if (a.hashKind != c.hashKind) {
      throw new IllegalArgumentException("hash kind of sketches differs");
    }
    for (int i = 0; i < a.bits.length; i++) a.bits[i] |= c.bits[i];
    a.nAdded += c.nAdded;
    return a;
  }

  /** Canonical bytes of the merged filter; null (SQL NULL) when every input was NULL. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.mBits == 0) return null;
    return BloomAggregator.toBytes(buf.bits, buf.mBits, buf.k, buf.nAdded, buf.hashKind);
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

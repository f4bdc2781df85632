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
 * Bloom-filter reduction as a typed aggregate buffer — one bit-packed
 * byte[ceil(m/8)] per group, updated in place per row; merge is bitwise OR
 * (n_added sums: it counts ROWS added, duplicates included, matching
 * hllspark.sketches.bloom.Bloom.add_hashes).
 *
 * Positions are the Kirsch–Mitzenmacher double hash of the canonicalized
 * xxhash64 input, identical to the Python kernels (see CountMinAggregator
 * for the arithmetic-parity argument).  NULL hashes are skipped; an
 * all-NULL group leaves n_added == 0 and finishes to a SQL NULL sketch.
 * finish() writes the canonical Bloom.to_bytes() bytes ({@link #toBytes}).
 */
public final class BloomAggregator
    extends Aggregator<Long, BloomAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  private final long mBits;
  private final int k;

  public BloomAggregator(long mBits, int k) {
    this.mBits = mBits;
    this.k = k;
  }

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    long mBits;
    int k;
    byte[] bits; // ceil(mBits/8), LSB-first within each byte
    long nAdded;

    public Buf() {}

    Buf(long mBits, int k) {
      long nbytes = (mBits + 7) / 8;
      if (mBits < 8 || nbytes > Integer.MAX_VALUE) {
        throw new IllegalArgumentException("m_bits out of range for a JVM byte[] buffer: " + mBits);
      }
      this.mBits = mBits;
      this.k = k;
      this.bits = new byte[(int) nbytes];
    }

    // Kryo buffer transport (see HllRegisterAggregator.Buf.write for why)
    @Override
    public void write(Kryo kryo, Output out) {
      out.writeLong(mBits);
      out.writeInt(k);
      out.writeVarLong(nAdded, true);
      out.writeBytes(bits);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      mBits = in.readLong();
      k = in.readInt();
      nAdded = in.readVarLong(true);
      bits = in.readBytes((int) ((mBits + 7) / 8));
    }
  }

  @Override
  public Buf zero() {
    return new Buf(mBits, k);
  }

  @Override
  public Buf reduce(Buf buf, Long value) {
    if (value == null) return buf;
    long h = value;
    long h1 = h & 0xFFFFFFFFL;
    long h2 = (h >>> 32) | 1L;
    for (int j = 0; j < k; j++) {
      long pos = Math.floorMod(h1 + j * h2, mBits);
      buf.bits[(int) (pos >>> 3)] |= (byte) (1 << (pos & 7));
    }
    buf.nAdded++;
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    for (int i = 0; i < a.bits.length; i++) a.bits[i] |= c.bits[i];
    a.nAdded += c.nAdded;
    return a;
  }

  /** Canonical sketch bytes; null (SQL NULL) for a group with no values. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.nAdded == 0) return null;
    return toBytes(buf.bits, buf.mBits, buf.k, buf.nAdded, HllConstants.HASH_XXHASH_SPARK);
  }

  /**
   * hllspark.sketches.bloom Bloom.to_bytes(), the one writer of both Bloom
   * aggregators: little-endian header {@code <BBHqq} (version 1, hash_kind,
   * k, m_bits, n_added), then the ceil(m/8) bit bytes.
   */
  static byte[] toBytes(byte[] bits, long mBits, int k, long nAdded, int hashKind) {
    ByteBuffer bb = ByteBuffer.allocate(20 + bits.length).order(ByteOrder.LITTLE_ENDIAN);
    bb.put((byte) 1).put((byte) hashKind).putShort((short) k).putLong(mBits).putLong(nAdded);
    return bb.put(bits).array();
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

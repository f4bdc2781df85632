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
 * MinHash signature reduction as a typed aggregate buffer — the fourth
 * aggregator in the jar, same pattern as HllRegisterAggregator: flat
 * long[k] signature per group mutated in place per row, merge is
 * elementwise unsigned min (associative, commutative, idempotent — the
 * final signature is a pure function of the value set, like HLL's
 * register max).
 *
 * Bit-parity contract with the python engine's minhash._remix_spark: each
 * row's k derived hashes are
 * Spark's own xxhash64(hash_col, lit(j)) chain for j = 1..k — seed 42
 * hashLong over the canonicalized input hash, then hashInt over the
 * 4-byte literal j (XXH64, Yann Collet, BSD; the two fixed-width paths
 * replicated below) — serialization v2 semantics for hash_kind=1.
 * finish() writes the canonical MinHash.to_bytes() bytes ({@link #toBytes}).
 *
 * NULL hashes are skipped; an all-NULL group leaves n == 0 and finishes to
 * a SQL NULL sketch (strict-aggregate contract).
 */
public final class MinHashAggregator
    extends Aggregator<Long, MinHashAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  private static final long P1 = 0x9E3779B185EBCA87L;
  private static final long P2 = 0xC2B2AE3D27D4EB4FL;
  private static final long P3 = 0x165667B19E3779F9L;
  private static final long P4 = 0x85EBCA77C2B2AE63L;
  private static final long P5 = 0x27D4EB2F165667C5L;
  private static final long SEED = 42L;

  private final int k;

  public MinHashAggregator(int k) {
    this.k = k;
  }

  static long avalanche(long h) {
    h ^= h >>> 33;
    h *= P2;
    h ^= h >>> 29;
    h *= P3;
    h ^= h >>> 32;
    return h;
  }

  /** Spark XXH64.hashLong: the value's 8 LE bytes. */
  static long hashLong(long x, long seed) {
    long h = seed + P5 + 8;
    long k1 = Long.rotateLeft(x * P2, 31) * P1;
    h ^= k1;
    h = Long.rotateLeft(h, 27) * P1 + P4;
    return avalanche(h);
  }

  /** Spark XXH64.hashInt: the value's 4 LE bytes (IntegerType literals). */
  static long hashInt(int x, long seed) {
    long h = seed + P5 + 4;
    h ^= (x & 0xFFFFFFFFL) * P1;
    h = Long.rotateLeft(h, 23) * P2 + P3;
    return avalanche(h);
  }

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    long[] sig; // unsigned mins; -1L (uint64 max) == empty slot
    long n;     // non-NULL values added

    public Buf() {}

    Buf(int k) {
      this.sig = new long[k];
      java.util.Arrays.fill(this.sig, -1L);
    }

    // Kryo buffer transport (see HllRegisterAggregator.Buf.write for why)
    @Override
    public void write(Kryo kryo, Output out) {
      out.writeVarInt(sig.length, true);
      out.writeVarLong(n, true);
      out.writeLongs(sig); // kryo 4.x API (no offset/count form)
    }

    @Override
    public void read(Kryo kryo, Input in) {
      int k = in.readVarInt(true);
      n = in.readVarLong(true);
      sig = in.readLongs(k);
    }
  }

  @Override
  public Buf zero() {
    return new Buf(k);
  }

  @Override
  public Buf reduce(Buf buf, Long value) {
    if (value == null) return buf;
    long s0 = hashLong(value, SEED); // xxhash64(h) — shared prefix of every slot's chain
    for (int j = 1; j <= k; j++) {
      long d = hashInt(j, s0); // == Spark xxhash64(h, lit(j))
      if (Long.compareUnsigned(d, buf.sig[j - 1]) < 0) buf.sig[j - 1] = d;
    }
    buf.n++;
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    for (int i = 0; i < a.sig.length; i++) {
      if (Long.compareUnsigned(c.sig[i], a.sig[i]) < 0) a.sig[i] = c.sig[i];
    }
    a.n += c.n;
    return a;
  }

  /** Canonical sketch bytes; null (SQL NULL) for a group with no values. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.n == 0) return null;
    return toBytes(buf.sig, buf.n, HllConstants.HASH_XXHASH_SPARK);
  }

  /**
   * hllspark.sketches.minhash MinHash.to_bytes() (serialization v2), the
   * one writer of both MinHash aggregators: little-endian header
   * {@code <BBHq} (version 2, hash_kind, k, n_added), then k × u64 slots.
   */
  static byte[] toBytes(long[] sig, long n, int hashKind) {
    ByteBuffer bb = ByteBuffer.allocate(12 + 8 * sig.length).order(ByteOrder.LITTLE_ENDIAN);
    bb.put((byte) 2).put((byte) hashKind).putShort((short) sig.length).putLong(n);
    for (long s : sig) bb.putLong(s);
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

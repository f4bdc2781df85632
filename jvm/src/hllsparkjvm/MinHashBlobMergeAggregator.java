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
 * Merge of STORED canonical MinHash signature blobs
 * (hllspark.sketches.minhash.MinHash.to_bytes, header {@code <BBHq}:
 * version, hash_kind, k, n_added; payload k × u64 slots).  Elementwise
 * unsigned-min merge, n_added summed — exactly MinHash.merge, so results
 * are byte-identical to the python path (min is exact and order-free).
 * Replicates the serialization-v2 guard: v1 blobs with hash_kind=1 used
 * the old splitmix remix and refuse to decode.  finish() writes the
 * canonical v2 bytes (MinHashAggregator.toBytes); an all-NULL group (k
 * still 0) finishes to a SQL NULL sketch.
 */
public final class MinHashBlobMergeAggregator
    extends Aggregator<byte[], MinHashBlobMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public MinHashBlobMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    int k; // 0 == uninitialized
    int hashKind = -1;
    long[] sig;
    long n;

    public Buf() {}

    @Override
    public void write(Kryo kryo, Output out) {
      out.writeInt(k);
      if (k == 0) return;
      out.writeByte(hashKind);
      out.writeVarLong(n, true);
      out.writeLongs(sig);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      k = in.readInt();
      if (k == 0) return;
      hashKind = in.readByte();
      n = in.readVarLong(true);
      sig = in.readLongs(k);
    }
  }

  static void mergeBlob(Buf buf, byte[] blob) {
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    int hashKind = bb.get() & 0xff;
    int k = bb.getShort() & 0xffff;
    long n = bb.getLong();
    if (version > 2) throw new IllegalArgumentException("unsupported minhash version " + version);
    if (version < 2 && hashKind == 1) {
      throw new IllegalArgumentException(
          "minhash v1 blobs with hash_kind=1 used the splitmix64 remix; "
              + "v2 derives slots via the xxhash64(h, j) chain — rebuild the sketch");
    }
    if (k < 1 || blob.length != 12 + 8 * k) {
      throw new IllegalArgumentException("minhash header inconsistent with payload size");
    }
    if (buf.k == 0) {
      buf.k = k;
      buf.hashKind = hashKind;
      buf.sig = new long[k];
      for (int i = 0; i < k; i++) buf.sig[i] = bb.getLong(12 + 8 * i);
    } else {
      if (buf.k != k) throw new IllegalArgumentException("minhash k differs");
      if (buf.hashKind != hashKind) {
        throw new IllegalArgumentException("hash kind of sketches differs");
      }
      for (int i = 0; i < k; i++) {
        long v = bb.getLong(12 + 8 * i);
        if (Long.compareUnsigned(v, buf.sig[i]) < 0) buf.sig[i] = v;
      }
    }
    buf.n += n;
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
    if (c.k == 0) return a;
    if (a.k == 0) return c;
    if (a.k != c.k) throw new IllegalArgumentException("minhash k differs");
    if (a.hashKind != c.hashKind) {
      throw new IllegalArgumentException("hash kind of sketches differs");
    }
    for (int i = 0; i < a.k; i++) {
      if (Long.compareUnsigned(c.sig[i], a.sig[i]) < 0) a.sig[i] = c.sig[i];
    }
    a.n += c.n;
    return a;
  }

  /** Canonical bytes of the merged signature; null (SQL NULL) when every input was NULL. */
  @Override
  public byte[] finish(Buf buf) {
    if (buf.k == 0) return null;
    return MinHashAggregator.toBytes(buf.sig, buf.n, buf.hashKind);
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

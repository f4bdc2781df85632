package hllsparkjvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.zip.DataFormatException;
import java.util.zip.Inflater;

import com.esotericsoftware.kryo.Kryo;
import com.esotericsoftware.kryo.KryoSerializable;
import com.esotericsoftware.kryo.io.Input;
import com.esotericsoftware.kryo.io.Output;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Merge of STORED canonical sketch blobs as a typed aggregate buffer — the
 * reference's {@code sum(hyperloglog_estimator)} / {@code
 * hyperloglog_merge(agg)} re-aggregation workflow (README.md:135-166,
 * postgres.sql:248-262) with the whole reduction in the JVM: each input row
 * is a serialized hllspark HLL counter (any payload encoding), decoded and
 * register-merged in place, and finish() writes the merged counter's
 * canonical bytes (HllRegisterAggregator.toBytes), so results are
 * byte-identical to agg.merge_partials (tested).
 *
 * Decodes every v1/v2 payload form of hllspark.core.hll.to_bytes
 * (header {@code <BbBBi}: version, b, binbits, flags, idx):
 * raw sparse u32 list, delta+group-varint sparse (tags-first layout,
 * compress_sparse), raw dense registers, bit-packed dense (MSB-first at
 * binbits bits, _pack_registers), and zlib-deflated dense.  Unknown flag
 * bits and newer versions fail loudly (the forward-compat contract of
 * core/hll.py _KNOWN_FLAGS), and so does a payload shorter than its header
 * promises.
 *
 * The aggregator is PARAMETERLESS: the buffer adopts (b, binbits,
 * hash_kind) from the first non-NULL blob and refuses to merge mismatched
 * parameters or hash kinds — the reference errors on mismatched b/binbits
 * (hyperloglog.c:858-874) and the hash_kind flag exists precisely to stop
 * differently-hashed sketches merging (CLAUDE.md invariant).  NULL blobs
 * are skipped; an all-NULL group finishes to a SQL NULL sketch
 * (strict-aggregate contract), while a group of EMPTY stored counters
 * finishes to an empty counter.
 */
public final class HllMergeAggregator
    extends Aggregator<byte[], HllMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public HllMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    HllRegisterAggregator.Buf state; // null until the first non-NULL blob
    int hashKind = -1;

    public Buf() {}

    @Override
    public void write(Kryo kryo, Output out) {
      out.writeBoolean(state != null);
      if (state == null) return;
      out.writeByte(hashKind);
      state.write(kryo, out);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      if (!in.readBoolean()) {
        state = null;
        hashKind = -1;
        return;
      }
      hashKind = in.readByte();
      state = new HllRegisterAggregator.Buf();
      state.read(kryo, in);
    }
  }

  // -- canonical blob decoding ----------------------------------------------

  /** MSB-first bit-packed registers (core/hll.py _pack_registers). */
  static byte[] unpackRegisters(byte[] payload, int off, int m, int binbits) {
    byte[] regs = new byte[m];
    int mask = (1 << binbits) - 1;
    for (int i = 0; i < m; i++) {
      int bitpos = i * binbits;
      int byteIdx = off + (bitpos >> 3);
      int shift = bitpos & 7;
      int v = (payload[byteIdx] & 0xff) << 8;
      if (byteIdx + 1 < payload.length) v |= payload[byteIdx + 1] & 0xff;
      regs[i] = (byte) ((v >> (16 - shift - binbits)) & mask);
    }
    return regs;
  }

  static final String TRUNCATED = "truncated group-varint sparse payload";

  /**
   * Inverse of core/hll.py compress_sparse (tags-first group varint) over payload[off:]: exactly
   * n entries must fill the payload to its end, else IllegalArgumentException (the same refusal
   * as decompress_sparse).
   */
  static int[] decompressSparse(byte[] payload, int off, int n) {
    long[] deltas = new long[n];
    int ngroups = n / 4;
    int pos = off + ngroups; // data bytes start after all tag bytes
    if (pos > payload.length) throw new IllegalArgumentException(TRUNCATED);
    for (int g = 0; g < ngroups; g++) {
      int tag = payload[off + g] & 0xff;
      for (int j = 0; j < 4; j++) {
        int len = ((tag >> (2 * j)) & 3) + 1;
        if (pos + len > payload.length) throw new IllegalArgumentException(TRUNCATED);
        long v = 0;
        for (int k = 0; k < len; k++) { // little-endian value bytes
          v |= (long) (payload[pos + k] & 0xff) << (8 * k);
        }
        deltas[g * 4 + j] = v;
        pos += len;
      }
    }
    for (int i = ngroups * 4; i < n; i++) { // continuation-bit varint tail
      long v = 0;
      int shift = 0;
      while (true) {
        if (pos >= payload.length) throw new IllegalArgumentException(TRUNCATED);
        int by = payload[pos++] & 0xff;
        v |= (long) (by & 0x7f) << shift;
        if ((by & 0x80) == 0) break;
        shift += 7;
      }
      deltas[i] = v;
    }
    if (pos != payload.length) throw new IllegalArgumentException(TRUNCATED);
    int[] enc = new int[n];
    long run = 0;
    for (int i = 0; i < n; i++) {
      run += deltas[i];
      enc[i] = (int) run; // uint32 bit pattern
    }
    return enc;
  }

  static final String TRUNCATED_PAYLOAD = "truncated sketch payload";

  /** Header fields of a canonical counter. */
  record Header(int b, int binbits, int flags, int idx) {
    boolean dense() {
      return (flags & HllConstants.FLAG_DENSE) != 0;
    }

    int hashKind() {
      return (flags & HllConstants.HASH_KIND_MASK) >>> HllConstants.HASH_KIND_SHIFT;
    }
  }

  /**
   * Read and validate a counter's header: a newer version, parameters out
   * of range, unknown flag bits, or a raw-sparse / raw-dense / bit-packed
   * payload shorter than the header promises (core/hll.py from_bytes's
   * checks) throw IllegalArgumentException.
   */
  static Header readHeader(byte[] blob) {
    ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
    int version = bb.get() & 0xff;
    int b = bb.get(); // signed i8 — negative would be a reference-compressed flag form
    int binbits = bb.get() & 0xff;
    int flags = bb.get() & 0xff;
    int idx = bb.getInt();
    if (version > HllConstants.STRUCT_VERSION) {
      throw new IllegalArgumentException("unsupported sketch version " + version);
    }
    if (b < 4 || b > 18 || binbits < 4 || binbits > 8) {
      // a reference-legacy blob (negative b = compressed flag) or corrupt
      // bytes would otherwise mis-shift silently (Java shifts are mod 64)
      throw new IllegalArgumentException(
          "sketch header out of range (b=" + b + ", binbits=" + binbits + "): not a canonical hllspark counter");
    }
    if ((flags & ~HllConstants.KNOWN_FLAGS) != 0) {
      throw new IllegalArgumentException(String.format(
          "sketch flags 0x%02x carry payload-encoding bits unknown to this decoder", flags));
    }
    long need = 0; // the group-varint and deflate forms check their own lengths
    if ((flags & HllConstants.FLAG_DENSE) == 0) {
      if ((flags & HllConstants.FLAG_VARINT) == 0) need = 4L * idx;
    } else if ((flags & HllConstants.FLAG_DEFLATE) == 0) {
      need = (flags & HllConstants.FLAG_PACKED) != 0 ? (((long) binbits << b) + 7) / 8 : 1L << b;
    }
    if (blob.length - 8 < need) throw new IllegalArgumentException(TRUNCATED_PAYLOAD);
    return new Header(b, binbits, flags, idx);
  }

  /** Merge one serialized counter into the buffer. */
  static void mergeBlob(Buf buf, byte[] blob) {
    Header h = readHeader(blob);
    int b = h.b();
    int binbits = h.binbits();
    int flags = h.flags();
    int idx = h.idx();
    int hashKind = h.hashKind();
    if (buf.state == null) {
      HllRegisterAggregator proto = new HllRegisterAggregator(b, binbits);
      buf.state = proto.zero();
      buf.hashKind = hashKind;
    } else {
      if (buf.state.b != b || buf.state.binbits != binbits) {
        throw new IllegalArgumentException(String.format(
            "cannot merge sketches with different parameters: b=%d/binbits=%d vs b=%d/binbits=%d",
            buf.state.b, buf.state.binbits, b, binbits));
      }
      if (buf.hashKind != hashKind) {
        throw new IllegalArgumentException("hash kind of sketches differs; refusing to merge");
      }
    }
    int off = 8; // header size
    if (h.dense()) {
      int m = 1 << b;
      byte[] regs;
      if ((flags & HllConstants.FLAG_DEFLATE) != 0) {
        regs = new byte[m];
        Inflater inf = new Inflater();
        inf.setInput(blob, off, blob.length - off);
        try {
          int got = 0;
          while (got < m && !inf.finished()) {
            int r = inf.inflate(regs, got, m - got);
            if (r == 0) break;
            got += r;
          }
          if (got != m) throw new IllegalArgumentException("truncated deflate dense payload");
        } catch (DataFormatException e) {
          throw new IllegalArgumentException("corrupt deflate dense payload", e);
        } finally {
          inf.end();
        }
      } else if ((flags & HllConstants.FLAG_PACKED) != 0) {
        regs = unpackRegisters(blob, off, m, binbits);
      } else {
        regs = new byte[m];
        System.arraycopy(blob, off, regs, 0, m);
      }
      if (buf.state.dense == null) buf.state.promote();
      for (int i = 0; i < m; i++) {
        if ((regs[i] & 0xff) > (buf.state.dense[i] & 0xff)) buf.state.dense[i] = regs[i];
      }
      return;
    }
    int[] enc;
    if ((flags & HllConstants.FLAG_VARINT) != 0) {
      enc = decompressSparse(blob, off, idx);
    } else {
      ByteBuffer bb = ByteBuffer.wrap(blob).order(ByteOrder.LITTLE_ENDIAN);
      enc = new int[idx];
      for (int i = 0; i < idx; i++) enc[i] = bb.getInt(off + 4 * i);
    }
    for (int e : enc) buf.state.addEnc(e);
  }

  @Override
  public Buf zero() {
    return new Buf();
  }

  @Override
  public Buf reduce(Buf buf, byte[] blob) {
    if (blob == null) return buf; // NULL counters are skipped (strict agg)
    mergeBlob(buf, blob);
    return buf;
  }

  @Override
  public Buf merge(Buf a, Buf c) {
    if (c.state == null) return a;
    if (a.state == null) {
      a.state = c.state;
      a.hashKind = c.hashKind;
      return a;
    }
    if (a.state.b != c.state.b || a.state.binbits != c.state.binbits) {
      throw new IllegalArgumentException("cannot merge sketches with different parameters");
    }
    if (a.hashKind != c.hashKind) {
      throw new IllegalArgumentException("hash kind of sketches differs; refusing to merge");
    }
    HllRegisterAggregator proto = new HllRegisterAggregator(a.state.b, a.state.binbits);
    proto.merge(a.state, c.state);
    return a;
  }

  /** Canonical bytes of the merged counter; null (SQL NULL) when every input was NULL. */
  @Override
  public byte[] finish(Buf buf) {
    return buf.state == null ? null : HllRegisterAggregator.toBytes(buf.state, buf.hashKind, true);
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

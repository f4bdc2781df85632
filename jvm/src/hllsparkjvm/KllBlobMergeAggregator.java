package hllsparkjvm;

import com.esotericsoftware.kryo.Kryo;
import com.esotericsoftware.kryo.KryoSerializable;
import com.esotericsoftware.kryo.io.Input;
import com.esotericsoftware.kryo.io.Output;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Merge of STORED canonical KLL blobs (hllspark.sketches.kll.KLL.to_bytes,
 * decoded by KllAggregator.fromBytes).  Levels concatenate at their heights
 * and compact through KllAggregator's deterministic-coin machinery — the
 * same concat-then-compact python KLL.merge performs (compaction counters
 * summed; merge-order-dependent within the rank bound, no byte-parity
 * claim).  Parameterless, adopts k from the first sketch, refuses
 * mismatches ("kll k differs"); empty stored sketches are skipped exactly
 * as python merge does.  finish() writes the canonical bytes
 * (KllAggregator.toBytes); a group of only NULL blobs finishes to a SQL
 * NULL sketch, while one of only empty stored sketches stays an empty
 * sketch.
 */
public final class KllBlobMergeAggregator
    extends Aggregator<byte[], KllBlobMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public KllBlobMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    KllAggregator.Buf state; // null until first blob; always compactor-mode

    public Buf() {}

    @Override
    public void write(Kryo kryo, Output out) {
      out.writeBoolean(state != null);
      if (state != null) state.write(kryo, out);
    }

    @Override
    public void read(Kryo kryo, Input in) {
      state = null;
      if (in.readBoolean()) {
        state = new KllAggregator.Buf();
        state.read(kryo, in);
      }
    }
  }

  static void mergeBlob(Buf buf, byte[] blob) {
    KllAggregator.Buf stored = KllAggregator.fromBytes(blob);
    if (buf.state == null) {
      buf.state = new KllAggregator(stored.k, 16).zero();
      buf.state.promote(); // empty map → compactor mode
    } else if (buf.state.k != stored.k) {
      throw new IllegalArgumentException("kll k differs");
    }
    // kll.py merge: skips an empty sketch, else concatenates levels, sums
    // totals/compactions and compacts
    new KllAggregator(stored.k, 16).merge(buf.state, stored);
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
    if (c.state == null) return a;
    if (a.state == null) return c;
    if (a.state.k != c.state.k) {
      // KllAggregator.merge never compares k (its buffers share the
      // constructor's); blobs split across partitions adopt their own, so
      // the refusal must happen HERE too, like the reduce path
      throw new IllegalArgumentException("kll k differs");
    }
    new KllAggregator(a.state.k, a.state.exactCap).merge(a.state, c.state);
    return a;
  }

  /** Canonical sketch bytes (KllAggregator.toBytes); null (SQL NULL) for
   *  a group of only NULL blobs. */
  @Override
  public byte[] finish(Buf buf) {
    return buf.state == null ? null : KllAggregator.toBytes(buf.state);
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

package hllsparkjvm;

import com.esotericsoftware.kryo.Kryo;
import com.esotericsoftware.kryo.KryoSerializable;
import com.esotericsoftware.kryo.io.Input;
import com.esotericsoftware.kryo.io.Output;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * Merge of STORED canonical t-digest blobs
 * (hllspark.sketches.tdigest.TDigest.to_bytes, decoded by
 * TDigestAggregator.fromBytes).  Centroids are folded through the SAME
 * k1-scale machinery as TDigestAggregator's digest mode (pending batch +
 * compress), which is python TDigest.merge's concat-sort-compress within
 * pending-batch boundaries — rank error stays inside the k1 bound, centroid layout is
 * merge-order-dependent like every practical t-digest (no byte-parity
 * claim, matching the python engine).  True raw-data vmin/vmax are carried
 * from the blobs, not re-derived from centroid means.  Parameterless,
 * adopts delta from the first digest, refuses mismatches ("t-digest delta
 * differs", like TDigest.merge); empty stored digests (total == 0) are
 * skipped exactly as python merge does.  finish() writes the canonical
 * bytes (TDigestAggregator.toBytes); a group of only NULL blobs finishes
 * to a SQL NULL sketch, while one of only empty stored digests stays an
 * empty digest.
 */
public final class TDigestBlobMergeAggregator
    extends Aggregator<byte[], TDigestBlobMergeAggregator.Buf, byte[]> {

  private static final long serialVersionUID = 1L;

  public TDigestBlobMergeAggregator() {}

  public static final class Buf implements KryoSerializable, java.io.Serializable {
    private static final long serialVersionUID = 1L;

    TDigestAggregator.Buf state; // null until first blob; always digest-mode

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
        state = new TDigestAggregator.Buf();
        state.read(kryo, in);
      }
    }
  }

  static void mergeBlob(Buf buf, byte[] blob) {
    TDigestAggregator.Buf stored = TDigestAggregator.fromBytes(blob);
    if (buf.state == null) {
      buf.state = new TDigestAggregator(stored.delta, 16).zero();
      buf.state.promote(); // empty map → digest mode
    } else if (buf.state.delta != stored.delta) {
      throw new IllegalArgumentException("t-digest delta differs");
    }
    if (stored.total == 0 || stored.ncent == 0) return; // empty digest: python merge skips it
    for (int i = 0; i < stored.ncent; i++) buf.state.addWeighted(stored.means[i], stored.weights[i]);
    // addWeighted tracked extremes of the MEANS; restore the true raw-data
    // extremes the blob carries (python merge keeps min/max of vmin/vmax)
    if (stored.vmin < buf.state.vmin) buf.state.vmin = stored.vmin;
    if (stored.vmax > buf.state.vmax) buf.state.vmax = stored.vmax;
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
    if (a.state.delta != c.state.delta) {
      // TDigestAggregator.merge never compares delta (its buffers share
      // the constructor's); cross-partition buffers adopt their own, so
      // the refusal must happen HERE too, like the reduce path
      throw new IllegalArgumentException("t-digest delta differs");
    }
    new TDigestAggregator(a.state.delta, a.state.exactCap).merge(a.state, c.state);
    return a;
  }

  /** Canonical sketch bytes (TDigestAggregator.toBytes); null (SQL NULL)
   *  for a group of only NULL blobs. */
  @Override
  public byte[] finish(Buf buf) {
    return buf.state == null ? null : TDigestAggregator.toBytes(buf.state);
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

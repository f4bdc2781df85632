package hllsparkjvm;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Scalar UDF: canonical hllspark counter → HLL++ estimate, entirely in the
 * JVM — the per-row {@code hyperloglog_get_estimate} / {@code #} read path
 * over sketch rollup tables (reference postgres.sql:112-114), and the
 * estimate finalize of the HLL aggregators (their output is the same
 * canonical bytes), without a pandas decode per row.
 *
 * A well-formed sparse counter estimates from its header's entry count
 * alone, like core/hll.py estimate_blobs (_sparse_fast_header, same
 * refusal rules); every other blob is decoded via
 * {@link HllMergeAggregator#mergeBlob} (raw/group-varint sparse,
 * raw/bit-packed/deflated dense) and estimated with {@link HllEstimator}
 * (bit-exact outside the linear-counting regimes, ≤1 ulp inside them).
 * NULL in → NULL out.
 *
 * Reference-LEGACY blobs (the Postgres reference's own v0/v1 wire format,
 * PGLZ-compressed dense — hllspark.core.legacy) are NOT decoded here and
 * raise IllegalArgumentException, failing the task loudly — the same
 * contract as the pandas reader (HLL.from_bytes): legacy blobs go through
 * hll_update first, exactly as the reference requires
 * (test/sql/update.sql).  jvm_udaf.hll_estimate_col documents the Python
 * surface; functions.hll_estimate remains the jar-free default.
 */
public final class HllSketchEstimateUdf implements UDF1<byte[], Double> {
  private static final long serialVersionUID = 1L;

  public HllSketchEstimateUdf() {}

  @Override
  public Double call(byte[] blob) {
    if (blob == null) return null;
    HllMergeAggregator.Header h = HllMergeAggregator.readHeader(blob);
    if (sparseCountIsExact(blob, h)) return HllEstimator.estimateSparse(h.idx(), h.binbits());
    HllMergeAggregator.Buf buf = new HllMergeAggregator.Buf();
    HllMergeAggregator.mergeBlob(buf, blob);
    HllRegisterAggregator.Buf st = buf.state;
    if (st.dense != null) return HllEstimator.estimateDense(st.dense, st.b, st.binbits);
    return HllEstimator.estimateSparse(st.n, st.binbits);
  }

  /**
   * Whether the header's idx is the counter's sorted-unique entry count —
   * a sparse blob with idx in [0, sparse capacity] whose payload length
   * fits it (core/hll.py _sparse_fast_header).  A group-varint payload
   * whose length disagrees with its tag bytes and tail takes the full
   * decode, which raises the truncation error.
   */
  static boolean sparseCountIsExact(byte[] blob, HllMergeAggregator.Header h) {
    int idx = h.idx();
    if (h.dense() || idx < 0 || idx > HllRegisterAggregator.sparseCapacity(h.b())) return false;
    if ((h.flags() & HllConstants.FLAG_VARINT) == 0) return true; // raw length checked by readHeader
    int ngroups = idx / 4;
    long pos = 8L + ngroups;
    if (pos > blob.length) return false;
    for (int g = 0; g < ngroups; g++) {
      int tag = blob[8 + g] & 0xff;
      pos += 4 + (tag & 3) + ((tag >> 2) & 3) + ((tag >> 4) & 3) + ((tag >> 6) & 3);
    }
    if (pos > blob.length) return false;
    if (pos < blob.length && (blob[blob.length - 1] & 0x80) != 0) return false;
    int tail = 0;
    for (int i = (int) pos; i < blob.length; i++) {
      if ((blob[i] & 0x80) == 0) tail++;
    }
    return tail == idx - 4 * ngroups;
  }
}

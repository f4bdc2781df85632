package hllsparkjvm;

import java.nio.ByteBuffer;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Iterator;
import java.util.LinkedHashMap;
import java.util.List;

import org.apache.spark.TaskContext;
import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * Phase 1 of the two-phase HLL pipeline (the reference's sfunc per
 * segment, sql/greenplum.sql:289-295) as one narrow JVM stage: each input
 * partition of {@code (by..., xxhash64)} rows folds into one
 * {@link HllRegisterAggregator.Buf} per group key, and the partition emits
 * {@code by..., sketch} — one partial per (partition, key), with no shuffle.
 * With lineage it also emits {@code partition_id, rows_seen, nulls_skipped,
 * wall_ms}, where wall_ms is the time spent draining the partition's
 * iterator (upstream scan and hash included).
 *
 * The partials equal the python mapInArrow builder's (agg._make_builder)
 * group for group:
 *
 *  - rows fold through {@link HllRegisterAggregator#reduce}; chain rows
 *    replay at finish, as in the aggregate;
 *  - a group whose every value was NULL emits a SQL NULL sketch;
 *  - dense partials are written UNPACKED: bit-packing at binbits masks
 *    registers above 2^binbits - 1, and max(mask(a), mask(b)) is not
 *    mask(max(a, b)), so the phase-2 merge must see the true registers;
 *  - keys group by value the way Spark's GROUP BY groups them: binary keys
 *    by content (Row hashes a byte[] by identity), NULL and NaN apart, and
 *    -0.0 with 0.0.
 */
public final class HllPartialBuilder implements MapPartitionsFunction<Row, Row> {
  private static final long serialVersionUID = 1L;

  private static final Object NO_KEY = new Object();

  private final int nKeys;
  private final boolean lineage;
  private final HllRegisterAggregator agg;

  public HllPartialBuilder(int nKeys, int b, int binbits, boolean lineage) {
    this.nKeys = nKeys;
    this.lineage = lineage;
    this.agg = new HllRegisterAggregator(b, binbits);
  }

  /** The partials of {@code in}: its first nKeys columns are the group
   *  keys, the next one the NULL-preserving xxhash64 of the value. */
  public Dataset<Row> apply(Dataset<Row> in) {
    StructField[] fields = in.schema().fields();
    List<StructField> out = new ArrayList<>(Arrays.asList(fields).subList(0, nKeys));
    out.add(DataTypes.createStructField("sketch", DataTypes.BinaryType, true));
    if (lineage) {
      out.add(DataTypes.createStructField("partition_id", DataTypes.IntegerType, false));
      out.add(DataTypes.createStructField("rows_seen", DataTypes.LongType, false));
      out.add(DataTypes.createStructField("nulls_skipped", DataTypes.LongType, false));
      out.add(DataTypes.createStructField("wall_ms", DataTypes.DoubleType, false));
    }
    return in.mapPartitions(this, Encoders.row(DataTypes.createStructType(out)));
  }

  /** -0.0 → 0.0 (NaN is already one value under Double.equals), the
   *  normalization Spark's GROUP BY applies to floating keys. */
  private static Object normalize(Object v) {
    if (v instanceof Double && (Double) v == 0.0) return 0.0d;
    if (v instanceof Float && (Float) v == 0.0f) return 0.0f;
    return v;
  }

  /** Hash-map identity of one key value: byte[] by content. */
  private static Object identity(Object v) {
    return v instanceof byte[] ? ByteBuffer.wrap((byte[]) v) : v;
  }

  private static final class Group {
    final Object[] key;
    final HllRegisterAggregator.Buf buf;

    Group(Object[] key, HllRegisterAggregator.Buf buf) {
      this.key = key;
      this.buf = buf;
    }
  }

  @Override
  public Iterator<Row> call(Iterator<Row> rows) {
    long t0 = System.nanoTime();
    LinkedHashMap<Object, Group> groups = new LinkedHashMap<>();
    long seen = 0;
    long nulls = 0;
    while (rows.hasNext()) {
      Row r = rows.next();
      seen++;
      Object[] key = new Object[nKeys];
      Object id;
      if (nKeys == 0) {
        id = NO_KEY;
      } else if (nKeys == 1) {
        key[0] = normalize(r.get(0));
        id = identity(key[0]);
      } else {
        Object[] ids = new Object[nKeys];
        for (int i = 0; i < nKeys; i++) {
          key[i] = normalize(r.get(i));
          ids[i] = identity(key[i]);
        }
        id = Arrays.asList(ids);
      }
      Group g = groups.get(id);
      if (g == null) {
        g = new Group(key, agg.zero());
        groups.put(id, g);
      }
      if (r.isNullAt(nKeys)) {
        nulls++;
      } else {
        agg.reduce(g.buf, r.getLong(nKeys));
      }
    }
    double wallMs = (System.nanoTime() - t0) / 1e6;
    int pid = TaskContext.get() == null ? -1 : TaskContext.getPartitionId();
    Iterator<Group> it = groups.values().iterator();
    long rowsSeen = seen;
    long nullsSkipped = nulls;
    return new Iterator<Row>() {
      @Override
      public boolean hasNext() {
        return it.hasNext();
      }

      @Override
      public Row next() {
        Group g = it.next();
        Object[] out = Arrays.copyOf(g.key, nKeys + (lineage ? 5 : 1));
        out[nKeys] = agg.finish(g.buf, false);
        if (lineage) {
          out[nKeys + 1] = pid;
          out[nKeys + 2] = rowsSeen;
          out[nKeys + 3] = nullsSkipped;
          out[nKeys + 4] = wallMs;
        }
        return RowFactory.create(out);
      }
    };
  }
}

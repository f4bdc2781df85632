package hllsparkjvm;

import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;

/**
 * Scalar-UDF factories for the jar's non-aggregate functions.
 *
 * Exists because overload selection must happen in JAVA: calling
 * {@code functions.udf(instance, dataType)} through py4j can bind the
 * deprecated untyped-Scala-UDF overload {@code udf(Object, DataType)}
 * (rejected by Spark 4 with UNTYPED_SCALA_UDF/42K0E) instead of
 * {@code udf(UDF1, DataType)} — here the static types pick the right one
 * at compile time.  Instantiated through jvm_udaf._new_jvm_obj like the
 * aggregators, so it works on both the spark.jars and the ADD JAR +
 * reflection resolution paths.
 */
public final class HllUdfs implements java.io.Serializable {
  private static final long serialVersionUID = 1L;

  public HllUdfs() {}

  /** stored canonical counter → HLL++ estimate (HllSketchEstimateUdf). */
  public UserDefinedFunction sketchEstimate() {
    return functions.udf(new HllSketchEstimateUdf(), DataTypes.DoubleType);
  }

  /** (countmin blob, xxhash64 probe) → frequency estimate. */
  public UserDefinedFunction cmQuery() {
    return functions.udf(new SketchReadUdfs.CountMinQuery(), DataTypes.LongType);
  }

  /** (bloom blob, xxhash64 probe) → membership. */
  public UserDefinedFunction bloomContains() {
    return functions.udf(new SketchReadUdfs.BloomContains(), DataTypes.BooleanType);
  }

  /** (minhash blob, minhash blob) → jaccard estimate. */
  public UserDefinedFunction minhashJaccard() {
    return functions.udf(new SketchReadUdfs.MinHashJaccard(), DataTypes.DoubleType);
  }

  /** (tdigest blob, q) → quantile value. */
  public UserDefinedFunction tdigestQuantile() {
    return functions.udf(new SketchReadUdfs.TDigestQuantile(), DataTypes.DoubleType);
  }

  /** (tdigest blob, x) → approximate CDF. */
  public UserDefinedFunction tdigestRank() {
    return functions.udf(new SketchReadUdfs.TDigestRank(), DataTypes.DoubleType);
  }

  /** (kll blob, q) → quantile value. */
  public UserDefinedFunction kllQuantile() {
    return functions.udf(new SketchReadUdfs.KllQuantile(), DataTypes.DoubleType);
  }

  /** (counter, counter) → est(A∪B). */
  public UserDefinedFunction unionEstimate() {
    return functions.udf(new HllSetOpUdfs.UnionEstimate(), DataTypes.DoubleType);
  }

  /** (counter, counter) → est(A) + est(B) − est(A∪B). */
  public UserDefinedFunction intersectionEstimate() {
    return functions.udf(new HllSetOpUdfs.IntersectionEstimate(), DataTypes.DoubleType);
  }

  /** (counter, counter) → est(A∪B) − est(B). */
  public UserDefinedFunction complimentEstimate() {
    return functions.udf(new HllSetOpUdfs.ComplimentEstimate(), DataTypes.DoubleType);
  }

  /** (counter, counter) → 2·est(A∪B) − est(A) − est(B). */
  public UserDefinedFunction symmetricDiffEstimate() {
    return functions.udf(new HllSetOpUdfs.SymmetricDiffEstimate(), DataTypes.DoubleType);
  }
}

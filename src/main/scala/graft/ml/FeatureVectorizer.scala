package graft.ml

import org.apache.spark.ml.attribute.{AttributeGroup, NominalAttribute, NumericAttribute}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Null-safe sparse feature assembly, the Spark-ML re-expression of
  * the reference's LabeledPoint construction
  * (/root/reference/src/main/java/co/cask/hydrator/plugin/
  * SparkMLTrainer.java:129-146): a null feature value contributes NO
  * entry to the (sparse) vector rather than being imputed — the
  * vector size stays |features| and the index is simply absent, so
  * MLlib reads it as 0.0 (null feature = absent slot = 0.0). The
  * vector is written natively by the codegen'd [[SparseAssemble]]
  * expression, with no UDF and no boxing. Only training assembles;
  * scoring walks the tree over the raw columns ([[TreePredict]]).
  *
  * Categorical features from the cardinality mapping are conveyed to
  * the tree learner the Spark-ML way: NominalAttribute metadata on
  * the assembled column (what VectorIndexer would produce), so
  * DecisionTreeRegressor consumes them natively — no RDD/LabeledPoint
  * round-trip.
  */
object FeatureVectorizer {

  val FeaturesCol = "features"

  /** Hyphenated column names rewritten to underscores, mirroring the
    * reference's rename-before-MLlib step (README "Limitations",
    * SparkMLTrainer's field handling): MLlib attribute metadata and
    * model persistence want identifier-safe names. */
  private[ml] def sanitizeColumns(df: DataFrame): DataFrame = {
    // fail with the user's original names, not a downstream
    // AMBIGUOUS_REFERENCE that only mentions the sanitized form. The
    // check runs over the FULL post-rename name multiset (two
    // hyphenated columns can sanitize to the same target) and
    // case-insensitively (Spark resolution default).
    val dup = df.columns.groupBy(c => FeatureSpec.sanitize(c).toLowerCase).values
      .find(g => g.length > 1 && g.exists(_.indexOf('-') >= 0))
    dup.foreach { origs =>
      throw new IllegalArgumentException(
        s"Cannot sanitize columns ${origs.mkString("'", "', '", "'")}: " +
          s"they would all resolve to '${FeatureSpec.sanitize(origs.head)}'.")
    }
    df.columns.foldLeft(df) { (d, c) =>
      if (c.indexOf('-') >= 0) d.withColumnRenamed(c, FeatureSpec.sanitize(c)) else d
    }
  }

  /** Adds `features` (sparse ml.linalg vector + ML attribute metadata)
    * assembled from `spec.featureColumns` in schema order by the native
    * [[SparseAssemble]] expression: slot i holds feature i cast to
    * double, and a null feature leaves slot i absent (MLlib reads an
    * absent slot as 0.0). Hyphenated input columns (and the spec's
    * references to them) are sanitized to underscores first. */
  def assemble(df0: DataFrame, spec0: FeatureSpec): DataFrame = {
    val df = sanitizeColumns(df0)
    val spec = spec0.sanitized
    val cols = spec.featureColumns(df.schema)
    val attrs = cols.map { c =>
      spec.cardinality.get(c) match {
        case Some(card) => NominalAttribute.defaultAttr.withName(c).withNumValues(card)
        case None => NumericAttribute.defaultAttr.withName(c)
      }
    }
    val meta = new AttributeGroup(FeaturesCol, attrs.toArray[org.apache.spark.ml.attribute.Attribute])
      .toMetadata()
    df.withColumn(FeaturesCol,
      GraftColumnBridge.column(SparseAssemble(doubles(cols))).as(FeaturesCol, meta))
  }

  /** The feature columns as double expressions, the children of
    * [[SparseAssemble]] and [[TreePredict]]. */
  private[ml] def doubles(cols: Seq[String]): Seq[Expression] =
    cols.map(c => GraftColumnBridge.expression(col(c).cast("double")))

  /** Number of populated (non-null-sourced) vector slots — exposed for
    * the `ml_feature_vectorize` oracle query. */
  def numActive: Vector => Long = v => v.numActives.toLong
}

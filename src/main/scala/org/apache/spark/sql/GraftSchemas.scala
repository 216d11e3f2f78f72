package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Spark's own schema-merge rule, which Spark keeps package-private.
  * A `mergeSchema` parquet read folds `StructType.merge` over its files'
  * schemas in file order; merging logged schemas through the same function
  * evolves columns and rejects type conflicts exactly as that read does.
  */
object GraftSchemas {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}

package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Spark's own schema rules, which Spark keeps package-private.
  * A `mergeSchema` parquet read folds `StructType.merge` over its files'
  * schemas in file order; merging logged schemas through the same function
  * evolves columns and rejects type conflicts exactly as that read does.
  */
object GraftSchemas {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)

  /** `s` with every field nullable, nested ones too, as a file-source read
    * reports its data schema.
    */
  def nullable(s: StructType): StructType = s.asNullable
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** The schema operations Spark's file sources use and keep private to its
  * own packages, hence this bridge inside them. */
object Schemas {
  /** The all-nullable form of a schema, as a file source reports it. */
  def nullable(s: StructType): StructType = s.asNullable

  /** `a` widened by the fields of `b` it lacks, as parquet schema merging
    * folds two footer schemas; fails on conflicting types. */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** The all-nullable form of a schema, as a file source reports it (Spark
  * keeps `StructType.asNullable` private to its own packages, hence this
  * bridge inside them). */
object NullableSchema {
  def apply(s: StructType): StructType = s.asNullable
}

package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is private[spark]; file sources apply it to
  * every schema they read, so a recorded schema must apply it too. */
object SchemaBridge {
  def asNullable(schema: StructType): StructType = schema.asNullable
}

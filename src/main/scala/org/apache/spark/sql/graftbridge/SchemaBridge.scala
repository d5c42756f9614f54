package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** A file source reads every field, array element and map value as
  * nullable, whatever schema wrote the files. The conversion that does
  * this, `StructType.asNullable`, is `private[spark]`; this bridge
  * re-exposes it so a writer can know the schema a read will return. */
object SchemaBridge {
  def asNullable(s: StructType): StructType = s.asNullable
}

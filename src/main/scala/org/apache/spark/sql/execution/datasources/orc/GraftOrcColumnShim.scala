package org.apache.spark.sql.execution.datasources.orc

import org.apache.hadoop.hive.ql.exec.vector
import org.apache.spark.sql.types.DataType

/** Package-door access to Spark's ORC columnar wrappers (same pattern as
  * [[org.apache.spark.sql.GraftShims]]): `OrcColumnVectorUtils` is
  * package-private, and it is exactly the adapter the ACID scan
  * ([[graft.sources.AcidColumnarOrc]]) needs — it wraps an orc-core
  * `ColumnVector` (including the `row` struct's children inside an ACID
  * file batch) as a Spark [[org.apache.spark.sql.vectorized.ColumnVector]]
  * with zero copying.
  */
object GraftOrcColumnShim {

  def wrap(dt: DataType, cv: vector.ColumnVector)
      : org.apache.spark.sql.vectorized.ColumnVector =
    OrcColumnVectorUtils.toOrcColumnVector(dt, cv)

  def setBatchSize(v: org.apache.spark.sql.vectorized.ColumnVector,
      n: Int): Unit =
    v.asInstanceOf[OrcColumnVector].setBatchSize(n)
}

package graft

import org.apache.spark.sql.Dataset

package object ops {

  /** `ds.pin()`: [[Materialize.pin]] as a method, so the operators in
    * this package pin with no import. */
  implicit final class PinSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def pin(): Dataset[T] = Materialize.pin(ds)
  }
}

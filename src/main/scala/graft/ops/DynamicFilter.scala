package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dynamic conjunctive predicate builder (SURVEY.md §2.2 P1–P4).
  *
  * The reference appends string filters one by one when an optional argument
  * is present, using sentinel values (−1 / "") for "absent"
  * (`Java/.../RetrieveField.java:57-63`, `Scala/.../Retrieve_field.scala:37-43`).
  * Here each optional argument becomes an `Option[Column]` and the present
  * ones are AND-reduced into ONE typed predicate, so Catalyst sees a single
  * conjunction it can push down to the scan in full.
  */
object DynamicFilter {

  /** AND together the predicates that are present; `true` if none are. */
  def conjunct(preds: Option[Column]*): Column =
    preds.flatten.reduceOption(_ && _).getOrElse(lit(true))

  /** Equality predicate unless the reference's −1 "absent" sentinel. */
  def eqArg(c: Column, v: Int): Option[Column] =
    if (v == -1) None else Some(c === lit(v))

  def eqArg(c: Column, v: Long): Option[Column] =
    if (v == -1L) None else Some(c === lit(v))

  /** Equality predicate unless the empty-string "absent" sentinel. */
  def eqArg(c: Column, v: String): Option[Column] =
    if (v == null || v.isEmpty) None else Some(c === lit(v))

  /** Inclusive lower bound unless absent (−1). */
  def geArg(c: Column, v: Long): Option[Column] =
    if (v == -1L) None else Some(c >= lit(v))

  /** Inclusive upper bound unless absent (−1). When the end bound is absent
    * but a duration is given, the reference derives `end = start + duration`
    * (`RetrieveField.java:85-90`) — do that arithmetic before calling.
    */
  def leArg(c: Column, v: Long): Option[Column] =
    if (v == -1L) None else Some(c <= lit(v))
}

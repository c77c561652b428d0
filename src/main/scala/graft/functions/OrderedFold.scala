package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, array_sort, collect_list, lit, struct, transform}

/** Key-ordered group aggregates: the one spelling of an order-sensitive
  * double sum.
  *
  * Floating-point addition is not associative, so a grouped `sum` of
  * doubles depends on the order in which rows reach the aggregate. These
  * functions collect each group's `(keys…, value)` structs, sort them and
  * walk them left to right, so the result is the same on any partitioning
  * and bit-identical to DuckDB's `list_sum(list(x ORDER BY k))` /
  * `list(x ORDER BY k)`, which the oracle gates compare with `==`. The
  * group's state is one array, so use them where a group is bounded (k
  * strata, a calendar, a document), not vocabulary- or corpus-sized.
  *
  *  - Struct fields are named positionally (`k0`…`kn`, `v`): a caller's
  *    column names never clash with the value's.
  *  - The value is the last field, so rows tied on every key are ordered
  *    by the value itself.
  *  - A term computed from a raw field (`rj²`, `vs·vs`) keeps the order of
  *    the inline fold over that field when the raw field is passed as the
  *    last key.
  *  - NULL propagates: a NULL term makes the sum NULL, where DuckDB's
  *    `list_sum` skips it — filter NULL terms out first wherever they can
  *    occur. */
object OrderedFold {

  private def sorted(value: Column, keys: Seq[Column]): Column =
    array_sort(collect_list(struct(
      keys.zipWithIndex.map { case (k, i) => k.as(s"k$i") } :+ value.as("v"): _*)))

  /** Σ `term` over the group, added in (`key`, `keys`…) order from 0.0. */
  def sum(term: Column, key: Column, keys: Column*): Column =
    aggregate(sorted(term, key +: keys), lit(0.0), (acc, x) => acc + x.getField("v"))

  /** The group's `value`s as an array in (`key`, `keys`…) order. */
  def values(value: Column, key: Column, keys: Column*): Column =
    transform(sorted(value, key +: keys), _.getField("v"))
}

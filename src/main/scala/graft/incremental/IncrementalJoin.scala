package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for INNER EQUI-JOIN views over two
  * versioned tables' change feeds — the join-view counterpart of
  * [[IncrementalAgg]] (which maintains grouped aggregates).
  *
  * Algebra (signed multisets, the classic delta rule): with
  * `A_new = A_old ⊕ ΔA` and `B_new = B_old ⊕ ΔB`,
  *
  * {{{
  *   Δ(A ⋈ B) = ΔA ⋈ B_old  ⊕  A_new ⋈ ΔB
  * }}}
  *
  * because `(A⊕ΔA) ⋈ (B⊕ΔB) = A⋈B ⊕ ΔA⋈B ⊕ (A⊕ΔA)⋈ΔB`. Each delta
  * row carries the sign of the feed row that produced it (+1 insert,
  * −1 delete); the cross term `ΔA⋈ΔB` is inside `A_new ⋈ ΔB`, so an
  * A-insert joining a B-delete cancels exactly.
  *
  * The 100 TB rationale: both terms join a CHANGE FEED (O(changed
  * rows), broadcast) against one snapshot — `ΔA` against the OLD B
  * (time travel serves it from the manifest log at zero copy cost)
  * and `ΔB` against the NEW A. Neither term shuffles a base table:
  * the feed side broadcasts and the big side streams through map
  * tasks. Applying the delta is O(delta) too when the view has a row
  * key ([[applyKeyed]]); the keyless fold ([[applyMultiset]]) is the
  * general form but reshuffles the view — production IVM keys its
  * views.
  */
object IncrementalJoin {

  /** Sign column the delta rows carry. */
  val SignCol = "_sign"

  // The tag domain is the full CDF set: {insert, delete} from
  // VersionedTable.changes, plus {update_preimage, update_postimage}
  // from its `updateImages` form — an update is exactly a signed
  // (−preimage, +postimage) pair, so it folds with no special case.
  // An unrecognized tag RAISES at evaluation time instead of being
  // silently dropped (which would corrupt the maintained view).
  private def signOf: Column =
    when(col("_change_type").isin("insert", "update_postimage"), lit(1))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1))
      .otherwise(raise_error(concat(
        lit("IncrementalJoin: unsupported _change_type '"),
        col("_change_type"),
        lit("' — insert/delete/update_preimage/update_postimage " +
          "are supported"))))

  /** The signed join delta `ΔA ⋈ B_old ⊕ A_new ⋈ ΔB`. `changesA` /
    * `changesB` are `_change_type`-tagged frames as produced by
    * `VersionedTable.changes`; `bOld` is B's snapshot at the START of
    * A's change range (time travel), `aNew` the CURRENT A snapshot.
    * Output columns: the USING-join of A and B columns plus
    * [[SignCol]]. Both feed sides are broadcast — the base snapshots
    * are never shuffled. */
  def deltaJoin(changesA: DataFrame, bOld: DataFrame, aNew: DataFrame,
      changesB: DataFrame, keys: Seq[String]): DataFrame = {
    val dA = changesA.withColumn(SignCol, signOf).drop("_change_type")
    val dB = changesB.withColumn(SignCol, signOf).drop("_change_type")
    val term1 = broadcast(dA).join(bOld, keys)
    val term2 = aNew.join(broadcast(dB), keys)
    term1.unionByName(term2.select(term1.columns.map(col).toSeq: _*))
  }

  /** Apply a signed delta to the prior view when every view row is
    * identified by `rowKeys` (e.g. the fact table's primary key).
    * Only rows whose key the delta touches are re-resolved — prior
    * rows with untouched keys pass through without entering any
    * aggregation, so the step costs O(delta), never O(view).
    *
    * Resolution is a net-sign fold over (prior ⊕ delta) restricted to
    * touched keys: a row survives with its net multiplicity (an
    * update arrives as delete(old)+insert(new) and the old row nets
    * to zero). Null-safe key matching for the same reason
    * [[IncrementalAgg.update]] uses it. */
  def applyKeyed(prior: DataFrame, delta: DataFrame,
      rowKeys: Seq[String]): DataFrame = {
    val touched = delta.select(rowKeys.map(k => col(k).as(s"_t_$k")): _*)
      .distinct()
    def cond(left: DataFrame) =
      rowKeys.map(k => left(k) <=> col(s"_t_$k")).reduce(_ && _)
    val untouched = prior.join(broadcast(touched), cond(prior), "left_anti")
    val scoped = prior.join(broadcast(touched), cond(prior), "left_semi")
      .withColumn(SignCol, lit(1))
      .unionByName(delta)
    val dataCols = prior.columns.toSeq
    val resolved = scoped.groupBy(dataCols.map(col): _*)
      .agg(sum(col(SignCol)).as("_net"))
      .filter(col("_net") > 0)
      .withColumn("_dup", explode(sequence(lit(1L), col("_net"))))
      .select(dataCols.map(col): _*)
    untouched.unionByName(resolved)
  }

  /** Apply a signed delta with no row key: net-sign fold over ALL
    * columns of (prior ⊕ delta), multiplicity restored by expansion.
    * Exact for arbitrary multisets, but the fold shuffles the whole
    * view — use [[applyKeyed]] whenever a key exists. */
  def applyMultiset(prior: DataFrame, delta: DataFrame): DataFrame = {
    val dataCols = prior.columns.toSeq
    prior.withColumn(SignCol, lit(1))
      .unionByName(delta)
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col(SignCol)).as("_net"))
      .filter(col("_net") > 0)
      .withColumn("_dup", explode(sequence(lit(1L), col("_net"))))
      .select(dataCols.map(col): _*)
  }
}

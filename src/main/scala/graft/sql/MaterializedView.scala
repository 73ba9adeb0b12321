package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.VersionedTable
import graft.plans.{MvDef, MvHandle, MvRewrite}

/** The SQL surface of the materialized-view tier (Databricks
  * `CREATE MATERIALIZED VIEW` semantics, reduced to the incrementally
  * maintainable aggregate shape):
  *
  *   - `CREATE MATERIALIZED VIEW mv AS
  *        SELECT dims…, sum(m) AS s, count(*) AS n [, count(m) AS c]
  *        FROM base GROUP BY dims…`
  *     runs the aggregate once (CTAS of the summary as `mv`'s v0,
  *     stamped with the base version it reflects), persists the
  *     definition next to the table, and registers the
  *     [[graft.plans.MvRewrite]] rewrite so any `GROUP BY` over the
  *     base re-plans onto the summary while it is fresh.
  *   - `REFRESH MATERIALIZED VIEW mv` folds the base's CHANGE FEED
  *     since the recorded basis into the summary — the signed IVM
  *     fold (inserts +, deletes −; q73/q254 machinery), never a
  *     re-aggregation of the base — and advances the basis in the
  *     same commit.
  *   - `DROP MATERIALIZED VIEW mv` deregisters the rewrite and drops
  *     the backing table.
  *
  * Allowed aggregates: the ADDITIVE ones — `sum(m)`, `count(*)`
  * (required: it detects emptied groups), `count(m)` (what `avg(m)`
  * rewrites divide by) — plus `min(m)`/`max(m)` via SCOPED
  * RE-AGGREGATION: insert-only deltas fold free
  * (`least`/`greatest`), and a REFRESH whose delta removed rows from
  * a group re-aggregates ONLY that group (per-group predicates
  * pushed to the base's manifest pruning — on a dim-partitioned
  * 100 TB base that plans just the affected groups' files, never the
  * table). Sum measures must be integral (long sums are exact under
  * any delta order; double sums are not, so an IVM-maintained double
  * sum would drift from a recompute).
  *
  * Durability: the definition is a sidecar (`_mv_def.txt`) written
  * once at CREATE; the BASIS VERSION rides in the backing table's own
  * commit history (`basis=<v>` in the operation string), so it
  * advances atomically with the data — a crash between fold and
  * metadata cannot double-apply a delta, and a reader of a
  * half-refreshed MV sees the OLD basis, which makes the rewrite
  * decline (stale → base plan, never wrong totals). Registration is
  * per-JVM: [[registerAll]] re-arms every persisted definition in a
  * fresh session.
  *
  * Scale: CREATE costs one aggregation of the base; each REFRESH
  * shuffles O(changed rows) + a join against the KB-scale summary;
  * the served dashboard query reads the summary. The parse is
  * O(|SQL|) driver-side. */
object MaterializedView {

  private val ident = "[A-Za-z_][A-Za-z0-9_]*"
  private val selectRe = (s"(?is)^SELECT\\s+(.*?)\\s+FROM\\s+($ident)" +
    "\\s+GROUP\\s+BY\\s+(.*)$").r
  private val selectAnyRe = (s"(?is)^SELECT\\s+(.*?)\\s+FROM\\s+(.*?)" +
    "\\s+GROUP\\s+BY\\s+(.*)$").r
  private val sumRe = s"(?is)^SUM\\s*\\(\\s*($ident)\\s*\\)\\s+AS\\s+($ident)$$".r
  private val cntStarRe =
    s"(?is)^COUNT\\s*\\(\\s*(?:\\*|1)\\s*\\)\\s+AS\\s+($ident)$$".r
  private val cntColRe =
    s"(?is)^COUNT\\s*\\(\\s*($ident)\\s*\\)\\s+AS\\s+($ident)$$".r
  private val minRe =
    s"(?is)^MIN\\s*\\(\\s*($ident)\\s*\\)\\s+AS\\s+($ident)$$".r
  private val maxRe =
    s"(?is)^MAX\\s*\\(\\s*($ident)\\s*\\)\\s+AS\\s+($ident)$$".r
  private val avgRe = s"(?is)^AVG\\s*\\(\\s*($ident)\\s*\\).*".r

  /** One dimension-table side of a STAR-JOIN materialized view
    * (`FROM fact JOIN d1 ON … JOIN d2 ON …`): equi-join keys pairwise
    * against the FACT (`factKeys(i) = dimKeys(i)` — star shape, every
    * dim joins the fact directly), and the set of OUTPUT columns
    * (dims/measures) that resolve against THIS dim table — persisted
    * so side resolution can never drift under later schema evolution
    * of any base. */
  final case class JoinPart(dimName: String, factKeys: Seq[String],
      dimKeys: Seq[String], dimSideCols: Seq[String])

  /** One parsed, persisted definition. `sums`/`counts`/`mins`/`maxs`
    * map base measure → MV column; `countStar` is the MV's `count(*)`
    * column (mandatory); `joins` non-empty for star-join MVs (the
    * base is then `fact ⋈ d1 ⋈ … ⋈ dn`). */
  final case class Def(baseName: String, dims: Seq[String],
      sums: Map[String, String], counts: Map[String, String],
      countStar: String,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty,
      joins: Seq[JoinPart] = Seq.empty) {
    private[sql] def encode: String = {
      def enc(p: Map[String, String]) =
        p.toSeq.sorted.map { case (m, c) => s"$m>$c" }.mkString(",")
      Seq(s"base=$baseName",
        s"dims=${dims.mkString(",")}",
        s"sums=${enc(sums)}",
        s"counts=${enc(counts)}",
        s"countStar=$countStar",
        s"mins=${enc(mins)}",
        s"maxs=${enc(maxs)}").mkString("\n") +
        joins.zipWithIndex.map { case (j, i) =>
          "\n" + Seq(s"join${i}_dim=${j.dimName}",
            s"join${i}_fact_keys=${j.factKeys.mkString(",")}",
            s"join${i}_dim_keys=${j.dimKeys.mkString(",")}",
            s"join${i}_dim_cols=${j.dimSideCols.mkString(",")}")
            .mkString("\n")
        }.mkString
    }
  }

  private def decodeDef(text: String): Def = {
    val kv = text.linesIterator.filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
    def pairs(s: String): Map[String, String] =
      s.split(',').filter(_.nonEmpty).map { p =>
        val Array(m, c) = p.split('>'); m -> c
      }.toMap
    def list(s: String): Seq[String] =
      s.split(',').filter(_.nonEmpty).toSeq
    def joinAt(prefix: String): Option[JoinPart] =
      kv.get(s"${prefix}_dim").map(dn => JoinPart(dn,
        list(kv.getOrElse(s"${prefix}_fact_keys", "")),
        list(kv.getOrElse(s"${prefix}_dim_keys", "")),
        list(kv.getOrElse(s"${prefix}_dim_cols", ""))))
    // indexed form (join0_, join1_, …); the un-indexed `join_` prefix
    // is the single-dim spelling earlier sidecars used
    val joins = joinAt("join").toSeq ++
      Iterator.from(0).map(i => joinAt(s"join$i"))
        .takeWhile(_.isDefined).flatten.toSeq
    Def(kv("base"), kv("dims").split(',').filter(_.nonEmpty).toSeq,
      pairs(kv.getOrElse("sums", "")), pairs(kv.getOrElse("counts", "")),
      kv("countStar"),
      pairs(kv.getOrElse("mins", "")), pairs(kv.getOrElse("maxs", "")),
      joins)
  }

  private def defPath(catalog: GraftCatalog, name: String): Path =
    new Path(catalog.rootOf(name), "_mv_def.txt")

  private def fsOf(catalog: GraftCatalog, name: String) =
    defPath(catalog, name)
      .getFileSystem(catalog.spark.sparkContext.hadoopConfiguration)

  /** Is `name` a materialized view of this warehouse (has a persisted
    * definition sidecar)? */
  def isMaterializedView(catalog: GraftCatalog, name: String): Boolean =
    fsOf(catalog, name).exists(defPath(catalog, name))

  private def readDef(catalog: GraftCatalog, name: String): Def = {
    val p = defPath(catalog, name)
    val fs = fsOf(catalog, name)
    require(fs.exists(p),
      s"$name is not a materialized view (no definition at $p)")
    val in = fs.open(p)
    try decodeDef(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private val basisRe = """(?<![a-z_])basis=(\d+)""".r.unanchored
  private val dimBasisRe = """dim_basis=([\d,]+)""".r.unanchored

  /** The base version the MV currently reflects — recorded in the
    * backing table's commit history, so it advances atomically with
    * the fold itself. */
  def currentBasis(spark: SparkSession, mvRoot: String): Long =
    currentBases(spark, mvRoot)._1

  /** Every recorded basis: the fact's, plus one PER DIM for star-join
    * MVs (definition order; empty on single-table MVs). Read from the
    * SAME history line, so the tuple is always mutually consistent. */
  def currentBases(spark: SparkSession, mvRoot: String): (Long,
      Seq[Long]) = {
    val vt = new VersionedTable(spark, mvRoot)
    vt.history(limit = Int.MaxValue)
      .collectFirst { case h if basisRe.findFirstMatchIn(h.operation)
        .isDefined =>
        (basisRe.findFirstMatchIn(h.operation).get.group(1).toLong,
          dimBasisRe.findFirstMatchIn(h.operation).map(_.group(1))
            .map(_.split(',').map(_.toLong).toSeq).getOrElse(Seq.empty))
      }
      .getOrElse(sys.error(s"no basis recorded in the history of " +
        s"$mvRoot — not a materialized view's backing table"))
  }

  // one rewrite registration per MV root per JVM: re-running
  // registerAll (or CREATE after DROP) must not stack duplicate defs
  private val registrations =
    scala.collection.concurrent.TrieMap.empty[String, MvHandle]

  private def register(catalog: GraftCatalog, name: String,
      d: Def): Unit = {
    val spark = catalog.spark
    val mvRoot = catalog.rootOf(name)
    val baseRoot = catalog.rootOf(d.baseName)
    registrations.remove(mvRoot).foreach(_.deregister())
    val handle = MvRewrite.register(MvDef(
      baseRoot = baseRoot,
      mv = () => new VersionedTable(spark, mvRoot).read(),
      dims = d.dims,
      sums = d.sums,
      count = Some(d.countStar),
      counts = d.counts,
      mins = d.mins,
      maxs = d.maxs,
      // re-read per rewrite: a REFRESH in between is picked up, a
      // base commit after the basis makes the rule decline (stale →
      // base plan)
      basisVersion = () => Some(currentBases(spark, mvRoot)._1),
      // star-join MVs additionally match `fact ⋈ dims` aggregates —
      // fresh only when EVERY recorded basis is current
      joinDims = d.joins.zipWithIndex.map { case (j, i) =>
        graft.plans.MvJoinDim(
          dimRoot = catalog.rootOf(j.dimName),
          factKeys = j.factKeys,
          dimKeys = j.dimKeys,
          dimBasisVersion =
            () => currentBases(spark, mvRoot)._2.lift(i))
      }))
    registrations.put(mvRoot, handle)
  }

  /** Re-arm the rewrite for every persisted MV of the warehouse — a
    * fresh JVM's session bootstrap. Idempotent per root. */
  def registerAll(catalog: GraftCatalog): Unit =
    catalog.tables.keys.filter(isMaterializedView(catalog, _))
      .foreach(n => register(catalog, n, readDef(catalog, n)))

  /** Unwire the rewrite registration (if any) keyed on `root` — the
    * DROP TABLE / RENAME hook closing the dangling-registration leak
    * when an MV's backing table leaves through a PLAIN catalog route.
    * No-op on non-MV roots. */
  private[sql] def deregisterRoot(root: String): Unit =
    registrations.remove(root).foreach(_.deregister())

  /** Re-register a persisted MV under its (possibly new) name — the
    * RENAME re-key. */
  private[sql] def rearm(catalog: GraftCatalog, name: String): Unit =
    register(catalog, name, readDef(catalog, name))

  /** `SHOW CREATE TABLE` rendering: the CREATE MATERIALIZED VIEW
    * statement reconstructed from the persisted definition —
    * re-executing it on an empty warehouse (with the base present)
    * recreates an equivalent MV. */
  private[sql] def createStatement(catalog: GraftCatalog,
      name: String): String = {
    val d = readDef(catalog, name)
    val items = d.dims ++
      d.sums.toSeq.sortBy(_._2).map { case (m, c) => s"sum($m) AS $c" } ++
      d.counts.toSeq.sortBy(_._2)
        .map { case (m, c) => s"count($m) AS $c" } ++
      d.mins.toSeq.sortBy(_._2).map { case (m, c) => s"min($m) AS $c" } ++
      d.maxs.toSeq.sortBy(_._2).map { case (m, c) => s"max($m) AS $c" } ++
      Seq(s"count(*) AS ${d.countStar}")
    val from = d.baseName + d.joins.map { j =>
      val on = j.factKeys.zip(j.dimKeys).map { case (a, b) =>
        s"${d.baseName}.$a = ${j.dimName}.$b" }.mkString(" AND ")
      s" JOIN ${j.dimName} ON $on"
    }.mkString
    s"CREATE MATERIALIZED VIEW $name AS SELECT " +
      items.mkString(", ") +
      s" FROM $from GROUP BY ${d.dims.mkString(", ")}"
  }

  /** Test observable: the roots currently holding a rewrite
    * registration in this JVM. */
  private[graft] def registeredRoots: Set[String] =
    registrations.keySet.toSet

  /** CREATE MATERIALIZED VIEW: parse the SELECT, aggregate the base
    * ONCE at its current version, commit as the MV's v0 (basis
    * stamped), persist the definition, register the rewrite. Returns
    * the committed version. */
  def create(catalog: GraftCatalog, name: String,
      selectSql: String): Long = {
    val spark = catalog.spark
    require(!catalog.exists(name),
      s"table $name already exists in ${catalog.warehouse}")
    val d = parseSelect(catalog, selectSql)
    val baseVt = new VersionedTable(spark, catalog.rootOf(d.baseName))
    val basis = baseVt.currentVersion.getOrElse(
      sys.error(s"base table ${d.baseName} does not exist"))
    // plan the aggregate against the PINNED basis version(s): a commit
    // racing between the aggregate and the basis stamp would otherwise
    // leave the MV claiming a version it does not reflect
    val (agg, op) =
      if (d.joins.isEmpty)
        (aggregate(baseVt.readVersion(basis), d),
          s"CREATE MATERIALIZED VIEW basis=$basis")
      else {
        val dimBases = d.joins.map { j =>
          val dimVt = new VersionedTable(spark,
            catalog.rootOf(j.dimName))
          dimVt.currentVersion.getOrElse(
            sys.error(s"dim table ${j.dimName} does not exist"))
        }
        val dimFrames = d.joins.zip(dimBases).map { case (j, v) =>
          new VersionedTable(spark, catalog.rootOf(j.dimName))
            .readVersion(v)
        }
        (aggregate(joinedBase(baseVt.readVersion(basis), dimFrames, d),
          d),
          s"CREATE MATERIALIZED VIEW basis=$basis " +
            s"dim_basis=${dimBases.mkString(",")}")
      }
    val mvVt = new VersionedTable(spark, catalog.rootOf(name))
    val v = mvVt.write(agg, operation = op)
    val p = defPath(catalog, name)
    val fs = fsOf(catalog, name)
    val out = fs.create(p, true)
    try out.write(d.encode.getBytes("UTF-8")) finally out.close()
    register(catalog, name, d)
    v
  }

  /** REFRESH: fold the base's change feed over (basis, current]
    * ([[graft.io.VersionedTable.changesPerCommit]]) into the summary —
    * the signed IVM delta (inserts +1/+x, deletes −1/−x, CDF update
    * images as signed pairs), one full-outer merge against the
    * KB-scale MV, the base never re-aggregated — and advance the
    * basis in the same commit. No-op (returns the current MV version)
    * when already fresh. */
  def refresh(catalog: GraftCatalog, name: String): Long = {
    lastReaggRead = None
    lastJoinFactRead = None
    val d = readDef(catalog, name)
    if (d.joins.nonEmpty) refreshJoin(catalog, name, d)
    else refreshSingle(catalog, name, d)
  }

  /** The signed event feed's ±1 per `_change_type` — loud on any
    * event kind the fold does not understand. */
  private def changeSign: org.apache.spark.sql.Column =
    when(col("_change_type").isin("insert", "update_postimage"), lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"),
        lit(-1L))
      .otherwise(raise_error(concat(
        lit("MV refresh: unsupported _change_type '"),
        col("_change_type"), lit("'"))))

  private def dcol(c: String) = s"_delta_$c"
  private def dkey(k: String) = s"_delta_key_$k"

  private def refreshSingle(catalog: GraftCatalog, name: String,
      d: Def): Long = {
    val spark = catalog.spark
    val mvRoot = catalog.rootOf(name)
    val mvVt = new VersionedTable(spark, mvRoot)
    val baseVt = new VersionedTable(spark, catalog.rootOf(d.baseName))
    val basis = currentBasis(spark, mvRoot)
    val cur = baseVt.currentVersion.getOrElse(
      sys.error(s"base table ${d.baseName} does not exist"))
    require(cur >= basis, s"base ${d.baseName} is at v$cur but the MV " +
      s"basis is v$basis — the base was RESTOREd behind the MV; drop " +
      "and re-create the view")
    if (cur == basis) return mvVt.currentVersion.get
    // the PER-COMMIT event feed: every slice derives from manifests +
    // DV delta chains (O(changed files + masked rows)), including
    // windows that mix DML with OPTIMIZE/REORG — the signed fold
    // below cancels any insert-then-delete pair arithmetically, so
    // event form costs nothing in correctness and never pays the
    // endpoint feed's full-snapshot fallback
    val changes = baseVt.changesPerCommit(basis, cur)
    val sign = changeSign
    val hasMinMax = d.mins.nonEmpty || d.maxs.nonEmpty
    val isIns = col("_change_type").isin("insert", "update_postimage")
    val isDel = col("_change_type").isin("delete", "update_preimage")
    val deltaAggs: Seq[org.apache.spark.sql.Column] =
      Seq(sum(sign).as(dcol(d.countStar))) ++
        d.sums.toSeq.map { case (m, c) =>
          sum(col(m) * sign).as(dcol(c)) } ++
        d.counts.toSeq.map { case (m, c) =>
          sum(when(col(m).isNotNull, sign).otherwise(0L)).as(dcol(c)) } ++
        // min/max partials fold FREE over insert-only deltas; a group
        // whose delta removed rows is flagged for the group-scoped
        // re-aggregation below (deleting the extremum needs the
        // group's other rows — but ONLY that group's)
        d.mins.toSeq.map { case (m, c) =>
          min(when(isIns, col(m))).as(dcol(c)) } ++
        d.maxs.toSeq.map { case (m, c) =>
          max(when(isIns, col(m))).as(dcol(c)) } ++
        (if (hasMinMax)
           Seq(max(when(isDel, 1).otherwise(0)).as("_delta_had_deletes"))
         else Seq.empty)
    val delta0 = changes.groupBy(d.dims.map(col): _*).agg(
        deltaAggs.head, deltaAggs.tail: _*)
      .select(d.dims.map(k => col(k).as(dkey(k))) ++
        (d.countStar +: (d.sums.values.toSeq ++ d.counts.values.toSeq ++
          d.mins.values.toSeq ++ d.maxs.values.toSeq))
          .map(c => col(dcol(c))) ++
        (if (hasMinMax) Seq(col("_delta_had_deletes"))
         else Seq.empty): _*)
    // the delta is read twice when min/max groups need re-aggregation
    // (once for the affected-group keys, once for the merge) —
    // checkpoint the O(changed groups) frame instead of re-running
    // the change feed; LAZY, so the re-aggregation's own key collect
    // materializes it rather than a standalone job
    val delta = if (hasMinMax) delta0.localCheckpoint(eager = false)
                else delta0
    val reagg: Option[DataFrame] =
      if (!hasMinMax) None
      else {
        val affected = delta.filter(col("_delta_had_deletes") === 1)
          .select(d.dims.map(k => col(dkey(k))): _*)
        Some(scopedMinMax(baseVt, cur, d, affected))
      }
    mergeAndFold(mvVt, d, delta, reagg,
      s"REFRESH MATERIALIZED VIEW basis=$cur")
  }

  /** The shared REFRESH tail: full-outer merge of the signed delta
    * (columns `_delta_key_<dim>` / `_delta_<mvCol>`, optional
    * `_delta_had_deletes` + `reagg`) against the KB-scale summary,
    * fold per measure kind, drop exactly-emptied groups, commit with
    * the new basis in the operation string. */
  private def mergeAndFold(mvVt: VersionedTable, d: Def,
      delta: DataFrame, reagg: Option[DataFrame],
      newBasisOp: String): Long = {
    val prior = mvVt.read()
    // null-safe merge: NULL is a real group to groupBy, so it must be
    // to the join too (IncrementalAgg's contract)
    val cond = d.dims.map(k => prior(k) <=> col(dkey(k))).reduce(_ && _)
    val merged0 = prior.join(delta, cond, "full_outer")
    val merged = reagg.fold(merged0) { rg =>
      val rcond = d.dims.map(k =>
        coalesce(prior(k), col(dkey(k))) <=> rg(rkey(k))).reduce(_ && _)
      merged0.join(rg, rcond, "left_outer")
    }
    val newN = (coalesce(col(d.countStar), lit(0L)) +
      coalesce(col(dcol(d.countStar)), lit(0L)))
    // measure → its count(m) MV column, when materialized: folds the
    // sum back to NULL when the group's last non-null value left
    // (coalesce-zero alone would freeze an all-NULL group's sum at 0)
    val cntOf: Map[String, String] = d.counts
    def foldedSum(m: String, c: String): org.apache.spark.sql.Column = {
      val zero = lit(0L).cast(prior.schema(c).dataType)
      val s = coalesce(col(c), zero) + coalesce(col(dcol(c)), zero)
      cntOf.get(m) match {
        case Some(cc) =>
          val n = coalesce(col(cc), lit(0L)) +
            coalesce(col(dcol(cc)), lit(0L))
          when(n === 0L, lit(null).cast(prior.schema(c).dataType))
            .otherwise(s)
        case None => s
      }
    }
    // min/max: least/greatest skip NULLs, so an absent delta keeps
    // the prior extremum and a new group takes the delta's; a
    // delete-affected group takes its re-aggregated exact value
    def foldedExtremum(c: String, isMin: Boolean)
        : org.apache.spark.sql.Column = {
      val fold = if (isMin) least(col(c), col(dcol(c)))
                 else greatest(col(c), col(dcol(c)))
      if (reagg.isEmpty) fold
      else when(col("_delta_had_deletes") === 1, col(rcol(c)))
        .otherwise(fold)
    }
    val outCols: Seq[org.apache.spark.sql.Column] =
      d.dims.map(k => coalesce(prior(k), col(dkey(k))).as(k)) ++
        prior.columns.toSeq.filterNot(d.dims.contains).map { c =>
          if (c == d.countStar) newN.as(c)
          else if (d.mins.exists(_._2 == c))
            foldedExtremum(c, isMin = true).as(c)
          else if (d.maxs.exists(_._2 == c))
            foldedExtremum(c, isMin = false).as(c)
          else d.sums.find(_._2 == c) match {
            case Some((m, _)) => foldedSum(m, c).as(c)
            case None =>
              val zero = lit(0L).cast(prior.schema(c).dataType)
              (coalesce(col(c), zero) + coalesce(col(dcol(c)), zero)).as(c)
          }
        }
    val folded = merged.select(outCols: _*)
      .filter(col(d.countStar) > 0) // a group only ever reaches EXACTLY 0
    mvVt.write(folded, operation = newBasisOp)
  }

  /** Star-join REFRESH — EXACT all-sides incremental maintenance via
    * the telescoping signed multiset identity (ΔX = X₁−X₀ signed):
    *
    *   F₁⋈D¹₁⋈…⋈Dⁿ₁ − F₀⋈D¹₀⋈…⋈Dⁿ₀
    *     =  ΔF⋈D¹₁⋈…⋈Dⁿ₁
    *     ∪  Σᵢ F₀ ⋈ D¹₀…D^{i-1}₀ ⋈ ΔDᵢ ⋈ D^{i+1}₁…Dⁿ₁
    *
    * so the fold is a union of delta-shaped joins, never a
    * re-aggregation:
    *
    *   - `ΔF ⋈ dims@new`: the fact's per-commit event feed (O(changed
    *     files + masked rows)) joined to every CURRENT dim — dims are
    *     the small star-schema sides, so these broadcast; the common
    *     "facts appended, dims untouched" refresh costs exactly the
    *     single-table fold plus the broadcasts.
    *   - per changed dim i, `F_old ⋈ ΔDᵢ` (older dims at their OLD
    *     versions, later dims at NEW — exactly one signed feed per
    *     term): ΔDᵢ is tiny, and when its changed join keys are
    *     enumerable the fact read is restricted by a min/max key
    *     envelope pushed to MANIFEST stats pruning plus an exact IN
    *     filter ([[scopedFactRead]]): on a key-clustered 100 TB fact
    *     this plans only the affected files. A dim ATTRIBUTE change
    *     flows exactly: its delete+insert event pair re-signs the
    *     joined fact rows out of the old group and into the new one.
    *
    * Events multiply signs (each term carries exactly one signed
    * feed), and the shared [[mergeAndFold]] applies the same
    * emptied-group / NULL-sum discipline as single-table MVs. Every
    * basis advances atomically in the one commit operation string. */
  private def refreshJoin(catalog: GraftCatalog, name: String,
      d: Def): Long = {
    val spark = catalog.spark
    val mvRoot = catalog.rootOf(name)
    val mvVt = new VersionedTable(spark, mvRoot)
    val factVt = new VersionedTable(spark, catalog.rootOf(d.baseName))
    val dimVts = d.joins.map(j =>
      new VersionedTable(spark, catalog.rootOf(j.dimName)))
    val (bf, bds) = currentBases(spark, mvRoot)
    require(bds.size == d.joins.size, s"$name records ${bds.size} dim " +
      s"bases but the definition joins ${d.joins.size} dims")
    val cf = factVt.currentVersion.getOrElse(
      sys.error(s"fact table ${d.baseName} does not exist"))
    val cds = d.joins.zip(dimVts).map { case (j, vt) =>
      vt.currentVersion.getOrElse(
        sys.error(s"dim table ${j.dimName} does not exist")) }
    require(cf >= bf && cds.zip(bds).forall { case (c, b) => c >= b },
      s"a base of $name was RESTOREd behind the MV (fact v$cf vs " +
        s"basis v$bf, dims ${cds.mkString(",")} vs " +
        s"${bds.mkString(",")}); drop and re-create the view")
    if (cf == bf && cds == bds) return mvVt.currentVersion.get
    val n = d.joins.size
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    if (cf > bf) {
      val ch = factVt.changesPerCommit(bf, cf)
        .withColumn("_mv_sign", changeSign)
      parts += joinedSigned(ch,
        dimVts.zip(cds).map { case (vt, v) => vt.readVersion(v) },
        d, signIdx = -1)
    }
    d.joins.indices.foreach { i =>
      if (cds(i) > bds(i)) {
        // the dim delta is read twice (join-key envelope + the join
        // itself) — checkpoint the O(changed dim rows) frame; LAZY, so
        // the envelope collect right after materializes it
        val ch = dimVts(i).changesPerCommit(bds(i), cds(i))
          .withColumn("_mv_sign", changeSign)
          .localCheckpoint(eager = false)
        val dimFrames = d.joins.indices.map { k =>
          if (k < i) dimVts(k).readVersion(bds(k)) // old
          else if (k == i) ch // the signed feed
          else dimVts(k).readVersion(cds(k)) // new
        }
        parts += joinedSigned(
          scopedFactRead(factVt, bf, d.joins(i), ch), dimFrames, d,
          signIdx = i)
      }
    }
    val events = parts.reduce(_ unionByName _)
    val hasMinMax = d.mins.nonEmpty || d.maxs.nonEmpty
    val isIns = col("_mv_sign") > 0
    val isDel = col("_mv_sign") < 0
    val deltaAggs: Seq[org.apache.spark.sql.Column] =
      Seq(sum(col("_mv_sign")).as(dcol(d.countStar))) ++
        d.sums.toSeq.map { case (m, c) =>
          sum(col(m) * col("_mv_sign")).as(dcol(c)) } ++
        d.counts.toSeq.map { case (m, c) =>
          sum(when(col(m).isNotNull, col("_mv_sign")).otherwise(0L))
            .as(dcol(c)) } ++
        // min/max partials fold FREE over insert-only deltas; a group
        // whose delta removed joined rows (a fact delete OR a dim-move
        // re-signing rows away) re-aggregates — but ONLY that group
        d.mins.toSeq.map { case (m, c) =>
          min(when(isIns, col(m))).as(dcol(c)) } ++
        d.maxs.toSeq.map { case (m, c) =>
          max(when(isIns, col(m))).as(dcol(c)) } ++
        (if (hasMinMax)
           Seq(max(when(isDel, 1).otherwise(0)).as("_delta_had_deletes"))
         else Seq.empty)
    val delta0 = events.groupBy(d.dims.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .select(d.dims.map(k => col(k).as(dkey(k))) ++
        (d.countStar +: (d.sums.values.toSeq ++ d.counts.values.toSeq ++
          d.mins.values.toSeq ++ d.maxs.values.toSeq))
          .map(c => col(dcol(c))) ++
        (if (hasMinMax) Seq(col("_delta_had_deletes"))
         else Seq.empty): _*)
    val delta = if (hasMinMax) delta0.localCheckpoint(eager = false)
                else delta0
    val reagg: Option[DataFrame] =
      if (!hasMinMax) None
      else {
        val affected = delta.filter(col("_delta_had_deletes") === 1)
          .select(d.dims.map(k => col(dkey(k))): _*)
        Some(scopedJoinMinMax(factVt, cf, dimVts, cds, d, affected))
      }
    mergeAndFold(mvVt, d, delta, reagg,
      s"REFRESH MATERIALIZED VIEW basis=$cf " +
        s"dim_basis=${cds.mkString(",")}")
  }

  /** Min/max re-aggregation over the star join for ONLY the
    * delete-affected groups, read from the CURRENT pinned snapshots:
    * the affected group keys broadcast as a left-semi filter on the
    * joined base. When every MV dim is a FACT-side column and the
    * groups are enumerable, the per-group predicates additionally
    * push into the fact manifest's partition/stats pruning (the
    * single-table scopedMinMax shape); dim-side dims restrict through
    * the join itself — the dims are the small star sides, so their
    * filtered rows bound the fact matches. Row-exact either way. */
  private def scopedJoinMinMax(factVt: VersionedTable, cf: Long,
      dimVts: Seq[VersionedTable], cds: Seq[Long], d: Def,
      affectedKeys: DataFrame): DataFrame = {
    import graft.io.{VersionedTable => VT}
    val keyRows = affectedKeys.limit(reaggGroupCap + 1).collect()
    val dimFrames = dimVts.zip(cds).map { case (vt, v) =>
      vt.readVersion(v) }
    val allFactSide =
      d.dims.forall(c => !d.joins.exists(_.dimSideCols.contains(c)))
    val enumerable = keyRows.nonEmpty &&
      keyRows.length <= reaggGroupCap &&
      keyRows.forall(r => d.dims.indices.forall(i => !r.isNullAt(i)))
    val scoped =
      if (keyRows.isEmpty)
        joinedBase(factVt.readVersion(cf), dimFrames, d)
          .limit(0).filter(lit(false))
      else if (allFactSide && enumerable)
        // fact-side dims: per-group predicates prune the FACT scan
        keyRows.toSeq.map { r =>
          joinedBase(factVt.readMatchingAt(Some(cf),
            d.dims.zipWithIndex.map { case (dim, i) =>
              VT.PartitionEq(dim, r.get(i).toString)
            }: _*), dimFrames, d)
        }.reduce(_ unionByName _)
      else {
        val keys = affectedKeys.toDF(d.dims.map(k => s"__aff_$k"): _*)
        val c = d.dims.map(k => col(k) <=> col(s"__aff_$k"))
          .reduce(_ && _)
        joinedBase(factVt.readVersion(cf), dimFrames, d)
          .join(broadcast(keys), c, "left_semi")
      }
    lastReaggRead = if (keyRows.isEmpty) None else Some(scoped)
    val aggs = d.mins.toSeq.map { case (m, c) =>
      min(col(m)).as(rcol(c)) } ++
      d.maxs.toSeq.map { case (m, c) => max(col(m)).as(rcol(c)) }
    scoped.groupBy(d.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(d.dims.map(k => col(k).as(rkey(k))) ++
        (d.mins.values.toSeq ++ d.maxs.values.toSeq)
          .map(c => col(rcol(c))): _*)
  }

  /** The star join's OUTPUT projection over fact ⋈ every dim: each MV
    * dim/measure resolves against the side the persisted definition
    * recorded, join keys pairwise-equal per dim, inner semantics
    * (NULL keys drop — consistently at CREATE and in every delta, so
    * the algebra stays exact). */
  private def joinedBase(fact: DataFrame, dims: Seq[DataFrame],
      d: Def): DataFrame =
    joinAll(fact, dims, d).select(outputCols(d): _*)

  /** [[joinedBase]] with the `_mv_sign` column carried through from
    * the signed side (`signIdx` = -1 for the fact, else the dim
    * index). */
  private def joinedSigned(fact: DataFrame, dims: Seq[DataFrame],
      d: Def, signIdx: Int): DataFrame = {
    val signSide = if (signIdx < 0) "__f" else s"__d$signIdx"
    joinAll(fact, dims, d).select(outputCols(d) :+
      col(s"$signSide._mv_sign").as("_mv_sign"): _*)
  }

  private def joinAll(fact: DataFrame, dims: Seq[DataFrame],
      d: Def): DataFrame =
    d.joins.zipWithIndex.foldLeft(fact.as("__f")) {
      case (acc, (j, i)) =>
        val cond = j.factKeys.zip(j.dimKeys).map { case (a, b) =>
          col(s"__f.$a") === col(s"__d$i.$b") }.reduce(_ && _)
        acc.join(dims(i).as(s"__d$i"), cond, "inner")
    }

  private def outputCols(d: Def): Seq[org.apache.spark.sql.Column] = {
    val outs = (d.dims ++ (d.sums.keySet ++ d.counts.keySet ++
      d.mins.keySet ++ d.maxs.keySet).toSeq.sorted).distinct
    outs.map { c =>
      val side = d.joins.zipWithIndex
        .find { case (j, _) => j.dimSideCols.contains(c) }
        .map { case (_, i) => s"__d$i" }.getOrElse("__f")
      col(s"$side.$c").as(c)
    }
  }

  /** Cap on enumerated changed-dim join keys — beyond it the old-fact
    * read is a plain join (ΔD broadcasts; still delta-bounded
    * output, just no file-level pruning). */
  private val factScopeKeyCap = 64

  /** Test observable: the old-fact read of the LAST star-join refresh
    * (None when the dim side had no changes) — specs assert its
    * planned files to PROVE the read was key-envelope-pruned. */
  @volatile private[graft] var lastJoinFactRead: Option[DataFrame] = None

  /** The `F_old ⋈ ΔD` fact read, restricted when possible: collect
    * the dim delta's distinct changed join keys (capped, NULL-free,
    * single-key numeric only); push their [min,max] envelope to the
    * fact manifest's stats pruning and keep the exact membership as a
    * row filter. Otherwise the full pinned snapshot (the join itself
    * still bounds the OUTPUT by |ΔD| matches). */
  private def scopedFactRead(factVt: VersionedTable, bf: Long,
      j: JoinPart, dimDelta: DataFrame): DataFrame = {
    import graft.io.{VersionedTable => VT}
    val full = factVt.readVersion(bf)
    val scoped =
      if (j.factKeys.size != 1) full
      else {
        val keyRows = dimDelta.select(col(j.dimKeys.head)).distinct()
          .limit(factScopeKeyCap + 1).collect()
        val numeric = keyRows.nonEmpty &&
          keyRows.length <= factScopeKeyCap &&
          keyRows.forall(r => !r.isNullAt(0) && (r.get(0) match {
            case _: Byte | _: Short | _: Int | _: Long => true
            case _ => false
          }))
        if (!numeric) full
        else {
          val vals = keyRows.map(_.get(0) match {
            case b: Byte => b.toLong
            case s: Short => s.toLong
            case i: Int => i.toLong
            case l: Long => l
          })
          factVt.readMatchingAt(Some(bf), VT.NumRange(j.factKeys.head,
            vals.min.toDouble, vals.max.toDouble))
            .filter(col(j.factKeys.head).isin(vals.toSeq: _*))
        }
      }
    lastJoinFactRead = Some(scoped)
    scoped
  }

  /** The warehouse's MV listing with FRESHNESS — the ops question "is
    * my dashboard stale, and by how many base commits?": one row per
    * persisted MV — (name, base, basis version, base's current
    * version, fresh flag). Driver-side metadata only (a definition
    * read + two manifest-HEAD probes per MV); a row is exactly as
    * fresh as the rewrite's own decision, since both read the same
    * recorded basis. */
  def list(catalog: GraftCatalog): Seq[(String, String, Long, Long,
      Boolean)] =
    catalog.tables.keys.toSeq.sorted
      .filter(isMaterializedView(catalog, _))
      .map { n =>
        val d = readDef(catalog, n)
        val (basis, dimBasis) =
          currentBases(catalog.spark, catalog.rootOf(n))
        val cur = new VersionedTable(catalog.spark,
          catalog.rootOf(d.baseName)).currentVersion.getOrElse(-1L)
        val dimFresh = d.joins.zipWithIndex.forall { case (j, i) =>
          val dimCur = new VersionedTable(catalog.spark,
            catalog.rootOf(j.dimName)).currentVersion.getOrElse(-1L)
          dimBasis.lift(i).contains(dimCur)
        }
        val baseLabel = d.baseName +
          d.joins.map(j => s" JOIN ${j.dimName}").mkString
        (n, baseLabel, basis, cur, basis == cur && dimFresh)
      }

  /** DROP: deregister the rewrite, drop the backing table (definition
    * sidecar goes with the directory). */
  def drop(catalog: GraftCatalog, name: String): Unit = {
    require(isMaterializedView(catalog, name),
      s"$name is not a materialized view in ${catalog.warehouse}")
    registrations.remove(catalog.rootOf(name)).foreach(_.deregister())
    catalog.dropTable(name)
  }

  private def rcol(c: String) = s"_reagg_$c"
  private def rkey(k: String) = s"_reagg_key_$k"

  /** How many delete-affected groups REFRESH enumerates into
    * per-group predicate reads (manifest-pruned); beyond the cap the
    * re-aggregation is one semi-joined scan — at that churn a single
    * pass beats thousands of per-group plans anyway. */
  private val reaggGroupCap = 64

  /** Test observable: the scoped re-aggregation read of the LAST
    * refresh (None when no delete-affected min/max group existed) —
    * specs assert its planned files to PROVE the read was
    * group-scoped, not a table scan. */
  @volatile private[graft] var lastReaggRead: Option[DataFrame] = None

  /** Min/max re-aggregation of ONLY the delete-affected groups, read
    * from the PINNED base snapshot: each enumerated group becomes a
    * per-dim predicate pushed to the manifest (partition/stats file
    * pruning — on a dim-partitioned 100 TB base this plans just the
    * affected groups' files). Groups beyond [[reaggGroupCap]] or with
    * NULL dims (no per-group predicate can express NULL) fall back to
    * ONE semi-joined scan — still row-exact, never wrong. */
  private def scopedMinMax(baseVt: VersionedTable, cur: Long, d: Def,
      affectedKeys: DataFrame): DataFrame = {
    import graft.io.{VersionedTable => VT}
    val keyRows = affectedKeys.limit(reaggGroupCap + 1).collect()
    val enumerable = keyRows.length <= reaggGroupCap &&
      keyRows.forall(r => d.dims.indices.forall(i => !r.isNullAt(i)))
    val scoped =
      if (keyRows.isEmpty) baseVt.readVersion(cur).limit(0)
        .filter(lit(false))
      else if (enumerable)
        keyRows.toSeq.map { r =>
          baseVt.readMatchingAt(Some(cur), d.dims.zipWithIndex.map {
            case (dim, i) => VT.PartitionEq(dim, r.get(i).toString)
          }: _*)
        }.reduce(_ unionByName _)
      else {
        val keys = affectedKeys.toDF(d.dims.map(k => s"__aff_$k"): _*)
        val c = d.dims.map(k => col(k) <=> col(s"__aff_$k"))
          .reduce(_ && _)
        baseVt.readVersion(cur).join(broadcast(keys), c, "left_semi")
      }
    lastReaggRead = if (keyRows.isEmpty) None else Some(scoped)
    val aggs = d.mins.toSeq.map { case (m, c) => min(col(m)).as(rcol(c)) } ++
      d.maxs.toSeq.map { case (m, c) => max(col(m)).as(rcol(c)) }
    scoped.groupBy(d.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(d.dims.map(k => col(k).as(rkey(k))) ++
        (d.mins.values.toSeq ++ d.maxs.values.toSeq)
          .map(c => col(rcol(c))): _*)
  }

  /** The CREATE's initial aggregation, exactly the shape REFRESH
    * maintains. */
  private def aggregate(base: DataFrame, d: Def): DataFrame = {
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as(d.countStar)) ++
        d.sums.toSeq.map { case (m, c) => sum(col(m)).as(c) } ++
        d.counts.toSeq.map { case (m, c) => count(col(m)).as(c) } ++
        d.mins.toSeq.map { case (m, c) => min(col(m)).as(c) } ++
        d.maxs.toSeq.map { case (m, c) => max(col(m)).as(c) }
    base.groupBy(d.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The parsed SELECT-item list, shared by both FROM forms. */
  private final case class Items(sums: Map[String, String],
      counts: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String], countStar: String)

  private def parseItems(itemsTxt: String, dims: Seq[String]): Items = {
    var sums = Map.empty[String, String]
    var counts = Map.empty[String, String]
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    var countStar = Option.empty[String]
    GraftSql.splitTopList(itemsTxt).map(_.trim).foreach {
      case d if d.matches(ident) && dims.contains(d) => () // a dim
      case cntStarRe(as) =>
        require(countStar.isEmpty, "duplicate count(*) in the SELECT")
        countStar = Some(as)
      case sumRe(m, as) =>
        require(!sums.contains(m), s"duplicate sum($m) in the SELECT")
        sums += m -> as
      case cntColRe(m, as) =>
        require(!counts.contains(m), s"duplicate count($m) in the SELECT")
        counts += m -> as
      case minRe(m, as) =>
        require(!mins.contains(m), s"duplicate min($m) in the SELECT")
        mins += m -> as
      case maxRe(m, as) =>
        require(!maxs.contains(m), s"duplicate max($m) in the SELECT")
        maxs += m -> as
      case avgRe(m) => sys.error(
        s"avg($m) is DERIVED, not materialized: declare `sum($m) AS " +
          s"sum_$m, count($m) AS cnt_$m` instead — avg() queries over " +
          "the base then rewrite onto those partials automatically " +
          "(exact under NULLs; a materialized avg column could not be " +
          "incrementally maintained or re-rolled-up)")
      case other => sys.error("CREATE MATERIALIZED VIEW supports dims, " +
        "sum(col) AS name, count(*) AS name, count(col) AS name, " +
        s"min(col) AS name, max(col) AS name — got: $other")
    }
    require(countStar.isDefined, "CREATE MATERIALIZED VIEW requires a " +
      "count(*) column — it is how REFRESH detects emptied groups " +
      "(and what count(*) rollups serve from)")
    // every sum needs its paired non-null count: REFRESH's fold uses
    // it to return an all-NULL group's sum to NULL exactly (coalesce-
    // zero alone would freeze it at 0, diverging from the base plan),
    // and it is what unlocks the avg() rewrite besides
    sums.keys.foreach(m => require(counts.contains(m),
      s"sum($m) needs its paired non-null count: add `count($m) AS " +
        s"cnt_$m` to the SELECT — REFRESH folds the sum back to NULL " +
        "through it when a group's last non-null value leaves, and " +
        "avg() rewrites divide by it"))
    val outNames = dims ++ (sums.values.toSeq ++ counts.values.toSeq ++
      mins.values.toSeq ++ maxs.values.toSeq) ++ countStar.toSeq
    val dupNames = outNames.diff(outNames.distinct).distinct
    require(dupNames.isEmpty, "duplicate output column(s) in the MV " +
      s"SELECT: ${dupNames.mkString(", ")}")
    Items(sums, counts, mins, maxs, countStar.get)
  }

  private def requireIntegralSum(m: String,
      t: org.apache.spark.sql.types.DataType, of: String): Unit =
    require(Seq("byte", "short", "integer", "long").contains(t.typeName),
      s"sum($m) must be integral for exact IVM maintenance (got " +
        s"${t.typeName} in $of) — double sums drift under delta " +
        "reordering; cast to cents/long first")

  /** Parse `SELECT dims…, aggs… FROM base GROUP BY dims…` — or the
    * star-join form `FROM fact [f] JOIN d1 [a1] ON f.k = a1.k [AND …]
    * [JOIN d2 [a2] ON …]… GROUP BY …` — into a [[Def]]. Loud on
    * everything outside the maintainable shape. */
  private[sql] def parseSelect(catalog: GraftCatalog,
      selectSql: String): Def = selectSql.trim match {
    case selectAnyRe(itemsTxt, fromTxt, gb)
        if "(?is)\\sJOIN\\s".r.findFirstIn(fromTxt).isDefined =>
      parseJoinSelect(catalog, itemsTxt, fromTxt, gb)
    case selectRe(itemsTxt, baseName, gb) =>
      val dims = GraftSql.splitTopList(gb)
      dims.foreach(g => require(g.matches(ident),
        s"GROUP BY must list bare dimension columns, got: $g"))
      val it = parseItems(itemsTxt, dims)
      val baseRoot = catalog.rootOf(baseName)
      val base = new VersionedTable(catalog.spark, baseRoot)
      require(base.currentVersion.isDefined,
        s"base table $baseName does not exist in ${catalog.warehouse}")
      val schema = base.read().schema
      dims.foreach(dd => require(schema.fieldNames.contains(dd),
        s"dimension $dd is not a column of $baseName"))
      val measures = it.sums.keySet ++ it.counts.keySet ++
        it.mins.keySet ++ it.maxs.keySet
      measures.foreach { m =>
        require(schema.fieldNames.contains(m),
          s"measure $m is not a column of $baseName")
        require(!dims.contains(m),
          s"$m cannot be both a dim and a measure")
      }
      it.sums.keys.foreach(m =>
        requireIntegralSum(m, schema(m).dataType, baseName))
      (it.mins.keys ++ it.maxs.keys).foreach { m =>
        val t = schema(m).dataType
        val orderable = t match {
          case _: org.apache.spark.sql.types.NumericType => true
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.BooleanType => true
          case _ => false
        }
        require(orderable, s"min/max($m) needs an orderable atomic " +
          s"column, got ${t.typeName}")
      }
      Def(baseName, dims, it.sums, it.counts, it.countStar, it.mins,
        it.maxs)
    case other => sys.error("CREATE MATERIALIZED VIEW expects " +
      "`SELECT dims…, aggs… FROM <table> [JOIN <dim> ON …] " +
      "GROUP BY dims…`, got: " + other)
  }

  /** The star-join form's tail: split the FROM text into
    * `fact [alias] (JOIN dim [alias] ON …)+`, parse each ON
    * conjunction against the FACT (star shape — every dim joins the
    * fact directly; snowflake chains are refused), resolve every
    * output column to exactly one side, validate, and persist the
    * sides in the [[JoinPart]]s so resolution can never drift. */
  private def parseJoinSelect(catalog: GraftCatalog, itemsTxt: String,
      fromTxt: String, gb: String): Def = {
    val segs = fromTxt.trim.split("(?is)\\s+JOIN\\s+").toSeq
    require(segs.size >= 2, s"star-join FROM must contain at least " +
      s"one JOIN, got: $fromTxt")
    val headRe = s"(?is)^($ident)(?:\\s+(?:AS\\s+)?($ident))?$$".r
    val segRe =
      s"(?is)^($ident)(?:\\s+(?:AS\\s+)?($ident))?\\s+ON\\s+(.*)$$".r
    val (factName, fAlias) = segs.head.trim match {
      case headRe(n, a) => (n, Option(a).getOrElse(n))
      case o => sys.error(
        s"star-join FROM must start `fact [AS alias]`, got: $o")
    }
    val dimSegs: Seq[(String, String, String)] = segs.tail.map(_.trim)
      .map {
        case segRe(n, a, on) => (n, Option(a).getOrElse(n), on.trim)
        case o => sys.error("each star-join clause must be " +
          s"`JOIN dim [AS alias] ON …`, got: $o")
      }
    val aliases = fAlias +: dimSegs.map(_._2)
    require(aliases.distinct.size == aliases.size,
      s"star-join sides need distinct aliases, got: " +
        aliases.mkString(", "))
    val dims = GraftSql.splitTopList(gb)
    dims.foreach(g => require(g.matches(ident),
      "GROUP BY must list bare UNQUALIFIED dimension columns " +
        s"(side resolution is by name), got: $g"))
    val it = parseItems(itemsTxt, dims)
    val keyRe = s"(?is)^($ident)\\.($ident)\\s*=\\s*($ident)\\.($ident)$$".r
    val keyPairs: Seq[(Seq[String], Seq[String])] = dimSegs.map {
      case (dimName, dAlias, onTxt) =>
        val pairs = onTxt.split("(?i)\\s+AND\\s+").toSeq.map(_.trim)
          .map {
            case keyRe(a1, c1, a2, c2) =>
              if (a1 == fAlias && a2 == dAlias) (c1, c2)
              else if (a1 == dAlias && a2 == fAlias) (c2, c1)
              else if (aliases.contains(a1) && aliases.contains(a2))
                sys.error(s"ON conjunct $a1.$c1 = $a2.$c2 does not " +
                  s"join $dimName to the FACT — star shape only: " +
                  "every dim joins the fact directly (no snowflake " +
                  "chains)")
              else sys.error(s"ON conjunct must equate $fAlias.<col> " +
                s"with $dAlias.<col>, got: $a1.$c1 = $a2.$c2")
            case other => sys.error("star-join ON must be a " +
              s"conjunction of alias-qualified key equalities, got: " +
              other)
          }
        (pairs.map(_._1), pairs.map(_._2))
    }
    val factVt = new VersionedTable(catalog.spark,
      catalog.rootOf(factName))
    require(factVt.currentVersion.isDefined,
      s"fact table $factName does not exist in ${catalog.warehouse}")
    val factSchema = factVt.read().schema
    val dimSchemas = dimSegs.map { case (dimName, _, _) =>
      val vt = new VersionedTable(catalog.spark, catalog.rootOf(dimName))
      require(vt.currentVersion.isDefined,
        s"dim table $dimName does not exist in ${catalog.warehouse}")
      vt.read().schema
    }
    keyPairs.zip(dimSegs).zip(dimSchemas).foreach {
      case (((fks, dks), (dimName, _, _)), dimSchema) =>
        fks.foreach(k => require(factSchema.fieldNames.contains(k),
          s"join key $k is not a column of $factName"))
        dks.foreach(k => require(dimSchema.fieldNames.contains(k),
          s"join key $k is not a column of $dimName"))
    }
    val measures = it.sums.keySet ++ it.counts.keySet ++
      it.mins.keySet ++ it.maxs.keySet
    measures.foreach(m => require(!dims.contains(m),
      s"$m cannot be both a dim and a measure"))
    val allKeyMembers: Set[String] =
      keyPairs.flatMap { case (f, dd) => f ++ dd }.toSet
    // resolve each output column to exactly one side: -1 = fact,
    // i >= 0 = dim i. A join-key pair member is value-equal across
    // the inner join and prefers the fact; anything else present on
    // two sides is ambiguous.
    def sideOf(c: String): Int = {
      val owners: Seq[Int] =
        (if (factSchema.fieldNames.contains(c)) Seq(-1) else Seq.empty) ++
          dimSchemas.zipWithIndex.collect {
            case (s, i) if s.fieldNames.contains(c) => i
          }
      owners match {
        case Seq(one) => one
        case Seq() => sys.error(s"column $c is a column of neither " +
          s"$factName nor ${dimSegs.map(_._1).mkString("/")}")
        case many if allKeyMembers.contains(c) && many.contains(-1) => -1
        case _ => sys.error(s"column $c exists on multiple join " +
          s"sides — rename one (resolution is by name)")
      }
    }
    val outs = (dims ++ measures.toSeq.sorted).distinct
    val sideIdx: Map[String, Int] = outs.map(c => c -> sideOf(c)).toMap
    def ownerSchema(m: String) = sideIdx(m) match {
      case -1 => (factSchema, factName)
      case i => (dimSchemas(i), dimSegs(i)._1)
    }
    it.sums.keys.foreach { m =>
      val (sch, of) = ownerSchema(m)
      requireIntegralSum(m, sch(m).dataType, of)
    }
    (it.mins.keys ++ it.maxs.keys).foreach { m =>
      val (sch, _) = ownerSchema(m)
      val t = sch(m).dataType
      val orderable = t match {
        case _: org.apache.spark.sql.types.NumericType => true
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.BooleanType => true
        case _ => false
      }
      require(orderable, s"min/max($m) needs an orderable atomic " +
        s"column, got ${t.typeName}")
    }
    val joins = dimSegs.zip(keyPairs).zipWithIndex.map {
      case (((dimName, _, _), (fks, dks)), i) =>
        JoinPart(dimName, fks, dks,
          outs.filter(c => sideIdx(c) == i))
    }
    Def(factName, dims, it.sums, it.counts, it.countStar,
      it.mins, it.maxs, joins = joins)
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, CommonExpressionRef,
  Expression, Unevaluable, With}
import org.apache.spark.sql.catalyst.optimizer.{ComputeCurrentTime, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.PackFold

/** Extra-column policy for pack (reference: ExtraColumnsMode). */
sealed trait ExtraColumns
object ExtraColumns {
  case object Preserve extends ExtraColumns
  case object Drop extends ExtraColumns
  case object Error extends ExtraColumns
}

/** Physical pack strategy chosen by [[Packer.choosePackStrategy]]. */
sealed trait PackStrategy
object PackStrategy {
  case object Plain extends PackStrategy
  case object SplitJoin extends PackStrategy
}

/** Full pack recommendation from [[Packer.planPack]]: the strategy pick
  * plus a probe-estimated shuffle payload and the partition count it
  * implies. ADVICE, deliberately not auto-applied — partition sizing
  * follows the operator's shuffle payload and the pipeline author's
  * session, so the caller decides (set `spark.sql.shuffle.partitions`,
  * or pass the count to a repartition) exactly like
  * [[graft.ext.Tuning.scaleShuffleTo]]. */
final case class PackPlan(strategy: PackStrategy,
                          estimatedShuffleBytes: Long,
                          recommendedPartitions: Int)

/** Root-attribute strategy for pack (reference: ParentStrategy). */
sealed trait ParentStrategy
object ParentStrategy {
  case object Aggregate extends ParentStrategy
  /** Pull heavy root attributes into a dim table and re-join after packing
    * only structural columns; the dim side is broadcast when small. */
  case object SplitJoin extends ParentStrategy
}

/**
 * Converts between flat "dotted-column" tables and nested List[Struct]
 * hierarchies (reference: nexpresso/hierarchical_packer.py, HierarchicalPacker).
 *
 * Spark-first design notes (vs. the reference's single-node Polars engine):
 *  - A pack is ONE `groupBy(target level's ancestor keys)`: a hash shuffle
 *    keyed on the coarsest packed level's parent, whose
 *    [[graft.functions.PackFold]] aggregate builds the child lists of every
 *    level below it from the group's rows — however many levels the pack
 *    folds, it plans one exchange and one partial/final aggregate pair.
 *    Executor memory is bounded by the shuffle, so the reference's
 *    `pack_streaming` disk-bucketing machinery is unnecessary (see
 *    [[Packer.packStreaming]]).
 *  - Arrival order is nondeterministic after a shuffle, so child-list order
 *    is enforced EXPLICITLY: the fold sorts each list by (level `orderBy`…,
 *    min row id), ascending with nulls first, comparing only those keys.
 *    Mirrors the reference's sort-inside-agg
 *    (hierarchical_packer.py:2684-2688) without a global sort.
 *  - Row order: Polars has a contiguous engine row index; Spark does not.
 *    We use `monotonically_increasing_id()` (monotone within a partition,
 *    stable for ordered sources). Top-level row order after pack is
 *    unguaranteed — same caveat as the reference (README.md:251-254).
 *  - Parent-attribute dedup = first non-null value — the reference's
 *    `drop_nulls().first()` (hierarchical_packer.py:2678).
 *
 * @param validateOnPack run the per-level aggregation-uniformity check
 *        (reference's eager validation gate, hierarchical_packer.py:1000-1001).
 *        The audit evidence rides the pack's own aggregate — no second
 *        scan; cost is one check over the persisted packed output, however
 *        many levels the pack folds.
 *        CACHE LIFETIME: each validating pack leaves that
 *        MEMORY_AND_DISK cache alive so the returned frame serves from it;
 *        on long-lived sessions running many packs, call
 *        [[Packer.releaseAuditCaches]] once the results are consumed.
 *        Only that call or `unpersist` frees them: the session's
 *        CacheManager holds every persisted plan, so the ContextCleaner
 *        never reclaims them, even after the frames are collected.
 */
final class Packer(
    val spec: HierarchySpec,
    val preserveChildOrder: Boolean = true,
    val validateOnPack: Boolean = false) extends PackerMetaOps with CrossLevelOps {

  import Packer._

  private val cn = spec.colName
  private def sep = cn.separator
  private def metas = spec.metadata

  // ---------------------------------------------------------------- helpers

  private def topCol(name: String): Column = ColName.topCol(name)

  private def hasCol(df: DataFrame, name: String): Boolean =
    df.schema.fieldNames.contains(name)

  /** Alias-key + row-id + computed-field preparation (reference:
    * _prepare_frame, hierarchical_packer.py:2342-2365). Returns the
    * prepared frame and the names of alias columns that were added. */
  private def prepareFrame(df: DataFrame): (DataFrame, Seq[String]) = {
    var cur = df
    val added = Seq.newBuilder[String]
    spec.keyAliases.foreach { case (target, source) =>
      if (!hasCol(cur, target) && hasCol(cur, source)) {
        cur = cur.withColumn(target, topCol(source))
        added += target
      }
    }
    if (preserveChildOrder && !hasCol(cur, RowIdCol))
      cur = cur.select((monotonically_increasing_id().alias(RowIdCol) +:
        cur.schema.fieldNames.toIndexedSeq.map(topCol)): _*)
    // computed id fields materialize as their fully-qualified flat column
    // (reference: _ensure_computed_fields, hierarchical_packer.py:2415-2436)
    metas.foreach { m =>
      m.spec.idFields.foreach {
        case ComputedField(name, expr) =>
          val qualified = m.prefix + cn.escapeField(name)
          if (!hasCol(cur, qualified)) cur = cur.withColumn(qualified, expr)
        case _ =>
      }
    }
    (cur, added.result())
  }

  private def dropIfPresent(df: DataFrame, names: Seq[String]): DataFrame = {
    val present = names.filter(hasCol(df, _))
    if (present.isEmpty) df else df.drop(present: _*)
  }

  /** Shared extra-columns policy gate: every pack entry point reports the
    * same condition with the same message and remediation hint. */
  private def applyExtraColumnsPolicy(df: DataFrame, policy: ExtraColumns): DataFrame = {
    val extras = identifyExtraColumns(df.schema)
    if (extras.isEmpty) df
    else policy match {
      case ExtraColumns.Error =>
        throw new HierarchyValidationError(
          s"Found ${extras.size} column(s) not part of the hierarchy: " +
            s"${extras.take(5).mkString(", ")}${if (extras.size > 5) "..." else ""}. " +
            "Use ExtraColumns.Preserve to keep them or Drop to remove them.")
      case ExtraColumns.Drop => df.drop(extras: _*)
      case ExtraColumns.Preserve => df // kept; uniformity enforced when validateOnPack
    }
  }

  /** Columns not belonging to any hierarchy level (reference:
    * _identify_extra_columns, hierarchical_packer.py:2479-2526). */
  def identifyExtraColumns(schema: StructType): Seq[String] = {
    // prefixes/paths are built from ESCAPED names; an unescaped
    // `name + sep` check would misclassify when a level name contains
    // the separator
    val prefixes = metas.map(_.prefix)
    val paths = metas.map(_.path).toSet
    val aliasTargets = spec.keyAliases.keySet
    schema.fieldNames.toIndexedSeq.filter { c =>
      c != RowIdCol && !paths.contains(c) && !aliasTargets.contains(c) &&
        !prefixes.exists(c.startsWith)
    }
  }

  // ------------------------------------------------------------------ pack

  /** P1: fold flat columns into nested List[Struct], one level at a time
    * from the leaf up to `toLevel` (reference: pack,
    * hierarchical_packer.py:941-1011). */
  def pack(df: DataFrame, toLevel: String,
           extraColumns: ExtraColumns = ExtraColumns.Preserve,
           parentStrategy: ParentStrategy = ParentStrategy.Aggregate): DataFrame =
    parentStrategy match {
      case ParentStrategy.SplitJoin => packSplitJoin(df, toLevel, extraColumns)
      case ParentStrategy.Aggregate =>
        val (prepared0, added) = prepareFrame(df)
        packAggregate(prepared0, toLevel, extraColumns, added)
    }

  /** Aggregate-strategy pack over an ALREADY-PREPARED frame — shared by
    * [[pack]], [[packSalted]], [[packSplitJoin]] and [[packStreaming]], so
    * each runs frame prep and extra-column classification exactly once. */
  private def packAggregate(prepared: DataFrame, toLevel: String,
                            extraColumns: ExtraColumns, added: Seq[String]): DataFrame = {
    val df = applyExtraColumnsPolicy(prepared, extraColumns)
    dropInternal(dropIfPresent(
      fold(df, metas.size - 1, spec.levelIndex(toLevel), validateOnPack), added))
  }

  /** P2: fold levels `bottom` up to `top` (reference: pack and
    * _pack_single_level, hierarchical_packer.py:941-1011, 2614-2698). Each
    * level's columns become one struct per row of that level; below the
    * root, the structs are grouped by the level's ancestor keys into its
    * parent's child list, with `first(ignoreNulls)` for the columns the
    * level carries and `min` for the row id. Every such level runs inside
    * ONE `groupBy(coarsest level's ancestor keys)`, whose [[PackFold]]
    * builds the lists of all finer levels from the group's rows; the root
    * then folds into a plain struct.
    *
    * The output is the frame a level-by-level fold would produce: the same
    * columns in the same order, the same nullability, and child lists
    * ordered by (level `orderBy`…, min row id). A coarser level's
    * `orderBy` sees that level's folded row. Expects a frame from
    * `prepareFrame`: the row id, when the pack preserves child order, is
    * already there. */
  private def fold(df: DataFrame, bottom: Int, top: Int,
                          validate: Boolean): DataFrame = {
    val withRowId = preserveChildOrder && hasCol(df, RowIdCol)
    // replay the level-by-level fold on the schema alone: each step keeps
    // the frame it folds from, with every value named by its source
    var cur: Seq[(StructField, PackFold.Source)] =
      df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) => f -> PackFold.FirstOf(i) }
    val steps = Seq.newBuilder[FoldStep]
    (bottom to math.max(top, 1) by -1).foreach { i =>
      val meta = metas(i)
      val (level, others) = cur.partition(_._1.name.startsWith(meta.prefix))
      if (level.nonEmpty) {
        val keys = meta.ancestorKeys.map(k => cur.find(_._1.name == k).getOrElse(
          throw new HierarchyError(
            s"cannot pack level '${meta.name}': ancestor key column '$k' is missing")))
        val excluded = meta.ancestorKeys.toSet + meta.path + RowIdCol
        val carried = others.filterNot(c => excluded(c._1.name))
        val struct = StructType(level.map { case (f, _) =>
          f.copy(name = f.name.substring(meta.prefix.length)) })
        steps += FoldStep(meta, cur, level, struct, carried)
        cur = keys ++
          carried.map { case (f, s) => f.copy(nullable = true, metadata = Metadata.empty) -> s } ++
          Seq(StructField(meta.path, ArrayType(struct, containsNull = false),
            nullable = false) -> PackFold.Children) ++
          (if (withRowId) Seq(StructField(RowIdCol, LongType) -> PackFold.MinRowId) else Nil)
      }
    }
    val folds = steps.result()
    val packed = if (folds.isEmpty) df else foldAggregate(df, folds, withRowId, validate)
    if (top == 0) rootStruct(packed) else packed
  }

  /** The one aggregate of [[fold]]: `folds` finest first. */
  private def foldAggregate(df: DataFrame, folds: Seq[FoldStep], withRowId: Boolean,
                            validate: Boolean): DataFrame = {
    import PackFold.{FirstOf, Level, Source}
    val coarsest = folds.last
    val levels = folds.reverse
    def ordinal(s: Source): Int = s match {
      case FirstOf(i) => i
      case other => throw new IllegalStateException(s"not an input column: $other")
    }
    def source(step: FoldStep, name: String): Int = ordinal(step.frame.find(_._1.name == name).get._2)
    // the uniformity audit's (level, column) pairs, leaf to root: the order
    // in which level-by-level checks would have raised them
    val audits = if (validate) folds else Nil
    val pairs = audits.flatMap(s => s.carried.map(c => (s.meta.name, c._1.name)))
    val auditBase = audits.zip(audits.scanLeft(0)(_ + _.carried.size)).map {
      case (s, b) => s.meta.index -> b }.toMap
    // a level's carried columns and their pair indices
    def audited(s: FoldStep): Seq[(Int, Int)] = s.carried.zipWithIndex.map { case (c, k) =>
      ordinal(c._2) -> (auditBase(s.meta.index) + k) }
    // the coarsest level's carried columns are audited within the whole
    // group by min/max, which aggregate map-side; a finer level that
    // carries them too audits them within its entities only in the exact
    // pass, run once a check fails, to name the level-by-level error
    val grouped = if (validate) audited(coarsest) else Nil
    val groupChecked = grouped.map(_._1).toSet
    // per level, coarsest first: a coarser level's bound orderBy
    val innerOrders: Seq[Option[(Seq[Expression], Seq[Int])]] = levels.zipWithIndex.map {
      case (s, p) =>
        if (p == levels.size - 1 || s.meta.spec.orderBy.isEmpty) None
        else Some(bindOrder(df, s.meta.name, StructType(s.frame.map(_._1)), s.meta.spec.orderBy))
    }
    def build(exact: Boolean): DataFrame = {
      // per level, coarsest first: the (column, pair) it audits within each
      // of its entities, the columns its next finer level carries
      val entityAudits: Seq[Seq[(Int, Int)]] =
        if (!validate) levels.map(_ => Nil)
        else levels.tail.map(audited(_).filter(a => exact || !groupChecked(a._1))) :+ Nil
      // the rows keep what the lists hold, the inner audits check and the
      // inner orders read, nothing more
      val buffered: Seq[Int] = (
        (levels.flatMap(_.struct.map(_._2)) ++ levels.zip(innerOrders).flatMap {
          case (s, o) => o.toSeq.flatMap(_._2).map(f => s.frame(f)._2) }
        ).collect { case FirstOf(i) => i } ++
          entityAudits.flatten.map(_._1) ++
          (if (withRowId) Seq(df.schema.fieldIndex(RowIdCol)) else Nil)).distinct.sorted
      val pos = buffered.zipWithIndex.toMap
      def re(s: Source): Source = s match {
        case FirstOf(i) => FirstOf(pos(i))
        case other => other
      }
      val layoutLevels = levels.zipWithIndex.map { case (s, p) =>
        val finest = p == levels.size - 1
        val order = innerOrders(p)
        Level(
          fields = s.struct.map(c => re(c._2)),
          structType = s.structType,
          keys = if (finest) Nil else s.meta.idColumns.map(k => pos(source(s, k))),
          orderOrdinals = if (finest) s.meta.spec.orderBy.indices.map(buffered.size + _) else Nil,
          orderBy = order.map(_._1).getOrElse(Nil),
          frame = order.map(_._2.map(f => re(s.frame(f)._2))).getOrElse(Nil),
          audit = entityAudits(p).map { case (o, pair) => pos(o) -> pair })
      }
      val layout = PackFold.Layout(layoutLevels,
        rowId = if (withRowId) pos(df.schema.fieldIndex(RowIdCol)) else -1,
        normalize = folds.head.meta.ancestorKeys.map(df.schema.fieldIndex).flatMap(pos.get).toSet)
      val packFold = PackFold.fold(
        buffered.map(i => topCol(df.schema(i).name)) ++ folds.head.meta.spec.orderBy, layout)
      // uniform within the group ⟺ min(c) <=> max(c), nulls ignored by both
      val groupViolation = grouped.map { case (o, pair) =>
        val c = topCol(df.schema(o).name)
        when(!(min(c) <=> max(c)), lit(pair)) }
      val aggs = coarsest.carried.map { case (f, _) =>
          first(topCol(f.name), ignoreNulls = true).alias(f.name) } ++
        Seq(packFold.getField("list").alias(coarsest.meta.path)) ++
        (if (withRowId) Seq(min(topCol(RowIdCol)).alias(RowIdCol)) else Nil) ++
        (if (pairs.nonEmpty)
          Seq(coalesce(packFold.getField("audit") +: groupViolation: _*).alias(AuditCol))
         else Nil)
      df.groupBy(coarsest.meta.ancestorKeys.map(topCol): _*).agg(aggs.head, aggs.tail: _*)
    }
    val out = build(exact = false)
    if (pairs.isEmpty) out
    else runUniformityAudit(out, pairs,
      if (folds.init.exists(f => audited(f).exists(a => groupChecked(a._1))))
        Some(() => build(exact = true))
      else None)
  }

  /** `exprs` resolved against `frame` as the optimizer would run them
    * (runtime-replaceable functions replaced, common subexpressions
    * inlined, current time fixed), bound to the fields they read: (bound
    * expressions, those fields' ordinals in `frame`). They are evaluated
    * row by row inside the fold, outside any query plan, so a
    * nondeterministic or otherwise unevaluable expression is rejected. */
  private def bindOrder(df: DataFrame, level: String, frame: StructType,
                        exprs: Seq[Column]): (Seq[Expression], Seq[Int]) = {
    val analyzed = df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), frame)
      .select(exprs: _*).queryExecution.analyzed
    ComputeCurrentTime(ReplaceExpressions(analyzed)) match {
      case Project(list, child) =>
        val bodies = list.map {
          case a: Alias => a.child
          case other => other
        }.map(_.transformUp { case With(body, defs) =>
          val byId = defs.map(d => d.id -> d.child).toMap
          body.transformUp { case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id) }
        })
        val used = child.output.zipWithIndex.filter { case (a, _) =>
          bodies.exists(_.references.contains(a)) }
        val bound = bodies.map(BindReferences.bindReference(_, used.map(_._1)))
        bodies.zip(bound).foreach { case (e, b) =>
          if (!e.deterministic || b.exists(_.isInstanceOf[Unevaluable]))
            throw new HierarchyConfigError(s"level '$level': orderBy `${e.sql}` cannot order " +
              "a list below the finest level: it is nondeterministic or needs a query plan")
        }
        (bound, used.map(_._2))
      case other => throw new IllegalStateException(s"unexpected order plan: $other")
    }
  }

  /** The root level holds no list: its columns fold into one struct. */
  private def rootStruct(df: DataFrame): DataFrame = {
    val root = metas.head
    val levelCols = df.schema.fieldNames.toIndexedSeq.filter(_.startsWith(root.prefix))
    if (levelCols.isEmpty) df
    else df.select((df.schema.fieldNames.toIndexedSeq.filterNot(levelCols.contains).map(topCol) :+
      struct(levelCols.map(c => topCol(c).alias(c.substring(root.prefix.length))): _*)
        .alias(root.path)): _*)
  }

  /** Root attribute columns: under the root prefix but not a root id, not
    * in any descendant level — neither a child's flat columns NOR an
    * already-packed child list column (reference: _root_attribute_columns). */
  private def rootAttributeColumns(schema: StructType): Seq[String] = {
    val root = metas.head
    val childPrefix = metas.lift(1).map(_.prefix)
    val childPath = metas.lift(1).map(_.path)
    val ids = root.idColumns.toSet
    schema.fieldNames.toIndexedSeq.filter { c =>
      c.startsWith(root.prefix) && !ids.contains(c) &&
        !childPrefix.exists(c.startsWith) && !childPath.contains(c) && c != RowIdCol
    }
  }

  /** P3: split_join strategy (reference: _pack_split_join,
    * hierarchical_packer.py:1033-1072). The dim table is unique-per-root-key;
    * join strategy is left to Catalyst/AQE — a forced broadcast would OOM
    * on exactly the heavy-root-attribute workloads SplitJoin targets. */
  private def packSplitJoin(df: DataFrame, toLevel: String,
                            extraColumns: ExtraColumns): DataFrame = {
    val (prepared, added) = prepareFrame(df)
    val root = metas.head
    val rootKeys = root.idColumns
    val attrCols = rootAttributeColumns(prepared.schema)
    if (rootKeys.isEmpty || attrCols.isEmpty)
      // fall back on the ALREADY-prepared frame — calling pack(df, ...)
      // here would run prepareFrame (row ids, aliases, computed fields)
      // a second time over the full input
      return dropIfPresent(packAggregate(prepared, toLevel, extraColumns, Nil), added)

    val dim = prepared.select((rootKeys ++ attrCols).map(topCol): _*)
      .dropDuplicates(rootKeys)
    val structural = prepared.drop(attrCols: _*)
    // already prepared — go straight to the aggregate path (alias drops
    // happen once, below, on the joined output)
    val packed = packAggregate(structural, toLevel, extraColumns, Nil)

    val out = if (toLevel != root.name) {
      // re-attach at top level, then restore the Aggregate strategy's
      // column ORDER (attrs interleaved at their prepared positions, not
      // appended) — the two strategies must be interchangeable for
      // positional consumers (union, as[caseClass]), not just name-equal
      val joined = packed.join(dim, rootKeys, "left")
      val keyCols = metas(spec.levelIndex(toLevel)).ancestorKeys
        .filter(joined.columns.contains)
      val inPrepared = prepared.schema.fieldNames.toSet
      val tailCols = packed.columns.toIndexedSeq
        .filterNot(inPrepared.contains).filterNot(keyCols.contains)
      val midSet = (packed.columns.toSet -- keyCols -- tailCols) ++ attrCols
      val ordered = keyCols ++
        prepared.schema.fieldNames.toIndexedSeq.filter(midSet.contains) ++ tailCols
      joined.select(ordered.map(topCol): _*)
    } else {
      // packing to root collapses each entity into a single struct column;
      // re-inject the attributes as struct fields. withField parses dots as
      // nested paths, so quote names (they may contain escaped separators)
      val structCol = root.path
      val prefix = root.prefix
      val withKeys = rootKeys.foldLeft(packed)((d, k) =>
        d.withColumn(k, topCol(structCol).getField(k.substring(prefix.length))))
      val joined = withKeys.join(dim, rootKeys, "left")
      val withFieldsCol = attrCols.foldLeft(topCol(structCol))((acc, c) =>
        acc.withField(ColName.quote(c.substring(prefix.length)), topCol(c)))
      // restore the Aggregate strategy's FIELD order inside the root
      // struct: ids+attrs at their prepared flat positions, then the
      // (already-packed) non-flat fields in their existing order
      val flatOrdered = prepared.schema.fieldNames.toIndexedSeq
        .filter(c => rootKeys.contains(c) || attrCols.contains(c))
        .map(_.substring(prefix.length))
      val packedFields = packed.schema(structCol).dataType
        .asInstanceOf[StructType].fieldNames.toIndexedSeq
      val restFields = packedFields.filterNot(flatOrdered.contains)
      // getField takes the name literally (unlike withField) — no quoting
      val orderedStruct = struct((flatOrdered ++ restFields).map(f =>
        withFieldsCol.getField(f).alias(f)): _*)
      joined.withColumn(structCol, orderedStruct).drop((rootKeys ++ attrCols): _*)
    }
    dropIfPresent(out, added)
  }

  // ---------------------------------------------------------------- unpack

  /** P4: unpack nested levels until `toLevel` (reference: unpack,
    * hierarchical_packer.py:1074-1101). Uses `explode_outer` so parents with
    * null/empty children survive as a row of nulls — Polars `explode`
    * semantics (null-children tests, test_complex_hierarchies.py:313-368). */
  def unpack(df: DataFrame, toLevel: String): DataFrame =
    dropInternal(unpackKeepInternal(df, toLevel))

  /** Explode (if List) + unnest one level's nested column in place
    * (reference: _explode_and_unnest, hierarchical_packer.py:2742-2765). */
  private def explodeAndUnnest(df0: DataFrame, meta: LevelMetadata): DataFrame = {
    var df = df0
    val dt = df.schema(meta.path).dataType
    val isList = dt.isInstanceOf[ArrayType]
    if (isList) df = df.withColumn(meta.path, explode_outer(topCol(meta.path)))
    val st = df.schema(meta.path).dataType match {
      case s: StructType => s
      case other => throw new HierarchyError(
        s"expected struct at '${meta.path}', got ${other.simpleString}")
    }
    val cols = df.schema.fieldNames.toIndexedSeq.flatMap { c =>
      if (c == meta.path)
        st.fieldNames.toIndexedSeq.map(f =>
          topCol(meta.path).getField(f).alias(meta.path + sep + f))
      else Seq(topCol(c))
    }
    df.select(cols: _*)
  }

  // -------------------------------------------------- split / (de)normalize

  /** P7: one standalone table per level (reference: split_levels,
    * hierarchical_packer.py:1252-1314). */
  def splitLevels(df: DataFrame): Map[String, DataFrame] = {
    val (prepared, added) = prepareFrame(df)
    val outputs = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    var current = prepared
    metas.foreach { meta =>
      if (hasCol(current, meta.path)) {
        val levelTable = unpackKeepInternal(current, meta.name)
        var out = levelTable
        val nextMeta = metas.lift(meta.index + 1)
        nextMeta match {
          case Some(nm) =>
            val dropCols = out.schema.fieldNames.toIndexedSeq
              .filter(c => c.startsWith(nm.prefix) || c == nm.path)
            out = dropIfPresent(out, dropCols)
            // NB not na.drop: it resolves dotted names as struct paths
            val subset = nm.ancestorKeys.filter(hasCol(out, _))
            if (subset.nonEmpty)
              out = out.filter(subset.map(topCol(_).isNotNull).reduce(_ && _))
          case None =>
            val required = meta.spec.requiredFields
              .map(f => meta.prefix + cn.escapeField(f)).filter(hasCol(out, _))
            if (required.nonEmpty)
              out = out.filter(required.map(topCol(_).isNotNull).reduce(_ && _))
        }
        out = dropIfPresent(out, added)
        outputs += meta.name -> dropInternal(out)
        current = levelTable
      }
    }
    outputs.toMap
  }

  /** unpack but keep the row-id column for downstream level extraction. */
  private def unpackKeepInternal(df: DataFrame, toLevel: String): DataFrame = {
    var cur = df
    var done = false
    metas.foreach { meta =>
      if (!done && hasCol(cur, meta.path)) {
        cur = explodeAndUnnest(cur, meta)
        if (meta.name == toLevel) done = true
      }
    }
    cur
  }

  /** P8: normalize = pack to root + splitLevels (reference:
    * hierarchical_packer.py:1316-1330). */
  def normalize(df: DataFrame, rootLevel: Option[String] = None): Map[String, DataFrame] =
    splitLevels(pack(df, rootLevel.getOrElse(spec.rootLevel)))

  /** P9: reconstruct nested columns from per-level tables (reference:
    * denormalize, hierarchical_packer.py:1332-1443). Child struct frames are
    * attached parent-ward with left joins on the ancestor keys. */
  def denormalize(tables: Map[String, DataFrame],
                  targetLevel: Option[String] = None): DataFrame = {
    if (tables.isEmpty) throw new HierarchyValidationError(
      "Expected at least one table to denormalize.")
    val targetName = targetLevel.getOrElse(spec.rootLevel)
    val targetIdx = spec.levelIndex(targetName)
    if (!tables.contains(spec.rootLevel)) throw new HierarchyValidationError(
      s"Missing root level '${spec.rootLevel}' in table mapping.")

    val prepared = scala.collection.mutable.Map.empty[String, DataFrame]
    val aliasAdded = scala.collection.mutable.Map.empty[String, Seq[String]]
    tables.foreach { case (name, t) =>
      val (p, added) = prepareFrame(t)
      prepared(name) = p
      aliasAdded(name) = added
    }

    (metas.size - 1 to 1 by -1).foreach { levelIdx =>
      val level = metas(levelIdx)
      val parentName = metas(levelIdx - 1).name
      prepared.get(level.name) match {
        case None =>
          if (levelIdx <= targetIdx) throw new HierarchyValidationError(
            s"Missing table for level '${level.name}'.")
        case Some(childDf) =>
          val parentDf = prepared.getOrElse(parentName,
            throw new HierarchyValidationError(s"Missing table for parent level '$parentName'."))
          var childPacked = fold(childDf, levelIdx, levelIdx, validate = false)
          val joinKeys = level.ancestorKeys
          var childStructFrame = childPacked.select((joinKeys.map(topCol) :+ topCol(level.path)): _*)
          val childAdded = aliasAdded.getOrElse(level.name, Nil)
          if (childAdded.nonEmpty) {
            childPacked = dropIfPresent(childPacked, childAdded)
            childStructFrame = dropIfPresent(childStructFrame, childAdded)
          }
          prepared(level.name) = childPacked
          prepared(parentName) = parentDf.join(childStructFrame, joinKeys, "left")
      }
    }

    var result = prepared.getOrElse(targetName,
      throw new HierarchyValidationError(s"Missing table for level '$targetName'."))
    result = dropIfPresent(result, aliasAdded.getOrElse(targetName, Nil))
    dropInternal(result)
  }

  // ------------------------------------------------------- relational build

  /** P10: relational tables → nested hierarchy (reference: build_from_tables,
    * hierarchical_packer.py:1445-1586). Each child table joins its parent on
    * `parent.idColumns == child.qualifiedParentKeys`; plain equi-joins, so
    * Catalyst is free to broadcast small dimension levels. */
  def buildFromTables(tables: Map[String, DataFrame],
                      targetLevel: Option[String] = None,
                      joinType: String = "left"): DataFrame = {
    require(joinType == "left" || joinType == "inner", s"joinType must be left|inner, got $joinType")
    if (tables.isEmpty) throw new HierarchyValidationError("Expected at least one table to build from.")
    val targetName = targetLevel.getOrElse(spec.rootLevel)
    val targetIdx = spec.levelIndex(targetName)
    metas.take(targetIdx + 1).foreach { m =>
      if (!tables.contains(m.name)) throw new HierarchyValidationError(
        s"Missing table for level '${m.name}'.")
    }

    val prepared = scala.collection.mutable.Map.empty[String, DataFrame]
    metas.foreach { m =>
      tables.get(m.name).foreach(t => prepared(m.name) = prepareLevelTableInternal(t, m))
    }

    (metas.size - 1 to 1 by -1).foreach { levelIdx =>
      val level = metas(levelIdx)
      val parentMeta = metas(levelIdx - 1)
      if (prepared.contains(level.name) && prepared.contains(parentMeta.name)) {
        val parentKeys = level.spec.parentKeys
        if (parentKeys.isEmpty) throw new HierarchyValidationError(
          s"Level '${level.name}' must have parent_keys defined for buildFromTables.")
        val parentIdCols = parentMeta.idColumns
        if (parentKeys.size != parentIdCols.size) throw new HierarchyValidationError(
          s"Level '${level.name}' has ${parentKeys.size} parent_keys but parent " +
            s"'${parentMeta.name}' has ${parentIdCols.size} id_fields.")
        val qualifiedParentKeys = parentKeys.map(pk => level.prefix + cn.escapeField(pk))
        val child = prepared(level.name)
        val parent = prepared(parentMeta.name)
        val cond = parentIdCols.zip(qualifiedParentKeys)
          .map { case (p, c) => parent(ColName.quote(p)) === child(ColName.quote(c)) }
          .reduce(_ && _)
        val joined = qualifiedParentKeys.map(k => child(ColName.quote(k)))
          .foldLeft(parent.join(child, cond, joinType))((d, c) => d.drop(c))
        prepared(parentMeta.name) = joined
      }
    }

    pack(prepared(spec.rootLevel), targetName)
  }

  /** P11: prepare a raw table for buildFromTables — rename via mapping then
    * prefix every column with the level path (reference: prepare_level_table,
    * hierarchical_packer.py:1588-1665). */
  def prepareLevelTable(levelName: String, df: DataFrame,
                        columnMapping: Map[String, String] = Map.empty): DataFrame = {
    val meta = spec.meta(levelName)
    val renamed =
      if (columnMapping.isEmpty) df
      else df.select(df.schema.fieldNames.toIndexedSeq.map { c =>
        topCol(c).alias(columnMapping.getOrElse(c, c))
      }: _*)
    prepareLevelTableInternal(renamed, meta)
  }

  private def prepareLevelTableInternal(df: DataFrame, meta: LevelMetadata): DataFrame =
    df.select(df.schema.fieldNames.toIndexedSeq.map(c =>
      topCol(c).alias(meta.prefix + cn.escapeField(c))): _*)

  // ------------------------------------------------------------ skew guard

  /** [[pack]] under its former skewed-key name; `saltBuckets` is ignored.
    * A pack's map-side partial aggregation already buffers a hot parent's
    * children in every input task before the exchange, which is the
    * spreading a salt key used to buy. */
  @deprecated("a pack spreads hot parents by itself; call pack", "0.1.0")
  def packSalted(df: DataFrame, toLevel: String, saltBuckets: Int = 32,
                 extraColumns: ExtraColumns = ExtraColumns.Preserve): DataFrame =
    pack(df, toLevel, extraColumns)

  /** Leaf-level grouping-key skew probe: max/MEDIAN children-per-parent on
    * a `sampleFraction` sample. EAGER — runs one small Spark job at call
    * time (at scale the sample scan
    * is noise next to the pack shuffle it informs). Median, not mean: with
    * few parents a single hot key drags the mean up with it, capping
    * max/mean at the parent count; max/median stays unbounded under skew.
    * Returns the skew factor; 1.0 = perfectly uniform. AQE cannot help
    * here — its skew handling covers joins, not the hash aggregation a
    * pack is built from. */
  def leafSkewFactor(df: DataFrame, sampleFraction: Double = 0.01): Double = {
    val (prepared, _) = prepareFrame(df)
    val keys = metas.last.ancestorKeys.filter(hasCol(prepared, _))
    if (keys.isEmpty) return 1.0
    // project keys BEFORE sampling — syntactic column pruning, so the
    // probe never deserializes payload columns even from a cache
    val keysOnly = prepared.select(keys.map(topCol): _*)
    val sampled =
      if (sampleFraction >= 1.0) keysOnly else keysOnly.sample(sampleFraction, seed = 42)
    val counts = sampled.groupBy(keys.map(topCol): _*).agg(count(lit(1)).alias("__n"))
    val row = counts
      .agg(max(col("__n")), percentile_approx(col("__n"), lit(0.5), lit(1000)))
      .collect()(0)
    if (row.isNullAt(0) || row.isNullAt(1) || row.getLong(1) == 0L) 1.0
    else row.getLong(0).toDouble / row.getLong(1)
  }

  /** Sampled physical-strategy probe for [[packAuto]] — the pack
    * analogue of AQE's statistics-driven re-planning (which cannot help
    * here: AQE re-plans joins, not hash aggregations):
    *  1. root-attribute payload ≥ `splitJoinWidthFactor`× the rest of the
    *     row AND ≥ `minChildrenPerRoot` children per root →
    *     [[PackStrategy.SplitJoin]] (don't drag the duplicated root
    *     payload through the shuffle; re-attach it from a dim table);
    *  2. else [[PackStrategy.Plain]].
    * Key skew does not enter the pick: a pack's map-side partial
    * aggregation already spreads a hot parent's children over the input
    * tasks. Widths come from
    * [[Packer.widthOf]], a serialization proxy; only the ratio is used.
    * Both strategies produce identical contents (equality-tested); only
    * the shuffle shape differs, so a misprediction costs time, never
    * correctness.
    *
    * EAGER: runs the probe's Spark jobs (keys-only count, width sample) at
    * CALL time, not at action time; a frame with no root attributes or no
    * root keys runs none. The two probes are INDEPENDENT actions, so they
    * run OVERLAPPED from a small driver-side pool (guide §2.6; round 16):
    * wall ≈ max(probe) instead of sum(probe). When few children per root
    * short-circuit to Plain, the in-flight width probe is CANCELLED. */
  def choosePackStrategy(df: DataFrame,
                         sampleFraction: Double = 0.01,
                         splitJoinWidthFactor: Double = 1.0,
                         minChildrenPerRoot: Double = 4.0): PackStrategy = {
    val (prepared, _) = prepareFrame(df)
    val attrCols = rootAttributeColumns(prepared.schema)
    val rootKeys = metas.head.idColumns.filter(hasCol(prepared, _))
    // schema-side guards are driver-only: with no split-join candidacy
    // this call runs no Spark job
    if (attrCols.isEmpty || rootKeys.isEmpty) return PackStrategy.Plain
    val probes = new Overlap.ProbeGroup(
      df.sparkSession.sparkContext, "graft pack strategy probe")
    try {
      // children-per-root must come from the FULL frame: a fraction-f
      // sample of c-children roots sees ~max(1, c·f) children per sampled
      // root, so the sampled ratio collapses toward 1 and under-detects
      // exactly the parent-dominant shapes this probe exists for.
      // Keys-only projection + partial-agg approx_count_distinct keep the
      // full pass cheap.
      val fChildren = probes.submit("children-per-root") {
        prepared.select(rootKeys.map(topCol): _*)
          .agg(count(lit(1)).cast(DoubleType),
            approx_count_distinct(struct(rootKeys.map(topCol): _*)).cast(DoubleType))
          .collect()(0)
      }
      // width ratio is a per-row mean — a bounded sample is plenty. Widths
      // come from a schema-aware estimator ([[Packer.widthOf]]): serialized
      // bytes for fixed-width shapes are size() x element-width (codegen'd,
      // no serialization), strings/binary read octet_length directly, and
      // only irregular shapes (arrays of strings/structs, maps) fall back
      // to octet_length(to_json(...)) — the previous all-to_json probe
      // serialized ~150 KB of JSON per sampled row on thumbnail-heavy
      // presets (~1 s of the probe's 1.6 s). Only the attr/other RATIO is
      // consumed, and both sides use the same estimator.
      val fWidth = probes.submit("width-sample") {
        val s = (if (sampleFraction >= 1.0) prepared
                 else prepared.sample(sampleFraction, seed = 42))
          .limit(WidthProbeRows)
        def width(cols: Seq[String]): Column =
          if (cols.isEmpty) lit(0.0)
          else cols.map(c => Packer.widthOf(prepared.schema(c).dataType, topCol(c)))
            .reduce(_ + _)
        val others = prepared.schema.fieldNames.toIndexedSeq
          .filterNot(attrCols.contains).filterNot(_ == RowIdCol)
        s.agg(avg(width(attrCols)), avg(width(others))).collect()(0)
      }
      val keyRow = probes.get(fChildren)
      if (keyRow.isNullAt(0) || keyRow.isNullAt(1) || keyRow.getDouble(1) == 0.0) {
        probes.cancel(); return PackStrategy.Plain
      }
      val childrenPerRoot = keyRow.getDouble(0) / keyRow.getDouble(1)
      if (childrenPerRoot < minChildrenPerRoot) {
        probes.cancel(); return PackStrategy.Plain
      }
      val row = probes.get(fWidth)
      if (row.isNullAt(0) || row.isNullAt(1)) return PackStrategy.Plain
      if (row.getDouble(0) >= splitJoinWidthFactor * row.getDouble(1))
        PackStrategy.SplitJoin
      else PackStrategy.Plain
    } finally probes.close()
  }

  /** [[choosePackStrategy]] plus a SHUFFLE-WIDTH recommendation from the
    * probe's own sampled bytes: estimated payload = full row count ×
    * sampled mean serialized row width ([[Packer.widthOf]] — the same
    * estimator the strategy ratio uses), partitions =
    * [[graft.ext.Tuning.partitionsForBytes]] at the ~128 MB per-reducer
    * target, floored at the session's parallelism. This closes the sf10
    * lesson ("partition sizing follows the operator's shuffle payload")
    * as library advice: a pack's one groupBy drags the whole payload
    * through one exchange, so a session width tuned for one scale factor
    * goes super-linear at the next (q_pack_split_join, 16.2× → 5.4× at 10×
    * data once sized). RECOMMEND-ONLY — apply via
    * `spark.conf.set("spark.sql.shuffle.partitions", plan
    * .recommendedPartitions)` around the pack (the auto_pack_sized bench
    * arm), or ignore it; it never self-applies, because the session's
    * width is the pipeline author's to set.
    *
    * EAGER like the strategy probe, plus one keys-free `count` and one
    * sampled width pass. */
  def planPack(df: DataFrame,
               sampleFraction: Double = 0.01,
               splitJoinWidthFactor: Double = 1.0,
               minChildrenPerRoot: Double = 4.0,
               bytesPerPartition: Long = graft.ext.Tuning.DefaultBytesPerPartition,
               maxPartitions: Int = graft.ext.Tuning.DefaultMaxPartitions): PackPlan = {
    val strategy = choosePackStrategy(df, sampleFraction,
      splitJoinWidthFactor, minChildrenPerRoot)
    val (est, rec) = estimatedShuffle(df, sampleFraction, bytesPerPartition,
      maxPartitions)
    PackPlan(strategy, est, rec)
  }

  /** The width-probe half of [[planPack]]: (estimated shuffle bytes,
    * recommended partitions) without the strategy probe — shared with
    * [[packStreaming]]'s derived default width. Estimate 0 (empty frame /
    * all-null sample) signals "no usable probe" to callers. */
  private[graft] def estimatedShuffle(df: DataFrame,
                                      sampleFraction: Double = 0.01,
                                      bytesPerPartition: Long =
                                        graft.ext.Tuning.DefaultBytesPerPartition,
                                      maxPartitions: Int =
                                        graft.ext.Tuning.DefaultMaxPartitions): (Long, Int) = {
    val (prepared, _) = prepareFrame(df)
    val cols = prepared.schema.fieldNames.toIndexedSeq.filterNot(_ == RowIdCol)
    val widthExpr = cols.map(c =>
      Packer.widthOf(prepared.schema(c).dataType, topCol(c))).reduce(_ + _)
    val s = (if (sampleFraction >= 1.0) prepared
             else prepared.sample(sampleFraction, seed = 42))
      .limit(Packer.WidthProbeRows)
    val meanWidth = Option(s.agg(avg(widthExpr)).collect()(0).get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    val rows = prepared.count()
    val est = math.max(0L, (rows * meanWidth).toLong)
    val minParts = df.sparkSession.sparkContext.defaultParallelism
    val rec = graft.ext.Tuning.partitionsForBytes(est, bytesPerPartition,
      minPartitions = math.max(1, minParts), maxPartitions = maxPartitions)
    (est, rec)
  }

  /** Auto strategy dispatch: run [[choosePackStrategy]]'s pick. Contents
    * are identical under every strategy; only the shuffle shape changes.
    * EAGER: the probe runs Spark jobs at call time (see
    * [[choosePackStrategy]]); the returned pack itself stays lazy. */
  def packAuto(df: DataFrame, toLevel: String,
               extraColumns: ExtraColumns = ExtraColumns.Preserve,
               sampleFraction: Double = 0.01,
               splitJoinWidthFactor: Double = 1.0,
               minChildrenPerRoot: Double = 4.0): DataFrame =
    choosePackStrategy(df, sampleFraction,
      splitJoinWidthFactor, minChildrenPerRoot) match {
      case PackStrategy.SplitJoin =>
        pack(df, toLevel, extraColumns, ParentStrategy.SplitJoin)
      case PackStrategy.Plain => pack(df, toLevel, extraColumns)
    }

  // ------------------------------------------------------- streaming parity

  /** P5: parity API for the reference's `pack_streaming`
    * (hierarchical_packer.py:1103-1211). The reference hash-buckets rows by
    * root key and packs each bucket via Parquet staging to bound single-node
    * memory; in Spark the pack's own hash shuffle already bounds per-task
    * memory, so this is `repartition(partitions, rootKeys)` + pack. The
    * repartition pre-shards groups exactly like the reference's buckets.
    *
    * `partitions = 0` (the default since round 12) DERIVES the shard
    * count from the frame's own estimated shuffle payload
    * ([[estimatedShuffle]] — the planPack width probe at the ~128 MB
    * per-reducer target, floored at the session parallelism), so the one
    * remaining fixed width in the pack family follows the data like
    * every other shuffle this library sizes. The reference's literal 64
    * (hierarchical_packer.py:1106 `num_buckets=64`) remains ONLY the
    * fallback when the probe is disabled or unusable
    * (`sampleFraction <= 0`, or an empty/all-null sample estimating 0
    * bytes). Explicit `partitions >= 1` passes through untouched — the
    * probe is EAGER (two Spark jobs), so callers who know their width
    * should keep passing it. */
  def packStreaming(df: DataFrame, toLevel: String, partitions: Int = 0,
                    extraColumns: ExtraColumns = ExtraColumns.Preserve,
                    sinkPath: Option[String] = None,
                    sampleFraction: Double = 0.01): DataFrame = {
    if (partitions < 0) throw new HierarchyConfigError(
      s"partitions must be >= 1 (or 0 = derive from the width probe), " +
        s"got $partitions")
    val derived =
      if (partitions >= 1) partitions
      else if (sampleFraction <= 0) Packer.DefaultStreamingPartitions
      else {
        val (est, rec) = estimatedShuffle(df, sampleFraction)
        if (est <= 0) Packer.DefaultStreamingPartitions else rec
      }
    packStreamingAt(df, toLevel, derived, extraColumns, sinkPath)
  }

  private def packStreamingAt(df: DataFrame, toLevel: String, partitions: Int,
                              extraColumns: ExtraColumns,
                              sinkPath: Option[String]): DataFrame = {
    val (prepared, added) = prepareFrame(df) // assign row ids BEFORE the shuffle
    val rootKeys = metas.head.idColumns.filter(hasCol(prepared, _))
    val sharded =
      if (rootKeys.isEmpty) prepared.repartition(partitions)
      else prepared.repartition(partitions, rootKeys.map(topCol): _*)
    // go straight to the aggregate path over the already-prepared shards:
    // its groupBy keys include the root keys, so the shards already satisfy
    // its distribution and the explicit `partitions` shuffle is the only one
    val out = dropIfPresent(packAggregate(sharded, toLevel, extraColumns, Nil), added)
    sinkPath match {
      // reference `defer=False`: sink eagerly, hand back the re-scan
      case Some(p) => out.write.mode("overwrite").parquet(p); out.sparkSession.read.parquet(p)
      case None => out
    }
  }

  /** Parquet-path source overload (the reference accepts `str | Path`
    * sources, hierarchical_packer.py:1105): scan-pack from disk without
    * the caller materializing a frame first. */
  def packStreaming(spark: org.apache.spark.sql.SparkSession, sourcePath: String,
                    toLevel: String, partitions: Int,
                    extraColumns: ExtraColumns,
                    sinkPath: Option[String]): DataFrame =
    packStreaming(spark.read.parquet(sourcePath), toLevel, partitions,
      extraColumns, sinkPath)

  /** P6: parity API for `unpack_streaming` (hierarchical_packer.py:1213-1250):
    * optional disk-to-disk staging around unpack.
    *
    * EAGER when `sinkPath` is set: the staging parquet write (overwrite)
    * executes at CALL time, mirroring the reference's eager staging dance —
    * schema-only consumers should call with `sinkPath = None`. */
  def unpackStreaming(df: DataFrame, toLevel: String,
                      sinkPath: Option[String] = None): DataFrame = {
    val out = unpack(df, toLevel)
    sinkPath match {
      case Some(p) => out.write.mode("overwrite").parquet(p); out.sparkSession.read.parquet(p)
      case None => out
    }
  }

  // ------------------------------------------------------------------ merge

  /** Incremental pack maintenance (upsert): merge newly-arrived FLAT rows
    * into an already-packed frame, repacking ONLY the touched entities.
    * This is the exact cross-batch merge that [[packStreaming]]'s
    * foreachBatch sink delegates to the storage layer — expressed as a
    * batch operator so any upsert-capable sink (or
    * `EventStreams.packUpsertEachBatch`) can maintain a packed table
    * incrementally.
    *
    * Plan shape (the 100 TB story): the delta's DISTINCT top-level keys
    * split `packed` with a semi + anti join — AQE broadcasts the key set
    * when the delta is small, so the untouched majority of the packed
    * table is a PASSTHROUGH: never unpacked, never shuffled. Only rows
    * for touched keys are unpacked to the leaf, unioned with the delta,
    * and repacked — incremental cost is O(delta + touched-entity
    * payload), not O(corpus).
    *
    * Semantics: for touched keys the result is exactly
    * `pack(oldFlatRows ++ newRows, toLevel)` — child order follows the
    * spec's `orderBy` when present; under bare `preserveChildOrder`,
    * existing children keep their packed order and new children append
    * after them (the union scans affected partitions before delta
    * partitions, so the repack's row ids preserve old-before-new).
    * Brand-new keys in `newRows` pack into fresh rows; parent-attribute
    * conflicts between old and new rows resolve like any pack
    * (first-non-null, uniformity-auditable via `validateOnPack`). */
  def mergePacked(packed: DataFrame, newRows: DataFrame, toLevel: String,
                  extraColumns: ExtraColumns = ExtraColumns.Preserve): DataFrame = {
    val targetIdx = spec.levelIndex(toLevel)
    // rows of a packed frame are identified by the grouping keys of its
    // last aggregating stage: toLevel's ancestorKeys — unless the target
    // is the ROOT fold (no ancestors), where they are the root level's
    // own id columns, which the fold moved INSIDE the root struct
    val rootFold = metas(targetIdx).ancestorKeys.isEmpty
    val keys: Seq[String] =
      if (!rootFold) metas(targetIdx).ancestorKeys
      else metas.lift(targetIdx + 1).map(_.ancestorKeys).getOrElse(Seq.empty)
    if (keys.isEmpty) throw new HierarchyConfigError(
      s"mergePacked needs top-level keys at '$toLevel' to identify entities")
    val rootMeta = metas(targetIdx)
    def packedKey(k: String): Column =
      if (!rootFold) topCol(k)
      else topCol(rootMeta.path).getField(k.substring(rootMeta.prefix.length))

    val (newPrepared, newAdded) = prepareFrame(newRows)
    val missing = keys.filterNot(hasCol(newPrepared, _))
    if (missing.nonEmpty) throw new HierarchyError(
      s"mergePacked: delta is missing top-level key columns: ${missing.mkString(", ")}")
    // canonical flat shape: computed helper keys AND the row ids
    // prepareFrame just assigned must go — the repack assigns UNION-WIDE
    // row ids so existing children sort before new ones; a leaked
    // delta-local id would leave the unpacked old rows null-id'd
    val newAligned = dropIfPresent(newPrepared, newAdded :+ RowIdCol)

    // distinct touched keys under FRESH aliases: the delta often shares
    // lineage with the packed frame (two filters of one source), and
    // unaliased attributes would make the split joins ambiguous
    // self-joins. Null-safe equality (<=>): pack keeps a null-keyed
    // group, and a delta row for it must reach that group.
    val tNames = keys.indices.map(i => s"__mt_$i")
    val touched = newPrepared.select(keys.zip(tNames).map {
      case (k, t) => topCol(k).alias(t) }: _*).distinct()
    val cond = keys.zip(tNames).map { case (k, t) =>
      packedKey(k) <=> col(t) }.reduce(_ && _)
    val untouched = packed.join(touched, cond, "left_anti")
    val affected = packed.join(touched, cond, "left_semi")

    // unpack affected entities to the LEAF and replay the pack over
    // old ++ new. unionByName(allowMissing) tolerates a narrower delta
    // (absent attributes arrive null, like any sparse flat input).
    val affectedFlat = unpack(affected, metas.last.name)
    val unioned = affectedFlat.unionByName(newAligned, allowMissingColumns = true)
    val mergedAffected = pack(unioned, toLevel, extraColumns)
    untouched.unionByName(mergedAffected, allowMissingColumns = true)
  }

  // -------------------------------------------------------------- validation

  /** Audit caches still alive from completed validating packs. */
  private val liveAuditCaches =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]()))

  /** Unpersist every audit cache left alive by prior `validateOnPack`
    * packs on THIS Packer. Call after the packed results have been
    * consumed (written/collected): frames returned earlier stay correct —
    * they just recompute on next use. Safe to call repeatedly; packs in
    * flight on other threads register their caches as they finish. */
  def releaseAuditCaches(): Unit = {
    val snapshot = liveAuditCaches.toArray(Array.empty[AnyRef])
    snapshot.foreach { df =>
      try df.asInstanceOf[DataFrame].unpersist(false)
      catch { case _: Throwable => () }
      liveAuditCaches.remove(df)
    }
  }

  /** M10: grouped values must be identical within each group before the
    * first-non-null dedup (reference: _validate_aggregation_uniformity,
    * hierarchical_packer.py:2700-2740). The per-group evidence rides the
    * pack's OWN aggregate: [[PackFold]] and the group's min/max report the
    * first violating (level, column) of `pairs`, leaf to root, as column
    * [[AuditCol]] — no second scan of the raw frame. When that aggregate
    * audits a column the coarsest level carries within the whole group
    * only, a failed check runs the `exact` aggregate, which audits it
    * within every finer entity too, to name the leaf-most level. The
    * packed output is persisted
    * (MEMORY_AND_DISK) so the ONE eager check and the caller's downstream
    * action share one shuffle; the check job materializes the cache, which
    * stays hot to serve the returned frame. It stays registered with the
    * session's CacheManager until [[Packer.releaseAuditCaches]] or
    * `unpersist` frees it; the ContextCleaner never does. */
  private def runUniformityAudit(packedWithAudit: DataFrame, pairs: Seq[(String, String)],
                                 exact: Option[() => DataFrame]): DataFrame = {
    def firstViolation(df: DataFrame): Option[Int] = {
      // min over zero groups is null — an empty frame has no violations
      val row = df.agg(min(col(AuditCol))).collect()(0)
      if (row.isNullAt(0)) None else Some(row.getInt(0))
    }
    val persisted = packedWithAudit.persist(StorageLevel.MEMORY_AND_DISK)
    // this collect scans every partition → fully populates the cache
    firstViolation(persisted).foreach { found =>
      persisted.unpersist(false)
      val (levelName, c) = pairs(exact.flatMap(e => firstViolation(e())).getOrElse(found))
      throw new HierarchyValidationError(
        s"Column '$c' has non-uniform values within groups at level '$levelName'. " +
          "Values at coarser granularity should be identical within each group.",
        level = Some(levelName), details = Map("column" -> c))
    }
    liveAuditCaches.add(persisted)
    persisted.drop(AuditCol)
  }

  /** M8: data validation — null counts in key columns, batched into ONE
    * aggregation pass (reference: validate, hierarchical_packer.py:1667-1717
    * runs one eager collect per key). EAGER: the aggregation job runs at
    * CALL time and the result is returned as a driver-side map. */
  def validate(df: DataFrame, level: String, raiseOnError: Boolean = true): Map[String, Long] = {
    val keys = spec.levelKeys(level, includeAncestors = true).filter(hasCol(df, _))
    if (keys.isEmpty) return Map.empty
    val aggs = keys.map(k => sum(when(topCol(k).isNull, 1L).otherwise(0L)).alias(k))
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // sum() over zero rows is null — an empty frame has zero null keys
    val counts = keys.zipWithIndex.map { case (k, i) =>
      k -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
    val bad = counts.filter(_._2 > 0)
    if (bad.nonEmpty && raiseOnError) throw new HierarchyValidationError(
      s"Null values in key columns at level '$level': " +
        bad.map { case (k, n) => s"$k=$n" }.mkString(", "),
      level = Some(level),
      details = bad.map { case (k, n) => k -> n.toString })
    counts
  }

  /** M10 as a QUERYABLE report (the enforcing in-pack audit throws on the
    * first violation; reference: validate_aggregation_uniformity,
    * hierarchical_packer.py:1719-1780 raises the same way): for the pack
    * stage that folds `level` into its parent keys, count the groups in
    * which each coarser-granularity column is NOT uniform. Null semantics
    * match the in-pack audit exactly — nulls are ignored (min/max), a
    * group violates iff min(c) is not null-safe-equal to max(c), so an
    * all-null group is uniform and nulls alongside one distinct value are
    * uniform.
    *
    * Returns one row per audited column: (column STRING, violating_groups
    * BIGINT). Scale shape: groupBy(keys) with min/max partial aggregation
    * (map-side combine, no Expand) followed by a 1-row global sum, then a
    * driver-free unpivot of that single row — one shuffle total. */
  def uniformityReport(df0: DataFrame, level: String): DataFrame = {
    val (prepared, added) = prepareFrame(df0)
    val meta = metas(spec.levelIndex(level))
    require(meta.ancestorKeys.nonEmpty,
      s"level '$level' is the root — uniformity is defined within parent groups")
    val groupKeys = meta.ancestorKeys.filter(hasCol(prepared, _))
    // all ancestor keys absent would degrade groupBy() to ONE global
    // group and silently report whole-frame uniformity — error instead
    require(groupKeys.nonEmpty,
      s"none of the ancestor key columns ${meta.ancestorKeys.mkString("[", ", ", "]")} " +
        s"exist in the frame — cannot audit uniformity at level '$level'")
    val excluded = groupKeys.toSet ++ added + RowIdCol
    val audited = prepared.schema.fieldNames.toIndexedSeq.filter { c =>
      !excluded.contains(c) && !(meta.prefix.nonEmpty && c.startsWith(meta.prefix))
    }
    require(audited.nonEmpty,
      s"no coarser-granularity columns to audit at level '$level'")
    val mmAggs = audited.zipWithIndex.flatMap { case (c, i) => Seq(
      min(topCol(c)).alias(s"__mn_$i"), max(topCol(c)).alias(s"__mx_$i")) }
    val perGroup = prepared.groupBy(groupKeys.map(topCol): _*)
      .agg(mmAggs.head, mmAggs.tail: _*)
    val vioAggs = audited.indices.map(i =>
      sum(when(!(col(s"__mn_$i") <=> col(s"__mx_$i")), 1L).otherwise(0L))
        .alias(s"__v_$i"))
    val row = perGroup.agg(vioAggs.head, vioAggs.tail: _*)
    // unpivot the 1-row violation vector to (column, violating_groups);
    // sum over zero groups is null — an empty frame has no violations
    val stacked = audited.zipWithIndex.map { case (c, i) =>
      struct(lit(c).alias("column"),
        coalesce(col(s"__v_$i"), lit(0L)).alias("violating_groups")) }
    row.select(explode(array(stacked: _*)).alias("__r"))
      .select(col("__r.column").alias("column"),
        col("__r.violating_groups").alias("violating_groups"))
  }

  private def dropInternal(df: DataFrame): DataFrame = dropIfPresent(df, Seq(RowIdCol))
}

object Packer {
  /** Internal columns (reference: hierarchical_packer.py:37-38). */
  val RowIdCol = "__hier_row_id"
  val AuditPrefix = "__hier_audit_"
  /** The fold's uniformity evidence while a validating pack checks it. */
  val AuditCol: String = AuditPrefix + "violation"

  /** One level's fold as a level-by-level pack would run it: `frame` is
    * the frame it folds from, `struct` the columns its struct takes, and
    * `carried` the columns it carries up as first-non-null values. Every
    * value is named by its [[PackFold.Source]] over the input columns. */
  private final case class FoldStep(
      meta: LevelMetadata,
      frame: Seq[(StructField, PackFold.Source)],
      struct: Seq[(StructField, PackFold.Source)],
      structType: StructType,
      carried: Seq[(StructField, PackFold.Source)])
  /** Row cap for the choosePackStrategy width probe. */
  val WidthProbeRows = 1000
  /** [[Packer.packStreaming]]'s fallback shard count when the width probe
    * is disabled or unusable — the reference's literal `num_buckets=64`
    * (hierarchical_packer.py:1106). The probed default sizes from the
    * frame's estimated shuffle bytes instead. */
  val DefaultStreamingPartitions = 64

  /** Schema-aware per-row serialized-width estimate (bytes, Double) for
    * the [[Packer.choosePackStrategy]] probe. Fixed-width scalars are
    * plan-time constants, strings/binary read `octet_length` directly,
    * arrays of fixed-width elements cost `size(c) * elemWidth` — all
    * codegen'd, zero serialization — and only irregular shapes (arrays
    * of strings/structs, maps) fall back to `octet_length(to_json(...))`.
    * Only the RATIO between column groups is consumed and both groups
    * use the same estimator, so the unit (in-memory bytes vs JSON chars)
    * cancels. Known bias: a null struct counts its full fixed width —
    * fine for a strategy probe. */
  private[graft] def widthOf(dt: DataType, c: Column): Column = {
    def fixed(t: DataType): Option[Double] = t match {
      case BooleanType | ByteType => Some(1.0)
      case ShortType => Some(2.0)
      case IntegerType | FloatType | DateType => Some(4.0)
      case LongType | DoubleType | TimestampType | TimestampNTZType => Some(8.0)
      case _: DecimalType => Some(16.0)
      case _ => None
    }
    dt match {
      case t if fixed(t).isDefined => lit(fixed(t).get)
      case StringType | BinaryType =>
        coalesce(octet_length(c).cast(DoubleType), lit(0.0))
      case ArrayType(et, _) if fixed(et).isDefined =>
        coalesce(size(c).cast(DoubleType), lit(0.0)) * fixed(et).get
      case st: StructType =>
        if (st.fields.isEmpty) lit(0.0)
        else st.fields.toIndexedSeq
          .map(f => widthOf(f.dataType, c.getField(f.name))).reduce(_ + _)
      case _ =>
        coalesce(octet_length(to_json(struct(c))), lit(0)).cast(DoubleType)
    }
  }
}

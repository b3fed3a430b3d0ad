package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One feature input to a point-in-time training-set join.
  *
  * @param entityName which label entity mapping this feature joins through
  *                   (multi-entity labels, reference metadata.proto:372-381)
  * @param lagSeconds P7 lag features: value becomes visible `lag` after its ts
  *                   (reference provider/spark.go:152-207 —
  *                   `ON entity AND (t.ts + INTERVAL lag) <= label_ts`).
  * @param maxAgeSeconds feature TTL (staleness bound, the Feast `ttl` role):
  *                   the picked value must satisfy
  *                   `label_ts - feature_ts <= maxAge`, else NULL. Because
  *                   rows older than the latest qualifying one are older
  *                   still, mask-after-pick ≡ filter-then-pick — so every
  *                   strategy implements it as a post-pick mask on the
  *                   picked ts carried through the value struct.
  */
final case class FeatureSide(
    df: DataFrame,
    entityCol: String,
    valueCol: String,
    tsCol: Option[String],
    outputName: String,
    entityName: String = "entity",
    lagSeconds: Option[Long] = None,
    maxAgeSeconds: Option[Long] = None)

sealed trait AsOfStrategy
/** Union feature+label events, one window pass per feature source. One
  * shuffle on the entity key, no join explosion on entities with long
  * histories (the join-then-filter shape materializes |label| × |history|
  * intermediate rows; this shape is O(|label| + |history|) with a single
  * sort) — but `WindowExec` still buffers each entity partition, so a hot
  * entity's history pays a spill cycle. */
case object UnionWindow extends AsOfStrategy
/** Reference-shaped plan (P2: tsquery.go:191-350): left join on
  * entity ∧ f.ts ≤ l.ts, then ROW_NUMBER()=1. Kept for cross-checking. */
case object JoinWindow extends AsOfStrategy
/** Scale path (default): the custom [[graft.plans.AsOfMerge]] operator —
  * children co-clustered on entity and sorted once, then a streaming merge
  * holding ONE buffered value per entity regardless of history length. No
  * window buffer (UnionWindow's weakness on skewed entities), no join
  * explosion, and no re-join: the picked values append to the label rows
  * in the same pass. Semantics agreement-tested against both other
  * strategies. */
case object SortMergeAsOf extends AsOfStrategy
/** Broadcast-side as-of: the feature group collected, sorted per entity,
  * broadcast, and resolved per label row by a scan-stage binary search
  * ([[graft.plans.AsOfBroadcastLookup]]) — ZERO exchanges anywhere; the
  * as-of analogue of a broadcast hash join, for dimension-sized feature
  * tables under a huge label scan. `maxRows` guards the small side. */
final case class BroadcastAsOf(maxRows: Int = 4000000) extends AsOfStrategy

/** Point-in-time (as-of) training-set join — reference §2.5 (P1-P9).
  *
  * Semantics (reference provider/correctness_test.go:1050-1093):
  *  - each label row gets every feature's latest value with
  *    `feature.ts <= label.ts` (inclusive);
  *  - label rows with no qualifying feature row keep NULL (LEFT joins only);
  *  - a feature without a ts is a per-entity constant (its max value); a
  *    label without a ts gets each feature's overall latest value (lag
  *    and TTL ignored in both cases);
  *  - ties on the max feature ts are broken deterministically:
  *    highest ts, then highest value (the reference leaves this unspecified —
  *    we pin it so results are reproducible and oracle-checkable);
  *  - features sharing (source, entity column, ts column, lag) are coalesced
  *    into a single pass (reference tsquery.go:433-442).
  */
object AsOfJoin {

  private final case class GroupKey(dfId: Int, entityCol: String, tsCol: Option[String],
                                    entityName: String, lagSeconds: Option[Long])

  /** The probe of a label with no ts under [[SortMergeAsOf]]: the latest
    * representable instant, so every feature row is visible and the merge
    * picks each entity's overall latest value. */
  private val EndOfTime: Column = timestamp_micros(lit(Long.MaxValue))

  /** Build a training set: one row per label row, feature columns named by
    * `FeatureSide.outputName`, label value in column `label` (reference P9
    * naming tsquery.go:53, 503).
    *
    * Under [[SortMergeAsOf]] every feature group is one [[graft.plans.AsOfMerge]]
    * pass over one scan and one shuffle of its source:
    *  - a lag shifts the label probe (`label.ts - lag`), not the feature
    *    rows, and group values ride position-named struct fields — so
    *    groups of one source that differ only in lag have identical
    *    feature-side plans and share one exchange;
    *  - features without a ts are NULL-ts groups: a NULL-ts row is visible
    *    to every label, so the merge picks the entity's max value (when no
    *    timestamped feature shuffles the label on their key, they take the
    *    plain join below instead);
    *  - a label with no ts probes at [[EndOfTime]], so each feature picks
    *    its overall latest value.
    * The cross-check strategies reduce ts-less features and no-label-ts
    * builds with `Materialize.latest` and a plain LEFT join.
    *
    * @param mappings entityName -> label column holding that entity's key
    */
  def trainingSet(
      label: DataFrame,
      mappings: Map[String, String],
      labelValueCol: String,
      labelTsCol: Option[String],
      features: Seq[FeatureSide],
      strategy: AsOfStrategy = SortMergeAsOf): DataFrame = {

    require(features.map(_.outputName).distinct.size == features.size,
      "feature output names must be unique")
    features.foreach(f => require(mappings.contains(f.entityName),
      s"label has no entity mapping named ${f.entityName}"))

    val sortMerge = strategy == SortMergeAsOf
    val lts = labelTsCol.map(col).getOrElse(
      if (sortMerge) EndOfTime else Materialize.EpochZero)
    val keep = (mappings.values.toSeq ++ labelTsCol :+ labelValueCol).distinct
    var base = label.select(keep.map(col): _*).withColumn("__lts", lts)

    // Lag and TTL are as-of notions: without a feature ts or a label ts the
    // feature is a per-entity latest value (reference tsquery.go:354-383,
    // 518-593) and both are ignored. Under SortMergeAsOf a ts-less feature
    // rides the merge only when a timestamped feature already shuffles the
    // label on the same key; otherwise the plain join (broadcast when the
    // feature side is small) leaves the label unshuffled: at sf0.1 on 4
    // vCPUs, two ts-less merges over lineitem took 1.6 s, two joins 0.7 s.
    val mergedKeys = features.filter(_.tsCol.isDefined).map(f => mappings(f.entityName)).toSet
    val (plainJoin, asOf) = features
      .map(f => if (f.tsCol.isEmpty || labelTsCol.isEmpty)
        f.copy(lagSeconds = None, maxAgeSeconds = None) else f)
      .partition(f =>
        if (sortMerge) f.tsCol.isEmpty && !mergedKeys.contains(mappings(f.entityName))
        else f.tsCol.isEmpty || labelTsCol.isEmpty)

    plainJoin.zipWithIndex.foreach { case (f, i) =>
      val reduced = Materialize.latest(f.df, f.entityCol, f.valueCol, f.tsCol)
        .select(col(f.entityCol).as(s"__pe_$i"), col(f.valueCol).as(f.outputName))
      base = base.join(reduced,
        base(mappings(f.entityName)) === reduced(s"__pe_$i"), "left")
        .drop(s"__pe_$i")
    }

    // Coalesce as-of features sharing (source, entity col, ts col, lag) into
    // one pass (reference tsquery.go:433-442, 532-541).
    val groups = asOf.groupBy(f =>
      GroupKey(System.identityHashCode(f.df), f.entityCol, f.tsCol,
        f.entityName, f.lagSeconds)).toSeq.sortBy(_._2.head.outputName)

    groups.zipWithIndex.foreach { case ((_, fs), gi) =>
      val g = fs.head
      val labelEntity = mappings(g.entityName)
      // the label instant a feature row must not be later than
      val probe = g.lagSeconds match {
        case Some(s) =>
          base = base.withColumn("__probe",
            col("__lts") - expr(s"INTERVAL '$s' SECOND"))
          "__probe"
        case None => "__lts"
      }
      val fev = featureEvents(fs, base, labelEntity)
      strategy match {
        case SortMergeAsOf =>
          // appends the picked columns in the merge itself — no re-join
          base = sortMergeGroup(base, labelEntity, probe, fev, fs)
        case BroadcastAsOf(maxRows) =>
          base = broadcastGroup(base, labelEntity, probe, fev, fs, maxRows)
        case UnionWindow | JoinWindow =>
          val result = strategy match {
            case UnionWindow => unionWindowGroup(base, labelEntity, probe, fev, fs)
            case _           => joinWindowGroup(base, labelEntity, probe, fev, fs)
          }
          val hasTtl = fs.exists(_.maxAgeSeconds.isDefined)
          val renamed = result
            .withColumnRenamed("__e", s"__ge_$gi").withColumnRenamed("__t", s"__gt_$gi")
            .withColumnRenamed("__gt", s"__gpt_$gi") // picked ts (TTL groups)
          base = base.join(renamed,
            base(labelEntity) === renamed(s"__ge_$gi") &&
              base(probe) === renamed(s"__gt_$gi"), "left")
            .drop(s"__ge_$gi", s"__gt_$gi")
          if (hasTtl) {
            fs.filter(_.maxAgeSeconds.isDefined).foreach { f =>
              base = base.withColumn(f.outputName,
                when(freshEnough(f, col(s"__gpt_$gi"), probe), col(f.outputName)))
            }
            base = base.drop(s"__gpt_$gi")
          }
      }
      if (probe != "__lts") base = base.drop(probe)
    }

    val outCols: Seq[Column] =
      mappings.values.toSeq.distinct.map(col) ++
        labelTsCol.map(col).toSeq ++
        features.map(f => col(f.outputName)) :+
        col(labelValueCol).as("label")
    base.select(outCols: _*)
  }

  /** Canonicalized feature rows of one group: entity and ts cast to the
    * label's types, values in one struct (one pass serves all of them)
    * whose fields are named by POSITION — so two groups reading the same
    * columns of one source have identical plans and share an exchange. A
    * group without a ts gets a NULL ts. When any member has a TTL, the
    * event ts rides along as the LAST struct field `__gt` — last so
    * tie-break struct comparisons (which only ever compare rows at EQUAL
    * ts, hence equal `__gt`) are unchanged. */
  private def featureEvents(fs: Seq[FeatureSide], base: DataFrame,
                            labelEntity: String): DataFrame = {
    val g = fs.head
    val ts = g.tsCol.map(col).getOrElse(lit(null))
      .cast(base.schema("__lts").dataType)
    val valueFields = fs.indices.map(i => col(fs(i).valueCol).as(s"_$i")) ++
      (if (fs.exists(_.maxAgeSeconds.isDefined)) Seq(ts.as("__gt")) else Nil)
    g.df.select(
      col(g.entityCol).cast(base.schema(labelEntity).dataType).as("__e"),
      ts.as("__t"),
      struct(valueFields: _*).as("__v"))
  }

  /** Struct field of feature `i` of a group in a picked value struct. */
  private def field(struct: String, i: Int): Column = col(s"$struct._$i")

  /** TTL mask: true when the picked feature ts is within `maxAgeSeconds`
    * of the probe (`label ts - lag`); features without a TTL are always
    * fresh. `pickedTs` must resolve to the group's `__gt` field. */
  private def freshEnough(f: FeatureSide, pickedTs: => Column,
                          probe: String): Column =
    f.maxAgeSeconds match {
      case Some(a) => pickedTs >= col(probe) - expr(s"INTERVAL '$a' SECOND")
      case None    => lit(true)
    }

  /** Keep the picked struct's values as the group's output columns, NULL
    * where the label cannot pick (NULL entity; NULL probe for a timestamped
    * group — the reference's equi-join semantics, which the re-joining
    * strategies get from null rejection) or the TTL masks the pick. */
  private def unpack(picked: DataFrame, labelEntity: String, probe: String,
                     fs: Seq[FeatureSide]): DataFrame = {
    val pickable = col(labelEntity).isNotNull &&
      (if (fs.head.tsCol.isDefined) col(probe).isNotNull else lit(true))
    fs.zipWithIndex.foldLeft(picked) { case (acc, (f, i)) =>
      acc.withColumn(f.outputName,
        when(pickable && freshEnough(f, col("__v.__gt"), probe), field("__v", i)))
    }.drop("__v")
  }

  /** UnionWindow: tag label keys, union with feature events, one
    * partitionBy(entity) sort, running `last(value ignoring nulls)`. */
  private def unionWindowGroup(base: DataFrame, labelEntity: String, probe: String,
                               fev0: DataFrame, fs: Seq[FeatureSide]): DataFrame = {
    val fev = fev0.withColumn("__lbl", lit(0))
    val lkeys = base
      .select(col(labelEntity).as("__e"), col(probe).as("__t")).distinct()
      .withColumn("__v", lit(null).cast(fev.schema("__v").dataType))
      .withColumn("__lbl", lit(1))
    // Order: ts asc, label rows after feature rows at equal ts (inclusive
    // f.ts <= l.ts), value asc so `last` = max value at the tie ts.
    val w = Window.partitionBy(col("__e"))
      .orderBy(col("__t").asc, col("__lbl").asc, col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = fev.unionByName(lkeys)
      .withColumn("__pick", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__lbl") === 1)
    val gt = if (fs.exists(_.maxAgeSeconds.isDefined))
      Seq(col("__pick.__gt").as("__gt")) else Nil
    picked.select(
      (col("__e") +: col("__t") +:
        (fs.indices.map(i => field("__pick", i).as(fs(i).outputName)) ++ gt)): _*)
  }

  /** SortMergeAsOf: plan the group through [[graft.plans.AsOfMerge]].
    * `base` rides the merge directly (every label row, all its columns) and
    * comes back with the group's value struct appended — the probe is the
    * merge's ts, so the UnionWindow distinct+re-join disappears. */
  private def sortMergeGroup(base: DataFrame, labelEntity: String, probe: String,
                             fev: DataFrame, fs: Seq[FeatureSide]): DataFrame = {
    val spark = base.sparkSession
    graft.plans.AsOfMergeStrategy.ensureOn(spark)
    val lPlan = base.queryExecution.analyzed
    val rPlan = fev.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.output}"))
    val merged = graft.plans.AsOfMerge(lPlan, rPlan,
      attr(lPlan, labelEntity), attr(lPlan, probe),
      attr(rPlan, "__e"), attr(rPlan, "__t"), attr(rPlan, "__v"))
    unpack(org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, merged),
      labelEntity, probe, fs)
  }

  /** BroadcastAsOf: per label row, a binary search into the broadcast
    * per-entity (ts, value) arrays — the label table never shuffles. Same
    * NULL masking as [[sortMergeGroup]]. */
  private def broadcastGroup(base: DataFrame, labelEntity: String, probe: String,
                             fev: DataFrame, fs: Seq[FeatureSide],
                             maxRows: Int): DataFrame = {
    val (table, valueType) = graft.plans.AsOfBroadcast.buildTable(fev, maxRows)
    val lookup = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.AsOfBroadcastLookup(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(labelEntity)),
        org.apache.spark.sql.graft.ColumnBridge.expression(col(probe)),
        table, valueType))
    unpack(base.withColumn("__v", lookup), labelEntity, probe, fs)
  }

  /** JoinWindow (reference P2 shape): join + ROW_NUMBER()=1. */
  private def joinWindowGroup(base: DataFrame, labelEntity: String, probe: String,
                              fev: DataFrame, fs: Seq[FeatureSide]): DataFrame = {
    val lkeys = base
      .select(col(labelEntity).as("__le"), col(probe).as("__lt")).distinct()
    val joined = lkeys.join(fev,
      lkeys("__le") === fev("__e") && fev("__t") <= lkeys("__lt"), "left")
    val w = Window.partitionBy(col("__le"), col("__lt"))
      .orderBy(col("__t").desc, col("__v").desc)
    val gt = if (fs.exists(_.maxAgeSeconds.isDefined))
      Seq(col("__v.__gt").as("__gt")) else Nil
    joined.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(
        (col("__le").as("__e") +: col("__lt").as("__t") +:
          (fs.indices.map(i => field("__v", i).as(fs(i).outputName)) ++ gt)): _*)
  }
}

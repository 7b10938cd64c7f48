package graft.source

import graft.bson._
import graft.query.{BQuery, ComputedCol, FilterTranslator}

import org.apache.spark.sql.connector.expressions.{Expression, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.sources.{Filter, IsNotNull, IsNull}
import org.apache.spark.sql.types.{ArrayType, LongType, MapType, StructField, StructType}

/** The push rules both transports share: which of Spark's filters,
  * samples, sort keys and aggregates a `graftbson` or `graftserver` scan
  * may take over, and how the taken ones become a [[BQuery]]. Each
  * ScanBuilder keeps its own option gates and state; it asks here for the
  * decision itself. Where the transports really differ, the difference is
  * a parameter: the server keeps array-column null tests residual and
  * rewrites pushed queries to bracket form under `assume_uniform_storage`,
  * requires the parent prune to render server-side, and judges types by
  * the stored BSON order (`cursorOrderSafe` / `aggValueSafe`), where the
  * file reader judges them by read values.
  */
object PushRules {

  /** What a scan's pushdowns resolve against: the table schema, the
    * `column_mapping` (Spark column → dotted doc path) and the
    * `computed_columns`. A computed column exists only after the reader
    * injects it, so the pushed query (evaluated on STORED docs), sort
    * keys, probes and sample keys must not address it.
    */
  final case class Columns(schema: StructType, mapping: Map[String, String],
      computed: Seq[ComputedCol]) {
    val computedOuts: Set[String] = computed.map(_.out).toSet

    def resolve(e: Expression): Option[FieldResolve.Ref] =
      FieldResolve.resolve(schema, e, mapping)

    /** False when the ref's head column is a computed one. */
    def stored(r: FieldResolve.Ref): Boolean =
      !computedOuts.contains(r.docPath.split('.').head)
  }

  /** The Spark column that READS doc field `f`: an explicit mapping entry
    * wins; the bare name only when that column is not itself remapped to
    * a different doc field. */
  def sparkColFor(mapping: Map[String, String], f: String): Option[String] =
    mapping.find(_._2 == f).map(_._1)
      .orElse(if (mapping.contains(f)) None else Some(f))

  /** A computed column's null test rewrites exactly to the same test on
    * its SOURCE field (`mod`/`pmod` are null iff their input is). The
    * rewrite names the SPARK column that reads the source field, never
    * the raw doc path: the translator re-applies `column_mapping`, so a
    * doc path equal to another mapped column's name would address the
    * wrong stored field. No unambiguous reader → None (stays residual).
    */
  private def sourceSparkCol(cols: Columns, out: String): Option[String] =
    cols.computed.find(_.out == out).flatMap(c => sparkColFor(cols.mapping, c.field))

  /** The outcome of [[splitFilters]]. */
  final case class FilterSplit(query: BQuery, post: BQuery,
      accepted: Array[Filter], residual: Array[Filter])

  /** Spark's filters, split into the pushed document query, the pushed
    * POST-unwind query, the accepted filters and the residual ones Spark
    * re-checks above the scan. In order:
    *
    *  - a filter on the metadata column (`_file` / `_ns`) is not a
    *    document query: residual;
    *  - `arrayNullsResidual` (server): an IsNull/IsNotNull on an
    *    ARRAY-typed column stays residual — the wire form `{$eq: null}`
    *    element-matches (`{p: null}` matches `p=[1,null]`), while Spark
    *    tests the column value itself;
    *  - a null test on a computed column rewrites to its source field
    *    ([[sourceSparkCol]]); any other filter on a computed column is
    *    residual;
    *  - a filter on the unwound element (or a struct-element subfield),
    *    the posexplode pos column or the map key becomes the POST-unwind
    *    query: after the unwind the path holds the ELEMENT, so the normal
    *    translation carries Spark's row semantics;
    *  - the rest translates to the document query.
    *
    * `uniformBrackets` (server, `assume_uniform_storage`): every Long /
    * Timestamp / String is stored as the one type this engine writes, so
    * the read-semantics nodes rewrite to their exact bracket forms and
    * render server-side instead of as client-side re-checks.
    */
  def splitFilters(filters: Array[Filter], cols: Columns,
      options: Map[String, String], metaCol: String,
      arrayNullsResidual: Boolean, uniformBrackets: Boolean): FilterSplit = {
    val (metaFilters, rest0) = filters.partition(_.references.contains(metaCol))
    def arrayTyped(a: String): Boolean =
      FieldResolve.resolveName(cols.schema, a, cols.mapping)
        .exists(_.dataType.isInstanceOf[ArrayType])
    val (arrayNullFilters, rest1) =
      if (!arrayNullsResidual) (Array.empty[Filter], rest0)
      else rest0.partition {
        case IsNull(a) => arrayTyped(a)
        case IsNotNull(a) => arrayTyped(a)
        case _ => false
      }
    val rest2 = rest1.map {
      case f @ IsNotNull(a) if cols.computedOuts.contains(a) =>
        sourceSparkCol(cols, a).map(IsNotNull(_)).getOrElse(f)
      case f @ IsNull(a) if cols.computedOuts.contains(a) =>
        sourceSparkCol(cols, a).map(IsNull(_)).getOrElse(f)
      case other => other
    }
    val (computedFilters, rest3) = rest2.partition(
      _.references.exists(r => cols.computedOuts.contains(r.split('.').head)))
    val (elementFilters, docFilters) = rest3.partition(f =>
      f.references.exists(r => graft.plans.UnwindRelocate.elementScoped(
        r, options.get("unwind_element"), options.get("unwind_pos"),
        options.get("unwind_key"))))
    val (postQ, postAccepted, postResidual) =
      FilterTranslator.split(elementFilters, cols.mapping)
    val (query, accepted, residual) = FilterTranslator.split(docFilters, cols.mapping)
    def bracket(q: BQuery): BQuery =
      if (uniformBrackets) BQuery.uniformReadBracket(q) else q
    FilterSplit(bracket(query), bracket(postQ), accepted ++ postAccepted,
      residual ++ postResidual ++ metaFilters ++ arrayNullFilters ++ computedFilters)
  }

  /** The `sample_key` option's column, if a pushed TABLESAMPLE may key
    * on it: an Int/Long/String ([[SamplePush.KeyTypes]]) stored column
    * that, under an unwind, is a PARENT field
    * ([[SamplePush.keyAllowedUnderUnwind]]). It may name a nested
    * subfield; the keep-predicate extracts by dotted path.
    */
  def sampleKey(cols: Columns, options: Map[String, String],
      unwindPath: Option[String]): Option[FieldResolve.Ref] =
    options.get("sample_key")
      .flatMap(k => FieldResolve.resolveName(cols.schema, k, cols.mapping))
      .filter(r => SamplePush.KeyTypes.contains(r.dataType) && cols.stored(r) &&
        SamplePush.keyAllowedUnderUnwind(r.docPath, unwindPath))

  /** TopN order keys as (resolved column, descending), or None when any
    * key refuses: each key's null ordering must be Spark's default for
    * its direction (ASC NULLS FIRST / DESC NULLS LAST — BSON's order and
    * the file reader's bounded selector alike), the key must be a stored
    * column (nested subfields resolve to their leaf), and `typeOk` must
    * accept it.
    */
  def topNKeys(orders: Array[SortOrder], cols: Columns,
      typeOk: FieldResolve.Ref => Boolean): Option[Seq[(FieldResolve.Ref, Boolean)]] = {
    val keys = orders.toSeq.map { o =>
      val desc = o.direction == SortDirection.DESCENDING
      val nullsOk =
        if (desc) o.nullOrdering == NullOrdering.NULLS_LAST
        else o.nullOrdering == NullOrdering.NULLS_FIRST
      cols.resolve(o.expression)
        .filter(r => nullsOk && cols.stored(r) && typeOk(r))
        .map(r => (r, desc))
    }
    if (keys.isEmpty || keys.contains(None)) None else Some(keys.flatten)
  }

  /** A global COUNT(*) / MIN / MAX answered without a row scan (side-file
    * counts and single-field passes on the file, collStats and sorted
    * limit-1 probes on the server). MIN/MAX columns must be stored (a
    * computed column has no field to walk) and pass `typeOk`; any other
    * aggregate refuses the whole set.
    */
  def globalAggregates(aggregation: Aggregation, cols: Columns,
      typeOk: FieldResolve.Ref => Boolean): Option[Seq[AggPush]] = {
    def named(e: Expression): Option[FieldResolve.Ref] =
      cols.resolve(e).filter(r => typeOk(r) && cols.stored(r))
    val items = aggregation.aggregateExpressions.toSeq.map {
      case _: aggregate.CountStar => Some(AggPush.RowCount)
      case m: aggregate.Min => named(m.column).map(r => AggPush.MinOf(r.docPath, r.dataType))
      case m: aggregate.Max => named(m.column).map(r => AggPush.MaxOf(r.docPath, r.dataType))
      case _ => None
    }
    if (items.isEmpty || items.contains(None)) None else Some(items.flatten)
  }

  /** Pre-unwind PARENT prune ([[BQuery.parentPrune]]): under an unwind
    * with a pushed post-unwind match, parents with no satisfying element
    * drop before the per-element flatten. A prune, never the filter (the
    * exact post match still runs on unwound docs). `path` is None when
    * the unwind cannot prune: absent, OUTER (a never-matching array
    * still owes its null-element row to a null-matching post query) or,
    * on the server, a map explode.
    * ARRAY/MAP-typed elements are skipped (nested-array `$elemMatch`
    * traversal is a documented divergence). `accept` lets the server
    * keep only a prune that renders fully on the wire — a client-side
    * superset re-check would be pure overhead.
    */
  def unwindPrune(path: Option[String], element: Option[String],
      schema: StructType, post: BQuery,
      accept: BQuery => Boolean = _ => true): BQuery = {
    val safe = path.isDefined && element.forall(e =>
      schema.fields.find(_.name == e).forall(_.dataType match {
        case _: ArrayType | _: MapType => false
        case _ => true
      }))
    if (!safe || post == BQuery.True) BQuery.True
    else {
      val prune = BQuery.parentPrune(post, path.get)
      if (accept(prune)) prune else BQuery.True
    }
  }

  /** Spark's runtime (dynamic) filters merged into one IN-set per column,
    * keyed by `keyOf(spark column)`. Above 10 000 values in total,
    * evaluating the sets per row and per split costs more than they
    * prune: the result is empty and the scan reads everything. */
  def runtimeIn(predicates: Array[Predicate],
      keyOf: String => String): Map[String, Seq[BsonValue]] = {
    val merged = predicates.toSeq.flatMap(RuntimeFilters.parse).groupBy(_._1)
      .map { case (col, vs) => keyOf(col) -> vs.flatMap(_._2).distinct }
    if (merged.valuesIterator.map(_.size).sum > 10000) Map.empty else merged
  }

  /** One runtime IN-set as a row query over doc field `f`. The join
    * compares READ values, so strings and longs use read semantics, and
    * TimestampType values (arriving as BDate millis) match both
    * timestamp storages. */
  def runtimeInQuery(f: String, vs: Seq[BsonValue]): BQuery = {
    val strs = vs.collect { case BString(s) => s }
    val longs = vs.collect { case BInt64(x) => x }
    val dates = vs.collect { case BDate(ms) => ms }
    if (strs.size == vs.size) BQuery.ReadStrIn(f, strs)
    else if (longs.size == vs.size) BQuery.ReadLongIn(f, longs)
    else if (dates.size == vs.size && vs.nonEmpty) BQuery.ReadTimeIn(f, dates.map(_ * 1000L))
    else BQuery.In(f, vs)
  }

  /** A scan's read schema once an aggregate is pushed: a grouped one
    * reports group columns then aggregate columns (Spark's zip order in
    * V2ScanRelationPushDown); a global one its COUNT(*)/MIN/MAX columns. */
  def readSchema(grouped: Option[PushedGroupBy], global: Option[Seq[AggPush]],
      required: StructType): StructType = (grouped, global) match {
    case (Some(g), _) => g.schema
    case (None, Some(items)) =>
      StructType(items.map {
        case AggPush.RowCount => StructField("count(*)", LongType, nullable = false)
        case AggPush.MinOf(c, t) => StructField(s"min($c)", t)
        case AggPush.MaxOf(c, t) => StructField(s"max($c)", t)
      })
    case _ => required
  }
}

package graft.server

import graft.bson._
import graft.query.{BQuery, BQueryJson}
import graft.source.{FieldResolve, GroupAggParse, Planners, PushRules}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 connector over the LIVE-SERVER transport
  * ([[ServerClient]]): the `spark.read.format("graftserver")` face of the
  * reference's primary mode — a network cursor per split against
  * mongod/mongos (core/src/main/java/com/mongodb/hadoop/input/
  * MongoInputSplit.java:272-299) with splitVector / \$sample / shard-chunk
  * planning (core/.../splitter/MongoSplitterFactory.java:49-106).
  *
  * Same planning strategies, query translator, and row codec as the
  * file-backed `graftbson` source — only the transport differs:
  *
  *  - split planning runs on the driver through [[ServerCollection
  *    .planSplits]] (shard chunks → splitVector → sampled-size fallback,
  *    each a bounded probe sequence, never a scan);
  *  - each partition reader reconstructs its own client from the options
  *    via [[ServerClientFactory]] (the connection never serializes) and
  *    holds exactly one server cursor: range ∧ pushed filters ∧
  *    option-level `query`, with projection and a partial limit pushed to
  *    the server;
  *  - shard-chunk splits carry their chunk's hosts as Spark preferred
  *    locations, the reference's mongos-bypass locality
  *    (core/.../splitter/ShardChunkMongoSplitter.java:59-148).
  *
  * Read options: `ns` (namespace), `client_factory` (FQCN of a
  * [[ServerClientFactory]]; defaults to the sandbox [[DirServerFactory]]),
  * `key` (split key, default `_id`), `split_size` (target bytes/split),
  * `query` (option-level JSON, AND-composed with pushed filters),
  * `filter_empty` (probe-and-prune empty splits, off by default like the
  * reference's filterEmptySplits), `sample_size` (schema-inference doc
  * budget). Write options: `mode` (insert|replace|update|upsert),
  * `update_op`, `keys`, `multi`, `id_column`, `bulk_ordered`,
  * `batch_size` (models per bulkWrite round-trip).
  *
  * Writes stream batched bulkWrites from each task as it runs — the
  * reference's MongoRecordWriter does the same (MongoOutputCommitter's
  * server-side commitTask is a no-op), so a retried task re-sends its
  * batch: keyed upsert/update modes are idempotent, plain insert is
  * at-least-once. The file-backed `graftbson` source is the engine's
  * exactly-once path (two-phase staged commit); this one is wire parity.
  */
class GraftServerSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftserver"

  override def supportsExternalMetadata(): Boolean = true

  /** Schema by server-side sampling — the \$sample analog of the file
    * source's uniform corpus sampling. The fake transport's sample is
    * deterministic; a production binding would aggregate
    * `[{$sample: {size: n}}]`.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    val nss = GraftServerSource.nsList(opts)
    val n = opts.get("sample_size").map(_.toInt).getOrElse(1000)
    val per = math.max(1, n / nss.size)
    val inferred = GraftServerSource.withClient(opts) { (client, _) =>
      RowCodec.inferSchema(
        nss.iterator.flatMap(ns => client.find(ns, Find(limit = per.toLong))), n,
        mapThreshold = opts.get("infer_map_threshold").map(_.toInt).getOrElse(128))
    }
    if (inferred.isEmpty)
      throw new IllegalArgumentException(
        s"cannot infer schema: no documents in ${GraftServerSource.ns(opts)}")
    inferred
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftServerTable(schema, properties.asScala.toMap)
}

object GraftServerSource {
  /** Name of the `_ns` provenance metadata column. */
  val NsMetaCol = "_ns"

  def ns(opts: Map[String, String]): String =
    opts.getOrElse("ns",
      throw new IllegalArgumentException("graftserver: ns option required"))

  /** `ns` accepts a comma list of namespaces — the server form of the
    * multi-collection scan (the reference reads several collections as
    * one input via MultiCollectionSplitBuilder,
    * core/.../splitter/MultiCollectionSplitBuilder.java): each namespace
    * plans its own splits and the scan is their union.
    */
  def nsList(opts: Map[String, String]): Seq[String] =
    ns(opts).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Drop projection paths whose proper ANCESTOR is also projected —
    * MongoDB 4.4+ rejects inclusion projections with prefix-overlapping
    * paths ("Path collision": `{tags: 1, "tags.lang": 1}`), and the
    * projected ancestor already carries every subfield. Order-preserving.
    */
  def pruneProjection(paths: Seq[String]): Seq[String] = {
    val distinct = paths.distinct
    val set = distinct.toSet
    def hasProjectedAncestor(p: String): Boolean = {
      var i = p.indexOf('.')
      while (i >= 0) {
        if (set.contains(p.substring(0, i))) return true
        i = p.indexOf('.', i + 1)
      }
      false
    }
    distinct.filterNot(hasProjectedAncestor)
  }

  def factory(opts: Map[String, String]): ServerClientFactory =
    Class.forName(opts.getOrElse("client_factory", classOf[DirServerFactory].getName))
      .getDeclaredConstructor().newInstance().asInstanceOf[ServerClientFactory]

  /** posexplode read shim: `includeArrayIndex` yields int64 indexes but
    * the pos column reads IntegerType — narrow the synthetic field
    * before decode (array indexes always fit; null/missing pass). */
  private[server] def narrowPos(d: BDoc): BDoc =
    d.get(graft.plans.UnwindRelocate.PosDocField) match {
      case Some(BInt64(x)) => graft.query.Updates.setField(d,
        graft.plans.UnwindRelocate.PosDocField, BInt32(x.toInt))
      case _ => d
    }

  /** Option-level JSON query (mongo.input.query analog). The
    * `regex_dialect` gate applies here (r16): out-of-subset `$regex`
    * patterns refuse under the default mode, stay client-side Java
    * residuals under `java`, or become verbatim server-authoritative
    * [[BQuery.RegexServer]] nodes under `server` — see
    * [[graft.query.RegexDialect]]. The numeric-segment null edge gate
    * applies when the bound factory is NOT a live transport (r17,
    * ADVICE r16): the sandbox/file-backed double evaluates this query
    * client-side with the engine matcher, so `{"m.0": null}`-class
    * predicates refuse there exactly as on the file transport unless
    * `numeric_null_paths=engine` opts in; a live server receives the
    * verbatim wire form and its own rule applies. */
  def optionQuery(opts: Map[String, String]): BQuery =
    opts.get("query").map { j =>
      val q = BQueryJson.parse(j)
      if (!factory(opts).liveTransport)
        graft.query.NumericNullEdge.check(q,
          opts.get(graft.query.NumericNullEdge.OptionKey))
      graft.query.RegexDialect.forTransport(q,
        opts.getOrElse(graft.query.RegexDialect.OptionKey, "portable"),
        serverTransport = true)
    }.getOrElse(BQuery.True)

  def withClient[A](opts: Map[String, String])(f: (ServerClient, String) => A): A = {
    val client = factory(opts).create(opts)
    try f(client, ns(opts))
    finally client match { case c: AutoCloseable => c.close(); case _ => () }
  }

  /** `ensure_index` write option: comma-separated fields of ONE compound
    * ascending index (the file source's convention), created before any
    * write task runs. */
  def ensureIndexIfAsked(opts: Map[String, String]): Unit =
    opts.get("ensure_index").foreach { ix =>
      val fields = ix.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      if (fields.nonEmpty)
        withClient(opts)((client, ns) => client.createIndex(ns, fields))
    }
}

final class GraftServerTable(tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Provenance metadata: `_ns` = the namespace a row's cursor read
    * from — the lineage handle of a comma-`ns` multi-namespace union
    * scan. Populated per partition by the reader; filters on it stay
    * above the scan; a data column of the same name shadows it.
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftServerSource.NsMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "source namespace of this row"
    })

  override def name(): String =
    s"graftserver:${properties.getOrElse("ns", "?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftServerScanBuilder(tableSchema, properties ++ options.asScala)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftServerWriteBuilder(info.schema(),
      properties ++ info.options().asScala)
}

/** Filter + projection + partial-limit pushdown, all translated to the
  * per-cursor knobs a server accepts ([[Find]]); a bare COUNT(*) is
  * answered from one collStats round-trip (the reference's count source,
  * core/.../splitter/MongoSplitterFactory.java:66-83) without opening a
  * single cursor. Residual filters Spark keeps are re-checked above the
  * scan, exactly like the file source.
  */
final class GraftServerScanBuilder(tableSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownOffset
    with SupportsPushDownAggregates with SupportsPushDownTopN
    with SupportsPushDownTableSample with SupportsPushDownJoin {

  // cross-instance access for pushDownJoin (ctor params are
  // instance-private in Scala)
  private[server] def joinSchema: StructType = tableSchema
  private[server] def joinOptions: Map[String, String] = options
  private[server] def joinMapping: Map[String, String] = mapping

  /** Column-name remapping: Spark column -> (dotted) document field, the
    * `mongo.columns.mapping` analog (HiveMongoInputFormat.java:211-240),
    * r14 on the SERVER transport too — pushed filters, sample keys,
    * top-n orders, group keys, probes, and join keys all resolve through
    * it (FieldResolve composes a mapped HEAD with a verbatim nested
    * tail), and the readers decode by document path. Mapped columns need
    * an explicit read schema (inference samples document names).
    */
  private val mapping: Map[String, String] =
    options.get("column_mapping").map(graft.source.ColumnMapping.parse)
      .getOrElse(Map.empty)

  /** `$unwind` directive (r14, injected by the UnwindRelocate rule when
    * an explode() sits directly over this relation): the scan emits one
    * row per array element. `unwind_element` names the element COLUMN
    * (mapped to the array's doc path via column_mapping so group keys
    * resolve); filters on it stay residual — pre-unwind the path holds
    * the ARRAY, so a pushed element filter would carry mongo's
    * element-match semantics, not Spark's row semantics. Row-count/
    * row-position pushdowns (limit/offset/top-n/sample/probes) refuse:
    * they would count/sort PARENT docs, not post-unwind rows.
    */
  private val unwind: Option[ServerClient.Unwind] =
    options.get("unwind_path").map(p => ServerClient.Unwind(p,
      options.get("unwind_outer").exists(_.toBoolean),
      // posexplode: pipelines render includeArrayIndex into the
      // synthetic pos field, so pos filters/groups/tails push like any
      // other post-unwind field (readers remap its int64 to the pos
      // column's IntegerType)
      options.get("unwind_pos").map(_ =>
        graft.plans.UnwindRelocate.PosDocField),
      // MAP explode (r15): $objectToArray + $unwind of the synthetic kv
      // field; key/value columns read __graft_kv.k/.v via their mapping
      mapKv = options.get("unwind_kind").contains("map")))
  /** POST-unwind query (accepted element-column filters). */
  private var unwindPost: BQuery = BQuery.True

  /** DERIVED columns (r17, `computed_columns` — absorbed by
    * ComputedKeyRelocate): materialized by a `$set` in pipeline-rendered
    * paths (grouped aggregates, join legs) and injected by the readers
    * on plain cursor reads. Pushdowns that would address the synthetic
    * field in FIND-land (no `$set` exists there) refuse: filters on a
    * computed column stay residual (Spark re-checks over the injected
    * value — exact), plain-scan TopN / MIN-MAX probes / sample keys /
    * split keys refuse outright.
    */
  private[server] val computedCols: Seq[graft.query.ComputedCol] =
    graft.query.ComputedCol.fromOptions(options)
  private val cols = PushRules.Columns(tableSchema, mapping, computedCols)

  private var required: StructType = tableSchema
  private var pushedQuery: BQuery = BQuery.True
  private var pushed: Array[Filter] = Array.empty
  private var residuals: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  // compound order spec (col, descending)+ and the limit
  private var topN: Option[(Seq[(String, Boolean)], Int)] = None
  private var aggPushed: Option[Seq[graft.source.AggPush]] = None
  private var groupedAgg: Option[ServerGroupedAgg] = None
  private var sample: Option[graft.source.SamplePush] = None

  /** Pushed TABLESAMPLE — the same deterministic keyed Bernoulli as the
    * file source ([[graft.source.SamplePush]]), evaluated client-side by
    * the partition reader over the cursor's documents (MQL has no md5,
    * so the docs still cross the wire; the win is reproducibility — the
    * server's own `$sample` stage is random — plus the removal of
    * Spark's Sample node and a fraction-scaled size estimate). The
    * `sample_key` option names an Int/Long/String column; int32/int64
    * storages of one value render identically, so the predicate is
    * storage-uniform for integer keys without any opt-in (a double
    * STORAGE under a Long read would drop the row — the same
    * read-refusal RowCodec gives it). Every row-count- or
    * row-position-bearing pushdown refuses while a sample is pushed:
    * the server-side `$group`/probe/top-n/limit/offset paths would all
    * compute over the UNSAMPLED collection.
    */
  override def pushTableSample(lower: Double, upper: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    // a COMPUTED sample key refuses (r17): a derived bin is a poor
    // sampling key by construction (it collides all rows of a bin), and
    // the hidden-carry machinery would need the $set on every path
    val keyCol = PushRules.sampleKey(cols, options, unwind.map(_.path))
    val eligible = !withReplacement && keyCol.isDefined &&
      !options.contains("limit") &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      aggPushed.isEmpty && groupedAgg.isEmpty && joined.isEmpty
    if (!eligible) false
    else {
      sample = Some(graft.source.SamplePush(keyCol.get.docPath, lower, upper, seed))
      sampleKeyType = keyCol.get.dataType
      true
    }
  }

  /** Resolved Spark type of the pushed sample's key — only consulted
    * when pushDownJoin carries the sample as a HIDDEN extra projection
    * (the decode by visible schema drops hidden extras, but the
    * projection tuple should still carry the true type for any later
    * type-consulting gate). */
  private[server] var sampleKeyType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // COMPUTED columns (r17): find-land has no `$set`, so a pushed filter
    // on a derived field would match nothing on the wire; only their null
    // tests push, rewritten to the source field (Spark's join-key
    // isnotnull inference lands here — without the rewrite one inferred
    // conjunct would block every derived-key join push). Under uniform
    // storage the read-semantics nodes take their BRACKET forms, which
    // render server-side, so the grouped/join pushdowns' fully-renderable
    // gates accept them too (a plain `WHERE _id > 5` no longer blocks the
    // `$group` pipeline)
    val split = PushRules.splitFilters(filters, cols, options,
      GraftServerSource.NsMetaCol, arrayNullsResidual = true,
      uniformBrackets = options.get("assume_uniform_storage").exists(_.toBoolean))
    pushedQuery = split.query
    unwindPost = split.post
    pushed = split.accepted
    residuals = split.residual
    residuals
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Pushed per cursor (MongoInputSplit.java:291-296) — globally correct
    * only with one partition, so reported partial; Spark re-applies the
    * global limit.
    */
  override def pushLimit(n: Int): Boolean =
    // the cursor limit counts UNSAMPLED rows; the sampled prefix may be
    // shorter than the limit needs
    if (sample.isDefined) false
    else if (joined.isDefined) {
      // joined arm — checked BEFORE the unwind arm: with a driving-side
      // unwind composed into the join (r15), the `$limit` counts FINAL
      // joined rows after the last `$unwind`, partial per pipeline (a
      // pushed join TopN already carries its own $limit); the
      // pipeline's rows are UNSAMPLED, so a carried sample refuses
      if (joinedAgg.isDefined || joinTopN.isDefined ||
          joinSamples.nonEmpty || joinOffset.isDefined) false
      else { joinLimit = Some(n.toLong); true }
    }
    else if (unwind.isDefined) {
      // over an unwound scan the limit must count UNWOUND rows — the
      // find() cursor cannot, but the unwound ROW pipeline's `$limit`
      // tail can ([[ServerClient.unwoundRead]]); partial per namespace
      if (unwoundTailOk) { limit = Some(n); true } else false
    } else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** Offset (cursor skip) pushdown — the mongo.input.skip analog, same
    * single-split caveat as the file source: Spark deletes an accepted
    * OFFSET from the plan, so it is only sound when the scan provably
    * runs as ONE cursor, which the `splitter=single` option guarantees
    * (the reference's create_input_splits=false / SingleMongoSplitter
    * mode). Residual filters refuse: skip must count POST-filter rows
    * and residuals re-check above the scan.
    */
  override def pushOffset(n: Int): Boolean =
    if (joined.isDefined) {
      // OFFSET over a pushed join: a `$skip` tail counting FINAL joined
      // rows — sound only as ONE pipeline (`splitter=single` on the
      // DRIVING side guarantees it: the joined scan partitions by the
      // driving side's options, which for a mirrored RIGHT OUTER join
      // are the OTHER builder's, already recorded in joinDriving), with
      // no other tail claimed and no carried sample (the skip would
      // count unsampled rows)
      if (joinDriving.map(_._1).getOrElse(options)
            .get("splitter").contains("single") &&
          joinedAgg.isEmpty && joinLimit.isEmpty && joinTopN.isEmpty &&
          joinSamples.isEmpty && joinOffset.isEmpty) {
        joinOffset = Some(n.toLong); true
      } else false
    } else if (options.get("splitter").contains("single") &&
        GraftServerSource.nsList(options).size == 1 && residuals.isEmpty &&
        aggPushed.isEmpty && groupedAgg.isEmpty && topN.isEmpty &&
        sample.isEmpty &&
        // over an unwound scan the skip counts UNWOUND rows: the
        // pipeline's `$skip` tail (same single-pipeline soundness rule)
        (unwind.isEmpty || unwoundTailOk)) {
      offset = Some(n); true
    } else false

  /** ORDER BY k1[, k2, ...] LIMIT n per cursor (`cursor.sort().limit()`
    * with a compound sort doc, MongoInputSplit.java:281-296), reported
    * PARTIAL: each partition returns its local sorted top-n, a superset
    * of its contribution to the global one, and Spark folds them. The
    * server sorts in BSON STORAGE order, so EVERY order key must be of
    * a Spark type all of whose readable storages share one
    * consistently-ordered BSON bracket: Int/Double (numeric bracket,
    * numeric order) and Boolean always; Long and Timestamp only under
    * `assume_uniform_storage=true` (a BDate reads as a LongType's
    * milliseconds but sorts in the date bracket; BTimestamp and BDate
    * both read as TimestampType micros but sort in different brackets)
    * — collections written by THIS engine are uniform
    * (RowCodec.fromCatalyst: Long→int64, Timestamp→date), so the opt-in
    * is honest for round-trip pipelines. Strings are refused outright
    * (four storage brackets read as one string). Null ordering must
    * match BSON's per key (nulls/missing first ascending, last
    * descending — Spark's defaults). Residual filters refuse: they run
    * above the scan and a pre-filter top-n might not survive them.
    */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    if (joined.isDefined) return pushJoinedTopN(orders, n)
    if (aggPushed.isDefined || groupedAgg.isDefined ||
        limit.isDefined || offset.isDefined || residuals.nonEmpty ||
        sample.isDefined) return false
    // over an unwound scan the top-n selects among UNWOUND rows: the
    // `$sort`+`$limit` tail of the unwound ROW pipeline (order keys may
    // be the element column — post-unwind its doc path holds the
    // element — or parents; the bracket-safety gates below apply as-is)
    if (unwind.isDefined && !unwoundTailOk) return false
    // order keys may be NESTED subfields: `{"meta.score": -1}` is a legal
    // cursor sort doc; the bracket-safety gate applies to the LEAF type.
    // A COMPUTED order key has no stored field a cursor sort could walk
    // — the joined arm's pipeline $sort runs after the $set and takes it
    PushRules.topNKeys(orders, cols, r => GraftServerScanBuilder
        .cursorOrderSafe(r.dataType, options, Some(r.docPath))) match {
      case Some(keys) =>
        topN = Some((keys.map { case (r, desc) => (r.docPath, desc) }, n)); true
      case None => false
    }
  }

  /** `ORDER BY ... LIMIT n` over a PUSHED JOIN: a `$sort`+`$limit` tail
    * on the lookup pipeline — "top 10 orders with customer names" never
    * reaches a Spark sort over shipped rows; each split's pipeline
    * returns its local top-n (PARTIAL — Spark's TakeOrdered folds).
    * Bracket-safety gates run against each order column's ORIGIN side's
    * options; null ordering must be BSON's (the plain-TopN rule), which
    * also covers a LEFT OUTER's missing right side (sorts as null).
    */
  private def pushJoinedTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    val j = joined.get
    if (joinedAgg.isDefined || joinLimit.isDefined ||
        joinTopN.isDefined || joinSamples.nonEmpty || joinOffset.isDefined)
      return false
    PushRules.topNKeys(orders, PushRules.Columns(j.schema, Map.empty, Nil),
        r => GraftServerScanBuilder.cursorOrderSafe(r.dataType,
          joinedColOpts.getOrElse(r.docPath.split('.').head, options))) match {
      case Some(keys) =>
        joinTopN = Some((keys.map { case (r, desc) => (r.docPath, desc) }, n)); true
      case None => false
    }
  }

  /** Aggregate pushdown, two strategies in preference order:
    *
    *  1. Whole-collection COUNT(*)/MIN/MAX with NO filter surface —
    *     bounded PROBES: COUNT(*) is one collStats; MIN/MAX are one
    *     sorted limit-1 cursor each (the index walk a server runs for
    *     them). Zero documents scanned.
    *  2. Everything else — the `$match`+`$group` PIPELINE
    *     ([[pushGroupedAggregation]], `_id: null` when there is no
    *     group-by): filtered global aggregates, SUM/COUNT(col), and
    *     grouped aggregates all answer in one aggregate() round-trip per
    *     namespace. (AVG arrives here too: Spark rewrites a
    *     partial-pushdown AVG into SUM+COUNT before pushing.)
    *
    * Both report PARTIAL, so Spark's own final aggregate folds the
    * returned row(s) — same protocol as the file source's per-file
    * partials.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (joined.isDefined) return pushJoinedAggregation(aggregation)
    if (aggregation.groupByExpressions.isEmpty && tryProbeAggregation(aggregation))
      return true
    pushGroupedAggregation(aggregation)
  }

  /** Aggregate pushed THROUGH a pushed join: the `$group` stage appends
    * to the `$lookup` pipeline (left outputs referenced at the top
    * level, right outputs at their pre-flatten `__j.` home), so
    * `SELECT k, agg(..) FROM a JOIN b GROUP BY k` is ONE pipeline and
    * only #groups docs cross the wire per split. Reported PARTIAL like
    * every other aggregate path — per-split group partials fold in
    * Spark's final aggregate. Same type gates as the plain grouped
    * path; columns resolve against the JOINED output schema.
    */
  private def pushJoinedAggregation(aggregation: Aggregation): Boolean = {
    val j = joined.get
    if (joinLimit.isDefined || joinedAgg.isDefined || joinTopN.isDefined ||
        joinSamples.nonEmpty || joinOffset.isDefined)
      return false
    // columns resolve against the JOINED output schema; a nested ref
    // (`meta.lang` under a struct-typed output) composes too — the
    // `$group` tail resolves its HEAD against the left-output set to
    // pick the top-level vs `__j.` home (QueryDocs.lookupTail)
    def sideOpts(r: FieldResolve.Ref): Map[String, String] =
      joinedColOpts.getOrElse(r.docPath.split('.').head, options)
    GroupAggParse.parse(aggregation,
      e => FieldResolve.resolve(j.schema, e),
      r => GraftServerScanBuilder.GroupKeyTypes.contains(r.dataType),
      r => GraftServerScanBuilder.aggValueSafe(r.dataType, sideOpts(r)),
      r => GraftServerScanBuilder.sumValueSafe(r.dataType, sideOpts(r))) match {
      case Some(p) =>
        joinedAgg = Some(ServerGroupedAgg(
          p.groupCols.map(r => (r.docPath, r.dataType)), p.items))
        true
      case None => false
    }
  }

  private def tryProbeAggregation(aggregation: Aggregation): Boolean = {
    val eligible =
      pushedQuery == BQuery.True && !options.contains("query") &&
        limit.isEmpty && sample.isEmpty && joined.isEmpty && unwind.isEmpty
    if (!eligible) return false
    // probe columns may be nested subfields — the sorted limit-1 probe
    // cursor sorts and projects by dotted path natively. A COMPUTED column
    // has no stored field to walk (r17): the grouped pipeline (with its
    // $set) handles aggregates over derived fields instead
    PushRules.globalAggregates(aggregation, cols, r => GraftServerScanBuilder
        .aggValueSafe(r.dataType, options, Some(r.docPath))) match {
      case Some(items) => aggPushed = Some(items); true
      case None => false
    }
  }

  /** GROUPED / filtered-global aggregate pushdown — translated to one
    * server-side `$match`+`$group` pipeline per namespace
    * ([[QueryDocs.groupStages]]; server-side `aggregate()` is the
    * reference's established pattern, SampleSplitter.java:79-88).
    * Reported PARTIAL (the default), so the protocol only needs the
    * server grouping to REFINE Spark's: Spark re-groups the returned
    * rows on the read group values and folds the partials (sum of
    * counts, min of mins, ...), which also makes the multi-namespace
    * union and any storage-split group (int32 5 vs int64 5 reading as
    * one Spark value) merge correctly. Eligibility: zero or more
    * single-column group keys of read-faithful types (zero = the
    * `_id: null` global pipeline — `SELECT count(*) ... WHERE x`
    * answers in one round-trip instead of a scan); aggregates are
    * COUNT(*) / COUNT(col) / MIN / MAX over the cursor-safe
    * [[GraftServerScanBuilder.aggValueSafe]] types plus SUM over exact numerics
    * (AVG never reaches here by name: Spark rewrites a partial-pushdown
    * AVG into SUM+COUNT first); the WHOLE pushed query must render
    * server-side (a residual cannot be re-checked after grouping — the
    * rows are gone); no limit/top-n/offset claimed the scan.
    */
  private def pushGroupedAggregation(aggregation: Aggregation): Boolean = {
    if (limit.isDefined || offset.isDefined ||
        topN.isDefined || residuals.nonEmpty ||
        // the server-side $group computes over the UNSAMPLED collection
        sample.isDefined || joined.isDefined) return false
    // the POST-unwind $match sits between $unwind and $group — it must
    // render fully too (its rows are gone after grouping)
    if (!preQueryPlan.rendersFully || !QueryDocs.plan(unwindPost).rendersFully)
      return false
    // group keys and aggregate inputs may be NESTED subfields — the
    // resolver walks the nested StructType; `$group: {_id: "$meta.lang"}`
    // is native MQL, and [[QueryDocs.groupStageDoc]] sanitizes the
    // dotted names a compound `_id` / accumulator FIELD cannot carry.
    // Zero aggregates + >=1 group key = SELECT DISTINCT: a `$group`
    // with only `_id` answers it in #distinct-keys docs per namespace.
    GroupAggParse.parse(aggregation, cols.resolve,
      r => GraftServerScanBuilder.GroupKeyTypes.contains(r.dataType),
      r => GraftServerScanBuilder.aggValueSafe(r.dataType, options,
        Some(r.docPath)),
      r => GraftServerScanBuilder.sumValueSafe(r.dataType, options)) match {
      case Some(p) =>
        groupedAgg = Some(ServerGroupedAgg(
          p.groupCols.map(r => (r.docPath, r.dataType)), p.items))
        true
      case None => false
    }
  }

  // ---- join pushdown (SupportsPushDownJoin) ----

  /** An equi-join of two collections on the SAME server becomes one
    * `$lookup`+`$unwind` pipeline over the driving (left) collection —
    * the join never reaches a Spark shuffle; the reference always
    * re-shuffled joins client-side, this is the pipeline form its own
    * server-side `aggregate()` pattern (SampleSplitter.java:79-88)
    * makes possible. Accepted: INNER / LEFT OUTER, a pure conjunction
    * of column equalities, both sides single-namespace on one
    * server+database with every filter fully pushed and no other
    * pushdown claimed. Key types must make `$expr` `$eq` over STORED
    * values agree with Spark equality over READ values: Int/Double/
    * Boolean always (one numeric value-equality bracket); Long/
    * Timestamp/String only under `assume_uniform_storage` on their
    * side (a date storage reads as a Long's millis but `$eq`s in the
    * date bracket; ObjectId/symbol storages read as strings but never
    * `$eq` a BSON string).
    */
  private var joined: Option[ServerJoin] = None
  // join-arm extensions, mutually exclusive: a $group, a partial
  // $limit, or a partial $sort+$limit appended to the lookup pipeline
  private var joinedAgg: Option[ServerGroupedAgg] = None
  private var joinLimit: Option[Long] = None
  private var joinTopN: Option[(Seq[(String, Boolean)], Int)] = None
  /** Pushed TABLESAMPLEs carried INTO the join (r14): deterministic
    * keyed windows re-keyed to joined OUTPUT names and applied to the
    * flattened joined rows — keyed sampling commutes with `$lookup`
    * (each driving/lookup row's join output is kept or dropped
    * atomically with it), so sampling-then-joining equals filtering the
    * joined rows by the sampled side's key window. Lookup-side samples
    * compose only under INNER (a LEFT OUTER's null-extended row must
    * stay, not drop). */
  private var joinSamples: Seq[graft.source.SamplePush] = Nil
  /** OFFSET over the joined pipeline: a `$skip` tail on the FINAL joined
    * rows — single-pipeline (`splitter=single`) only, like the plain
    * scan's offset. */
  private var joinOffset: Option[Long] = None
  /** joined OUTPUT name -> the read options of its ORIGIN side, for the
    * bracket-safety gates of later pushes (chained join keys, TopN
    * orders) — a Long column is only order/equality-safe under ITS
    * collection's `assume_uniform_storage` opt-in. */
  private var joinedColOpts: Map[String, Map[String, String]] = Map.empty
  // set for a MIRRORED (right outer) join: the driving side's options
  // and full query are the OTHER builder's
  private var joinDriving: Option[(Map[String, String], BQuery)] = None

  private def connectionId: (String, String, String) = (
    options.getOrElse("client_factory", classOf[DirServerFactory].getName),
    options.getOrElse("uri", options.getOrElse("server_dir", "")),
    QueryDocs.nsParts(GraftServerSource.ns(options))._1)

  /** Usable as the DRIVING side: a pushed `$unwind` composes (r15) —
    * the pipeline becomes `$match`+`$unwind`+`$match(post)`+`$lookup`,
    * per-ELEMENT rows feeding the join — provided the post-unwind
    * element match renders fully server-side (element rows are joined
    * away; no client re-check point remains). A pushed TABLESAMPLE is
    * ALLOWED: pushDownJoin re-keys it onto the joined output (or
    * refuses where it cannot commute); under an unwind the sample key
    * is a PARENT field (keyAllowedUnderUnwind), constant across a
    * parent's element rows, so the joined-row window still keeps/drops
    * parents atomically. */
  private def cleanAsDriving: Boolean =
    residuals.isEmpty && limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      aggPushed.isEmpty && groupedAgg.isEmpty &&
      joined.isEmpty && !options.contains("limit") &&
      !options.contains("sort") &&
      GraftServerSource.nsList(options).size == 1 &&
      // the WHOLE query must render server-side: rows are joined away,
      // so there is no client re-check point for an unrenderable
      // conjunct (r16 — a `regex_dialect=java` out-of-subset $regex is
      // the first non-renderable OPTION-level node; the live transport's
      // lookupJoin `require`s exactly this). Builder-time keyBounds are
      // fine on the DRIVING side (the pipeline renders split KeyRanges
      // bracket-style); the lookup side re-checks below.
      preQueryPlan.isExact &&
      (unwind.isEmpty || QueryDocs.plan(unwindPost).rendersFully)

  /** The server-render split of this side's full builder-time query
    * (option-level AND pushed) — the join gates' renderability input. */
  private def preQueryPlan: QueryDocs.ServerPlan =
    QueryDocs.plan(BQuery.and(GraftServerSource.optionQuery(options), pushedQuery))

  // The LOOKUP side additionally needs no `$unwind` (element rows are
  // not parent-atomic across the join boundary) — pushDownJoin gates
  // that per join type once roles are known (`o.unwind.isDefined &&
  // !mirrored`); builder-time queries never carry KeyRange (split
  // ranges are injected per partition), so no extra bounds gate is
  // needed beyond preQueryPlan.isExact above.

  /** An already-joined builder may CHAIN one more lookup stage (3-way+
    * star queries) as long as no tail pushdown claimed the pipeline yet.
    * The joined builder must be the DRIVING (left) side — a plain scan
    * joining a joined one keeps that join in Spark. */
  private def chainableForJoin: Boolean =
    joined.isDefined && joinedAgg.isEmpty && joinLimit.isEmpty &&
      joinTopN.isEmpty && joinOffset.isEmpty

  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: GraftServerScanBuilder =>
        // the other side may carry an unwind too — legal ONLY when a
        // mirrored (right-outer) join makes IT the driving side, which
        // pushDownJoin gates per join type
        (cleanAsDriving || chainableForJoin) && o.cleanAsDriving &&
          connectionId == o.connectionId
      case _ => false
    }

  private def joinKeySafe(dt: org.apache.spark.sql.types.DataType,
      opts: Map[String, String]): Boolean = {
    import org.apache.spark.sql.types._
    val always = Set[DataType](IntegerType, DoubleType, BooleanType)
    // DateType is uniform-gated for EQUALITY: two different stored
    // millis within one day read as the same Spark date but never $eq —
    // engine writes store canonical midnight millis, so the opt-in holds
    val uniform = Set[DataType](LongType, TimestampType, StringType, DateType)
    always.contains(dt) || (uniform.contains(dt) &&
      opts.get("assume_uniform_storage").exists(_.toBoolean))
  }

  /** The condition as a conjunction of column equalities and RANGE
    * comparisons (possibly NESTED refs — `meta.k = _id` arrives as
    * multi-part field names), or None on anything else. Pairs carry the
    * raw name PARTS; [[orientCond]] resolves sides, flips range ops
    * where the sides arrive swapped, and yields leaf types.
    */
  private def condPairs(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate):
      Option[(Seq[(Seq[String], Seq[String])],
        Seq[(Seq[String], String, Seq[String])])] = p.name() match {
    case "AND" =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.filter.Predicate,
            b: org.apache.spark.sql.connector.expressions.filter.Predicate) =>
          for (l <- condPairs(a); r <- condPairs(b))
            yield (l._1 ++ r._1, l._2 ++ r._2)
        case _ => None
      }
    case "=" =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.NamedReference,
            b: org.apache.spark.sql.connector.expressions.NamedReference) =>
          Some((Seq((a.fieldNames.toSeq, b.fieldNames.toSeq)), Nil))
        case _ => None
      }
    case op @ ("<" | "<=" | ">" | ">=") =>
      p.children().toSeq match {
        case Seq(a: org.apache.spark.sql.connector.expressions.NamedReference,
            b: org.apache.spark.sql.connector.expressions.NamedReference) =>
          Some((Nil, Seq((a.fieldNames.toSeq, op, b.fieldNames.toSeq))))
        case _ => None
      }
    case _ => None
  }

  private def flipOp(op: String): String = op match {
    case "<" => ">"
    case "<=" => ">="
    case ">" => "<"
    case ">=" => "<="
  }

  /** Orient each conjunct's sides against the two projections' OUTPUT
    * schemas (nested parts walk struct-typed outputs to the leaf type) —
    * output-name disjointness (checked by the callers) makes the side
    * assignment unambiguous. Returns (left ref, right ref) per equality
    * plus (left ref, op, right ref) per range — the op flipped when the
    * conjunct arrived right-side-first — with dotted output names and
    * LEAF types for the bracket-safety gates.
    */
  private def orientCond(
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate,
      lp: Seq[(String, String, org.apache.spark.sql.types.DataType)],
      rp: Seq[(String, String, org.apache.spark.sql.types.DataType)]):
      Option[(Seq[(FieldResolve.Ref, FieldResolve.Ref)],
        Seq[(FieldResolve.Ref, String, FieldResolve.Ref)])] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val lpStruct = StructType(lp.map(p => StructField(p._2, p._3)))
    val rpStruct = StructType(rp.map(p => StructField(p._2, p._3)))
    def side(parts: Seq[String]): Option[(Boolean, FieldResolve.Ref)] =
      FieldResolve.resolveParts(lpStruct, parts, Map.empty).map((true, _))
        .orElse(FieldResolve.resolveParts(rpStruct, parts, Map.empty).map((false, _)))
    condPairs(condition).flatMap { case (eqPairs, rangePairs) =>
      val eqs = eqPairs.map { case (xp, yp) =>
        (side(xp), side(yp)) match {
          case (Some((true, lx)), Some((false, ry))) => Some((lx, ry))
          case (Some((false, rx)), Some((true, ly))) => Some((ly, rx))
          case _ => None
        }
      }
      val rngs = rangePairs.map { case (xp, op, yp) =>
        (side(xp), side(yp)) match {
          case (Some((true, lx)), Some((false, ry))) => Some((lx, op, ry))
          case (Some((false, rx)), Some((true, ly))) => Some((ly, flipOp(op), rx))
          case _ => None
        }
      }
      if (eqs.contains(None) || eqs.isEmpty || rngs.contains(None)) None
      else Some((eqs.flatten, rngs.flatten))
    }
  }

  /** Orderable types of a pushed range-join operand: aggregation
    * `$lt`/`$gt` compare stored values in BSON TOTAL order, so the
    * comparison agrees with Spark's typed comparison only when both
    * operands stay inside ONE bracket where BSON order = read order —
    * uniform-stored numerics (value order), timestamps/dates (millis
    * order; dates store canonical midnight). Unlike equality (where
    * cross-bracket `$eq` and Spark both say false), Int/Double need the
    * uniform opt-in TOO: a cross-bracket `$gt` is TRUE half the time
    * where Spark's null comparison drops the row.
    *
    * STRINGS (r18): admitted only when the operand's DOC FIELD is
    * declared in its side's `ascii_columns` option (comma-separated doc
    * paths the caller asserts hold ASCII-only stored strings). The r14
    * classifier's reasoning, column-vs-column: Spark orders strings by
    * UTF-8 BYTES (code points) — exactly a real server's binary
    * collation, so the LIVE wire is always Spark-exact — but the
    * ENGINE matcher (fake transport, residual re-checks) compares
    * UTF-16 units, which diverges from both exactly when a
    * supplementary character meets [U+E000, U+FFFF]. With every value
    * of ONE side ASCII, the first deciding position pits an ASCII unit
    * against anything — identical under all three orders — so the
    * comparison is exact; the declaration asserts it for BOTH sides
    * and the sandbox evaluator FAILS LOUD on a non-ASCII operand
    * ([[LookupJoin.rangeMatches]]) rather than silently diverging (a
    * live server cannot check, but there the binary order is exact
    * regardless, so a wrong declaration never corrupts live results).
    * `docField` None = the caller cannot resolve the operand's origin
    * doc field (chained-stage left operands) — strings refuse there
    * and the r14 hoist re-checks them Spark-side.
    */
  private def rangeKeySafe(dt: org.apache.spark.sql.types.DataType,
      opts: Map[String, String],
      docField: Option[String] = None): Boolean = {
    import org.apache.spark.sql.types._
    val ordered = Set[DataType](IntegerType, LongType, DoubleType,
      TimestampType, DateType)
    val uniform = opts.get("assume_uniform_storage").exists(_.toBoolean)
    if (dt == StringType)
      uniform && docField.exists(f =>
        GraftServerScanBuilder.asciiCols(opts).contains(f))
    else ordered.contains(dt) && uniform
  }

  override def pushDownJoin(other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.join.{JoinType => V2JoinType}
    val o = other match {
      case b: GraftServerScanBuilder => b
      case _ => return false
    }
    // the other side must be a PLAIN scan (its own join would need
    // whole-pipeline merging); an already-joined THIS side chains
    if (o.joined.isDefined) return false
    if (joined.isDefined) return pushChainJoin(o, joinType, leftReq, rightReq, condition)
    val leftOuter = joinType == V2JoinType.LEFT_OUTER_JOIN
    // RIGHT OUTER mirrors: the RIGHT relation drives the pipeline and
    // the join becomes a LEFT OUTER from its perspective
    val mirrored = joinType == V2JoinType.RIGHT_OUTER_JOIN
    if (joinType != V2JoinType.INNER_JOIN && !leftOuter && !mirrored)
      return false
    // an unwound scan composes only as the DRIVING side — under a
    // mirrored join THIS side becomes the lookup leg, whose element
    // rows are not parent-atomic across the join boundary; conversely
    // the OTHER side's unwind is legal exactly when the mirror makes
    // it drive (r15: the user unwound the right relation before a
    // right-outer join — no transpose involved, the plan is exact)
    if (unwind.isDefined && mirrored) return false
    if (o.unwind.isDefined && !mirrored) return false
    def proj(req: Array[SupportsPushDownJoin.ColumnWithAlias],
        schema: StructType, m: Map[String, String]):
        Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
      val items = req.toSeq.map { c =>
        schema.fields.find(_.name == c.colName())
          // _1 is the DOCUMENT field the pipeline addresses — remapped
          .map(f => (m.getOrElse(f.name, f.name),
            Option(c.alias()).getOrElse(f.name), f.dataType))
      }
      if (items.contains(None)) None else Some(items.flatten)
    }
    (proj(leftReq, tableSchema, mapping),
        proj(rightReq, o.joinSchema, o.joinMapping)) match {
      case (Some(lp), Some(rp)) =>
        val leftOut = lp.map(p => p._2 -> p._3).toMap
        val rightOut = rp.map(p => p._2 -> p._3).toMap
        if (leftOut.keySet.intersect(rightOut.keySet).nonEmpty) return false
        // an output column named `__j` would be overwritten by the
        // $lookup's joined-field array on the real transport (the fake's
        // in-memory join has no such field, so the divergence would be
        // SILENT) — refuse the join rather than corrupt that column
        if (leftOut.contains(QueryDocs.JoinedField) ||
            rightOut.contains(QueryDocs.JoinedField)) return false
        orientCond(condition, lp, rp) match {
          case Some((refs, rngRefs)) if refs.forall { case (l, r) =>
              joinKeySafe(l.dataType, options) &&
                joinKeySafe(r.dataType, o.joinOptions) } &&
              rngRefs.forall { case (l, _, r) =>
                // string admission needs the operand's DOC field (the
                // ascii_columns declaration names stored paths)
                rangeKeySafe(l.dataType, options, scala.util.Try(
                  LookupJoin.fieldOf(lp.map(p => (p._1, p._2)), l.name)).toOption) &&
                  rangeKeySafe(r.dataType, o.joinOptions, scala.util.Try(
                    LookupJoin.fieldOf(rp.map(p => (p._1, p._2)), r.name)).toOption) } =>
            // carried TABLESAMPLEs: re-key onto the joined OUTPUT names
            // where keyed sampling commutes with the $lookup; the
            // LOOKUP side's sample cannot commute under an outer join
            // (its null-extended rows must stay). A key Spark did not
            // request is carried as a HIDDEN extra projection — the
            // pipeline projects it, the reader checks the window on it,
            // and the row decode (by visible schema) drops it.
            val effOuter = leftOuter || mirrored
            val drivingSp = if (mirrored) o.sample else sample
            val lookupSp = if (mirrored) sample else o.sample
            if (lookupSp.isDefined && effOuter) return false
            val taken = scala.collection.mutable.Set[String](
              (lp ++ rp).map(_._2): _*) += QueryDocs.JoinedField
            def hiddenAlias(): String = {
              var i = 0
              while (taken.contains(s"__sample$i")) i += 1
              val a = s"__sample$i"; taken += a; a
            }
            // (rekeyed window, extra projection tuple for that side);
            // keyType is the key's RESOLVED Spark type from its origin
            // builder's pushTableSample — hidden extras are excluded
            // from join.output so decode never reads it, but the
            // projection tuple carries the true type for any later
            // type-consulting gate
            def rekey(sp: graft.source.SamplePush,
                proj: Seq[(String, String, org.apache.spark.sql.types.DataType)],
                keyType: org.apache.spark.sql.types.DataType):
                (graft.source.SamplePush,
                  Option[(String, String, org.apache.spark.sql.types.DataType)]) =
              proj.find(_._1 == sp.key) match {
                case Some(t) => (sp.copy(key = t._2), None)
                case None =>
                  val a = hiddenAlias()
                  (sp.copy(key = a), Some((sp.key, a, keyType)))
              }
            val drivingRk = drivingSp.map(sp => rekey(sp,
              if (mirrored) rp else lp,
              if (mirrored) o.sampleKeyType else sampleKeyType))
            val lookupRk = lookupSp.map(sp => rekey(sp,
              if (mirrored) lp else rp,
              if (mirrored) sampleKeyType else o.sampleKeyType))
            joinSamples = (drivingRk.map(_._1) ++ lookupRk.map(_._1)).toSeq
            // hidden extras attach to their side's PROJECTION, never to
            // the visible output
            val (exL, exR) =
              if (mirrored) (lookupRk.flatMap(_._2).toSeq, drivingRk.flatMap(_._2).toSeq)
              else (drivingRk.flatMap(_._2).toSeq, lookupRk.flatMap(_._2).toSeq)
            val lpFull = lp ++ exL
            val rpFull = rp ++ exR
            val keys = refs.map { case (l, r) => (l.name, r.name) }
            val output = (lp ++ rp).map(p => (p._2, p._3))
            if (mirrored) {
              // drive from the RIGHT side; THIS side becomes the lookup.
              // A driving-side unwind (the user unwound the right
              // relation before the right-outer join) rides the
              // pipeline with ITS pre-unwind parent prune. Ranges swap
              // sides and FLIP: `l < r` becomes `r > l` from the
              // mirrored pipeline's perspective.
              joined = Some(ServerJoin(rpFull,
                GraftServerSource.ns(options),
                BQuery.and(GraftServerSource.optionQuery(options),
                  pushedQuery),
                lpFull, keys.map(_.swap), leftOuter = true, output,
                unwind = o.unwind, unwindPost = o.unwindPost,
                ranges = rngRefs.map { case (l, op, r) =>
                  LookupJoin.RangeKey(r.name, flipOp(op), l.name) },
                leftComputed = o.computedCols, rightComputed = computedCols))
              joinDriving = Some((o.joinOptions,
                BQuery.and(
                  BQuery.and(GraftServerSource.optionQuery(o.joinOptions),
                    o.pushedQuery),
                  o.unwindPrune)))
            } else {
              joined = Some(ServerJoin(lpFull,
                GraftServerSource.ns(o.joinOptions),
                BQuery.and(GraftServerSource.optionQuery(o.joinOptions),
                  o.pushedQuery),
                rpFull, keys, leftOuter, output,
                unwind = unwind, unwindPost = unwindPost,
                ranges = rngRefs.map { case (l, op, r) =>
                  LookupJoin.RangeKey(l.name, op, r.name) },
                leftComputed = computedCols, rightComputed = o.computedCols))
            }
            joinedColOpts = lp.map(p => p._2 -> options).toMap ++
              rp.map(p => p._2 -> o.joinOptions).toMap
            true
          case _ => false
        }
      case _ => false
    }
  }

  /** CHAIN a second (third, ...) `$lookup` above an already-pushed join:
    * the new stage re-projects the previous join's flattened outputs to
    * the requested aliases, joins the other (plain, same-connection)
    * collection, and the whole 3-way+ star query stays ONE pipeline per
    * split — zero Spark join operators. INNER / LEFT OUTER only (a
    * mirrored chain would have to re-drive the pipeline from the new
    * side); key safety gates use each key column's ORIGIN-side options.
    */
  private def pushChainJoin(o: GraftServerScanBuilder,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.join.{JoinType => V2JoinType}
    val j = joined.get
    if (joinedAgg.isDefined || joinLimit.isDefined || joinTopN.isDefined)
      return false
    val leftOuter = joinType == V2JoinType.LEFT_OUTER_JOIN
    if (joinType != V2JoinType.INNER_JOIN && !leftOuter) return false
    // a chain stage's other side is always the LOOKUP leg — its unwind
    // never composes (element rows are not parent-atomic there), and a
    // chained COMPUTED side refuses too (r17: the chain renderer has no
    // $set slot; the base pipeline keeps its own computed columns)
    if (o.unwind.isDefined || o.computedCols.nonEmpty) return false
    val joinedOut: Map[String, org.apache.spark.sql.types.DataType] = j.output.toMap
    // (previous OUTPUT name, new alias, type) over the joined output
    val lpO: Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
      val items = leftReq.toSeq.map { c =>
        joinedOut.get(c.colName()).map(dt =>
          (c.colName(), Option(c.alias()).getOrElse(c.colName()), dt))
      }
      if (items.contains(None)) None else Some(items.flatten)
    }
    val rpO: Option[Seq[(String, String, org.apache.spark.sql.types.DataType)]] = {
      val items = rightReq.toSeq.map { c =>
        o.joinSchema.fields.find(_.name == c.colName())
          .map(f => (o.joinMapping.getOrElse(f.name, f.name),
            Option(c.alias()).getOrElse(f.name), f.dataType))
      }
      if (items.contains(None)) None else Some(items.flatten)
    }
    (lpO, rpO) match {
      case (Some(lp), Some(rp)) =>
        val leftOut = lp.map(p => p._2 -> p._3).toMap
        val rightOut = rp.map(p => p._2 -> p._3).toMap
        if (leftOut.keySet.intersect(rightOut.keySet).nonEmpty) return false
        if (leftOut.contains(QueryDocs.JoinedField) ||
            rightOut.contains(QueryDocs.JoinedField)) return false
        orientCond(condition, lp, rp) match {
          // r18: a chained stage carries its own RANGE conjuncts — the
          // per-stage `$expr` rendering is the base join's; safety gates
          // resolve each LEFT operand to its ORIGIN side's options (a
          // nested ref by its HEAD column), the right side to the
          // chained collection's
          case Some((refs, rngRefs)) if refs.forall { case (l, r) =>
              // a nested key's safety is its HEAD column's origin side
              val srcOpts = lp.collectFirst {
                case (src, out, _) if out == l.name.split('.').head =>
                  joinedColOpts.getOrElse(src, options) }.getOrElse(options)
              joinKeySafe(l.dataType, srcOpts) &&
                joinKeySafe(r.dataType, o.joinOptions) } &&
              rngRefs.forall { case (l, _, r) =>
                val srcOpts = lp.collectFirst {
                  case (src, out, _) if out == l.name.split('.').head =>
                    joinedColOpts.getOrElse(src, options) }.getOrElse(options)
                rangeKeySafe(l.dataType, srcOpts) &&
                  rangeKeySafe(r.dataType, o.joinOptions) } =>
            // remap carried sample keys through the chain's re-projection
            // (prev output -> new alias); a key the new projection
            // DROPPED rides as a HIDDEN extra instead (r15) — appended
            // to the stage's flatten-project under a fresh __sampleN
            // alias the visible output never sees, exactly like the
            // base join's hidden carry — so a sampled 3-way chain keeps
            // the whole pushed pipeline
            val chainTaken = scala.collection.mutable.Set[String](
              (lp ++ rp).map(_._2): _*) += QueryDocs.JoinedField
            def chainHiddenAlias(): String = {
              var i = 0
              while (chainTaken.contains(s"__sample$i")) i += 1
              val a = s"__sample$i"; chainTaken += a; a
            }
            val renames = lp.map(t => (t._1, t._2)).toMap
            // (rekeyed window, hidden flatten-project pair)
            val remapped: Seq[(graft.source.SamplePush, Option[(String, String)])] =
              joinSamples.map { sp =>
                renames.get(sp.key) match {
                  case Some(n) => (sp.copy(key = n), None)
                  case None =>
                    val a = chainHiddenAlias()
                    (sp.copy(key = a), Some((sp.key, a)))
                }
              }
            // the chained collection's own sample: lookup side of this
            // stage — INNER only; an unprojected key rides hidden too
            if (o.sample.isDefined && leftOuter) return false
            val oSample: Option[(graft.source.SamplePush, Option[(String, String)])] =
              o.sample.map { sp =>
                rp.find(_._1 == sp.key) match {
                  case Some(t) => (sp.copy(key = t._2), None)
                  case None =>
                    val a = chainHiddenAlias()
                    (sp.copy(key = a), Some((sp.key, a)))
                }
              }
            joinSamples = remapped.map(_._1) ++ oSample.map(_._1)
            val keys = refs.map { case (l, r) => (l.name, r.name) }
            val stage = ChainStage(
              lp.map(p => (p._1, p._2)) ++ remapped.flatMap(_._2),
              GraftServerSource.ns(o.joinOptions),
              BQuery.and(GraftServerSource.optionQuery(o.joinOptions),
                o.pushedQuery),
              rp.map(p => (p._1, p._2)) ++ oSample.flatMap(_._2).toSeq,
              keys, leftOuter,
              ranges = rngRefs.map { case (l, op, r) =>
                LookupJoin.RangeKey(l.name, op, r.name) })
            joined = Some(j.copy(chain = j.chain :+ stage,
              output = (lp ++ rp).map(p => (p._2, p._3))))
            joinedColOpts =
              lp.map(p => p._2 -> joinedColOpts.getOrElse(p._1, options)).toMap ++
                rp.map(p => p._2 -> o.joinOptions).toMap
            true
          case _ => false
        }
      case _ => false
    }
  }

  override def build(): Scan = joined match {
    case Some(j) =>
      // non-mirrored driving side: the pre-unwind PARENT prune (derived
      // from the post-unwind element match) rides the pipeline's first
      // $match, exactly as on the plain unwound scan (True without one)
      val (drivingOpts, drivingQuery) = joinDriving.getOrElse(
        (options, BQuery.and(
          BQuery.and(GraftServerSource.optionQuery(options), pushedQuery),
          unwindPrune)))
      new GraftServerJoinScan(j, drivingQuery, drivingOpts, joinedAgg, joinLimit,
        joinTopN.map { case (s, n) => (s, n.toLong) }, joinSamples, joinOffset)
    case None =>
      new GraftServerScan(required,
        BQuery.and(
          BQuery.and(GraftServerSource.optionQuery(options), pushedQuery),
          unwindPrune),
        limit, options, aggPushed, topN, groupedAgg, offset, sample,
        nsMeta = required.fieldNames.contains(GraftServerSource.NsMetaCol) &&
          !tableSchema.fieldNames.contains(GraftServerSource.NsMetaCol),
        unwind = unwind, unwindPost = unwindPost,
        unwoundTails = unwind.isDefined &&
          (limit.isDefined || topN.isDefined || offset.isDefined))
  }

  /** Eligibility of a row-count/-order tail (LIMIT / TopN / OFFSET) over
    * an UNWOUND scan: those must count unwound rows, so the read becomes
    * the [[ServerClient.unwoundRead]] aggregate pipeline — which needs
    * BOTH queries fully server-renderable (rows are gone after the
    * tail; no client-side residual or post re-check is possible) and no
    * option-level cursor knobs (`sort`/`limit` are PARENT-cursor
    * semantics the pipeline cannot honor).
    */
  private def unwoundTailOk: Boolean =
    unwind.isDefined && residuals.isEmpty &&
      !options.contains("sort") && !options.contains("limit") &&
      preQueryPlan.rendersFully && QueryDocs.plan(unwindPost).rendersFully

  /** Pre-unwind PARENT pruning ([[PushRules.unwindPrune]]): parents with
    * no satisfying element never cross the wire — `$elemMatch` can walk
    * a multikey index where the post `$match` scans unwound rows. Kept
    * only when it renders fully server-side. */
  private def unwindPrune: BQuery = PushRules.unwindPrune(
    unwind.filter(u => !u.preserveNullAndEmpty && !u.mapKv).map(_.path),
    options.get("unwind_element"), tableSchema, unwindPost,
    accept = q => QueryDocs.plan(q).rendersFully)
}

/** A pushed grouped aggregation: the group columns (and their Spark
  * types — empty for the filtered-GLOBAL `_id: null` pipeline) plus each
  * aggregate with its partial-result Spark type — answered by one
  * `$group` pipeline round-trip per namespace.
  */
final case class ServerGroupedAgg(
    groupCols: Seq[(String, org.apache.spark.sql.types.DataType)],
    items: Seq[(GroupAgg, org.apache.spark.sql.types.DataType)])
    extends graft.source.PushedGroupBy

/** A pushed equi-join, held by the LEFT (driving) builder after
  * [[GraftServerScanBuilder.pushDownJoin]]: both sides' projections as
  * (doc field, output name, Spark type) in output order — the joined
  * read schema IS leftProject ++ rightProject — the right side's
  * namespace and fully-pushed query, the key pairs as OUTPUT names, and
  * the flavor.
  */
final case class ServerJoin(
    leftProject: Seq[(String, String, org.apache.spark.sql.types.DataType)],
    rightNs: String,
    rightQuery: BQuery,
    rightProject: Seq[(String, String, org.apache.spark.sql.types.DataType)],
    keys: Seq[(String, String)],
    leftOuter: Boolean,
    /** The VISIBLE read schema in Spark's expected column order — for a
      * RIGHT OUTER join the driving orientation is MIRRORED (the right
      * relation drives the pipeline) while Spark still expects the
      * original left++right column order; rows are flat by output name,
      * so order is presentation only. */
    output: Seq[(String, org.apache.spark.sql.types.DataType)],
    /** CHAINED lookup stages above the base join (3-way+ star queries) —
      * each flatten-projects the previous output and joins one more
      * same-server collection; the whole chain is ONE pipeline. */
    chain: Seq[ChainStage] = Nil,
    /** DRIVING-side `$unwind` (r15): `explode(driving.arr)` composed
      * with the pushed join — per-element rows feed the `$lookup`, all
      * one pipeline. The element column rides `leftProject` (its doc
      * field is the unwound path, which post-unwind holds the element).
      * `unwindPost` = the pushed post-unwind element `$match`. Only the
      * DRIVING side may unwind (lookup-side element rows are not
      * parent-atomic across the join; mirrored joins refuse). */
    unwind: Option[ServerClient.Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    /** RANGE conjuncts of the join condition (r17): `leftOut OP
      * rightOut` rendered into the `$lookup` `$expr` — the binned
      * interval / as-of shape. Gated on `assume_uniform_storage` and
      * orderable types on BOTH sides (rangeKeySafe); chained stages
      * carry their own per-stage ranges since r18 ([[ChainStage]]). */
    ranges: Seq[LookupJoin.RangeKey] = Nil,
    /** DERIVED columns of each side (r17, `computed_columns` —
      * [[graft.query.ComputedCol]]): `$set`-materialized in the
      * pipeline so derived bin keys join without Spark ever computing
      * them. Base join only (chained stages refuse computed sides). */
    leftComputed: Seq[graft.query.ComputedCol] = Nil,
    rightComputed: Seq[graft.query.ComputedCol] = Nil) {
  def schema: StructType = StructType(
    output.map { case (o, t) => org.apache.spark.sql.types.StructField(o, t) })
  /** right OUTPUT name -> right doc field (nested outputs resolve by
    * head, [[LookupJoin.fieldOf]]). */
  def rightField(out: String): String =
    LookupJoin.fieldOf(rightProject.map(p => (p._1, p._2)), out)
  /** left OUTPUT name -> left doc field. */
  def leftField(out: String): String =
    LookupJoin.fieldOf(leftProject.map(p => (p._1, p._2)), out)
  override def toString: String =
    s"${if (leftOuter) "LEFT OUTER" else "INNER"} $rightNs ON " +
      (keys.map { case (l, r) => s"$l = $r" } ++
        ranges.map(_.toString)).mkString(" AND ") +
      chain.map(st =>
        s" THEN ${if (st.leftOuter) "LEFT OUTER" else "INNER"} ${st.rightNs} ON " +
          (st.keys.map { case (l, r) => s"$l = $r" } ++
            st.ranges.map(_.toString)).mkString(" AND ")).mkString
}

/** The joined scan: one `$lookup`+`$unwind` pipeline per split of the
  * DRIVING collection ([[ServerClient.lookupJoin]]) — the join itself
  * never reaches Spark, no shuffle, no broadcast; only joined rows
  * cross the wire. Splits reuse the standard planner chain when
  * `assume_uniform_storage` is asserted (the split range must render
  * bracket-style inside the pipeline's `$match`, which is only exact
  * over uniformly-stored keys — cursor min/max bounds don't exist in a
  * pipeline); otherwise the join runs as ONE pipeline, still
  * server-executed. The right side is re-read per split — the trade a
  * server-side hash/index lookup makes against shipping both
  * collections through a Spark exchange.
  */
final class GraftServerJoinScan(join: ServerJoin, leftQuery: BQuery,
    options: Map[String, String],
    grouped: Option[ServerGroupedAgg] = None,
    joinLimit: Option[Long] = None,
    joinTopN: Option[(Seq[(String, Boolean)], Long)] = None,
    samples: Seq[graft.source.SamplePush] = Nil,
    joinOffset: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType =
    grouped.map(_.schema).getOrElse(join.schema)
  override def toBatch: Batch = this

  override def description(): String =
    s"graftserver ns=${options.getOrElse("ns", "?")} query=$leftQuery" +
      locally {
        val cc = join.leftComputed ++ join.rightComputed
        if (cc.isEmpty) ""
        else s" PushedComputed: [${cc.map(_.describe).mkString(", ")}]"
      } +
      join.unwind.map(u => s" PushedUnwind: ${u.path}" +
        (if (u.mapKv) " MAP" else "") +
        (if (u.preserveNullAndEmpty) " OUTER" else "") +
        (if (join.unwindPost == BQuery.True) ""
         else s" PostUnwindMatch: ${join.unwindPost}")).getOrElse("") +
      s" PushedJoin: $join" +
      grouped.map(g => s" PushedGroupedAggregate: $g").getOrElse("") +
      joinLimit.map(n => s" PushedLimit: $n").getOrElse("") +
      joinTopN.map { case (spec, n) =>
        val order = spec.map { case (c, d) =>
          s"$c ${if (d) "DESC" else "ASC"}" }.mkString(", ")
        s" PushedTopN: ORDER BY $order LIMIT $n"
      }.getOrElse("") +
      (if (samples.isEmpty) ""
       else s" PushedSample: ${samples.mkString(", ")}") +
      joinOffset.map(n => s" PushedOffset: $n").getOrElse("")

  /** All sides' collStats — the joined size estimate is conservative
    * (inner joins usually shrink), but keeps a small joined scan
    * broadcast-able in an OUTER Spark join above it. */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val bytes = GraftServerSource.withClient(options) { (client, ns) =>
      (ns +: join.rightNs +: join.chain.map(_.rightNs))
        .map { n => val s = client.collStats(n); s.count * s.avgObjSizeBytes }
        .sum
    }
    override def sizeInBytes(): java.util.OptionalLong = {
      val frac = samples.map(sp => math.max(sp.upper - sp.lower, 0.0)).product
      java.util.OptionalLong.of((bytes * frac).toLong)
    }
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val ns = GraftServerSource.ns(options)
    val key = options.getOrElse("key", "_id")
    val uniform = options.get("assume_uniform_storage").exists(_.toBoolean)
    if (!uniform || options.get("splitter").contains("single") ||
        // a COMPUTED split key has no stored field to probe (r17)
        join.leftComputed.exists(_.out == key))
      return Array(GraftServerPartition(ns,
        BQuery.KeyRange(key, None, None), Seq.empty))
    GraftServerSource.withClient(options) { (client, _) =>
      val target = options.get("split_size").map(_.toLong)
        .getOrElse(8L * 1024 * 1024)
      new ServerCollection(client, ns).planSplits(key, target)
        .map(s => GraftServerPartition(ns, s.range,
          s.preferredLocations): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftServerJoinReaderFactory(join, leftQuery, options, grouped,
      joinLimit, joinTopN, samples, joinOffset)
}

final class GraftServerJoinReaderFactory(join: ServerJoin, leftQuery: BQuery,
    options: Map[String, String],
    grouped: Option[ServerGroupedAgg] = None,
    joinLimit: Option[Long] = None,
    joinTopN: Option[(Seq[(String, Boolean)], Long)] = None,
    samples: Seq[graft.source.SamplePush] = Nil,
    joinOffset: Option[Long] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftServerJoinReader(p.asInstanceOf[GraftServerPartition], join,
      leftQuery, options, grouped, joinLimit, joinTopN, samples, joinOffset)
}

/** One `$lookup` pipeline for this split's driving range. Null/missing
  * join keys are filtered where equi-join semantics require it: the
  * LOOKUP side always (a null right key must never match), the driving
  * side only under INNER (a LEFT OUTER keeps those rows, and a null
  * driving key looks up nothing either way).
  */
final class GraftServerJoinReader(p: GraftServerPartition, join: ServerJoin,
    leftQuery: BQuery, options: Map[String, String],
    grouped: Option[ServerGroupedAgg] = None,
    joinLimit: Option[Long] = None,
    joinTopN: Option[(Seq[(String, Boolean)], Long)] = None,
    samples: Seq[graft.source.SamplePush] = Nil,
    joinOffset: Option[Long] = None)
    extends PartitionReader[InternalRow] {

  private val client = GraftServerSource.factory(options).create(options)

  // engine Exists(true) = present AND non-null, rendered as the
  // equivalent `{$ne: null}` on the wire (QueryDocs.render)
  private def nonNull(field: String): BQuery = BQuery.Exists(field, yes = true)

  private val rightWithKeys: BQuery =
    (join.keys.map(_._2) ++ join.ranges.map(_.rightOut))
      .foldLeft(join.rightQuery) { case (acc, ro) =>
        BQuery.and(acc, nonNull(join.rightField(ro)))
      }
  /** A driving key whose doc field sits AT/UNDER the unwound path (or is
    * the injected pos field, or a MAP unwind's synthetic kv entry)
    * exists only POST-unwind — its INNER non-null prune joins the
    * post-unwind `$match`; pre-unwind the same path would match nothing
    * (kv/pos) or carry ∃-element semantics (array paths). */
  private def elementScopedField(f: String): Boolean =
    join.unwind.exists(u => f == u.path || f.startsWith(u.path + ".") ||
      u.posField.contains(f) ||
      (u.mapKv && (f == graft.plans.UnwindRelocate.KvDocField ||
        f.startsWith(graft.plans.UnwindRelocate.KvDocField + "."))))
  // range LEFT operands prune like key operands under INNER (a null
  // operand never range-matches — Spark's null comparison); under LEFT
  // OUTER they must SURVIVE to null-extend, and the pipeline's per-var
  // `$gt: [$$rK, null]` guard keeps them from cross-bracket matching.
  // COMPUTED left fields (r17) are skipped: the pre-$match runs BEFORE
  // the $set, so a non-null prune there would match nothing — a null
  // computed key still never joins (the $expr $eq against a non-null-
  // pruned right side is false; ranges carry their own null guard)
  private def leftOperandOuts: Seq[String] =
    join.keys.map(_._1) ++ join.ranges.map(_.leftOut)
  private def computedLeftField(f: String): Boolean =
    join.leftComputed.exists(_.out == f)
  private val leftFull: BQuery = {
    val base = BQuery.and(p.range, leftQuery)
    if (join.leftOuter) base
    else leftOperandOuts.foldLeft(base) { case (acc, lo) =>
      val f = join.leftField(lo)
      if (elementScopedField(f) || computedLeftField(f)) acc
      else BQuery.and(acc, nonNull(f))
    }
  }
  private val postFull: BQuery =
    if (join.leftOuter) join.unwindPost
    else leftOperandOuts.foldLeft(join.unwindPost) { case (acc, lo) =>
      val f = join.leftField(lo)
      if (computedLeftField(f)) acc
      else if (elementScopedField(f)) BQuery.and(acc, nonNull(f)) else acc
    }

  /** Each CHAIN stage's lookup side also filters null/missing keys —
    * `$expr` `$eq` would otherwise match a null driving key against a
    * null-keyed right doc (equi-join semantics forbid it) — and (r18)
    * null/missing RANGE operands, whose BSON-total-order comparison
    * would otherwise match against the per-var guard's surviving side
    * (the base join's `rightWithKeys` discipline, stage-local here;
    * the driving side's null operands fail the rendered `$gt: [$$rN,
    * null]` guard — INNER drops, LEFT OUTER null-extends, both Spark's
    * null-comparison behavior). */
  private val chainWithKeys: Seq[ChainStage] = join.chain.map { st =>
    st.copy(rightQuery =
      (st.keys.map(_._2) ++ st.ranges.map(_.rightOut))
        .foldLeft(st.rightQuery) { case (acc, ro) =>
          BQuery.and(acc, nonNull(LookupJoin.fieldOf(st.rightProject, ro)))
        })
  }

  // posexplode over a join: includeArrayIndex yields int64 indexes but
  // the pos column reads IntegerType — narrow the pos OUTPUT field of
  // each joined doc before decode (the un-joined path narrows the
  // injected doc field the same way, GraftServerSource.narrowPos)
  private val posOutName: Option[String] = join.unwind.flatMap(u =>
    u.posField.flatMap(pf => join.leftProject.collectFirst {
      case (f, o, _) if f == pf => o }))
  private def narrowPosOut(d: BDoc): BDoc = posOutName match {
    case Some(o) => d.get(o) match {
      case Some(graft.bson.BInt64(x)) =>
        graft.query.Updates.setField(d, o, graft.bson.BInt32(x.toInt))
      case _ => d
    }
    case None => d
  }

  private val cursor: Iterator[BDoc] = {
    val raw0 = client.lookupJoin(p.ns, LookupJoin(
      leftFull,
      join.leftProject.map { case (f, o, _) => (f, o) },
      join.rightNs,
      rightWithKeys,
      join.rightProject.map { case (f, o, _) => (f, o) },
      join.keys, join.leftOuter,
      chain = chainWithKeys,
      group = grouped.map(g => (g.groupCols.map(_._1), g.items.map(_._1))),
      limit = joinLimit,
      topN = joinTopN,
      skip = joinOffset,
      unwind = join.unwind,
      unwindPost = postFull,
      ranges = join.ranges,
      leftComputed = join.leftComputed,
      rightComputed = join.rightComputed))
    val raw = if (posOutName.isEmpty) raw0 else raw0.map(narrowPosOut)
    // carried TABLESAMPLE windows, re-keyed to joined OUTPUT names by
    // the builder: keyed sampling commutes with the $lookup, so keeping
    // joined rows by the sampled side's key window equals sampling that
    // side before the join (MQL has no md5 — the window is evaluated
    // here, exactly like the plain scan's sample)
    val base =
      if (samples.isEmpty) raw
      else raw.filter(d => samples.forall(_.keep(d)))
    grouped match {
      case Some(g) if g.groupCols.isEmpty && !base.hasNext =>
        // GLOBAL aggregate over a join that matched nothing: $group
        // emits no doc, but Spark's final fold rewrites COUNT(*) as a
        // SUM of partials — zero partials would fold to NULL instead
        // of 0 (the q58 zero-partition lesson). One count-0 sentinel.
        Iterator.single(BDoc((g.items.map {
          case (GroupAgg.CountAll(a), _) => a -> (BInt64(0L): BsonValue)
          case (GroupAgg.CountCol(_, a), _) => a -> (BInt64(0L): BsonValue)
          case (other, _) => other.alias -> (BNull: BsonValue)
        }): _*))
      case _ => base
    }
  }

  private val schema = grouped.map(_.schema).getOrElse(join.schema)
  private var row: InternalRow = _

  override def next(): Boolean =
    if (cursor.hasNext) { row = RowCodec.toRow(cursor.next(), schema); true }
    else false

  override def get(): InternalRow = row

  override def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

object GraftServerScanBuilder {
  /** Spark-type domains where the server's cursor order over the stored
    * values IS Spark's order over the read values (same reasoning as the
    * file source's TopN pushdown: exact long/µs/double keys; strings and
    * floats refused).
    *
    * NaN caveat (DoubleType, latent — applies to the MIN/MAX probes, the
    * `$group` `$min`/`$max` path, and TopN alike): BSON's total order
    * places NaN BELOW all numbers while Spark orders NaN ABOVE every
    * double, so a NaN-containing double column's pushed MIN comes back
    * NaN where Spark's own would be the smallest real number (and a
    * pushed MAX loses the NaN Spark would keep). Collections written by
    * THIS engine normally carry no NaN (none of the catalog's writers
    * emit one), but a foreign collection might — exclude NaN rows with a
    * pushed `$ne` filter, or project the column through a no-op
    * expression to keep the aggregate Spark-side, when that matters.
    */
  /** Can a server-evaluated MIN/MAX/SUM over a column of this Spark type
    * be trusted as Spark's own aggregate over the READ values? The
    * server's `$min`/`$max` walk the CROSS-BRACKET stored order and
    * `$sum` skips non-numeric storages, so types readable from MORE THAN
    * ONE bracket (LongType: int/long vs date; TimestampType: date vs
    * timestamp) are only safe under `assume_uniform_storage` — the same
    * gate the TopN path always had (r13: previously ungated here, a
    * latent mixed-storage divergence). Int/Double/Boolean/Date are
    * single-bracket (or single-order) reads and always safe.
    */
  /** MIN/MAX input gate. STRINGS (r18): admitted when the column's DOC
    * field is declared in `ascii_columns` (plus uniform storage) — the
    * server folds `$min`/`$max` in BSON order (live: binary = Spark's
    * UTF-8 order for ANY strings; sandbox: UTF-16, exact over ASCII),
    * and the reader VERIFIES the returned extremum is ASCII
    * ([[asciiCheck]]): a fold result that differs between the orders
    * must itself be non-ASCII (every comparison against an ASCII value
    * agrees in both orders, so an ASCII winner beat every contender
    * correctly) — the check is therefore sound, not just a heuristic. */
  def aggValueSafe(dt: org.apache.spark.sql.types.DataType,
      options: Map[String, String],
      docField: Option[String] = None): Boolean =
    // the server folds `$min`/`$max` in the same stored order a cursor
    // sorts in, so the two gates coincide
    cursorOrderSafe(dt, options, docField)

  /** Fail-loud arm of the `ascii_columns` contract on ORDERED pushdown
    * RESULTS (r18): a returned min/max/top-n key value that is
    * non-ASCII proves the declaration false AND is exactly the case
    * where the value could be wrong — throw instead of silently
    * diverging. (All-ASCII results are provably correct: the UTF-16 and
    * UTF-8 orders agree on every comparison involving an ASCII operand,
    * so an ASCII winner/top-n member won each of its comparisons under
    * BOTH orders. A live server's binary order is Spark-exact anyway —
    * there the throw only surfaces the false declaration.) */
  def asciiCheck(v: graft.bson.BsonValue, field: String): Unit = v match {
    case graft.bson.BString(s) if !s.forall(_ < 0x80) =>
      throw new IllegalArgumentException(
        s"ascii_columns contract violated: non-ASCII value '$s' returned " +
          s"for ordered pushdown on '$field' (ordering on a declared " +
          "string column is only exact over ASCII; remove the column " +
          "from ascii_columns or clean the data)")
    case _ => ()
  }

  /** Verify declared-ASCII fields on a RESULT doc stream (bounded: the
    * streams this wraps are top-n/limit/#groups-sized). */
  def asciiVerifyDocs(docs: Iterator[BDoc],
      fields: Seq[String]): Iterator[BDoc] =
    if (fields.isEmpty) docs
    else docs.map { d =>
      fields.foreach(f => d.getPath(f).foreach(asciiCheck(_, f))); d
    }

  /** Doc field paths the caller asserts hold ASCII-only stored strings
    * (the `ascii_columns` option, comma-separated) — the r18 string
    * range-join admission; see the rangeKeySafe scaladoc for why ASCII
    * makes UTF-8-byte, UTF-16-unit, and server-binary orders coincide. */
  def asciiCols(opts: Map[String, String]): Set[String] =
    opts.get("ascii_columns").map(_.split(',').iterator
      .map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  /** SUM inputs: exact numerics; LongType only under uniform storage (a
    * BDate-backed long reads as its millis but `$sum` would SKIP it). */
  def sumValueSafe(dt: org.apache.spark.sql.types.DataType,
      options: Map[String, String]): Boolean = {
    import org.apache.spark.sql.types._
    dt == IntegerType || dt == DoubleType ||
      (dt == LongType && options.get("assume_uniform_storage").exists(_.toBoolean))
  }

  /** Types usable as a pushed GROUP key. Wider than [[aggValueSafe]]:
    * grouping needs only read-value EQUALITY to be refined by the
    * server's grouping (partial pushdown re-merges), not a faithful
    * cross-bracket ORDER — so strings, unsafe for min/max/top-n, are
    * fine as group keys.
    */
  val GroupKeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    // DateType: the server may split one read-day into several stored-
    // millis groups — a strict REFINEMENT the partial protocol re-merges
    Set(StringType, IntegerType, LongType, DoubleType, BooleanType,
      TimestampType, DateType)
  }

  /** Can a server cursor sorted on a column of this Spark type be
    * trusted as Spark order over READ values? Int/Double share one
    * consistently-ordered numeric bracket, Boolean its own; Long and
    * Timestamp span two brackets (date vs numeric / date vs timestamp)
    * unless the caller asserts uniform storage — true for every
    * collection this engine wrote (RowCodec stores Long→int64,
    * Timestamp→date, always).
    */
  def cursorOrderSafe(dt: org.apache.spark.sql.types.DataType,
      options: Map[String, String],
      /** r18: a STRING order key admits when its DOC field is declared
        * in `ascii_columns` (plus uniform storage) — the cursor order is
        * the server's binary/BSON order (live: Spark-exact for any
        * strings; sandbox: UTF-16, exact over ASCII), and the reader
        * verifies the RETURNED key values are ASCII ([[asciiCheck]] —
        * sound: a wrongly-included top-n member must have won a
        * comparison the orders disagree on, which requires BOTH
        * operands non-ASCII, so an all-ASCII result set is correct).
        * None (callers without doc-field resolution) keeps strings
        * refused. */
      docField: Option[String] = None): Boolean = {
    import org.apache.spark.sql.types._
    // DateType: single-bracket storage whose read (epoch-day floor) is
    // monotone over the cursor order — always safe (read-value ties are
    // LIMIT's inherent nondeterminism, same as Spark's own TakeOrdered)
    val always = Set[DataType](IntegerType, DoubleType, BooleanType, DateType)
    val uniform = Set[DataType](LongType, TimestampType)
    val uniformOk = options.get("assume_uniform_storage").exists(_.toBoolean)
    if (dt == StringType)
      uniformOk && docField.exists(f => asciiCols(options).contains(f))
    else always.contains(dt) || (uniform.contains(dt) && uniformOk)
  }
}

final class GraftServerScan(requiredSchema: StructType, query: BQuery,
    limit: Option[Int], options: Map[String, String],
    pushedAgg: Option[Seq[graft.source.AggPush]] = None,
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    grouped: Option[ServerGroupedAgg] = None,
    offset: Option[Int] = None,
    sample: Option[graft.source.SamplePush] = None,
    nsMeta: Boolean = false,
    unwind: Option[ServerClient.Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    /** A LIMIT/TopN/OFFSET tail counts UNWOUND rows: the read runs as
      * the [[ServerClient.unwoundRead]] pipeline, one per namespace. */
    unwoundTails: Boolean = false)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportStatistics with SupportsReportOrdering {
  /** Spark column -> document field (column_mapping, r14 on the server
    * transport); pushdown resolution happened in the builder — the scan
    * only needs it for runtime filters, ordering reports, and the
    * readers' path-based decode. */
  private val mapping: Map[String, String] =
    options.get("column_mapping").map(graft.source.ColumnMapping.parse)
      .getOrElse(Map.empty)



  /** collStats-based size report — the stats role collstats plays in the
    * reference's planning (MongoSplitterFactory.java:66-83), surfaced to
    * Catalyst so small server collections auto-broadcast in joins. One
    * bounded round-trip per namespace at plan time. numRows only when no
    * query narrows the scan (collStats counts the whole collection).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val stats = GraftServerSource.withClient(options) { (client, _) =>
      GraftServerSource.nsList(options).map(n => client.collStats(n))
    }
    override def sizeInBytes(): java.util.OptionalLong = {
      val raw = stats.map(s => s.count * s.avgObjSizeBytes).sum
      java.util.OptionalLong.of(sample
        .map(sp => (raw * math.max(sp.upper - sp.lower, 0.0)).toLong)
        .getOrElse(raw))
    }
    override def numRows(): java.util.OptionalLong =
      // a pushed sample keeps a hash-dependent row count — no exact claim
      if (query == BQuery.True && limit.isEmpty && sample.isEmpty &&
          unwind.isEmpty)
        java.util.OptionalLong.of(stats.map(_.count).sum)
      else java.util.OptionalLong.empty()
  }

  /** Per-partition cursor sort (`sort` option — cursor.sort parity,
    * order within a partition, never global). Reported ONLY when the
    * cursor's BSON order provably equals Spark's order over the read
    * values ([[GraftServerScanBuilder.cursorOrderSafe]]); an unsafe type
    * still sorts the cursor (server semantics) but makes no claim to
    * Catalyst.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    options.get("sort").flatMap(PushRules.sparkColFor(mapping, _)) match {
      case Some(c) if pushedAgg.isEmpty && topN.isEmpty && grouped.isEmpty &&
          unwind.isEmpty &&
          requiredSchema.fields.exists(f => f.name == c &&
            GraftServerScanBuilder.cursorOrderSafe(f.dataType, options)) =>
        Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  /** Runtime IN-sets from Spark's dynamic filtering, keyed by column.
    * Split-key values prune whole key-range partitions
    * ([[Planners.pruneByValues]] — never drops a partition that could
    * hold a matching read value); all values AND-compose into the cursor
    * query, so the server also drops the rows (sound under the
    * runtime-filter contract: the join would drop them anyway).
    */
  @volatile private var runtimeIn: Map[String, Seq[BsonValue]] = Map.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a pushed limit/offset counts rows of the unnarrowed stream; a
    // pushed top-n keeps DIFFERENT rows over a narrowed stream (the
    // sort+limit sits below the join the runtime filter came from); a
    // pushed (grouped) aggregate's probes/pipelines never scan row-wise
    if (pushedAgg.isDefined || limit.isDefined || offset.isDefined ||
        topN.isDefined || grouped.isDefined) Array.empty
    else if (unwind.isDefined) Array.empty
    else Seq(options.getOrElse("key", "_id"), "_id").distinct
      // never advertise a COMPUTED column (r17): the runtime IN-set
      // ANDs into the CURSOR query, which evaluates on STORED docs
      // where the synthetic field does not exist — it would silently
      // match nothing
      .filterNot(k => graft.query.ComputedCol.fromOptions(options)
        .exists(_.out == k))
      .flatMap(PushRules.sparkColFor(mapping, _))
      .filter(requiredSchema.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    runtimeIn = PushRules.runtimeIn(predicates, identity)

  /** The cursor query with runtime IN-sets AND-composed. */
  private def queryWithRuntime: BQuery =
    runtimeIn.foldLeft(query) { case (acc, (col, vs)) =>
      BQuery.and(acc, PushRules.runtimeInQuery(mapping.getOrElse(col, col), vs))
    }

  /** Structured Streaming entry: the micro-batch TAILING stream
    * ([[GraftServerMicroBatchStream]]). Pushed filters carry over to the
    * per-batch cursors; row-count-bearing pushdowns (limit/offset/top-n/
    * aggregates) don't compose with an unbounded stream and refuse.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pushedAgg.isEmpty && grouped.isEmpty && topN.isEmpty &&
      limit.isEmpty && offset.isEmpty && sample.isEmpty && !nsMeta &&
      unwind.isEmpty,
      "graftserver streaming read cannot carry limit/offset/top-n/aggregate/" +
        "sample/unwind pushdowns or the _ns metadata column")
    // COMPUTED columns (r17): the streaming reader has no injection
    // seam — refuse loudly rather than stream an all-null derived
    // column (the batch-only capture rule never fires on streaming
    // relations; this guards a hand-set option)
    require(graft.query.ComputedCol.fromOptions(options).isEmpty,
      "graftserver streaming read does not support computed_columns")
    new GraftServerMicroBatchStream(requiredSchema, query, options)
  }

  override def readSchema(): StructType =
    PushRules.readSchema(grouped, pushedAgg, requiredSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"graftserver ns=${options.getOrElse("ns", "?")} query=$query" +
      locally {
        val cc = graft.query.ComputedCol.fromOptions(options)
        if (cc.isEmpty) ""
        else s" PushedComputed: [${cc.map(_.describe).mkString(", ")}]"
      } +
      pushedAgg.map(a => s" PushedAggregates: [${a.mkString(", ")}]").getOrElse("") +
      grouped.map(g => s" PushedGroupedAggregate: $g").getOrElse("") +
      sample.map(sp => s" PushedSample: $sp").getOrElse("") +
      offset.map(o => s" PushedOffset: $o").getOrElse("") +
      topN.map { case (spec, n) =>
        val order = spec.map { case (c, d) =>
          s"$c ${if (d) "DESC" else "ASC"}" }.mkString(", ")
        s" PushedTopN: ORDER BY $order LIMIT $n"
      }.getOrElse("") +
      unwind.map(u => s" PushedUnwind: ${u.path}" +
        (if (u.mapKv) " MAP" else "") +
        (if (u.preserveNullAndEmpty) " OUTER" else "") +
        (if (unwindPost == BQuery.True) ""
         else s" PostUnwindMatch: $unwindPost") +
        (if (unwoundTails) " UnwoundTails" else "")).getOrElse("")

  /** Driver-side planning: one bounded probe sequence through the shared
    * strategy chain (chunks → splitVector → sampled size bounds). Optional
    * empty-split pruning costs one `find(limit=1)` per split, the
    * reference's opt-in filterEmptySplits trade.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val key = options.getOrElse("key", "_id")
    // a COMPUTED split key has no stored field the planners could probe
    // (r17) — a key-range $match on it would silently match nothing;
    // plan ONE full-range cursor per namespace instead
    if (graft.query.ComputedCol.fromOptions(options).exists(_.out == key))
      return GraftServerSource.nsList(options).map(ns =>
        GraftServerPartition(ns, BQuery.KeyRange(key, None, None),
          Seq.empty): InputPartition).toArray
    if (pushedAgg.isDefined)
      // one partition: bounded probes — no splits, no row-wise scans
      return Array(GraftServerPartition(
        GraftServerSource.ns(options), BQuery.KeyRange(key, None, None), Seq.empty))
    if (grouped.isDefined)
      // one partition PER NAMESPACE: each runs its own $group pipeline
      // round-trip, so a multi-ns union aggregates in parallel (the
      // partial protocol folds the per-namespace group rows regardless)
      return GraftServerSource.nsList(options).map(n =>
        GraftServerPartition(n, BQuery.KeyRange(key, None, None),
          Seq.empty): InputPartition).toArray
    if (unwoundTails)
      // unwound ROW pipeline with a $sort/$skip/$limit tail: one
      // partition per namespace — key-range splits would need the range
      // rendered into the pipeline's $match (a bracket form, exact only
      // under uniform keys); the tail bounds each pipeline's output
      // anyway, so per-ns partials keep the wire thin and Spark folds
      return GraftServerSource.nsList(options).map(n =>
        GraftServerPartition(n, BQuery.KeyRange(key, None, None),
          Seq.empty): InputPartition).toArray
    if (options.get("splitter").contains("single"))
      // the reference's create_input_splits=false / SingleMongoSplitter
      // mode: ONE cursor over the whole range — the mode that makes an
      // accepted OFFSET (cursor skip) sound
      return GraftServerSource.nsList(options).map(ns =>
        GraftServerPartition(ns, BQuery.KeyRange(key, None, None),
          Seq.empty): InputPartition).toArray
    GraftServerSource.withClient(options) { (client, _) =>
      val target = options.get("split_size").map(_.toLong).getOrElse(8L * 1024 * 1024)
      GraftServerSource.nsList(options).flatMap { ns =>
        val coll = new ServerCollection(client, ns)
        var splits = coll.planSplits(key, target)
        PushRules.sparkColFor(mapping, key).flatMap(runtimeIn.get).foreach(vs =>
          splits = Planners.pruneByValues(splits, vs))
        if (options.get("filter_empty").exists(_.toBoolean) && query != BQuery.True)
          splits = Planners.pruneEmpty(splits, coll.stats(key), query)
        splits.map(s =>
          GraftServerPartition(ns, s.range, s.preferredLocations): InputPartition)
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftServerReaderFactory(requiredSchema, queryWithRuntime, limit, options,
      pushedAgg, topN, grouped, offset, sample, nsMeta, unwind, unwindPost,
      unwoundTails)
}

/** One planned split: its namespace, key range, and the owning chunk's
  * hosts as preferred locations. [[BQuery.KeyRange]] is a plain case
  * class — the split serializes as data, the cursor is re-opened
  * executor-side.
  */
final case class GraftServerPartition(ns: String, range: BQuery.KeyRange,
    hosts: Seq[String]) extends InputPartition {
  override def preferredLocations(): Array[String] = hosts.toArray
}

final class GraftServerReaderFactory(requiredSchema: StructType, query: BQuery,
    limit: Option[Int], options: Map[String, String],
    pushedAgg: Option[Seq[graft.source.AggPush]] = None,
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    grouped: Option[ServerGroupedAgg] = None,
    offset: Option[Int] = None,
    sample: Option[graft.source.SamplePush] = None,
    nsMeta: Boolean = false,
    unwind: Option[ServerClient.Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    unwoundTails: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    (grouped, pushedAgg) match {
      case (Some(g), _) => new ServerGroupedAggReader(options, query, g,
        p.asInstanceOf[GraftServerPartition].ns, unwind, unwindPost)
      case (None, Some(items)) => new ServerAggReader(options, items)
      case _ => new GraftServerPartitionReader(
        p.asInstanceOf[GraftServerPartition], requiredSchema, query, limit,
        options, topN, offset, sample, nsMeta, unwind, unwindPost,
        unwoundTails)
    }
}

/** The pushed GROUPED-aggregate reader: ONE `$match`+`$group` pipeline
  * round-trip for ITS namespace ([[ServerClient.groupAggregate]]; a
  * multi-ns union plans one such partition per namespace, so the
  * pipelines run in parallel); the server computes the group rows and
  * only #groups docs cross the wire. Rows are partial — Spark's final
  * aggregate re-groups and folds them (which also merges groups across
  * the union).
  */
final class ServerGroupedAggReader(options: Map[String, String],
    query: BQuery, grouped: ServerGroupedAgg, ns: String,
    unwind: Option[ServerClient.Unwind] = None,
    unwindPost: BQuery = BQuery.True)
    extends PartitionReader[InternalRow] {

  private val client = GraftServerSource.factory(options).create(options)

  /** r18: MIN/MAX aliases over declared-ASCII string columns — the
    * returned extrema verify against the contract (sound: an ASCII
    * winner won every comparison under both orders). */
  private val asciiAggAliases: Seq[String] = {
    val declared = GraftServerScanBuilder.asciiCols(options)
    grouped.items.collect {
      case (GroupAgg.MinOf(c, a), _) if declared.contains(c) => a
      case (GroupAgg.MaxOf(c, a), _) if declared.contains(c) => a
    }
  }

  private val it: Iterator[InternalRow] = {
    val base: Iterator[InternalRow] =
      GraftServerScanBuilder.asciiVerifyDocs(
        client.groupAggregate(ns, query,
          grouped.groupCols.map(_._1), grouped.items.map(_._1), unwind,
          unwindPost,
          computed = graft.query.ComputedCol.fromOptions(options)),
        asciiAggAliases)
        .map(d => RowCodec.toRow(GraftServerSource.narrowPos(d), grouped.schema))
    if (grouped.groupCols.nonEmpty || base.hasNext) base
    else {
      // filtered-GLOBAL pipeline with nothing matched: $group emits no
      // doc, but Spark's final fold rewrites COUNT(*) as a SUM of the
      // partial counts — zero partial rows would fold it to NULL instead
      // of 0 (the q58 zero-partition lesson). Emit one sentinel partial:
      // counts 0, min/max/sum NULL.
      Iterator.single(InternalRow.fromSeq(grouped.items.map {
        case (GroupAgg.CountAll(_) | GroupAgg.CountCol(_, _), _) => 0L: Any
        case _ => null
      }))
    }
  }

  private var row: InternalRow = _

  override def next(): Boolean =
    if (it.hasNext) { row = it.next(); true } else false

  override def get(): InternalRow = row

  override def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** The pushed-aggregate reader: COUNT(*) from one collStats call (what
  * the reference reads when it sizes a collection,
  * core/.../splitter/MongoSplitterFactory.java:66-83); MIN/MAX from one
  * sorted limit-1 cursor each — the server walks the index, one doc
  * crosses the wire. Explicit nulls and missing fields are excluded from
  * the probe (Spark's Min/Max ignore nulls; BSON sorts them first), so
  * an all-null column folds to NULL via the empty probe.
  */
final class ServerAggReader(options: Map[String, String],
    items: Seq[graft.source.AggPush])
    extends PartitionReader[InternalRow] {
  import graft.source.AggPush

  private val client = GraftServerSource.factory(options).create(options)
  private val nss = GraftServerSource.nsList(options)
  private var done = false
  private var row: InternalRow = _

  private def probeEdge(ns: String, col: String,
      dt: org.apache.spark.sql.types.DataType, descending: Boolean): Any = {
    val nonNull = BQuery.and(
      BQuery.Exists(col, yes = true), BQuery.Ne(col, BNull))
    client.find(ns, Find(nonNull, projection = Some(Seq(col)),
        sortAscBy = Some(col), limit = 1L, sortDescending = descending))
      .toSeq.headOption
      // read by PATH (identity mapping entry): a dotted probe column
      // comes back NESTED from a server projection ({"a.b": 1} returns
      // {a: {b: ...}})
      .map(d => RowCodec.toRow(d,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(col, dt))),
        Map(col -> col)).get(0, dt))
      .orNull
  }

  /** Spark-order comparison over the read values of the admitted types
    * (each column's probes share one Spark type, so no cross-type arms).
    * Strings (r18, ascii-declared columns) compare as UTF8String —
    * Spark's own UTF-8-byte order — for the cross-namespace fold of the
    * per-ns probe results. */
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Int, y: Int) => x < y
    case (x: Long, y: Long) => x < y
    case (x: Double, y: Double) => x < y
    case (x: Boolean, y: Boolean) => !x && y
    case (x: org.apache.spark.unsafe.types.UTF8String,
          y: org.apache.spark.unsafe.types.UTF8String) => x.compareTo(y) < 0
    case _ => false
  }

  private def fold(vs: Seq[Any], keepLeft: (Any, Any) => Boolean): Any = {
    val present = vs.filter(_ != null)
    if (present.isEmpty) null
    else present.reduce((a, b) => if (keepLeft(a, b)) a else b)
  }

  // r18: a declared-ASCII string probe result verifies against the
  // contract (sound — an ASCII extremum is provably correct)
  private def asciiVerified(c: String, v: Any): Any = {
    v match {
      case s: org.apache.spark.unsafe.types.UTF8String
          if GraftServerScanBuilder.asciiCols(options).contains(c) =>
        GraftServerScanBuilder.asciiCheck(graft.bson.BString(s.toString), c)
      case _ => ()
    }
    v
  }

  override def next(): Boolean =
    if (done) false
    else {
      val values: Array[Any] = items.map {
        case AggPush.RowCount => nss.map(n => client.collStats(n).count).sum: Any
        case AggPush.MinOf(c, t) =>
          asciiVerified(c,
            fold(nss.map(n => probeEdge(n, c, t, descending = false)), lt))
        case AggPush.MaxOf(c, t) =>
          asciiVerified(c,
            fold(nss.map(n => probeEdge(n, c, t, descending = true)),
              (a, b) => lt(b, a)))
      }.toArray
      row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      done = true
      true
    }

  override def get(): InternalRow = row

  override def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** Holds exactly one server cursor for its split — the executor-side
  * mirror of the reference's per-split cursor, with the split range,
  * pushed query, projection, and partial limit all applied server-side.
  */
final class GraftServerPartitionReader(p: GraftServerPartition,
    requiredSchema: StructType, query: BQuery, limit: Option[Int],
    options: Map[String, String],
    topN: Option[(Seq[(String, Boolean)], Int)] = None,
    offset: Option[Int] = None,
    sample: Option[graft.source.SamplePush] = None,
    nsMeta: Boolean = false,
    unwind: Option[ServerClient.Unwind] = None,
    unwindPost: BQuery = BQuery.True,
    unwoundTails: Boolean = false)
    extends PartitionReader[InternalRow] {

  // `$unwind` (r14): the cursor streams PARENT docs (one array per
  // parent crosses the wire, never the flattened cross-product) and the
  // reader emits one row per element — the element column slot is
  // filled per element, every other slot decodes once per parent.
  // EXCEPT in pipeline mode (unwoundTails): a LIMIT/TopN/OFFSET tail
  // counts unwound rows, so the whole unwind+post+tail runs server-side
  // ([[ServerClient.unwoundRead]]) and the cursor streams PER-ELEMENT
  // docs — the reader decodes them like a plain scan
  private val pipelineMode: Boolean = unwoundTails && unwind.isDefined
  private val unwindElement: Option[String] = options.get("unwind_element")
  /** posexplode: the pos COLUMN binds the local element index (no doc
    * field crosses the wire; null for null/empty/non-array parents). */
  private val unwindPos: Option[String] = options.get("unwind_pos")
  /** The post match references only the element/pos of a TOP-LEVEL
    * unwound path: the per-element evaluation can use a tiny doc
    * instead of copying the parent (hot path — once per element). */
  private val postElementOnly: Boolean = unwind.exists(u =>
    !u.path.contains('.') &&
      BQuery.fieldPaths(unwindPost).forall(p =>
        p == u.path || p.startsWith(u.path + ".") || u.posField.contains(p)))

  // `_ns` provenance: splice this partition's namespace in at the
  // requested position — constant per cursor
  private val nsIdx: Int =
    if (nsMeta) requiredSchema.fieldNames.indexOf(GraftServerSource.NsMetaCol)
    else -1
  private val decodeSchema: StructType =
    if (nsIdx < 0) requiredSchema
    else StructType(requiredSchema.fields.patch(nsIdx, Nil, 1))
  // under unwind, the element column decodes per ELEMENT, not per doc
  private val elIdx: Int = unwindElement
    .map(decodeSchema.fieldNames.indexOf(_)).getOrElse(-1)
  private val posIdx: Int = unwindPos
    .map(decodeSchema.fieldNames.indexOf(_)).getOrElse(-1)
  private val parentSchema: StructType = StructType(
    decodeSchema.fields.zipWithIndex
      .filterNot { case (_, i) => i == elIdx || i == posIdx }
      .map(_._1))
  private val elType: org.apache.spark.sql.types.DataType =
    if (elIdx < 0) org.apache.spark.sql.types.NullType
    else decodeSchema.fields(elIdx).dataType
  private val nsValue: org.apache.spark.unsafe.types.UTF8String =
    if (nsIdx < 0) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(p.ns)

  // Spark column -> document field (column_mapping): decode and the
  // cursor projection address DOCUMENT paths
  private val mapping: Map[String, String] =
    options.get("column_mapping").map(graft.source.ColumnMapping.parse)
      .getOrElse(Map.empty)

  // DERIVED columns (r17): injected into each fetched document before
  // decode — the client-side mirror of the pipeline `$set`; only the
  // columns this scan's schema still carries (pruned ones skip the
  // arithmetic). Never combined with an unwind (the capture rule
  // refuses unwound relations; UnwindRelocate refuses computed ones).
  private val computedCols: Seq[graft.query.ComputedCol] =
    graft.query.ComputedCol.fromOptions(options)
      .filter(c => decodeSchema.fieldNames.contains(c.out))

  private val client = GraftServerSource.factory(options).create(options)

  /** Declared-ASCII string TOP-N order keys (r18): their returned
    * values verify against the `ascii_columns` contract (sound — see
    * [[GraftServerScanBuilder.asciiCheck]]); the cursor projection must
    * carry them even when Spark pruned the column. */
  private val asciiOrderFields: Seq[String] = topN.map(_._1.map(_._1))
    .getOrElse(Nil)
    .filter(GraftServerScanBuilder.asciiCols(options).contains)

  private val rawCursor0: Iterator[BDoc] = if (pipelineMode)
    // unwound ROW pipeline: $match + $unwind + $match(post) + the
    // pushed $sort/$skip/$limit tail, all server-side — per-element
    // docs cross the wire, already post-matched and tail-bounded.
    // Partitions in this mode are whole-namespace (no key range).
    client.unwoundRead(p.ns, query, unwind.get, unwindPost,
      sortSpec = topN.map(_._1).getOrElse(Nil),
      skip = offset.map(_.toLong).getOrElse(0L),
      limit = topN.map(_._2.toLong).orElse(limit.map(_.toLong)).getOrElse(-1L),
      projection = Some(GraftServerSource.pruneProjection(
        parentSchema.fieldNames.map(n => mapping.getOrElse(n, n)).toSeq ++
        // MAP unwind (r16): the per-entry docs carry the synthetic
        // __graft_kv entry the key/value mappings read — the original
        // map path is never a column post-unwind (the relocation
        // refuses a surviving map column)
        (if (unwind.exists(_.mapKv)) Seq(graft.plans.UnwindRelocate.KvDocField)
         else unwind.map(_.path).toSeq) ++
        (if (posIdx >= 0) unwind.get.posField else None) ++
        asciiOrderFields)))
      .map(GraftServerSource.narrowPos)
  else
    client.find(p.ns,
      Find(BQuery.and(p.range, query),
        // a pushed sample's key — and any doc path the POST-unwind
        // match reads (a mixed element-or-parent disjunction may
        // reference parents Spark pruned from the output) — must ride
        // the projection even when the column itself was pruned away.
        // Paths AT/UNDER the unwound array (the projected array already
        // carries its subfields) and the reader-injected pos field are
        // excluded, then ancestor-overlaps pruned: a live server rejects
        // prefix-overlapping inclusion projections ("Path collision")
        projection = Some(GraftServerSource.pruneProjection(
          // a COMPUTED column's value is reader-injected; the cursor
          // fetches its SOURCE field instead of the synthetic name
          (parentSchema.fieldNames.toSeq
            .filterNot(n => computedCols.exists(_.out == n))
            .map(n => mapping.getOrElse(n, n)) ++
          computedCols.map(_.field) ++
          unwind.map(_.path) ++
          BQuery.fieldPaths(unwindPost).toSeq.sorted.filterNot(fp =>
            unwind.exists(u => fp == u.path || fp.startsWith(u.path + ".") ||
              fp == graft.plans.UnwindRelocate.PosDocField)) ++
          sample.map(_.key) ++
          asciiOrderFields)
          // the synthetic kv entry of a MAP unwind is injected
          // reader-side — never a stored field a find() could project.
          // Gated on mapKv: under an ARRAY unwind a stored field that
          // happens to be named __graft_kv is a legitimate parent
          // column (the MAP relocation refuses that name outright)
          .filterNot(p => unwind.exists(_.mapKv) &&
            (p == graft.plans.UnwindRelocate.KvDocField ||
             p.startsWith(graft.plans.UnwindRelocate.KvDocField + "."))))),
        // a pushed top-n's (compound) order wins; else the option-level
        // cursor sort
        sortAscBy = topN.map(_._1.head._1).orElse(options.get("sort")),
        // cursor skip: only ever set on the provably-single-cursor plan
        skip = offset.map(_.toLong).getOrElse(0L),
        limit = topN.map(_._2.toLong)
          .orElse(limit.map(_.toLong)).getOrElse(-1L),
        sortDescending = topN.exists(_._1.head._2),
        thenBy = topN.map(_._1.tail).getOrElse(Nil)))

  // r18: the `ascii_columns` contract verifies on the RETURNED top-n
  // keys (a bounded stream — the cursor carries the pushed $limit)
  private val rawCursor: Iterator[BDoc] =
    GraftServerScanBuilder.asciiVerifyDocs(rawCursor0, asciiOrderFields)

  // deterministic sample window, applied client-side over the cursor's
  // documents (MQL cannot express the md5 predicate); computed fields
  // inject after it (sample keys are never computed — the push refuses)
  private val cursor: Iterator[BDoc] = {
    val sampled = sample.map(sp => rawCursor.filter(sp.keep)).getOrElse(rawCursor)
    if (computedCols.isEmpty) sampled
    else sampled.map(d => graft.query.ComputedCol.injectAll(computedCols, d))
  }

  /** Post-unwind row stream: parent slots decode ONCE, the element slot
    * is re-bound per element; element decode honors the array's element
    * semantics (null/missing -> null under OUTER, row dropped
    * otherwise; a non-array value is a one-element array, mongo's
    * `$unwind` rule).
    */
  private val decoded: Iterator[InternalRow] =
      (if (pipelineMode) None else unwind) match {
    // plain docs — and pipeline mode, whose per-element docs hold the
    // element AT the unwound path (the element column's mapping entry
    // points there, so the plain decode reads it)
    case None => cursor.map(d => RowCodec.toRow(d, decodeSchema, mapping))
    // MAP explode (r15): per-entry kv docs via the shared expansion
    // (key/value columns decode through their __graft_kv.k/.v mapping
    // entries); the post-unwind match evaluates on the same docs, and
    // a posexplode's injected int64 index narrows to the pos column's
    // IntegerType before decode
    case Some(u) if u.mapKv =>
      cursor.flatMap { d =>
        FakeServerClient.unwindDocs(d, u)
          .filter(kd => unwindPost == BQuery.True || unwindPost.matches(kd))
          .map(kd => RowCodec.toRow(
            GraftServerSource.narrowPos(kd), decodeSchema, mapping))
      }
    case Some(u) =>
      cursor.flatMap { d =>
        val parent = RowCodec.toRow(d, parentSchema, mapping)
        def withEl(el: Any, pos: Any = null): InternalRow = {
          val vals = new Array[Any](decodeSchema.length)
          var i = 0
          var j = 0
          while (i < decodeSchema.length) {
            if (i == elIdx) vals(i) = el
            else if (i == posIdx) vals(i) = pos
            else { vals(i) = parent.get(j, parentSchema.fields(j).dataType); j += 1 }
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
        def decodeEl(v: BsonValue): Any =
          if (v == BNull) null else RowCodec.toRow(BDoc("e" -> v),
            StructType(Seq(org.apache.spark.sql.types.StructField("e", elType)))).get(0, elType)
        // POST-unwind $match: evaluated on the per-element doc (the
        // path holds the ELEMENT; pos filters see the injected
        // includeArrayIndex shape — int64 index, NULL off-array),
        // mirroring the fake transport's unwindDoc exactly. The common
        // case — element/pos-only conjuncts over a TOP-LEVEL path —
        // evaluates against a tiny two-field doc instead of rebuilding
        // the parent once per element.
        def posVal(i: Option[Int]): BsonValue =
          i.map(x => BInt64(x.toLong): BsonValue).getOrElse(BNull)
        def withPosDoc(doc: BDoc, i: Option[Int]): BDoc = u.posField match {
          case Some(f) => graft.query.Updates.setField(doc, f, posVal(i))
          case None => doc
        }
        def postOk(el: BsonValue, i: Option[Int]): Boolean =
          unwindPost == BQuery.True || {
            val doc =
              if (postElementOnly) u.posField match {
                case Some(f) => BDoc(u.path -> el, f -> posVal(i))
                case None => BDoc(u.path -> el)
              }
              else withPosDoc(graft.query.Updates.setField(d, u.path, el), i)
            unwindPost.matches(doc)
          }
        def postOkAsIs: Boolean =
          unwindPost == BQuery.True ||
            unwindPost.matches(withPosDoc(d, None))
        d.getPath(u.path) match {
          case Some(BArray(items)) if items.nonEmpty =>
            // pos = the element's ORIGINAL index (post-match drops keep
            // their indices, mongo's includeArrayIndex rule)
            val kept = items.zipWithIndex
              .filter { case (el, i) => postOk(el, Some(i)) }
            kept.map { case (el, i) =>
              withEl(if (elIdx < 0) null else decodeEl(el), i) }
          case Some(BArray(_)) =>
            if (u.preserveNullAndEmpty && postOk(BNull, None)) Seq(withEl(null))
            else Seq.empty
          case Some(BNull) | None =>
            if (u.preserveNullAndEmpty && postOkAsIs) Seq(withEl(null))
            else Seq.empty
          case Some(other) =>
            // a non-array value passes through with a NULL pos
            // (mongo's includeArrayIndex rule for non-arrays)
            if (postOk(other, None))
              Seq(withEl(if (elIdx < 0) null else decodeEl(other)))
            else Seq.empty
        }
      }
  }

  private var row: InternalRow = _

  override def next(): Boolean =
    if (decoded.hasNext) {
      val base = decoded.next()
      row =
        if (nsIdx < 0) base
        else {
          val vals = new Array[Any](requiredSchema.length)
          var i = 0
          var j = 0
          while (i < requiredSchema.length) {
            if (i == nsIdx) vals(i) = nsValue
            else { vals(i) = base.get(j, decodeSchema.fields(j).dataType); j += 1 }
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      true
    }
    else false

  override def get(): InternalRow = row

  override def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

// ---- write path ----

final class GraftServerWriteBuilder(writeSchema: StructType,
    options: Map[String, String]) extends WriteBuilder {
  override def build(): Write = {
    // the comma form of `ns` is a read-side union; a write needs one target
    require(GraftServerSource.nsList(options).size == 1,
      s"graftserver write requires a single namespace, got '${GraftServerSource.ns(options)}'")
    new Write {
      override def toBatch: BatchWrite =
        new GraftServerBatchWrite(writeSchema, options)
      override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new GraftServerStreamingWrite(writeSchema, options)
    }
  }
}

/** Native Structured Streaming SINK over the server transport: each
  * epoch's tasks stream batched bulkWrites as they run (the same
  * [[GraftServerDataWriter]] the batch path uses), and epoch
  * commit/abort are no-ops — the exact MongoOutputCommitter contract
  * (server-side commitTask does nothing). A recovered query re-sends
  * its last epoch: idempotent under keyed upsert/update/replace modes
  * (the streaming deployment shape), at-least-once under plain insert —
  * the reference's semantics, stated rather than hidden. Exactly-once
  * belongs to the file-backed sink's marker-guarded staged commit.
  */
final class GraftServerStreamingWrite(writeSchema: StructType,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // same pre-task index point as the batch write (runs once per query
    // start, before the first epoch's tasks; idempotent server-side)
    GraftServerSource.ensureIndexIfAsked(options)
    new GraftServerStreamingWriterFactory(writeSchema, options)
  }
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftServerStreamingWriterFactory(writeSchema: StructType,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftServerDataWriter(partitionId, writeSchema, options)
}

/** Tasks stream batched bulkWrites directly to the server as they run;
  * job commit/abort are no-ops because a server write has no staging area
  * — MongoOutputCommitter parity (its server-side commitTask does
  * nothing). Retries re-send a task's models: idempotent under keyed
  * upsert/update, at-least-once under insert. Exactly-once belongs to the
  * file-backed source's staged two-phase commit.
  */
final class GraftServerBatchWrite(writeSchema: StructType,
    options: Map[String, String]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // declared indexes are created BEFORE any task writes — the
    // reference's pre-insert ensureIndex point
    // (core/.../output/MongoRecordWriter.java:128-130); one driver-side
    // createIndexes round-trip, idempotent on the server
    GraftServerSource.ensureIndexIfAsked(options)
    new GraftServerWriterFactory(writeSchema, options)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class GraftServerWriterFactory(writeSchema: StructType,
    options: Map[String, String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftServerDataWriter(partitionId, writeSchema, options)
}

final case class ServerWriteCommit(partitionId: Int, written: Long)
    extends WriterCommitMessage

/** Buffers write models and flushes one bulkWrite per `batch_size` — the
  * reference's batched MongoRecordWriter round-trips. Model construction
  * (insert / keyed update envelope) is the SAME [[graft.store.WriteModels]]
  * path the file source's task writers use.
  */
final class GraftServerDataWriter(partitionId: Int, writeSchema: StructType,
    options: Map[String, String]) extends DataWriter[InternalRow] {
  import graft.store.WriteModels

  private val client = GraftServerSource.factory(options).create(options)
  private val ns = GraftServerSource.ns(options)
  private val mode = options.getOrElse("mode", "insert")
  private val keys = options.getOrElse("keys", "_id").split(',').toSeq
  private val updateOp = options.getOrElse("update_op", "set")
  private val multi = options.get("multi").exists(_.toBoolean)
  private val idColumn = options.get("id_column")
  private val ordered = options.get("bulk_ordered").forall(_.toBoolean)
  private val batchSize = options.get("batch_size").map(_.toInt).getOrElse(512)

  // write-side column remapping (r14, parity with the file sink): Spark
  // column -> (possibly dotted) document field, applied BEFORE key
  // extraction so `keys`/`id_column` address document-space names
  private val writeMapping: Map[String, String] =
    options.get("column_mapping").map(graft.source.ColumnMapping.parse)
      .getOrElse(Map.empty)
  private def remap(d: BDoc): BDoc =
    if (writeMapping.isEmpty) d
    else writeMapping.foldLeft(d) { case (acc, (sparkCol, path)) =>
      acc.get(sparkCol) match {
        case Some(v) if sparkCol != path =>
          graft.query.Updates.setField(
            BDoc(acc.fields.removed(sparkCol)), path, v)
        case _ => acc
      }
    }

  private val buf = scala.collection.mutable.ArrayBuffer.empty[graft.store.WriteModel]
  private var written = 0L

  override def write(row: InternalRow): Unit = {
    val doc = remap(RowCodec.toBson(row, writeSchema))
    buf += WriteModels.fromDoc(
      WriteModels.toDoc(mode, doc, keys, updateOp, multi, idColumn))
    written += 1
    if (buf.size >= batchSize) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    val result = client.bulkWrite(ns, buf.iterator, ordered)
    buf.clear()
    graft.store.BulkResult.unignoredErrors(result, options, "graftserver")
      .foreach(msg => throw new IllegalStateException(msg))
  }

  override def commit(): WriterCommitMessage = {
    flush()
    ServerWriteCommit(partitionId, written)
  }

  override def abort(): Unit = ()

  override def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

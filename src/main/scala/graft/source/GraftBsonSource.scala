package graft.source

import graft.bson._
import graft.files.BsonFiles
import graft.query.{BQuery, BQueryJson, NumericNullEdge, RegexDialect, UpdateModel}
import graft.store.BsonCollection

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import java.util
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** DataSource V2 connector for BSON dump collections: schema inference by
  * sampling (dynamic mode), filter + projection pushdown with residual
  * split, pluggable partition planning, and a batched keyed write path
  * with insert / replace / update / upsert (+multi) modes.
  *
  * Structure mirrors the reference's connector responsibilities
  * (MongoInputFormat / splitters / MongoOutputCommitter) re-expressed on
  * the DSv2 interfaces; storage is the file-backed [[BsonCollection]].
  *
  * Read options: `path` (file, directory tree, or glob), `query`
  * (option-level JSON, AND-composed with pushed filters like
  * mongo.input.query), `splitter` (bytes|single|size|sample|paginating),
  * `split_size`, `key`, `min_docs`, `filter_empty`, `collections`
  * (per-entry overrides of all of the above). Write options: `mode`
  * (insert|replace|update|upsert), `update_op` (set|inc|push|pushAll),
  * `keys`, `multi`, `id_column`, `ensure_index`, `shards` (sharded store
  * layout; see [[graft.store.BsonCollection]]), `bulk_ordered`.
  */
class GraftBsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftbson"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = Option(options.get("collections")) match {
      case Some(json) => MultiCollections.parse(json).flatMap(c => GraftBsonSource.dataFiles(c.path))
      case None => GraftBsonSource.dataFiles(options.get("path"))
    }
    // UNIFORM sampling across the whole corpus, not the first 1000 docs of
    // the first file: the reference samples server-side with $sample
    // (core/.../splitter/SampleSplitter.java:72-77), uniform over the
    // collection. Head-biased sampling mis-infers any field that only
    // appears later (schema drift). Budget is spread over files by size;
    // within a file, docs are decoded at evenly spaced offsets snapped to
    // doc boundaries by the .splits/resync machinery. Compressed files
    // (unseekable) fall back to head sampling of their share.
    val budget = 1000
    val sizes = files.map(f => f -> Files.size(Paths.get(f)))
    val totalBytes = math.max(1L, sizes.map(_._2).sum)
    val sample = Vector.newBuilder[graft.bson.BDoc]
    sizes.foreach { case (f, sz) =>
      val want = math.max(1L, budget.toLong * sz / totalBytes).toInt
      if (BsonFiles.isCompressed(f)) {
        val it = BsonFiles.readAll(f)
        try {
          var k = 0
          while (it.hasNext && k < want) { sample += it.next(); k += 1 }
        } finally it.close()
      } else {
        // ONE boundary pass (side file or sequential header skim), then
        // decodes at evenly spaced known offsets — never a random resync
        // walk per sample (O(samples x docs) on files without a side file)
        val offs = BsonFiles.docOffsets(f)
        if (offs.size >= want) {
          (0 until want)
            .map(k => offs((k.toLong * offs.size / want).toInt.min(offs.size - 1)))
            .distinct
            .foreach(pos => sample += BsonFiles.readDocAt(f, pos))
        } else if (offs.nonEmpty) {
          // side-file boundaries are stride-sampled (not every doc): read a
          // run of consecutive docs from each boundary to fill the budget —
          // still uniform, still sequential
          val per = math.max(1L, want.toLong / offs.size).toInt
          offs.foreach { off =>
            val it = BsonFiles.readRange(f, off, Long.MaxValue)
            try {
              var k = 0
              while (it.hasNext && k < per) { sample += it.next(); k += 1 }
            } finally it.close()
          }
        }
      }
    }
    val inferred = RowCodec.inferSchema(sample.result().iterator,
      mapThreshold = Option(options.get("infer_map_threshold"))
        .map(_.toInt).getOrElse(128))
    if (inferred.isEmpty)
      throw new IllegalArgumentException(
        s"cannot infer schema: no documents under ${options.get("path")}")
    // option-level projection (mongo.input.fields analog,
    // MongoConfigUtil.getFields): restricts the table schema itself, on
    // top of whatever per-query pruning Spark later pushes
    Option(options.get("fields")) match {
      case Some(fields) =>
        val keep = fields.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val pruned = StructType(inferred.filter(f => keep.contains(f.name)))
        if (pruned.isEmpty)
          throw new IllegalArgumentException(
            s"fields option [$fields] matches no inferred column of ${inferred.fieldNames.mkString(",")}")
        pruned
      case None => inferred
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTable(schema, properties.asScala.toMap)
}

object GraftBsonSource {
  /** Name of the `_file` provenance metadata column. */
  val FileMetaCol = "_file"

  private val GlobChars = Set('*', '?', '[', '{')

  private def isDataFile(n: String): Boolean =
    n.endsWith(".bson") ||
      BsonFiles.codecExtensions.exists(e => n.endsWith(".bson" + e))

  /** Hidden-path rule: dot- and underscore-prefixed names are skipped at
    * every tree level (the BSONPathFilter rule, core/.../BSONPathFilter
    * .java:38, atop FileInputFormat's hidden-file convention) — this is
    * also what keeps `.graft-pending` job dirs and `_collmeta.json`
    * invisible to scans.
    */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  private def walkTree(dir: java.nio.file.Path, keep: String => Boolean): Seq[String] = {
    val out = Seq.newBuilder[String]
    def rec(d: java.nio.file.Path): Unit = {
      val stream = Files.list(d)
      try stream.iterator().asScala.toVector.foreach { f =>
        val n = f.getFileName.toString
        if (!hidden(n)) {
          if (Files.isDirectory(f)) rec(f)
          else if (Files.isRegularFile(f) && keep(n)) out += f.toString
        }
      } finally stream.close()
    }
    rec(dir)
    out.result().sorted
  }

  /** BSON data files for a path spec, FileInputFormat-style: a file is
    * itself; a directory is walked RECURSIVELY (real dump layouts nest,
    * `dump/<db>/<collection>.bson`); a spec containing glob characters
    * (star, `?`, `[`, `{` — e.g. a star.bson pattern under `dump/db`)
    * matches against the tree under its deepest fixed prefix. Hidden
    * (dot/underscore) files and directories are skipped in every mode.
    */
  /** Catalog-qualified paths arrive as `file:` URIs (the session catalog
    * qualifies the `path` option on `CREATE TABLE ... USING graftbson`);
    * the store is local/shared-filesystem-backed, so strip the scheme.
    */
  def normalizePath(p: String): String = p.replaceFirst("^file:(//)?", "")

  def dataFiles(rawPath: String): Seq[String] = {
    val path = normalizePath(rawPath)
    if (path.exists(GlobChars.contains)) {
      val idx = path.indexWhere(GlobChars.contains)
      val slash = path.lastIndexOf('/', idx)
      // base = deepest fixed prefix; the PATTERN is the remainder, matched
      // against paths RELATIVIZED to the base — matching the full string
      // would silently miss whenever base is "." (walked paths carry the
      // "./" prefix) or the pattern is relative while the walk is not
      val (base, pattern) =
        if (slash < 0) (".", path)
        else if (slash == 0) ("/", path.substring(1))
        else (path.substring(0, slash), path.substring(slash + 1))
      val basePath = Paths.get(base)
      if (!Files.isDirectory(basePath)) Seq.empty
      else {
        val matcher = java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + pattern)
        // the glob itself decides the extension — no .bson filter on top
        val matched = walkTree(basePath, _ => true)
          .filter(f => matcher.matches(basePath.relativize(Paths.get(f))))
        // a glob can land inside a collection dir mid-torn-promote just
        // like the directory branch — roll forward EVERY (non-hidden)
        // directory under the base, then re-walk so the promoted names
        // are what the scan reads. Recovering only the parents of
        // already-matched files would miss a collection whose crash
        // predates its first visible data file (first-ever commit died
        // before any shard rename): it has a manifest but zero matches
        val recovered = {
          def hiddenUnder(p: java.nio.file.Path): Boolean = {
            val rel = basePath.relativize(p)
            (0 until rel.getNameCount).exists { i =>
              val n = rel.getName(i).toString
              n.startsWith(".") || n.startsWith("_")
            }
          }
          val s = Files.walk(basePath)
          try {
            val it = s.iterator()
            var any = false
            while (it.hasNext) {
              val p = it.next()
              if (Files.isDirectory(p) && !hiddenUnder(p))
                any = graft.store.ShardApply.recoverPromote(p.toString) || any
            }
            any
          } finally s.close()
        }
        if (recovered)
          walkTree(basePath, _ => true)
            .filter(f => matcher.matches(basePath.relativize(Paths.get(f))))
        else matched
      }
    } else {
      val p = Paths.get(path)
      if (Files.isDirectory(p)) {
        // a scan over a collection dir must not read a torn promote a
        // crashed writer left behind — roll it forward first
        graft.store.ShardApply.recoverPromote(path)
        walkTree(p, isDataFile)
      } else if (Files.exists(p)) Seq(path)
      else Seq.empty
    }
  }
}

final class GraftTable(tableSchema: StructType, properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Provenance metadata: `_file` = the dump file a row was decoded
    * from (`SELECT _id, _file FROM t` / `df.select($"_file")`) — the
    * lineage handle a 100 TB landing zone needs for selective
    * reprocessing and quarantine. Populated per partition by the
    * reader; filters on it stay ABOVE the scan (pushFilters routes
    * them to residuals — a metadata name is not a document field).
    * A data column of the same name shadows it (Spark's rule).
    */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftBsonSource.FileMetaCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String = "source dump file of this row"
    })

  override def name(): String = s"graftbson:${properties.getOrElse("path", "?")}"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableSchema, properties ++ options.asScala)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(info.schema(), info.queryId(),
      properties ++ info.options().asScala)
}

/** A scan-level aggregate accepted by [[GraftScanBuilder.pushAggregation]]
  * — the collstats/$sample analog (SURVEY §4): COUNT(*) is answered from
  * `.splits` side files / 4-byte header walks without touching document
  * bodies; MIN/MAX stream one single-field projected decode.
  */
sealed trait AggPush extends Serializable
object AggPush {
  case object RowCount extends AggPush {
    override def toString = "COUNT(*)"
  }
  final case class MinOf(col: String, dt: org.apache.spark.sql.types.DataType)
      extends AggPush {
    override def toString = s"MIN($col)"
  }
  final case class MaxOf(col: String, dt: org.apache.spark.sql.types.DataType)
      extends AggPush {
    override def toString = s"MAX($col)"
  }
}

/** A pushed TABLESAMPLE (SupportsPushDownTableSample), shared by both
  * sources: DETERMINISTIC keyed Bernoulli over the `sample_key` option's
  * column — keep a document iff the 60-bit md5 prefix of
  * `"<seed>:<canonical key rendering>"` falls in
  * `[floor(lower·2^60), floor(upper·2^60))`. Source-defined sampling
  * semantics (the same latitude JDBC sources use to map TABLESAMPLE onto
  * dialect clauses): repeatable across runs, partitionings and engines —
  * the DuckDB oracle computes the identical predicate as
  * `CAST(concat('0x', substr(md5(concat('<seed>:', CAST(k AS VARCHAR))),
  * 1, 15)) AS BIGINT)` — unlike Spark's own per-partition-seeded Sample,
  * at the price of requiring an explicit key. The [lower, upper) window
  * form also serves `randomSplit` (disjoint windows = disjoint,
  * exhaustive splits). Null/missing keys never sample in. The reference
  * has no row sampling; its `$sample` splitter
  * (core/.../splitter/SampleSplitter.java:79-88) samples split BOUNDS —
  * this is the row-level counterpart with reproducibility the server's
  * random `$sample` stage cannot give.
  */
final case class SamplePush(key: String, lower: Double, upper: Double,
    seed: Long) extends Serializable {
  /** Inclusive-lower / exclusive-upper 60-bit thresholds; floor(x·2^60)
    * in IEEE double, identical in DuckDB's `CAST(floor(x *
    * 1152921504606846976.0) AS BIGINT)`. */
  val lowerBound: Long = math.floor(lower * SamplePush.Unit60).toLong
  val upperBound: Long = math.floor(upper * SamplePush.Unit60).toLong

  def keep(doc: graft.bson.BDoc): Boolean =
    doc.getPath(key).flatMap(SamplePush.render) match {
      case Some(s) =>
        val h = graft.functions.Md5Util.prefix60(
          (seed.toString + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        h >= lowerBound && h < upperBound
      case None => false
    }

  override def toString = s"SAMPLE($key, [$lower, $upper), seed=$seed)"
}
object SamplePush {
  /** 2^60 — the hash universe of [[graft.functions.Md5Util.prefix60]]. */
  val Unit60: Double = 1152921504606846976.0d

  /** Under a pushed unwind the window keys PARENTS (kept/dropped with
    * all their element rows — the keyed-window sampling unit, applied
    * pre-unwind): a key at or under the unwound path (the ELEMENT) or
    * the synthetic posexplode field cannot be evaluated per parent.
    * Shared by both transports so their sampling units stay in
    * lockstep. */
  def keyAllowedUnderUnwind(docPath: String, unwindPath: Option[String]): Boolean =
    unwindPath.forall(p =>
      docPath != p && !docPath.startsWith(p + ".") &&
        docPath != graft.plans.UnwindRelocate.PosDocField &&
        docPath != graft.plans.UnwindRelocate.KvDocField &&
        !docPath.startsWith(graft.plans.UnwindRelocate.KvDocField + "."))

  /** Canonical key rendering: integers in decimal (int32 and int64
    * storages of one value render identically — SQL `CAST(k AS VARCHAR)`
    * parity), strings raw. Anything else (null, missing, double, date,
    * ...) refuses — the builder only accepts Int/Long/String sample keys.
    */
  def render(v: graft.bson.BsonValue): Option[String] = v match {
    case graft.bson.BInt32(x) => Some(x.toString)
    case graft.bson.BInt64(x) => Some(x.toString)
    case graft.bson.BString(s) => Some(s)
    case _ => None
  }

  /** Spark types a sample key may have: exact canonical rendering on
    * every storage either source can read into them (int32/int64 decimal
    * for the numeric types, raw bytes for strings). */
  val KeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, StringType)
  }
}

/** One aggregate inside a pushed GROUPED aggregation — shared by the
  * file source (folded into per-split partial rows by
  * [[GroupedAggPartitionReader]]) and the server source (rendered into
  * the `$group` pipeline, `graft.server.QueryDocs.groupStages`).
  */
sealed trait GroupAgg extends Serializable { def alias: String }
object GroupAgg {
  final case class CountAll(alias: String) extends GroupAgg
  /** COUNT(col): non-null, non-missing values only (Spark semantics; the
    * server renders it as `$sum` of a `$cond` on the value's `$type`). */
  final case class CountCol(col: String, alias: String) extends GroupAgg
  final case class MinOf(col: String, alias: String) extends GroupAgg
  final case class MaxOf(col: String, alias: String) extends GroupAgg
  final case class SumOf(col: String, alias: String) extends GroupAgg
}

/** A pushed grouped aggregation, either transport: group columns with
  * their Spark types (empty for a filtered-GLOBAL aggregate) and each
  * aggregate with its partial-result Spark type. The pushdown is PARTIAL,
  * so Spark's final aggregate re-groups and merges the partial rows.
  */
trait PushedGroupBy {
  def groupCols: Seq[(String, org.apache.spark.sql.types.DataType)]
  def items: Seq[(GroupAgg, org.apache.spark.sql.types.DataType)]
  def schema: StructType = StructType(
    groupCols.map { case (c, dt) => StructField(c, dt) } ++
      items.map { case (g, dt) => StructField(g.alias, dt) })
  override def toString: String =
    (if (groupCols.isEmpty) "GLOBAL"
     else s"GROUP BY ${groupCols.map(_._1).mkString(", ")}") +
      s" [${items.map(_._1.alias).mkString(", ")}]"
}

/** A pushed grouped aggregation on the FILE source, plus the TABLE types
  * of every aggregate input column (for the projected decode). Each
  * byte-split folds its rows into per-group partial rows — the same
  * protocol as the global per-file partials and the server's `$group`
  * pipeline.
  */
final case class FileGroupedAgg(
    groupCols: Seq[(String, org.apache.spark.sql.types.DataType)],
    inputTypes: Map[String, org.apache.spark.sql.types.DataType],
    items: Seq[(GroupAgg, org.apache.spark.sql.types.DataType)]) extends PushedGroupBy

final class GraftScanBuilder(tableSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownOffset with SupportsPushDownAggregates
    with SupportsPushDownTopN with SupportsPushDownTableSample {

  /** Column-name remapping: Spark column -> (dotted) document field, the
    * `mongo.columns.mapping` analog (HiveMongoInputFormat.java:211-240).
    */
  private val mapping: Map[String, String] =
    options.get("column_mapping").map(ColumnMapping.parse).getOrElse(Map.empty)

  /** `$unwind` directive (r14): same contract as the server source —
    * element/pos filters push as the POST-unwind match, LIMIT / TopN /
    * OFFSET tails count unwound rows (the reader's tail stage), the
    * parent prune drops non-contributing parents pre-unwind, and
    * grouped-aggregate partials fold over unwound rows. */
  private val unwind: Option[UnwindSpec] =
    options.get("unwind_path").map(pth => UnwindSpec(pth,
      options.getOrElse("unwind_element", pth),
      options.get("unwind_outer").exists(_.toBoolean),
      // the pos COLUMN maps to the injected doc field (PosDocField)
      options.get("unwind_pos").map(c => mapping.getOrElse(c, c)),
      mapKv = options.get("unwind_kind").contains("map")))
  /** POST-unwind query (accepted element-column filters). */
  private var unwindPost: BQuery = BQuery.True

  private var required: StructType = tableSchema
  private var pushedQuery: BQuery = BQuery.True
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  /** DERIVED columns (r17, `computed_columns` — ComputedKeyRelocate,
    * the file-transport arm): injected by the readers right after the
    * pushed-query match — grouped-aggregate partials fold over them
    * like any column. The pushed query itself evaluates on STORED docs,
    * so filters on a computed column stay residual (null tests rewrite
    * exactly to the source field); TopN / min-max probes / sample keys
    * refuse the synthetic field, mirroring the server transport's gates. */
  private val cols = PushRules.Columns(tableSchema, mapping,
    graft.query.ComputedCol.fromOptions(options))

  private var residualFilters: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val split = PushRules.splitFilters(filters, cols, options,
      GraftBsonSource.FileMetaCol, arrayNullsResidual = false,
      uniformBrackets = false)
    pushedQuery = split.query
    unwindPost = split.post
    pushed = split.accepted
    residualFilters = split.residual
    residualFilters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Pushed TABLESAMPLE / df.sample / randomSplit window: accepted only
    * as the DETERMINISTIC keyed Bernoulli of [[SamplePush]] (the
    * `sample_key` option names an Int/Long/String column; no
    * replacement), evaluated during the scan's row iteration right after
    * the pushed query — so it composes with pushed filters (a
    * deterministic per-row predicate commutes with them) and with the
    * grouped-aggregate partials (the inner row scan samples before the
    * fold). Row-POSITION-dependent pushdowns (limit/offset/top-n) and
    * the zero-IO global aggregate (side-file counts know nothing of
    * sampling) refuse while a sample is pushed, and vice versa.
    */
  private var sample: Option[SamplePush] = None

  override def pushTableSample(lower: Double, upper: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    val key = PushRules.sampleKey(cols, options, unwind.map(_.path))
    val eligible = !withReplacement && key.isDefined &&
      !options.contains("collections") && !options.contains("limit") &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      aggPushed.isEmpty && groupedAgg.isEmpty
    if (!eligible) false
    else {
      sample = Some(SamplePush(key.get.docPath, lower, upper, seed))
      true
    }
  }

  /** Per-partition limit (the reference pushes limit per split,
    * MongoInputSplit.java:291-296, which is only globally correct with one
    * partition — so report partial and let Spark re-apply the global one).
    */
  override def pushLimit(n: Int): Boolean =
    // sample-then-limit cannot be spelled limit-then-sample: the sampled
    // prefix of a partition may be shorter than the limit needs. Over an
    // UNWOUND scan the limit counts unwound rows (the reader's tail runs
    // post-unwind) — option-level `limit`/`sort` and multi-collection
    // entries CARRYING per-entry limits/sorts (which merge into the
    // partitions) are PARENT-cursor semantics that cannot mix with an
    // element-scoped tail, so those refuse
    if (sample.isDefined || (unwind.isDefined &&
        (options.contains("limit") || options.contains("sort") ||
          options.get("collections").exists(json =>
            MultiCollections.parse(json).exists(c =>
              c.limit.isDefined || c.sort.isDefined))))) false
    else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** TopN (ORDER BY k1[, k2, ...] LIMIT n) pushdown — the reference's
    * per-split `cursor.sort().limit()` (MongoInputSplit.java:281-296),
    * reported PARTIAL: each partition returns its own sorted top-n and
    * Spark's global sort+limit folds them, which is exact because a
    * partition's local top-n is a superset of its contribution to the
    * global one. The reader selects by the values AS SPARK READS them
    * (exact long/µs/double keys — NOT the BSON cross-type order, whose
    * double-widened long comparison ties distinct values above 2^53 and
    * sorts date-storage in the wrong bracket for a LongType read), so
    * BOTH directions push; each key's null ordering must be Spark's
    * default for its direction (ASC NULLS FIRST / DESC NULLS LAST — the
    * orderings the bounded selector implements). String columns are
    * refused: a string read can come from four storage brackets and the
    * read-string order is not a cursor order any server could produce.
    * Residual filters also refuse: they run ABOVE the scan, and a
    * pre-filter top-n might not survive them.
    */
  private var topN: Option[(Seq[(String, Boolean, org.apache.spark.sql.types.DataType)], Int)] = None

  // FloatType deliberately absent: RowCodec has no BSON -> FloatType read,
  // so a FloatType column cannot be scanned at all
  private val TopNTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, DoubleType, BooleanType, TimestampType, DateType)
  }

  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    // option-level `limit` is a PER-PARTITION cursor limit over cursor
    // order; a pushed top-n would re-sort before it and change which
    // rows it keeps — refuse rather than reorder an explicit option
    // over an unwound scan the top-n selects among UNWOUND rows (the
    // reader's bounded heap runs post-unwind; element-column keys read
    // the element through its array-path mapping)
    val eligible = residualFilters.isEmpty &&
      aggPushed.isEmpty && groupedAgg.isEmpty && offset.isEmpty &&
      sample.isEmpty &&
      !options.contains("sort") && !options.contains("collections") &&
      !options.contains("limit")
    if (!eligible) return false
    // STRING order keys (r18): admitted under uniform storage alone —
    // the reader's bounded heap compares READ values itself, and its
    // string comparator is CODE-POINT order (exactly Spark's
    // UTF8String/UTF-8-byte order, GraftPartitionReader.cmpStrings), so
    // the selection is Spark-exact for ANY strings — no ascii_columns
    // declaration needed on this transport (unlike the server arm, where
    // the CURSOR owns the order). Uniform storage is still required: a
    // non-uniform string read spans four storage brackets the heap's
    // BString-only key read rejects.
    val stringOk = options.get("assume_uniform_storage").exists(_.toBoolean)
    PushRules.topNKeys(orders, cols, r => TopNTypes.contains(r.dataType) ||
        (r.dataType == org.apache.spark.sql.types.StringType && stringOk)) match {
      case Some(keys) =>
        topN = Some((keys.map { case (r, desc) => (r.docPath, desc, r.dataType) }, n))
        true
      case None => false
    }
  }

  /** Offset (skip) pushdown — the mongo.input.skip analog
    * (MongoInputSplit.java:291-296 applies cursor skip per split). Unlike
    * limit, Spark removes an accepted OFFSET from the plan entirely, so it
    * is only accepted when the scan is provably ONE partition (the same
    * single-split caveat the reference's skip has).
    */
  private var offset: Option[Int] = None
  private def provablySinglePartition: Boolean =
    !options.contains("collections") &&
      options.get("splitter").contains("single") &&
      options.get("path").exists(p => GraftBsonSource.dataFiles(p).size == 1)
  override def pushOffset(n: Int): Boolean =
    // over an unwound scan the skip counts UNWOUND rows (the reader's
    // tail runs post-unwind) — same single-partition soundness rule
    if (provablySinglePartition && aggPushed.isEmpty && groupedAgg.isEmpty &&
        sample.isEmpty && (unwind.isEmpty ||
          (!options.contains("limit") && !options.contains("sort")))) {
      offset = Some(n); true
    } else false

  /** Aggregate pushdown (SupportsPushDownAggregates), two strategies in
    * preference order:
    *
    *  1. Global COUNT(*)/MIN/MAX with NO filter surface — the zero- or
    *     near-zero-IO path: COUNT(*) from `.splits` side files / header
    *     walks (no body decode), MIN/MAX one projected single-field
    *     pass. A pushed or option-level query would make the side-file
    *     doc count wrong, so any filter refuses this path.
    *  2. Everything else — GROUPED (or filtered-global) per-split
    *     partials ([[pushGroupedAggregation]]): each byte-split decodes
    *     ONLY the group-key and aggregate input columns (bodies
    *     byte-skipped) and folds its rows into per-group partial rows.
    *     (AVG arrives here as Spark's partial-pushdown SUM+COUNT
    *     rewrite.)
    *
    * Both report PARTIAL: Spark's final aggregate re-groups and folds
    * the partial rows, which keeps the pushdown correct for any number
    * of files and partitions.
    */
  private var aggPushed: Option[Seq[AggPush]] = None
  private var groupedAgg: Option[FileGroupedAgg] = None

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (aggregation.groupByExpressions.isEmpty && tryGlobalAggregation(aggregation))
      return true
    pushGroupedAggregation(aggregation)
  }

  private def tryGlobalAggregation(aggregation: Aggregation): Boolean = {
    val eligible =
      pushedQuery == BQuery.True && !options.contains("query") &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty && sample.isEmpty &&
      !options.contains("collections") && unwind.isEmpty &&
      // the option-level PER-PARTITION cursor limit changes row counts
      !options.contains("limit")
    if (!eligible) return false
    // MIN/MAX columns may be nested subfields; the single-field scan
    // decodes just that subpath. A COMPUTED column has no stored field
    // to walk (r17) — the grouped partial path handles it
    PushRules.globalAggregates(aggregation, cols,
        r => AggPushTypes.contains(r.dataType)) match {
      case Some(items) => aggPushed = Some(items); true
      case None => false
    }
  }

  /** GROUPED / filtered-global aggregate pushdown: per-split partial
    * rows over a projected decode of ONLY the group-key and aggregate
    * input columns. Unlike the server path, pushed and option-level
    * queries are ACCEPTED — the reader evaluates them with the engine's
    * own exact [[BQuery.matches]] before folding (only residual filters
    * refuse: they run above the scan and the rows are gone after
    * grouping). Group keys group by the READ value (exact — Spark
    * re-groups the same values); MIN/MAX fold under Spark's own
    * interpreted ordering of read values (so even String and NaN-bearing
    * Double keys are exact here, unlike the server's BSON-bracket
    * caveats); SUM accumulates Long for integer columns (overflow
    * faults, matching ANSI) and Double otherwise.
    */
  private def pushGroupedAggregation(aggregation: Aggregation): Boolean = {
    val eligible = residualFilters.isEmpty &&
      limit.isEmpty && offset.isEmpty && topN.isEmpty &&
      !options.contains("collections") && !options.contains("limit")
    if (!eligible) return false
    // group keys and aggregate inputs may be NESTED subfields: the
    // resolver walks the nested StructType and composes the dotted doc
    // path; the reader's projected decode (Proj trie) then materializes
    // ONLY those subpaths. Zero aggregates + >=1 group key = SELECT
    // DISTINCT (each split emits its distinct keys as partial rows).
    GroupAggParse.parse(aggregation, cols.resolve,
      r => GroupKeyTypes.contains(r.dataType),
      r => GroupMinMaxTypes.contains(r.dataType)) match {
      case Some(p) =>
        groupedAgg = Some(FileGroupedAgg(
          p.groupCols.map(r => (r.docPath, r.dataType)),
          p.inputRefs.map(r => r.docPath -> r.dataType).toMap,
          p.items))
        true
      case None => false
    }
  }

  /** Spark-type domains where the fold in [[AggPartitionReader]] is
    * exactly Spark's own Min/Max ordering (TypeUtils interpreted ordering).
    */
  private val AggPushTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, DoubleType, FloatType, StringType, DateType)
  }

  /** Group-key types: grouping is by the READ value, so any readable
    * atomic equality works; FloatType is absent because RowCodec has no
    * BSON→Float read at all. */
  private val GroupKeyTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(StringType, IntegerType, LongType, DoubleType, BooleanType,
      TimestampType, DateType)
  }

  /** Grouped MIN/MAX types: folded under Spark's interpreted ordering of
    * read values — exact for every readable atomic type. */
  private val GroupMinMaxTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, DoubleType, StringType, BooleanType,
      TimestampType, DateType)
  }

  override def build(): Scan = {
    // AND-compose with the option-level query (mongo.input.query analog;
    // $and composition semantics of HiveMongoInputFormat.java:104-123)
    // dialect gates (r16): this transport evaluates option-level queries
    // CLIENT-side, so a $regex outside the PCRE∩Java common subset and
    // the numeric-segment null edge refuse loudly unless their options
    // opt into the engine dialect (graft.query.Dialect) — a live-server
    // scan instead ships them verbatim, server-authoritative
    val regexMode = options.getOrElse(RegexDialect.OptionKey, "portable")
    def gated(q: BQuery): BQuery = {
      NumericNullEdge.check(q, options.get(NumericNullEdge.OptionKey))
      RegexDialect.forTransport(q, regexMode, serverTransport = false)
    }
    options.get("collections").foreach(json =>
      MultiCollections.parse(json).foreach(c => gated(c.query)))
    val optionQuery =
      options.get("query").map(j => gated(BQueryJson.parse(j))).getOrElse(BQuery.True)
    // option-level PER-PARTITION limit (mongo.input.limit analog — a
    // cursor limit per split, explicitly not a global row bound; compose
    // with Spark's own .limit for the global semantic)
    val optionLimit = options.get("limit").map(_.toInt)
    val effLimit = (limit ++ optionLimit ++ topN.map(_._2)).reduceOption(math.min)
    // pre-unwind PARENT pruning under a non-outer unwind
    val unwindPrune = PushRules.unwindPrune(unwind.filterNot(_.outer).map(_.path),
      options.get("unwind_element"), tableSchema, unwindPost)
    new GraftScan(required,
      BQuery.and(BQuery.and(optionQuery, pushedQuery), unwindPrune),
      options, effLimit, mapping,
      offset, aggPushed, topNSort = topN.map(_._1),
      grouped = groupedAgg, sample = sample, unwind = unwind,
      unwindPost = unwindPost,
      tailsPostUnwind = unwind.isDefined &&
        (limit.isDefined || topN.isDefined || offset.isDefined),
      // the `_file` metadata column is live only when requested AND not
      // shadowed by a data column of the same name (Spark's rule)
      fileMeta = required.fieldNames.contains(GraftBsonSource.FileMetaCol) &&
        !tableSchema.fieldNames.contains(GraftBsonSource.FileMetaCol))
  }
}

object MultiCollections {
  /** One collection of a multi-collection scan, with optional per-entry
    * overrides of the scan-level planning options — the
    * MultiCollectionSplitBuilder surface (per-entry splitter class,
    * query, fields, limit, notimeout;
    * core/.../splitter/MultiCollectionSplitBuilder.java:1-148).
    */
  final case class CollectionConf(path: String, query: BQuery,
      splitter: Option[String] = None, splitSize: Option[Long] = None,
      key: Option[String] = None, minDocs: Option[Long] = None,
      filterEmpty: Option[Boolean] = None, limit: Option[Int] = None,
      sort: Option[String] = None)

  /** Parse [{"path": "...", "query": {...}?, "splitter": "..."?,
    * "split_size": n?, "key": "..."?, "min_docs": n?, "filter_empty": b?,
    * "limit": n?, "sort": "..."?}, ...].
    */
  def parse(json: String): Seq[CollectionConf] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json).asInstanceOf[JArray].arr.map { item =>
      val o = item.asInstanceOf[JObject]
      def str(k: String): Option[String] =
        o.obj.collectFirst { case (`k`, JString(v)) => v }
      def num(k: String): Option[Long] =
        o.obj.collectFirst { case (`k`, JInt(v)) => v.toLong
                             case (`k`, JLong(v)) => v }
      def bool(k: String): Option[Boolean] =
        o.obj.collectFirst { case (`k`, JBool(v)) => v }
      val path = str("path")
        .getOrElse(throw new IllegalArgumentException("collection entry needs a path"))
      val q = o.obj.collectFirst { case ("query", qo: JObject) =>
        BQueryJson.parse(JsonMethods.compact(JsonMethods.render(qo)))
      }.getOrElse(BQuery.True)
      CollectionConf(path, q,
        splitter = str("splitter"), splitSize = num("split_size"),
        key = str("key"), minDocs = num("min_docs"),
        filterEmpty = bool("filter_empty"),
        limit = num("limit").map(_.toInt), sort = str("sort"))
    }
  }
}

/** Option-level shard metadata: `chunks` = [{"min": v?, "max": v?,
  * "shard": "s"}] (missing bound = unbounded), `shard_hosts` =
  * {"shard": ["host", ...]}.
  */
object ShardMaps {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def bound(v: JValue): Option[graft.bson.BsonValue] = v match {
    case JNothing | JNull => None
    case JInt(x) if x.isValidInt => Some(graft.bson.BInt32(x.toInt))
    case JInt(x) => Some(graft.bson.BInt64(x.toLong))
    case JLong(x) => Some(graft.bson.BInt64(x))
    case JDouble(x) => Some(graft.bson.BDouble(x))
    case JString(x) => Some(graft.bson.BString(x))
    case other => throw new IllegalArgumentException(s"unsupported chunk bound $other")
  }

  def parseChunks(json: String): Seq[Planners.Chunk] =
    JsonMethods.parse(json).asInstanceOf[JArray].arr.map { item =>
      val o = item.asInstanceOf[JObject]
      Planners.Chunk(
        bound(o \ "min"), bound(o \ "max"),
        (o \ "shard") match {
          case JString(s) => s
          case _ => throw new IllegalArgumentException("chunk entry needs a shard")
        })
    }

  def parseHosts(json: String): Map[String, Seq[String]] =
    JsonMethods.parse(json).asInstanceOf[JObject].obj.map {
      case (shard, JArray(hosts)) =>
        shard -> hosts.map { case JString(h) => h; case other =>
          throw new IllegalArgumentException(s"bad host $other") }
      case (shard, other) =>
        throw new IllegalArgumentException(s"shard $shard hosts must be an array, got $other")
    }.toMap
}

/** V2 `Predicate` -> (column, IN values) for runtime (dynamic)
  * filtering. Only `IN` / `=` over one column with literal values are
  * used; anything else is ignored — pruning is an optimization, an
  * unparsed predicate just scans more. Literal conversion mirrors
  * [[graft.query.FilterTranslator.toBson]] over Catalyst INTERNAL values
  * (strings arrive as UTF8String, timestamps as microseconds).
  */
object RuntimeFilters {
  import org.apache.spark.sql.connector.expressions.{NamedReference, Literal => V2Literal}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  def parse(p: Predicate): Option[(String, Seq[BsonValue])] = {
    if (p.name() != "IN" && p.name() != "=") return None
    val kids = p.children()
    if (kids.length < 2) return None
    val col = kids.head match {
      case r: NamedReference => r.fieldNames().mkString(".")
      case _ => return None
    }
    val vs = kids.tail.toSeq.map {
      case l: V2Literal[_] => toBson(l)
      case _ => None
    }
    // one unconvertible value poisons the whole set: a partial IN-list
    // would prune partitions holding the missing value's rows
    if (vs.exists(_.isEmpty)) None else Some(col -> vs.flatten)
  }

  private def toBson(l: V2Literal[_]): Option[BsonValue] = {
    import org.apache.spark.sql.types._
    (l.dataType, l.value.asInstanceOf[Any]) match {
      case (_, null) => None
      case (StringType, v) => Some(BString(v.toString))
      case (IntegerType, v: java.lang.Integer) => Some(BInt32(v))
      case (LongType, v: java.lang.Long) => Some(BInt64(v))
      case (ShortType, v: java.lang.Short) => Some(BInt32(v.toInt))
      case (ByteType, v: java.lang.Byte) => Some(BInt32(v.toInt))
      case (DoubleType, v: java.lang.Double) => Some(BDouble(v))
      case (FloatType, v: java.lang.Float) => Some(BDouble(v.toDouble))
      case (BooleanType, v: java.lang.Boolean) => Some(BBool(v))
      // BDate stores whole milliseconds (translator parity: sub-ms
      // values are never pushed, so they never prune)
      case (TimestampType, v: java.lang.Long) =>
        if (v % 1000L == 0) Some(BDate(v / 1000L)) else None
      case _ => None
    }
  }
}

/** `$unwind` directive on a scan (r14, injected by the UnwindRelocate
  * rule when an explode() sits directly over the relation): emit one row
  * per element of the array at `path`; `element` names the element
  * COLUMN in the read schema (for the grouped-agg inner scan it IS the
  * doc path); `outer` = explode_outer (null/empty parents keep one
  * null-element row).
  */
final case class UnwindSpec(path: String, element: String, outer: Boolean,
    /** posexplode: the synthetic doc field the reader injects the element
      * INDEX into (`$unwind includeArrayIndex` analog) — the pos column
      * reads it through its `column_mapping` entry. Missing (→ null) for
      * null/empty/non-array parents, mongo's rule. */
    posField: Option[String] = None,
    /** MAP explode (r15): the reader injects one `__graft_kv = {k, v}`
      * entry doc per field of the subdocument at `path`; key/value
      * columns read it through their `column_mapping` entries. A
      * non-document value at the path throws (the `$objectToArray`
      * fail-loud rule). */
    mapKv: Boolean = false)

object ColumnMapping {
  /** Parse {"sparkCol": "doc.field", ...}. */
  def parse(json: String): Map[String, String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json).asInstanceOf[JObject].obj.map {
      case (k, JString(v)) => k -> v
      case (k, other) => throw new IllegalArgumentException(
        s"column_mapping value for $k must be a string, got $other")
    }.toMap
  }
}

final class GraftScan(requiredSchema: StructType, query: BQuery,
    options: Map[String, String], limit: Option[Int] = None,
    mapping: Map[String, String] = Map.empty,
    offset: Option[Int] = None,
    pushedAgg: Option[Seq[AggPush]] = None,
    topNSort: Option[Seq[(String, Boolean, org.apache.spark.sql.types.DataType)]] = None,
    grouped: Option[FileGroupedAgg] = None,
    sample: Option[SamplePush] = None,
    unwind: Option[UnwindSpec] = None,
    unwindPost: BQuery = BQuery.True,
    /** Pushed limit/top-n/offset count UNWOUND rows: the reader's tail
      * stage runs post-unwind (an option-level PARENT-scoped cursor
      * limit keeps its pre-unwind semantics when this is false). */
    tailsPostUnwind: Boolean = false,
    fileMeta: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportOrdering with SupportsRuntimeV2Filtering {

  /** Runtime IN-sets from Spark's dynamic filtering (join-key values
    * observed on the other side at execution time), keyed by DOC field.
    * Used at plan level only — shard routing and key-range partition
    * pruning plus a row-level `$in` — all safe under the runtime-filter
    * contract (rows the filter would drop are dropped by the join anyway,
    * and pruning uses [[Planners.rangeMayHoldReadEq]], which never drops
    * a partition that could hold a matching row). The reference has no
    * analog — its filter-aware splits are static; this is the DSv2 form
    * of re-planning them under the join's observed keys.
    */
  @volatile private var runtimeIn: Map[String, Seq[BsonValue]] = Map.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a pushed limit/offset counts rows of the UNFILTERED stream — any
    // runtime narrowing under it would change which rows it keeps
    if (pushedAgg.isDefined || grouped.isDefined ||
        options.contains("collections") ||
        limit.isDefined || offset.isDefined) Array.empty
    else Seq(options.getOrElse("key", "_id"), "_id").distinct
      // never advertise a COMPUTED column (r17): the runtime values
      // would drive key-range planning / query narrowing over STORED
      // docs, where the synthetic field does not exist
      .filterNot(k => computedCols.exists(_.out == k))
      .flatMap(PushRules.sparkColFor(mapping, _))
      .filter(readSchema().fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  // keyed by doc field (the column_mapping analog of the pushed filter
  // translator)
  override def filter(predicates: Array[Predicate]): Unit =
    runtimeIn = PushRules.runtimeIn(predicates, col => mapping.getOrElse(col, col))

  /** Structured Streaming entry: new dump FILES landing under `path`
    * stream in as micro-batches ([[GraftBsonMicroBatchStream]]). Pushed
    * filters ride each batch's split readers; row-count-bearing
    * pushdowns and multi-collection mode refuse.
    */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(pushedAgg.isEmpty && grouped.isEmpty && topNSort.isEmpty &&
      limit.isEmpty && offset.isEmpty && sample.isEmpty && unwind.isEmpty &&
      !options.contains("collections"),
      "graftbson streaming read cannot carry limit/offset/top-n/aggregate/" +
        "sample/unwind pushdowns or multi-collection mode")
    // COMPUTED columns (r17): no injection seam in the streaming
    // reader — refuse loudly rather than stream an all-null column
    require(computedCols.isEmpty,
      "graftbson streaming read does not support computed_columns")
    new GraftBsonMicroBatchStream(requiredSchema, query, options, mapping)
  }

  override def readSchema(): StructType =
    PushRules.readSchema(grouped, pushedAgg, requiredSchema)
  override def toBatch: Batch = this

  /** Report the per-partition cursor sort (`sort` option) to Catalyst so
    * a downstream `sortWithinPartitions` on the same key is elided —
    * SupportsReportOrdering's contract is exactly the reference's
    * per-split cursor.sort guarantee (order within a partition, not
    * global). Only reported when the sort key survives projection under
    * its SPARK column name (column_mapping may rename it) — the reader
    * sorts ascending with BSON null-first semantics, Spark's ASC
    * NULLS_FIRST.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    options.get("sort") match {
      // a pushed aggregate replaces the scan output with the agg schema
      // (count(*)/min/max or group+agg columns) — reporting the sort
      // column would hand Spark a SortOrder it cannot resolve against
      // this scan
      case Some(_) if pushedAgg.isDefined || grouped.isDefined => Array.empty
      // multi-collection entries may override sort per entry — a single
      // scan-level ordering claim would be wrong for those partitions
      // under a pushed unwind, a sort keyed at (or under) the unwound
      // path resolves to the ELEMENT column, whose per-element values do
      // not carry the parent-cursor order — no claim
      case Some(docKey) if unwind.exists(u =>
          docKey == u.path || docKey.startsWith(u.path + ".")) => Array.empty
      case Some(docKey) if !options.contains("collections") =>
        PushRules.sparkColFor(mapping, docKey) match {
          case Some(c) if requiredSchema.fieldNames.contains(c) =>
            Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          case _ => Array.empty
        }
      case _ => Array.empty
    }

  override def description(): String =
    s"GraftScan PushedQuery: $query, ReadSchema: ${readSchema().simpleString}" +
      (if (computedCols.isEmpty) ""
       else s", PushedComputed: [${computedCols.map(_.describe).mkString(", ")}]") +
      pushedAgg.map(a => s", PushedAggregates: [${a.mkString(", ")}]").getOrElse("") +
      grouped.map(g => s", PushedGroupedAggregate: $g").getOrElse("") +
      sample.map(sp => s", PushedSample: $sp").getOrElse("") +
      topNSort.map { spec =>
        val order = spec.map { case (k, desc, _) =>
          s"$k ${if (desc) "DESC" else "ASC"}" }.mkString(", ")
        s", PushedTopN: $order LIMIT ${limit.getOrElse(-1)}" }.getOrElse("") +
      unwind.map(u => s", PushedUnwind: ${u.path}" +
        (if (u.mapKv) " MAP" else "") +
        (if (u.outer) " OUTER" else "") +
        (if (unwindPost == BQuery.True) ""
         else s" PostUnwindMatch: $unwindPost")).getOrElse("")

  /** Size estimate from the data files so Catalyst can pick broadcast
    * joins for small collections (the stats role collstats plays in the
    * reference's planning, MongoSplitterFactory.java:66-83). A pushed
    * sample scales the estimate by its window — the sampled side of a
    * join should look as small as it is.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes: Long = {
      val raw = allFiles.map(f => Files.size(Paths.get(f))).sum
      sample.map(sp => (raw * math.max(sp.upper - sp.lower, 0.0)).toLong)
        .getOrElse(raw)
    }
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  private def allFiles: Seq[String] = options.get("collections") match {
    case Some(json) => MultiCollections.parse(json).flatMap(c => GraftBsonSource.dataFiles(c.path))
    case None => options.get("path").map(GraftBsonSource.dataFiles).getOrElse(Seq.empty)
  }

  /** Per-PARTITION cursor-sort key (`sort` option) — cursor.sort parity
    * with the reference (MongoInputSplit.java:281) — NOT a global order
    * across partitions, exactly as in the reference; use Spark's orderBy
    * for that. A pushed TopN rides its own [[GraftInputPartition
    * .topNSpec]] channel instead (the two are mutually exclusive:
    * pushTopN refuses when a `sort` option is set).
    */
  private val sortKey: Option[String] = options.get("sort")

  /** DERIVED columns (r17) — injected by every partition's reader. */
  private val computedCols: Seq[graft.query.ComputedCol] =
    graft.query.ComputedCol.fromOptions(options)

  /** Plan one collection's partitions under a given strategy — shared by
    * the single-collection path and each entry of multi-collection mode
    * (which may override the strategy per collection, matching
    * MultiCollectionSplitBuilder's per-entry splitter/options,
    * core/.../splitter/MultiCollectionSplitBuilder.java:1-148).
    */
  private def planCollection(files: Seq[String], strategy: String,
      splitSize: Long, key: String, minDocs: Long, filterEmpty: Boolean,
      q: BQuery, lim: Option[Int], sort: Option[String],
      off: Option[Int],
      runtimeKeyValues: Option[Seq[BsonValue]] = None): Seq[InputPartition] = {
    strategy match {
    case "bytes" =>
      files.flatMap { f =>
        BsonFiles.planByteSplits(f, splitSize).map { case (s, e) =>
          GraftInputPartition(f, s, e, q, lim, mapping, sort,
            topNSpec = topNSort, sample = sample,
            unwind = unwind, unwindPost = unwindPost,
            tailsPostUnwind = tailsPostUnwind,
            computed = computedCols): InputPartition
        }
      }
    case "single" =>
      files.map(f =>
        GraftInputPartition(f, 0L, Long.MaxValue, q, lim, mapping, sort,
          offset = off, topNSpec = topNSort, sample = sample,
          unwind = unwind, unwindPost = unwindPost,
          tailsPostUnwind = tailsPostUnwind,
          computed = computedCols): InputPartition)
    case other =>
      // key-range strategies via the pure planners + file-backed stats;
      // chunk/shard maps arrive as option-level JSON (the config.chunks /
      // shard-host metadata a live deployment would read from the server,
      // MongoSplitterFactory.java:54-129)
      val chunks = options.get("chunks").map(ShardMaps.parseChunks).getOrElse(Seq.empty)
      val shardHosts = options.get("shard_hosts").map(ShardMaps.parseHosts).getOrElse(Map.empty)
      files.flatMap { f =>
        val stats = new FileStats(f, key)
        Planners.plan(stats, key, other, q,
          chunks = chunks, shardHosts = shardHosts,
          targetSplitBytes = splitSize, minDocs = minDocs,
          filterEmpty = filterEmpty, runtimeKeyValues = runtimeKeyValues)
          .map { case (pq, locs) =>
            GraftInputPartition(f, 0L, Long.MaxValue, pq, lim, mapping, sort,
              locations = locs, topNSpec = topNSort,
              sample = sample, unwind = unwind,
              unwindPost = unwindPost,
              tailsPostUnwind = tailsPostUnwind,
              computed = computedCols): InputPartition
          }
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    grouped match {
      case Some(g) =>
        // grouped partials per BYTE-SPLIT (the same parallelism a row
        // scan gets — a grouped aggregate over one huge file must not
        // serialize into one task); each split folds its rows into
        // per-group partial rows over a projected decode
        val files = GraftBsonSource.dataFiles(options.getOrElse("path",
          throw new IllegalArgumentException("path option required")))
        val splitSize = options.get("split_size").map(_.toLong)
          .getOrElse(8L * 1024 * 1024)
        val parts = files.flatMap(f =>
          BsonFiles.planByteSplits(f, splitSize).map { case (s, e) =>
            GroupedAggPartition(f, s, e, query, g, mapping,
              sample, unwind, unwindPost,
              computed = computedCols): InputPartition
          })
        return (
          if (parts.nonEmpty || g.groupCols.nonEmpty) parts.toArray
          // empty collection + GLOBAL aggregate: one sentinel partition
          // so the final fold sees a count-0 partial, not zero rows
          // (the q58 zero-partition COUNT lesson)
          else Array(GroupedAggPartition("", 0L, 0L, query, g,
            mapping, sample, computed = computedCols): InputPartition))
      case None => ()
    }
    pushedAgg match {
      case Some(items) =>
        // one partial-aggregate row per data file; bodies only read when a
        // MIN/MAX needs the projected field
        val files = GraftBsonSource.dataFiles(options.getOrElse("path",
          throw new IllegalArgumentException("path option required")))
        if (files.isEmpty)
          // an EMPTY collection must still yield ONE partial row
          // (count 0, min/max NULL): with zero partitions Spark's final
          // fold sums an empty input and COUNT(*) would come back NULL
          // instead of 0 (found by the r11 all-tables empty twin)
          return Array(AggInputPartition("", items, mapping))
        return files.map(f => AggInputPartition(f, items, mapping): InputPartition).toArray
      case None => ()
    }
    val defStrategy = options.getOrElse("splitter", "bytes")
    val defSplitSize = options.get("split_size").map(_.toLong).getOrElse(8L * 1024 * 1024)
    val defKey = options.getOrElse("key", "_id")
    val defMinDocs = options.get("min_docs").map(_.toLong).getOrElse(1000L)
    val defFilterEmpty = options.get("filter_empty").exists(_.toBoolean)
    // multi-collection mode: per-collection configs, each planned
    // independently with its own splitter/options (falling back to the
    // scan-level defaults) then unioned (MultiMongoCollectionSplitter
    // .calculateSplits:47-141 / MultiCollectionSplitBuilder semantics)
    options.get("collections") match {
      case Some(json) =>
        MultiCollections.parse(json).flatMap { c =>
          planCollection(
            GraftBsonSource.dataFiles(c.path),
            c.splitter.getOrElse(defStrategy),
            c.splitSize.getOrElse(defSplitSize),
            c.key.getOrElse(defKey),
            c.minDocs.getOrElse(defMinDocs),
            c.filterEmpty.getOrElse(defFilterEmpty),
            BQuery.and(query, c.query),
            c.limit.orElse(limit),
            c.sort.orElse(sortKey),
            off = None)
        }.toArray
      case None =>
        val rawPath = options.getOrElse("path",
          throw new IllegalArgumentException("path option required"))
        val files = GraftBsonSource.dataFiles(rawPath)
        // belt-and-suspenders with filterAttributes: never let a runtime
        // filter narrow a scan that carries a pushed limit/offset
        val rt = if (limit.isDefined || offset.isDefined) Map.empty[String, Seq[BsonValue]]
          else runtimeIn
        // mongos-parity query routing: a pushed `_id` equality — or a
        // runtime `_id` IN-set from dynamic filtering — can only match
        // inside the owning shards (ShardRouting co-locates every
        // cross-width equal value; a hex string also probes its ObjectId
        // representation, which reads as the same Spark string), so the
        // scan plans exactly those shard files instead of all of them —
        // the read-side mirror of the write path's model routing
        val routed = {
          val dir = GraftBsonSource.normalizePath(rawPath)
          val nShards =
            if (Files.isDirectory(Paths.get(dir)))
              new graft.store.BsonCollection(dir).shardCount
            else 1
          if (nShards <= 1) files
          else {
            // every stored _id a point value could equal: a read-semantics
            // string probes all string-reading storages (BSON forbids a
            // regex _id, so the probe set is complete); a typed Mongo
            // string also matches symbol storage (same bracket)
            def probesOf(v: BsonValue): Seq[BsonValue] = v match {
              case BString(s) => BQuery.readEqProbes(s)
              case other => Seq(other)
            }
            def owners(probes: Seq[BsonValue]): Set[String] =
              probes.map(p => graft.store.BsonCollection.shardPath(dir, nShards,
                graft.store.ShardRouting.idShard(p, nShards)).toString).toSet
            val eqOwned = graft.store.BsonCollection.idEquality(query)
              .map(v => owners(probesOf(v)))
              .orElse(graft.store.BsonCollection.idReadEquality(query)
                .map(v => owners(probesOf(v))))
            val rtOwned = rt.get("_id").map(vs => vs.flatMap(probesOf))
              .map(owners)
            Seq(eqOwned, rtOwned).flatten
              .foldLeft(files)((fs, owned) => fs.filter(owned))
          }
        }
        // row-level runtime narrowing: the IN-set joins AND-composed into
        // the per-partition query (rows it drops are exactly the rows the
        // join above would drop); the split-key values additionally prune
        // whole key-range partitions inside Planners.plan. String values
        // use Spark-read semantics (the join compares READ values)
        val rtQuery = rt.foldLeft(BQuery.True: BQuery) { case (acc, (f, vs)) =>
          BQuery.and(acc, PushRules.runtimeInQuery(f, vs))
        }
        planCollection(routed, defStrategy, defSplitSize, defKey, defMinDocs,
          defFilterEmpty, BQuery.and(query, rtQuery), limit, sortKey, offset,
          runtimeKeyValues = rt.get(defKey)).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(requiredSchema, fileMeta)
}

final case class AggInputPartition(path: String, items: Seq[AggPush],
    mapping: Map[String, String]) extends InputPartition

/** One partial-aggregate row per file. COUNT(*)-only pushes touch zero
  * document bytes (side-file / header-walk count via [[FileStats]]); a
  * MIN/MAX makes one projected single-field pass through the existing
  * reader so null handling and value decoding are byte-identical to a
  * row scan, with the fold running under Spark's own interpreted
  * ordering for the column type.
  */
final class AggPartitionReader(p: AggInputPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.types._

  private var done = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    val scanCols: Seq[(String, DataType)] = p.items.collect {
      case AggPush.MinOf(c, t) => (c, t)
      case AggPush.MaxOf(c, t) => (c, t)
    }.distinct
    val values: Seq[Any] =
      if (p.path.isEmpty) {
        // the empty-collection sentinel partition: zero docs, so COUNT
        // folds to 0 and MIN/MAX to NULL
        p.items.map {
          case AggPush.RowCount => 0L: Any
          case _ => null
        }
      } else if (scanCols.isEmpty) {
        val n = new FileStats(p.path, "_id").count
        p.items.map(_ => n)
      } else {
        val schema = StructType(scanCols.map { case (c, t) => StructField(c, t) })
        val idx = scanCols.map(_._1).zipWithIndex.toMap
        val ords = scanCols.map { case (_, t) =>
          org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t)
        }
        val mins = Array.fill[Any](scanCols.size)(null)
        val maxs = Array.fill[Any](scanCols.size)(null)
        var n = 0L
        val reader = new GraftPartitionReader(
          // scan columns are doc paths (builder-composed) — identity
          // entries route each through getPath (dotted subfields decode
          // just their subpath)
          GraftInputPartition(p.path, 0L, Long.MaxValue, BQuery.True,
            mapping = scanCols.map(c => c._1 -> c._1).toMap), schema)
        try {
          while (reader.next()) {
            val r = reader.get()
            n += 1
            var i = 0
            while (i < scanCols.size) {
              if (!r.isNullAt(i)) {
                val v = r.get(i, scanCols(i)._2) match {
                  // copy unsafe-backed values that outlive the iteration
                  case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
                  case other => other
                }
                if (mins(i) == null || ords(i).compare(v, mins(i)) < 0) mins(i) = v
                if (maxs(i) == null || ords(i).compare(v, maxs(i)) > 0) maxs(i) = v
              }
              i += 1
            }
          }
        } finally reader.close()
        p.items.map {
          case AggPush.RowCount => n
          case AggPush.MinOf(c, _) => mins(idx(c))
          case AggPush.MaxOf(c, _) => maxs(idx(c))
        }
      }
    row = InternalRow.fromSeq(values)
    done = true
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}

/** File-backed [[Planners.CollectionStats]] with BOUNDED planning IO — the
  * driver must never materialize the collection to plan it (the reference's
  * planners issue O(#splits) server commands: splitVector / $sample /
  * collstats, not a full scan). Sources of cheap truth, in order:
  *
  *  - the `.splits` side file (doc-boundary offsets every 64 docs) gives
  *    count and sample positions at zero data IO;
  *  - without it, one header-only walk reads 4 bytes per doc (seeking over
  *    bodies), still a tiny fraction of the file;
  *  - `sampleKeys` decodes exactly n docs at evenly spaced boundaries
  *    (projected to the key field) — the $sample stand-in.
  *
  * Only the paginating strategy's `keyAtSkip`/`hasAny` probes stream the
  * file (projected decode, no materialization) — the same cost class as the
  * reference's skip-probe queries, which also walk matching docs server-side.
  * `bytesTouched` accounts all planning IO so tests can bound it.
  */
object FileStats {
  /** Planner-memory bound for the paginating splitter's sorted key set
    * (~10M keys x ~16 B = a few hundred MB worst case). Beyond it the
    * probe fails loudly with a pointer at the O(1)-memory splitters.
    */
  val MaxPlannerKeys: Int = 10 * 1000 * 1000
}

final class FileStats(path: String, key: String) extends Planners.CollectionStats {
  private val fileLen = Files.size(Paths.get(path))
  private val compressed = BsonFiles.isCompressed(path)

  private var _bytesTouched = 0L
  /** Total bytes of the data file this provider actually read. */
  def bytesTouched: Long = _bytesTouched

  /** (stride, doc-start offsets of every stride-th doc). The side file's
    * stride is not recorded in it, so it is DERIVED by header-walking the
    * first segment (bounded: exactly stride headers) — a writer using a
    * non-default splitsEvery must not silently halve/double the count.
    */
  private lazy val bounds: (Int, Vector[Long]) =
    BsonFiles.readSplitsFile(path) match {
      case Some(offs) if offs.size >= 2 =>
        val stride = countDocsBetween(offs(0), offs(1))
        (stride, offs)
      case Some(offs) if offs.nonEmpty => (64, offs) // single segment: walk covers it
      case _ => (1, headerWalk(0L, Long.MaxValue))
    }

  /** Number of docs in [from, to) by header walk (4 bytes per doc).
    * Buffered skim (read 4-byte length, skip payload) — the former
    * per-document seek+read pair cost two syscalls per doc; the
    * `_bytesTouched` accounting (4 logical bytes per header) is
    * unchanged, so planning-IO gates still see the same number. */
  private def countDocsBetween(from: Long, to: Long): Int = {
    val fin = new java.io.FileInputStream(path)
    try {
      fin.getChannel.position(from)
      val in = new java.io.BufferedInputStream(fin, 1 << 20)
      val lenBuf = new Array[Byte](4)
      var pos = from
      var n = 0
      while (pos < to) {
        if (in.readNBytes(lenBuf, 0, 4) < 4)
          throw new IllegalStateException(s"corrupt BSON doc header at $pos in $path")
        _bytesTouched += 4
        val len = (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) |
          ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
        require(len >= BsonFiles.MinDocSize && len <= BsonFiles.MaxDocSize &&
          pos + len <= fileLen,
          s"corrupt BSON doc header at $pos in $path (len=$len)")
        in.skipNBytes(len - 4)
        pos += len
        n += 1
      }
      n
    } finally fin.close()
  }

  /** Doc-start offsets from `from`, reading ONLY the 4-byte length
    * headers — buffered skim like [[countDocsBetween]]. */
  private def headerWalk(from: Long, maxDocs: Long): Vector[Long] = {
    val out = Vector.newBuilder[Long]
    val fin = new java.io.FileInputStream(path)
    try {
      fin.getChannel.position(from)
      val in = new java.io.BufferedInputStream(fin, 1 << 20)
      val lenBuf = new Array[Byte](4)
      var pos = from
      var n = 0L
      while (pos < fileLen && n < maxDocs) {
        if (in.readNBytes(lenBuf, 0, 4) < 4)
          throw new IllegalStateException(s"corrupt BSON doc header at $pos in $path")
        _bytesTouched += 4
        out += pos
        val len = (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) |
          ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
        // same validation as BsonFiles.walkToBoundary — a stale side file
        // landing mid-document must fail, not hang on len == 0
        require(len >= BsonFiles.MinDocSize && len <= BsonFiles.MaxDocSize &&
          pos + len <= fileLen,
          s"corrupt BSON doc header at $pos in $path (len=$len)")
        in.skipNBytes(len - 4)
        pos += len
        n += 1
      }
    } finally fin.close()
    out.result()
  }

  override lazy val count: Long =
    if (compressed) { // no random access into gzip: one streaming pass
      _bytesTouched += fileLen
      val it = BsonFiles.readAll(path)
      try it.size.toLong finally it.close()
    } else bounds match {
      case (1, offs) => offs.size.toLong
      case (stride, offs) =>
        (offs.size - 1).toLong * stride + headerWalk(offs.last, Long.MaxValue).size
    }

  override def avgObjSizeBytes: Long =
    if (count == 0) 0L else math.max(1L, fileLen / count)

  override def sampleKeys(n: Int): Seq[BsonValue] =
    if (n <= 0 || count == 0) Seq.empty
    else if (compressed) {
      val all = streamKeys(BQuery.True).sorted(BsonOrdering)
      val step = math.max(1, all.size / n)
      all.grouped(step).map(_.head).take(n).toSeq
    } else {
      val (_, offs) = bounds
      val step = math.max(1, offs.size / n)
      val picks = offs.grouped(step).map(_.head).take(n)
      val raf = new java.io.RandomAccessFile(path, "r")
      val keyHead = key.split('.').head
      try {
        picks.flatMap { pos =>
          raf.seek(pos)
          val lenBuf = new Array[Byte](4)
          raf.readFully(lenBuf)
          val len = java.nio.ByteBuffer.wrap(lenBuf)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
          val bytes = new Array[Byte](len)
          raf.seek(pos)
          raf.readFully(bytes)
          _bytesTouched += len + 4
          BsonCodec.readDocProjected(
            java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN),
            BsonCodec.Proj.fromPaths(Seq(key))).getPath(key)
        }.toVector.sorted(BsonOrdering)
      } finally raf.close()
    }

  /** Streaming projected key scan (paginating/pruning probes only). */
  private def streamKeys(query: BQuery): Vector[BsonValue] = {
    _bytesTouched += fileLen
    val fields = Some(Set(key.split('.').head) ++ BQuery.fieldHeads(query))
    val it = BsonFiles.readRange(path, 0L, Long.MaxValue, fields)
    try it.filter(query.matches).flatMap(_.getPath(key)).toVector
    finally it.close()
  }

  // the paginating splitter probes keyAtSkip O(#splits) times with the
  // SAME query — one scan+sort serves every probe
  private var sortedKeysCache: Option[(BQuery, Vector[BsonValue])] = None

  override def keyAtSkip(query: BQuery, skip: Long): Option[BsonValue] = {
    val matching = sortedKeysCache match {
      case Some((q, ks)) if q == query => ks
      case _ =>
        val ks = streamKeys(query).sorted(BsonOrdering)
        // the reference's paginating probes run server-side on an index;
        // here the sorted key set sits in planner memory. Fail LOUDLY at
        // the documented bound instead of creeping toward a planner OOM —
        // above it, size/sample splitters plan the same file in O(1).
        if (ks.size > FileStats.MaxPlannerKeys)
          throw new IllegalStateException(
            s"paginating splitter needs ${ks.size} in-memory keys for $path " +
              s"(bound ${FileStats.MaxPlannerKeys}); use splitter=size or " +
              "splitter=sample for collections this large")
        sortedKeysCache = Some((query, ks))
        ks
    }
    if (skip < matching.size) Some(matching(skip.toInt)) else None
  }

  override def hasAny(query: BQuery): Boolean = {
    val fields = Some(Set(key.split('.').head) ++ BQuery.fieldHeads(query))
    val it = BsonFiles.readRange(path, 0L, Long.MaxValue, fields)
    try it.exists(query.matches) finally it.close()
  }
}

final case class GraftInputPartition(path: String, start: Long, end: Long,
    query: BQuery, limit: Option[Int] = None,
    mapping: Map[String, String] = Map.empty,
    sortKey: Option[String] = None,
    locations: Seq[String] = Seq.empty,
    offset: Option[Int] = None,
    /** Set for a pushed TopN: (doc field, descending, read type) per
      * order key — select by the values AS SPARK READS them with a
      * limit-bounded selection buffer. */
    topNSpec: Option[Seq[(String, Boolean, org.apache.spark.sql.types.DataType)]] = None,
    /** Set for a pushed TABLESAMPLE: deterministic keyed Bernoulli,
      * applied right after the pushed query (commutes with it). */
    sample: Option[SamplePush] = None,
    /** Set for a pushed `$unwind`: one row per element of the array at
      * `unwind.path`, the element bound at the `unwind.element` column. */
    unwind: Option[UnwindSpec] = None,
    /** Accepted element-column filters, evaluated POST-unwind. */
    unwindPost: BQuery = BQuery.True,
    /** Pushed limit/top-n/offset count UNWOUND rows (tail stage runs
      * post-unwind); false = a PARENT-scoped option cursor limit. */
    tailsPostUnwind: Boolean = false,
    /** DERIVED columns (r17): injected into each doc right after the
      * pushed-query match — the file-transport mirror of the server's
      * `$set` position (query/sample/TopN on computed fields are
      * refused or residual at the builder, so the order is free). */
    computed: Seq[graft.query.ComputedCol] = Nil)
    extends InputPartition {
  /** Chunk/shard locality surfaced to Spark's scheduler (the reference's
    * MongoInputSplit.getLocations:125-131 / ShardChunkMongoSplitter:98-119).
    */
  override def preferredLocations(): Array[String] = locations.toArray
}

final class GraftReaderFactory(requiredSchema: StructType,
    fileMeta: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case a: AggInputPartition => new AggPartitionReader(a)
      case g: GroupedAggPartition => new GroupedAggPartitionReader(g)
      case p: GraftInputPartition =>
        new GraftPartitionReader(p, requiredSchema, fileMeta)
    }
}

/** One byte-split of a pushed grouped aggregation: path "" is the
  * empty-collection sentinel (GLOBAL aggregates only). */
final case class GroupedAggPartition(path: String, start: Long, end: Long,
    query: BQuery, grouped: FileGroupedAgg,
    mapping: Map[String, String],
    sample: Option[SamplePush] = None,
    unwind: Option[UnwindSpec] = None,
    unwindPost: BQuery = BQuery.True,
    computed: Seq[graft.query.ComputedCol] = Nil) extends InputPartition

/** Folds one byte-split's rows into per-group PARTIAL rows. The inner
  * row scan decodes ONLY the group-key and aggregate input columns
  * (everything else is byte-skipped by the projected decoder) and
  * evaluates the pushed/option query with the engine's exact
  * [[BQuery.matches]]. Memory is bounded: when the group map passes
  * [[GroupedAggPartitionReader.FlushGroups]] distinct groups, the
  * current partials are EMITTED and the map reset — correct under the
  * PARTIAL protocol (Spark re-groups and folds), so a high-cardinality
  * key degrades to more partial rows, never to an unbounded hash map.
  * MIN/MAX fold under Spark's own interpreted ordering of read values;
  * SUM uses an overflow-checked long for integer columns (ANSI
  * semantics) and IEEE double otherwise; a GLOBAL aggregation (no group
  * columns) seeds the empty group so an empty split still emits its
  * count-0 partial.
  */
final class GroupedAggPartitionReader(p: GroupedAggPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.types._
  import GroupedAggPartitionReader.FlushGroups

  private val g = p.grouped
  // inner scan schema: group columns, then the distinct aggregate input
  // columns not already among them (table types — the decode types)
  private val extraInputs: Seq[(String, DataType)] =
    g.inputTypes.toSeq.filterNot { case (c, _) => g.groupCols.exists(_._1 == c) }
      .sortBy(_._1)
  private val innerSchema = StructType(
    (g.groupCols ++ extraInputs).map { case (c, t) => StructField(c, t) })
  private val colIdx: Map[String, Int] =
    (g.groupCols ++ extraInputs).map(_._1).zipWithIndex.toMap
  private val colType: Map[String, DataType] =
    (g.groupCols ++ extraInputs).toMap

  private val inner: GraftPartitionReader =
    if (p.path.isEmpty) null
    else new GraftPartitionReader(
      // column names here ARE doc paths (the builder composed
      // column_mapping and nested subpaths already) — identity entries
      // make the decoder resolve each by getPath, so a dotted group key
      // decodes just its subfield through the Proj trie
      GraftInputPartition(p.path, p.start, p.end, p.query,
        mapping = innerSchema.fieldNames.map(c => c -> c).toMap,
        sample = p.sample,
        // inner columns ARE doc paths: the unwound element column is the
        // array path itself (post-unwind the path holds the element)
        unwind = p.unwind.map(u => u.copy(element = u.path)),
        unwindPost = p.unwindPost,
        computed = p.computed),
      innerSchema)

  private def cloned(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
    case other => other
  }

  // per-item fold state factory + updater
  private val orderings: Map[String, Ordering[Any]] =
    colType.map { case (c, t) =>
      c -> org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t)
        .asInstanceOf[Ordering[Any]]
    }

  private def newStates(): Array[Any] = g.items.map {
    case (GroupAgg.CountAll(_) | GroupAgg.CountCol(_, _), _) => 0L: Any
    case _ => null
  }.toArray

  private def absorb(states: Array[Any], r: InternalRow): Unit = {
    var i = 0
    while (i < g.items.length) {
      g.items(i)._1 match {
        case GroupAgg.CountAll(_) =>
          states(i) = states(i).asInstanceOf[Long] + 1L
        case GroupAgg.CountCol(c, _) =>
          if (!r.isNullAt(colIdx(c)))
            states(i) = states(i).asInstanceOf[Long] + 1L
        case GroupAgg.MinOf(c, _) =>
          val j = colIdx(c)
          if (!r.isNullAt(j)) {
            val v = cloned(r.get(j, colType(c)))
            if (states(i) == null || orderings(c).compare(v, states(i)) < 0)
              states(i) = v
          }
        case GroupAgg.MaxOf(c, _) =>
          val j = colIdx(c)
          if (!r.isNullAt(j)) {
            val v = cloned(r.get(j, colType(c)))
            if (states(i) == null || orderings(c).compare(v, states(i)) > 0)
              states(i) = v
          }
        case GroupAgg.SumOf(c, _) =>
          val j = colIdx(c)
          if (!r.isNullAt(j)) {
            if (g.items(i)._2 == LongType) {
              val v = colType(c) match {
                case IntegerType => r.getInt(j).toLong
                case _ => r.getLong(j)
              }
              states(i) =
                if (states(i) == null) v
                else Math.addExact(states(i).asInstanceOf[Long], v)
            } else {
              val v = r.getDouble(j)
              states(i) =
                if (states(i) == null) v
                else states(i).asInstanceOf[Double] + v
            }
          }
      }
      i += 1
    }
  }

  private var exhausted = p.path.isEmpty && g.groupCols.nonEmpty
  private var batch: Iterator[InternalRow] = Iterator.empty
  private var sentinelDone = false
  private var current: InternalRow = _

  /** Read inner rows into a fresh group map until the flush cap or EOF,
    * then emit the map as partial rows. */
  private def nextBatch(): Iterator[InternalRow] = {
    val map = scala.collection.mutable.LinkedHashMap.empty[Vector[Any], Array[Any]]
    if (g.groupCols.isEmpty && !sentinelDone) {
      // seed the global group: an empty split still emits count-0
      map.put(Vector.empty, newStates())
      sentinelDone = true
    }
    if (inner != null) {
      var go = true
      while (go && inner.next()) {
        val r = inner.get()
        val key = Vector.tabulate(g.groupCols.length)(i =>
          if (r.isNullAt(i)) null else cloned(r.get(i, g.groupCols(i)._2)))
        absorb(map.getOrElseUpdate(key, newStates()), r)
        if (map.size >= FlushGroups) go = false
      }
      if (go) exhausted = true
    } else exhausted = true
    map.iterator.map { case (key, states) =>
      InternalRow.fromSeq(key ++ states)
    }
  }

  override def next(): Boolean = {
    while (!batch.hasNext && !exhausted) batch = nextBatch()
    if (batch.hasNext) { current = batch.next(); true } else false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (inner != null) inner.close()
}

object GroupedAggPartitionReader {
  /** Distinct groups held in one split's map before a flush — bounds
    * reader memory independent of key cardinality (a flush just emits
    * more partial rows for Spark to fold). */
  val FlushGroups: Int = 1 << 17
}

final class GraftPartitionReader(p: GraftInputPartition,
    requiredSchema: StructType, fileMeta: Boolean = false)
    extends PartitionReader[InternalRow] {
  // `_file` provenance: decoded rows splice this partition's path in at
  // the requested position — constant per partition, one UTF8String
  private val fileIdx: Int =
    if (fileMeta) requiredSchema.fieldNames.indexOf(GraftBsonSource.FileMetaCol)
    else -1
  private val decodeSchema: StructType =
    if (fileIdx < 0) requiredSchema
    else StructType(requiredSchema.fields.patch(fileIdx, Nil, 1))
  private val fileValue: org.apache.spark.unsafe.types.UTF8String =
    if (fileIdx < 0) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(p.path)
  // projected decode: only required columns, remapped paths and query
  // fields are materialized; everything else is byte-skipped — at EVERY
  // document level (dotted paths prune subdocument interiors too: a
  // pruned nested schema or a dotted column_mapping decodes only the
  // subfields it names, [[graft.bson.BsonCodec.Proj]])
  private val needed: Set[String] =
    GraftPartitionReader.schemaPaths(decodeSchema, p.mapping) ++
      p.mapping.values ++
      BQuery.fieldPaths(p.query) ++
      p.sortKey ++
      p.topNSpec.toSeq.flatten.map(_._1) ++
      p.sample.map(_.key) ++
      p.unwind.map(_.path) ++
      BQuery.fieldPaths(p.unwindPost) ++
      // COMPUTED columns (r17): the SOURCE fields must decode (the
      // synthetic out names never exist in storage)
      p.computed.map(_.field)
  // keep the raw handle: with limit pushdown / early task kill the iterator
  // is never drained, so close() must release the file descriptor
  private val raw = BsonFiles.readRange(p.path, p.start, p.end, Some(needed))
  // pushed query first, then the deterministic sample window (the two
  // commute; sampling early keeps the heavier stages below — top-n
  // selection, grouped-agg folds — on the sampled stream only)
  private val matched0 = raw.filter(p.query.matches)
  // COMPUTED columns inject right after the pushed-query match (the
  // file-transport mirror of the server's `$set` position); sample keys
  // and TopN orders on computed fields are refused at the builder, so
  // the remaining stages see the derived fields like stored ones
  private val matched =
    if (p.computed.isEmpty) matched0
    else matched0.map(d => graft.query.ComputedCol.injectAll(p.computed, d))
  private val base = p.sample.map(sp => matched.filter(sp.keep)).getOrElse(matched)
  // per-PARTITION sort (the reference's cursor.sort semantics,
  // MongoInputSplit.java:281 — explicitly NOT a global order; use
  // Spark's own orderBy for that). A pushed TopN instead selects by the
  // READ value with a limit-bounded heap — BsonOrdering's cross-type
  // order would tie distinct longs above 2^53 (double-widened compare)
  // and mis-bracket date storage read as long, and a full sort would
  // materialize the partition when only `limit` rows survive.
  // option-level cursor sort: PARENT order (never set with a pushed
  // top-n — the builder refuses the combination)
  private val sortedParents: Iterator[BDoc] = p.sortKey match {
    case Some(key) if p.topNSpec.isEmpty =>
      base.toVector.sortBy(d => d.getPath(key).getOrElse(BNull))(BsonOrdering).iterator
    case _ => base
  }
  // option-level PARENT-scoped cursor limit keeps its pre-unwind
  // semantics; pushed tails run post-unwind instead (tailsPostUnwind)
  private val parents: Iterator[BDoc] =
    if (p.unwind.isDefined && !p.tailsPostUnwind)
      p.limit.map(sortedParents.take).getOrElse(sortedParents)
    else sortedParents
  // `$unwind` (r14): emit one doc per array element; element semantics
  // mirror the server's $unwind — null/missing/empty drop (or keep one
  // null-element row under OUTER), a non-array value passes unchanged
  private val unwoundDocs: Iterator[BDoc] = p.unwind match {
    case None => parents
    case Some(u) =>
      // posexplode: inject the element INDEX at u.posField — only for
      // real array elements (null/empty/non-array parents keep it
      // missing → a null pos, mongo's includeArrayIndex rule)
      def withPos(d: BDoc, i: Int): BDoc = u.posField match {
        case Some(f) => graft.query.Updates.setField(d, f, BInt32(i))
        case None => d
      }
      val unwound = parents.flatMap { d =>
        // MAP explode: the SHARED $objectToArray expansion (one kv
        // entry doc per subdocument field; key/value columns read
        // __graft_kv.k/.v via column_mapping); posexplode's entry index
        // injects int32 like this reader's array branch
        if (u.mapKv) graft.plans.UnwindRelocate.mapEntries(
          d, u.path, u.outer,
          (doc, i) => i.map(withPos(doc, _)).getOrElse(doc)).iterator
        else d.getPath(u.path) match {
          case Some(BArray(items)) if items.nonEmpty =>
            items.iterator.zipWithIndex.map { case (el, i) =>
              withPos(graft.query.Updates.setField(d, u.path, el), i) }
          case Some(BArray(_)) =>
            if (u.outer) Iterator.single(graft.query.Updates.setField(d, u.path, BNull))
            else Iterator.empty
          case Some(BNull) | None =>
            if (u.outer) Iterator.single(d) else Iterator.empty
          case Some(_) => Iterator.single(d)
        }
      }
      // POST-unwind $match: accepted element-column filters run on the
      // per-element docs (the path now holds the element)
      if (p.unwindPost == BQuery.True) unwound
      else unwound.filter(p.unwindPost.matches)
  }
  // pushed tail stage — top-n (READ-value bounded heap), then offset
  // (skip; single-partition plans only), then limit. Counts UNWOUND
  // rows when the unwind is pushed with tails, rows otherwise.
  private val docs: Iterator[BDoc] = {
    val t0 = p.topNSpec match {
      case Some(spec) =>
        GraftPartitionReader.topNSelect(unwoundDocs, spec,
          p.limit.getOrElse(Int.MaxValue))
      case None => unwoundDocs
    }
    val t1 = p.offset.map(t0.drop).getOrElse(t0)
    if (p.unwind.isEmpty || p.tailsPostUnwind)
      p.limit.map(t1.take).getOrElse(t1)
    else t1
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (docs.hasNext) {
      val base = RowCodec.toRow(docs.next(), decodeSchema, p.mapping)
      current =
        if (fileIdx < 0) base
        else {
          val vals = new Array[Any](requiredSchema.length)
          var i = 0
          var j = 0
          while (i < requiredSchema.length) {
            if (i == fileIdx) vals(i) = fileValue
            else { vals(i) = base.get(j, decodeSchema.fields(j).dataType); j += 1 }
            i += 1
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
        }
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = raw.close()
}

object GraftPartitionReader {
  import org.apache.spark.sql.types._

  /** The dotted doc paths a read schema needs: STRUCT columns contribute
    * their (possibly nested-pruned — Spark's nestedSchemaPruning trims
    * the inner StructType) leaf subpaths, so `SELECT meta.small` decodes
    * only that subfield and byte-skips `meta.big`; arrays, maps and
    * scalars keep their whole subtree. `column_mapping` renames the root
    * to its document home.
    */
  private[source] def schemaPaths(schema: StructType,
      mapping: Map[String, String]): Set[String] = {
    def leaves(prefix: String, dt: DataType): Seq[String] = dt match {
      case st: StructType if st.fields.nonEmpty =>
        st.fields.toSeq.flatMap(f => leaves(prefix + "." + f.name, f.dataType))
      case _ => Seq(prefix)
    }
    schema.fields.toSeq.flatMap { f =>
      leaves(mapping.getOrElse(f.name, f.name), f.dataType)
    }.toSet
  }

  /** The sort key AS SPARK READS the stored value (mirrors RowCodec's
    * conversions for the TopN-eligible types); None sorts first (ASC
    * NULLS FIRST). Storage RowCodec would reject throws here too — the
    * read was going to fail on the same doc anyway.
    */
  private def readKey(v: BsonValue, dt: DataType): Any = (dt: @unchecked) match {
    case DoubleType => v match {
      case BInt32(x) => x.toDouble
      case BInt64(x) => x.toDouble
      case BDouble(x) => x
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
    case IntegerType | LongType => v match {
      case BInt32(x) => x.toLong
      case BInt64(x) if dt == LongType => x
      case BDate(ms) if dt == LongType => ms
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
    case TimestampType => v match {
      case BDate(ms) => ms * 1000L
      case BTimestamp(s, _) => s.toLong * 1000000L
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
    case BooleanType => v match {
      case BBool(b) => if (b) 1L else 0L
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
    case DateType => v match {
      case BDate(ms) => Math.floorDiv(ms, 86400000L) // epoch days, as long
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
    case StringType => v match {
      // uniform storage (the string-key admission gate): engine writes
      // store strings as BString only — any other bracket fails loud
      case BString(s) => s
      case other => throw new IllegalArgumentException(
        s"cannot read BSON $other as Spark type $dt")
    }
  }

  /** CODE-POINT string comparison — exactly Spark's UTF8String (UTF-8
    * byte) order, NOT Java's UTF-16 unit order: the two differ when a
    * supplementary character (a surrogate pair, units 0xD800–0xDFFF)
    * meets a char in [0xE000, 0xFFFF]. At the first differing unit,
    * when both units are ≥ 0xD800 the standard rank fix (surrogates
    * +0x2000, [0xE000,0xFFFF] −0x800) restores code-point order; any
    * other pair already agrees. Makes the file transport's pushed
    * string TOP-N Spark-exact for ARBITRARY strings — no ASCII bound.
    */
  private[source] def cmpStrings(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      var a = x.charAt(i).toInt
      var b = y.charAt(i).toInt
      if (a != b) {
        if (a >= 0xD800 && b >= 0xD800) {
          a = if (a >= 0xE000) a - 0x800 else a + 0x2000
          b = if (b >= 0xE000) b - 0x800 else b + 0x2000
        }
        return a - b
      }
      i += 1
    }
    x.length - y.length
  }

  private def cmpKeys(dt: DataType, a: Option[Any], b: Option[Any]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) =>
      if (dt == DoubleType)
        java.lang.Double.compare(x.asInstanceOf[Double], y.asInstanceOf[Double])
      else if (dt == StringType)
        cmpStrings(x.asInstanceOf[String], y.asInstanceOf[String])
      else java.lang.Long.compare(x.asInstanceOf[Long], y.asInstanceOf[Long])
  }

  /** Bounded top-n selection under a (possibly compound) order spec:
    * O(m log n) time, O(n) memory — never materializes the partition the
    * way a full sort would. Per key: ASC is NULLS FIRST, DESC is NULLS
    * LAST (Spark's defaults — the only orderings pushTopN accepts), and
    * DESC is the exact negation of the None-first ascending comparator.
    */
  private[source] def topNSelect(docs: Iterator[BDoc],
      spec: Seq[(String, Boolean, DataType)], n: Int): Iterator[BDoc] = {
    def keysOf(d: BDoc): Array[Option[Any]] = {
      val ks = new Array[Option[Any]](spec.length)
      var i = 0
      while (i < spec.length) {
        ks(i) = d.getPath(spec(i)._1) match {
          case None | Some(BNull) => None
          case Some(v) => Some(readKey(v, spec(i)._3))
        }
        i += 1
      }
      ks
    }
    def cmp(a: Array[Option[Any]], b: Array[Option[Any]]): Int = {
      var i = 0
      while (i < spec.length) {
        val (_, desc, dt) = spec(i)
        val c0 = cmpKeys(dt, a(i), b(i))
        val c = if (desc) -c0 else c0
        if (c != 0) return c
        i += 1
      }
      0
    }
    val heap = new java.util.PriorityQueue[(Array[Option[Any]], BDoc)](
      math.max(1, math.min(n, 1024)),
      (a: (Array[Option[Any]], BDoc), b: (Array[Option[Any]], BDoc)) =>
        cmp(b._1, a._1)) // max-heap: worst kept element on top
    docs.foreach { d =>
      val k = keysOf(d)
      if (heap.size < n) heap.add((k, d))
      else if (cmp(k, heap.peek()._1) < 0) { heap.poll(); heap.add((k, d)) }
    }
    val out = new Array[(Array[Option[Any]], BDoc)](heap.size)
    var i = 0
    while (!heap.isEmpty) { out(i) = heap.poll(); i += 1 }
    // heap drains worst-first; reverse-in-place gives spec order
    out.reverse.iterator.map(_._2)
  }
}

// ---------------- write path ----------------

final class GraftWriteBuilder(writeSchema: StructType, queryId: String,
    options: Map[String, String])
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(writeSchema, queryId, options, truncateFirst)
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(!truncateFirst,
        "graftbson streaming write appends per epoch; truncate is a batch concern")
      new GraftStreamingWrite(writeSchema, queryId, options)
    }
  }
}

/** Native Structured Streaming SINK: every micro-batch epoch runs the
  * SAME two-phase staged commit the batch path uses ([[GraftBatchWrite]]
  * with an epoch-scoped job dir), and epoch commit is IDEMPOTENT across
  * replays via a durable marker (`.graft-stream-epochs/e<id>` on the
  * collection path): Spark re-commits the last epoch after a recovery,
  * and the marker turns the replay into a no-op — exactly-once into the
  * collection. The marker rename is one more entry in the commit's
  * `_promote.json` manifest, so marker and data promote in ONE
  * all-or-nothing transaction: a coordinator crash at any point either
  * rolls the whole epoch (data + marker) forward at the next collection
  * open or promoted nothing — there is no promote→marker window, so
  * plain inserts are exactly-once too. One streaming writer per
  * collection at a time — the same single-coordinator assumption the
  * batch two-phase protocol makes.
  */
final class GraftStreamingWrite(writeSchema: StructType, queryId: String,
    options: Map[String, String])
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val path = GraftBsonSource.normalizePath(options.getOrElse("path",
    throw new IllegalArgumentException("path option required")))
  private val shardCount: Int =
    options.get("shards").map(_.toInt)
      .getOrElse(new BsonCollection(path).shardCount)

  private def marker(epochId: Long): java.nio.file.Path =
    Paths.get(path, ".graft-stream-epochs", s"e$epochId")
  private def epochQueryId(epochId: Long): String = s"$queryId-e$epochId"
  private def epochJobDir(epochId: Long): java.nio.file.Path =
    Paths.get(path, ".graft-pending", epochQueryId(epochId))

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(writeSchema, options, path, queryId,
      shardCount)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // roll any interrupted promote forward BEFORE consulting the marker:
    // a crash mid-promote left the manifest (marker entry included), and
    // checking the marker first would miss it — the replay would then
    // re-apply on top of the roll-forward the batch commit's collection
    // open performs, double-writing the epoch
    graft.store.ShardApply.recoverPromote(path)
    if (Files.exists(marker(epochId))) {
      // replayed epoch: already applied — drop the replay's segments and
      // sweep stale staged-marker files a coordinator crash between
      // staging and promote left behind (the marker is promoted, so any
      // remaining `.e<id>.stage-*` is garbage; a zombie's in-flight
      // promote of a deleted stage is a tolerated NoSuchFile no-op)
      sweepStaleMarkerStages(epochId)
      GraftBatchWrite.deleteRecursively(epochJobDir(epochId))
      return
    }
    // the marker is promoted INSIDE the batch commit's manifest-guarded
    // rename transaction — a coordinator crash either rolls the whole
    // epoch (data + marker) forward at the next open or promoted
    // nothing, so a replayed epoch is a no-op in every crash position:
    // exactly-once into the collection with no promote→marker window
    new GraftBatchWrite(writeSchema, epochQueryId(epochId), options,
      truncateFirst = false, epochMarker = Some(marker(epochId)))
      .commit(messages)
    // our own stage was renamed away by the promote — anything still
    // named `.e<id>.stage-*` is an earlier crashed attempt's leftover
    sweepStaleMarkerStages(epochId)
  }

  /** Delete leftover staged-marker files of THIS epoch (crash window:
    * after `Files.createFile(stagedMarker)`, before its promote rename).
    * Only ever called when the epoch's marker is already promoted, so
    * every survivor is stale by construction.
    */
  private def sweepStaleMarkerStages(epochId: Long): Unit = {
    val dir = marker(epochId).getParent
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.startsWith(s".e$epochId.stage-"))
            Files.deleteIfExists(f)
        }
      } finally s.close()
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.deleteRecursively(epochJobDir(epochId))
}

final class GraftStreamingWriterFactory(writeSchema: StructType,
    options: Map[String, String], path: String, queryId: String,
    shardCount: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(partitionId, taskId, writeSchema, options,
      Paths.get(path, ".graft-pending", s"$queryId-e$epochId").toString,
      shardCount)
}

final case class GraftCommitMessage(partitionId: Int,
    routed: Map[Int, String], broadcast: Option[String], n: Long)
    extends WriterCommitMessage

/** Two-phase write commit on SHARED storage where the driver only ever
  * coordinates — document bytes never pass through it:
  *
  *  1. each task ROUTES its write-model docs into per-shard temp files
  *     under the job dir (`<path>/.graft-pending/<queryId>/`) on the
  *     shared filesystem the collection lives on — inserts and
  *     `_id`-keyed updates to the owning shard, multi-updates to a
  *     broadcast file (ShardRouting mirrors a sharded server's rules);
  *  2. `DataWriter.commit()` (task side) atomically renames the temp
  *     files to durable segments — only segments of successfully-
  *     committed tasks ever carry the final name;
  *  3. `BatchWrite.commit` (driver) verifies every named segment exists
  *     (fail fast: a missing segment is lost task output), then runs the
  *     APPLY AS A DISTRIBUTED JOB — one task per shard, each merging its
  *     shard's segments in (partitionId, seq) order against its own
  *     shard file (ShardApply.run). The driver holds only segment names,
  *     O(#segments) state, never documents.
  *
  * This is the reference's task-attempt-path protocol
  * (MongoRecordWriter.java:49-120 writes to the Hadoop FileSystem work
  * path; MongoOutputCommitter.commitTask:91-186 replays on task commit),
  * which makes task retries safe for non-idempotent $inc/$push updates:
  * an aborted attempt's temp file is never renamed, so it is never
  * replayed. Where the reference's task commit hands its bulk to a mongod
  * that serializes concurrent writers, here each shard file is touched by
  * exactly ONE apply task, so the commit job needs no locks and scales
  * with the shard count.
  */
final class GraftBatchWrite(writeSchema: StructType, queryId: String,
    options: Map[String, String], truncateFirst: Boolean,
    /** Streaming-sink epoch marker, promoted ATOMICALLY with the shard
      * stages: the marker rename rides the same `_promote.json` manifest
      * as the data renames, so a coordinator crash anywhere in the
      * promote either rolls the WHOLE epoch forward (marker included) at
      * the next collection open or left nothing promoted — there is no
      * window where data promoted but the marker didn't (the r12
      * at-least-once caveat this closes). */
    epochMarker: Option[java.nio.file.Path] = None) extends BatchWrite {

  private val path = GraftBsonSource.normalizePath(options.getOrElse("path",
    throw new IllegalArgumentException("path option required")))
  private val jobDir = Paths.get(path, ".graft-pending", queryId)

  // shard count resolved once, driver-side: explicit `shards` option wins,
  // else the collection's declared layout (legacy collections = 1)
  private val shardCount: Int =
    options.get("shards").map(_.toInt)
      .getOrElse(new BsonCollection(path).shardCount)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftDataWriterFactory(writeSchema, options, jobDir.toString, shardCount)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val coll = new BsonCollection(path)
    if (truncateFirst) coll.truncate()
    // declares the layout; refuses shard-count conflicts with existing data
    coll.create(shardCount)
    options.get("ensure_index").foreach(ix => coll.ensureIndex(ix.split(',').toSeq))
    val ordered = messages.collect { case m: GraftCommitMessage => m }
      .sortBy(_.partitionId)
    // fail fast: a missing segment means lost task output — silently
    // writing the rest would be data loss masquerading as success
    val referenced = ordered.flatMap(m => m.routed.values ++ m.broadcast)
    val missing = referenced.filterNot(s => Files.exists(Paths.get(s)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"committed task segment(s) missing at job commit: " +
          missing.mkString(", "))
    val bulkOrdered = !options.get("bulk_ordered").contains("false")
    val bcastSegs = ordered.collect {
      case m if m.broadcast.isDefined => m.partitionId -> m.broadcast.get
    }.toSeq
    val tasks: Seq[graft.store.ShardTask] = (0 until shardCount).flatMap { k =>
      val routedSegs = ordered.collect {
        case m if m.routed.contains(k) => m.partitionId -> m.routed(k)
      }.toSeq
      if (routedSegs.isEmpty && bcastSegs.isEmpty) None
      else Some(graft.store.ShardTask(
        BsonCollection.shardPath(path, shardCount, k).toString, k,
        routedSegs, bcastSegs, bulkOrdered))
    }
    // the apply runs WHERE the data is big: as a Spark job, one task per
    // shard (each bounded by its shard's size). Outside an active session
    // (unit-level callers) it degrades to a local loop. Two-phase: every
    // task STAGES its shard's new contents against the unchanged base
    // (retry/speculation-safe — attempts never mutate live files and
    // write attempt-unique stage names), then the driver promotes all
    // stages with metadata-only renames only after every shard succeeded.
    val jobTag = queryId.replaceAll("[^A-Za-z0-9_-]", "_")
    val stagedResults: Seq[graft.store.ShardApply.Staged] =
      try {
        org.apache.spark.sql.SparkSession.getActiveSession match {
          case Some(s) if tasks.size > 1 =>
            s.sparkContext.parallelize(tasks, tasks.size)
              .map(t => graft.store.ShardApply.runStaged(t, jobTag)).collect().toSeq
          case _ => tasks.map(t => graft.store.ShardApply.runStaged(t, jobTag))
        }
      } catch {
        case e: Throwable =>
          graft.store.ShardApply.cleanupStages(path, jobTag)
          GraftBatchWrite.deleteRecursively(jobDir)
          throw e
      }
    val result = stagedResults.map(_.result)
      .foldLeft(graft.store.BulkResult.empty)(_ merge _)
    graft.store.BulkResult.unignoredErrors(result, options, "graftbson").foreach { msg =>
      // nothing was promoted: the failed job leaves every shard exactly
      // as it was
      graft.store.ShardApply.cleanupStages(path, jobTag)
      GraftBatchWrite.deleteRecursively(jobDir)
      throw new IllegalStateException(msg)
    }
    // all shards staged successfully: promote (metadata-only renames in
    // shard order, manifest-guarded so a coordinator crash mid-loop rolls
    // forward at next open), then sweep losing speculative attempts' stages.
    // A streaming epoch's marker is staged as one more manifest entry —
    // its rename is part of the same all-or-nothing promote.
    val withMarker = epochMarker match {
      case Some(m) =>
        Files.createDirectories(m.getParent)
        val stagedMarker = m.resolveSibling("." + m.getFileName + s".stage-$jobTag")
        try Files.createFile(stagedMarker)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        stagedResults :+ graft.store.ShardApply.Staged(-1, m.toString,
          stagedMarker.toString, graft.store.BulkResult.empty)
      case None => stagedResults
    }
    graft.store.ShardApply.promoteAll(path, withMarker)
    graft.store.ShardApply.cleanupStages(path, jobTag)
    GraftBatchWrite.deleteRecursively(jobDir)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftBatchWrite.deleteRecursively(jobDir)
}

object GraftBatchWrite {
  private[source] def deleteRecursively(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}

final class GraftDataWriterFactory(writeSchema: StructType,
    options: Map[String, String], jobDir: String, shardCount: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(partitionId, taskId, writeSchema, options, jobDir, shardCount)
}

final class GraftDataWriter(partitionId: Int, taskId: Long,
    writeSchema: StructType, options: Map[String, String], jobDir: String,
    shardCount: Int)
    extends DataWriter[InternalRow] {
  import graft.store.{ShardRouting, WriteModels}

  private val mode = options.getOrElse("mode", "insert")
  private val keys = options.getOrElse("keys", "_id").split(',').toSeq
  private val updateOp = options.getOrElse("update_op", "set")
  private val multi = options.get("multi").exists(_.toBoolean)
  private val idColumn = options.get("id_column")
  // templated update DSL (JSONPigReplace analog): overrides keys/update_op
  private val templates: Option[(graft.query.UpdateDsl.Template, graft.query.UpdateDsl.Template)] =
    for (q <- options.get("query_template"); u <- options.get("update_template"))
      yield (graft.query.UpdateDsl.parse(q), graft.query.UpdateDsl.parse(u))
  // write-side column remapping (the reverse of the read-side
  // mongo.columns.mapping analog): Spark column -> (possibly dotted)
  // document field, applied BEFORE key extraction so `keys`/`id_column`
  // address document-space names
  private val writeMapping: Map[String, String] =
    options.get("column_mapping").map(ColumnMapping.parse).getOrElse(Map.empty)

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

  // attempt temp files live in the job dir on the SHARED collection path
  // (never executor-local java.io.tmpdir — the apply tasks must be able to
  // read any committed segment on a real cluster); the `_tmp-` prefix
  // marks them uncommitted until the task-side rename in commit().
  // One file per target shard this task actually touches (lazily opened),
  // plus one broadcast file for multi-update models that every shard
  // replays; shard -1 keys the broadcast file.
  Files.createDirectories(Paths.get(jobDir))
  private val appenders = scala.collection.mutable.LinkedHashMap[Int, BsonFiles.Appender]()
  private var closed = false
  // per-model sequence: lets the apply phase interleave a partition's
  // routed and broadcast models back into original write order
  private var seq = 0L

  private def suffix(k: Int): String =
    if (k < 0) "sall" else f"s$k%05d"
  private def tmpFile(k: Int): java.nio.file.Path =
    Paths.get(jobDir, s"_tmp-seg-p$partitionId-t$taskId-${suffix(k)}.bson")
  private def segFile(k: Int): java.nio.file.Path =
    Paths.get(jobDir, s"seg-p$partitionId-t$taskId-${suffix(k)}.bson")
  private def appender(k: Int): BsonFiles.Appender =
    appenders.getOrElseUpdate(k, new BsonFiles.Appender(tmpFile(k).toString))

  override def write(record: InternalRow): Unit = {
    val doc = remap(RowCodec.toBson(record, writeSchema))
    val model = templates match {
      case Some((qt, ut)) =>
        BDoc(
          "__op" -> BString(mode),
          "q" -> qt.bind(doc),
          "u" -> ut.bind(doc),
          "upsert" -> BBool(mode == "upsert"),
          "multi" -> BBool(multi))
      case None => WriteModels.toDoc(mode, doc, keys, updateOp, multi, idColumn)
    }
    seq += 1
    // route through the SAME decision the store's local bulkWrite uses —
    // one routing truth, no writer/apply divergence
    val shard = ShardRouting.route(WriteModels.fromDoc(model), shardCount,
      (partitionId.toLong << 32) + seq)
    appender(shard.getOrElse(-1))
      .append(BDoc(model.fields.updated("__seq", BInt64(seq))))
  }

  /** TASK-side commit: atomically promote every attempt file to its
    * durable segment name (MongoOutputCommitter.commitTask semantics) —
    * only then can the apply phase ever see it.
    */
  override def commit(): WriterCommitMessage = {
    var total = 0L
    appenders.valuesIterator.foreach(a => total += a.close())
    closed = true
    val routed = Map.newBuilder[Int, String]
    var bcast: Option[String] = None
    appenders.keysIterator.foreach { k =>
      val tmp = tmpFile(k)
      val seg = segFile(k)
      Files.deleteIfExists(
        tmp.resolveSibling("." + tmp.getFileName + ".splits"))
      try Files.move(tmp, seg, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          Files.move(tmp, seg)
      }
      if (k < 0) bcast = Some(seg.toString) else routed += k -> seg.toString
    }
    GraftCommitMessage(partitionId, routed.result(), bcast, total)
  }

  override def abort(): Unit = {
    if (!closed) { appenders.valuesIterator.foreach(_.close()); closed = true }
    appenders.keysIterator.foreach { k =>
      val tmp = tmpFile(k)
      Files.deleteIfExists(tmp)
      Files.deleteIfExists(
        tmp.resolveSibling("." + tmp.getFileName + ".splits"))
    }
  }

  override def close(): Unit =
    if (!closed) { appenders.valuesIterator.foreach(_.close()); closed = true }
}

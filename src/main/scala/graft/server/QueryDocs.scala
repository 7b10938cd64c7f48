package graft.server

import graft.bson._
import graft.query.BQuery

import scala.collection.immutable.ListMap

/** Pure renderers from the engine's query/write model to the wire-shape
  * documents a live MongoDB server expects — the document-construction
  * half of a driver binding, kept driver-free so it is fully
  * spec-testable in this sandbox. [[MongoDriverClient]] is the
  * reflection-bound transport that ships these documents.
  *
  * The renderer is deliberately PARTIAL, split by semantics authority:
  *
  *  - Plain mongo-bracket nodes (Eq/Lt/../In/Nin/Regex/Exists/And/Or —
  *    the nodes option-level JSON queries parse to) RENDER and the
  *    server's evaluation is authoritative, exactly like the reference
  *    shipping `mongo.input.query` verbatim (core/src/main/java/com/
  *    mongodb/hadoop/input/MongoInputSplit.java:272-299). The engine's
  *    file-backed [[BQuery.matches]] follows server semantics for ALL
  *    array traversal as of r15 ([[BQuery.resolvePath]]): leaf-level
  *    equality (`{p: 5}` matches `p=[4,5]`, r14), INTERMEDIATE dotted
  *    segments (`{"m.a": 5}` matches `m=[{a:5}]`), RANGE operators
  *    (`{p: {$lt: 5}}` matches `p=[3,9]`), `$regex`/`$mod`/`$type`
  *    element traversal, `$exists`/`$size`/`$all`/`$elemMatch` through
  *    intermediate arrays, and `{p: null}` matching missing/dead-end
  *    slots. ZERO remaining silent divergences as of r16 — the last two
  *    are now GATED: (a) the PCRE-vs-Java regex dialect — a `$regex`
  *    renders only inside the PCRE∩Java common subset where both
  *    dialects provably agree ([[graft.query.RegexDialect]]); outside
  *    it the default mode refuses loudly, `regex_dialect=java` keeps
  *    the node a client-side residual (uniform Java semantics on every
  *    transport), and `regex_dialect=server` ships it verbatim,
  *    server-authoritative (the reference's mongo.input.query behavior);
  *    (b) NUMERIC path segments in the null/missing edge
  *    (`{"m.0": null}`, [[graft.query.NumericNullEdge]]) — refused on
  *    client-evaluating transports unless `numeric_null_paths=engine`
  *    opts into the engine matcher's documented rule; a live server
  *    receives the verbatim wire form and its own rule applies.
  *  - Spark-read-semantics `ReadStr*` / `ReadLong*` / `ReadTime*` nodes
  *    (compiled pushed filters — Spark never re-checks them, so their
  *    cross-bracket read semantics MUST hold exactly) never render: they
  *    stay client-side residuals re-checked on the cursor. The rendered
  *    part of such a query is a superset pre-filter at worst. (Under
  *    `assume_uniform_storage` the scan builder rewrites `ReadTime*` to
  *    exact bracket forms BEFORE planning, so engine-written
  *    collections keep server-side timestamp filtering.)
  *  - [[BQuery.KeyRange]] split bounds become `$min`/`$max` cursor
  *    bounds with an index hint — the index's cross-type order IS the
  *    range's semantics; a `$gte`/`$lt` spelling would bracket by type
  *    and drop docs (see the KeyRange scaladoc).
  */
object QueryDocs {

  /** The server/client split of one [[Find]]'s query:
    *  - `keyBounds`: a top-level [[BQuery.KeyRange]] conjunct, to become
    *    `min`/`max` cursor bounds with an index hint (cross-type order is
    *    the INDEX's order, exactly the range's semantics) — never a
    *    `$gte`/`$lt` query, which would bracket by type and drop docs.
    *  - `serverQuery`: the renderable conjuncts, as a mongo query doc.
    *  - `residual`: conjuncts the server cannot evaluate faithfully;
    *    `None` means the server result needs no re-check.
    */
  final case class ServerPlan(
      keyBounds: Option[(String, Option[BsonValue], Option[BsonValue])],
      serverQuery: BDoc,
      residual: Option[BQuery]) {
    def isExact: Boolean = residual.isEmpty
    /** Exact with no cursor key bounds: the whole query renders as one
      * `$match` (what pipelines need — they have no min/max bounds). */
    def rendersFully: Boolean = isExact && keyBounds.isEmpty
  }

  def plan(q: BQuery): ServerPlan = {
    val conjuncts = flattenAnd(q)
    // first top-level KeyRange becomes cursor bounds; any further range
    // conjunct stays residual (one min/max pair per cursor)
    val rangeIdx = conjuncts.indexWhere(_.isInstanceOf[BQuery.KeyRange])
    val (bounds, rest) =
      if (rangeIdx < 0) (None, conjuncts)
      else {
        val r = conjuncts(rangeIdx).asInstanceOf[BQuery.KeyRange]
        (Some((r.path, r.lo, r.hi)), conjuncts.patch(rangeIdx, Nil, 1))
      }
    val (rendered, unrendered) = rest.partition(c => render(c).isDefined)
    val serverDoc = andDoc(rendered.flatMap(render))
    val residual = unrendered match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => Some(BQuery.And(many))
    }
    ServerPlan(bounds, serverDoc, residual)
  }

  private def flattenAnd(q: BQuery): Seq[BQuery] = q match {
    case BQuery.And(qs) => qs.flatMap(flattenAnd)
    case BQuery.True => Seq.empty
    case other => Seq(other)
  }

  /** Render one node to its mongo query document, or None when the
    * server's evaluation would not match the engine's. An `Or` renders
    * only when EVERY branch renders — a disjunction cannot be split into
    * a server part and a residual part soundly.
    */
  def render(q: BQuery): Option[BDoc] = q match {
    case BQuery.True => Some(BDoc.empty)
    case BQuery.Eq(p, v: BDoc) if v.fields.keys.exists(_.startsWith("$")) =>
      // a literal doc whose keys look like operators must be wrapped, or
      // the server would interpret it as an operator expression
      Some(BDoc(p -> BDoc("$eq" -> v)))
    case BQuery.Eq(p, v) => Some(BDoc(p -> v))
    case BQuery.Lt(p, v) => Some(BDoc(p -> BDoc("$lt" -> v)))
    case BQuery.Lte(p, v) => Some(BDoc(p -> BDoc("$lte" -> v)))
    case BQuery.Gt(p, v) => Some(BDoc(p -> BDoc("$gt" -> v)))
    case BQuery.Gte(p, v) => Some(BDoc(p -> BDoc("$gte" -> v)))
    case BQuery.Ne(p, v) => Some(BDoc(p -> BDoc("$ne" -> v)))
    case BQuery.In(p, vs) => Some(BDoc(p -> BDoc("$in" -> BArray(vs.toVector))))
    case BQuery.Nin(p, vs) => Some(BDoc(p -> BDoc("$nin" -> BArray(vs.toVector))))
    // a $regex renders ONLY inside the PCRE∩Java common subset — there
    // the server's PCRE and the engine's java.util.regex provably agree
    // (RegexDialect). Outside it the node stays a client-side residual
    // (uniform Java semantics on every transport, `regex_dialect=java`),
    // unless the user adjudicated it server-authoritative
    // (`regex_dialect=server` → RegexServer below, verbatim — the
    // reference's mongo.input.query ship, MongoInputSplit.java:281).
    case BQuery.Regex(p, pat, opts)
        if graft.query.RegexDialect.portable(pat, opts) =>
      Some(BDoc(p -> BDoc(regexPairs(pat, opts): _*)))
    case BQuery.RegexServer(p, pat, opts) =>
      Some(BDoc(p -> BDoc(regexPairs(pat, opts): _*)))
    // The engine's Exists matches "present AND non-null" (it is what
    // pushed IsNotNull/IsNull compile to, so it must carry SPARK's null
    // semantics — Spark never re-checks a pushed filter). Mongo's
    // `$exists` matches explicit nulls too, so the faithful wire form is
    // null-(in)equality: `{$ne: null}` = present non-null, `{$eq: null}`
    // = null or missing — exactly the engine matcher. (Option-level
    // `$exists` JSON parses to this node as well and now evaluates with
    // the same semantics on BOTH transports.)
    case BQuery.Exists(p, true) => Some(BDoc(p -> BDoc("$ne" -> BNull)))
    case BQuery.Exists(p, false) => Some(BDoc(p -> BDoc("$eq" -> BNull)))
    // option-level $exists ships VERBATIM (mongo presence semantics,
    // matching explicit nulls) — the reference's mongo.input.query
    // behavior on a live server
    case BQuery.ExistsField(p, b) => Some(BDoc(p -> BDoc("$exists" -> BBool(b))))
    case BQuery.And(qs) =>
      val parts = qs.map(render)
      if (parts.forall(_.isDefined)) Some(andDoc(parts.flatten)) else None
    case BQuery.Or(qs) =>
      val parts = qs.map(render)
      if (parts.exists(_.isEmpty)) None
      else Some(BDoc("$or" -> BArray(parts.flatten.toVector)))
    case BQuery.Nor(qs) =>
      val parts = qs.map(render)
      if (parts.exists(_.isEmpty)) None
      else Some(BDoc("$nor" -> BArray(parts.flatten.toVector)))
    case BQuery.Size(p, n) => Some(BDoc(p -> BDoc("$size" -> BInt32(n))))
    case BQuery.All(p, vs) =>
      Some(BDoc(p -> BDoc("$all" -> BArray(vs.toVector))))
    case BQuery.Mod(p, d, r) =>
      Some(BDoc(p -> BDoc("$mod" -> BArray(Vector(BInt64(d), BInt64(r))))))
    case BQuery.TypeIs(p, Seq(t)) =>
      Some(BDoc(p -> BDoc("$type" -> BString(t))))
    case BQuery.TypeIs(p, ts) =>
      Some(BDoc(p -> BDoc("$type" ->
        BArray(ts.map(t => BString(t): BsonValue).toVector))))
    case BQuery.ElemMatch(p, sub, true) =>
      opsDocOf(sub, BQuery.ElemPath)
        .map(body => BDoc(p -> BDoc("$elemMatch" -> body)))
    case BQuery.ElemMatch(p, sub, false) =>
      render(sub).map(body => BDoc(p -> BDoc("$elemMatch" -> body)))
    case BQuery.NotOp(p, sub) =>
      opsDocOf(sub, p).map(body => BDoc(p -> BDoc("$not" -> body)))
    case _ => None // KeyRange (cursor-bound concern), ReadStr*/ReadLong*
  }

  /** The `$regex` wire-form operator pairs (one rendering shared by the
    * query-doc and operator-doc shapes, and by the portable/verbatim
    * nodes). */
  private def regexPairs(pat: String, opts: String): Seq[(String, BsonValue)] =
    ("$regex" -> (BString(pat): BsonValue)) +:
      (if (opts.isEmpty) Seq.empty
       else Seq("$options" -> (BString(opts): BsonValue)))

  /** Render a conjunction over ONE path as a bare operator document —
    * the body shape `$not` and value-form `$elemMatch` need. None when
    * any conjunct is off-path, unrenderable as an operator pair, or an
    * operator repeats (one doc can hold each key once).
    */
  private def opsDocOf(q: BQuery, path: String): Option[BDoc] = {
    def opPairs(c: BQuery): Option[Seq[(String, BsonValue)]] = c match {
      case BQuery.Eq(`path`, v) => Some(Seq("$eq" -> v))
      case BQuery.Lt(`path`, v) => Some(Seq("$lt" -> v))
      case BQuery.Lte(`path`, v) => Some(Seq("$lte" -> v))
      case BQuery.Gt(`path`, v) => Some(Seq("$gt" -> v))
      case BQuery.Gte(`path`, v) => Some(Seq("$gte" -> v))
      case BQuery.Ne(`path`, v) => Some(Seq("$ne" -> v))
      case BQuery.In(`path`, vs) => Some(Seq("$in" -> BArray(vs.toVector)))
      case BQuery.Nin(`path`, vs) => Some(Seq("$nin" -> BArray(vs.toVector)))
      case BQuery.Regex(`path`, pat, o)
          if graft.query.RegexDialect.portable(pat, o) =>
        Some(regexPairs(pat, o))
      case BQuery.RegexServer(`path`, pat, o) =>
        Some(regexPairs(pat, o))
      case BQuery.Exists(`path`, true) => Some(Seq("$ne" -> BNull))
      case BQuery.Exists(`path`, false) => Some(Seq("$eq" -> BNull))
      case BQuery.ExistsField(`path`, b) => Some(Seq("$exists" -> BBool(b)))
      case BQuery.Size(`path`, n) => Some(Seq("$size" -> BInt32(n)))
      case BQuery.Mod(`path`, d, r) =>
        Some(Seq("$mod" -> BArray(Vector(BInt64(d), BInt64(r)))))
      case BQuery.All(`path`, vs) => Some(Seq("$all" -> BArray(vs.toVector)))
      case BQuery.TypeIs(`path`, Seq(t)) => Some(Seq("$type" -> BString(t)))
      case BQuery.TypeIs(`path`, ts) => Some(Seq("$type" ->
        BArray(ts.map(t => BString(t): BsonValue).toVector)))
      case _ => None
    }
    val conj = q match {
      case BQuery.And(qs) => qs
      case BQuery.True => Seq.empty
      case one => Seq(one)
    }
    val pairs = conj.map(opPairs)
    if (pairs.isEmpty || pairs.contains(None)) None
    else {
      val flat = pairs.flatten.flatten
      if (flat.map(_._1).distinct.size != flat.size) None
      else Some(BDoc(ListMap(flat: _*)))
    }
  }

  /** AND-combine already-rendered query docs (flat-merged when keys are
    * disjoint, `$and` otherwise) — the public face of [[andDoc]] for
    * callers composing a rendered range conjunct into a match doc. */
  def andDocs(docs: Seq[BDoc]): BDoc = andDoc(docs)

  private def andDoc(docs: Seq[BDoc]): BDoc = {
    val nonEmpty = docs.filter(_.fields.nonEmpty)
    nonEmpty match {
      case Seq() => BDoc.empty
      case Seq(one) => one
      case many =>
        // merge disjoint-keyed conjuncts flat; $and only on key collision
        // (e.g. two predicates on the same field)
        val allKeys = many.flatMap(_.fields.keys)
        if (allKeys.distinct.size == allKeys.size)
          BDoc(ListMap(many.flatMap(_.fields): _*))
        else BDoc("$and" -> BArray(many.toVector))
    }
  }

  /** Update doc for the wire: `$pushAll` (a long-removed legacy op the
    * engine still accepts for reference parity, core/.../io/
    * MongoUpdateWritable.java) becomes the modern `$push`+`$each`.
    */
  def updateDoc(u: BDoc): BDoc = u.fields.get("$pushAll") match {
    case Some(BDoc(pushes)) =>
      val each = pushes.map { case (f, v) =>
        f -> (v match {
          case a: BArray => BDoc("$each" -> a)
          case single => BDoc("$each" -> BArray(Vector(single)))
        })
      }
      val merged = u.fields.get("$push") match {
        case Some(BDoc(existing)) => existing ++ each
        case _ => each
      }
      BDoc((u.fields.removed("$pushAll").removed("$push") +
        ("$push" -> BDoc(ListMap(merged.toSeq: _*)))).toSeq: _*)
    case _ => u
  }

  /** `db.coll` → (db, coll); the collection part may itself be dotted
    * (`db.system.profile`), so split at the FIRST dot only.
    */
  def nsParts(ns: String): (String, String) = {
    val i = ns.indexOf('.')
    require(i > 0 && i < ns.length - 1, s"namespace must be db.collection, got '$ns'")
    (ns.substring(0, i), ns.substring(i + 1))
  }

  def collStatsCmd(coll: String): BDoc = BDoc("collStats" -> BString(coll))

  /** `{createIndexes: coll, indexes: [{key: {f1: 1, f2: 1}, name:
    * "f1_1_f2_1"}]}` — one compound ascending index, the server form of
    * the engine's `ensure_index` option (the reference's pre-insert
    * ensureIndex, core/.../output/MongoRecordWriter.java:128-130); the
    * name follows the server's own `<field>_<dir>` convention.
    */
  def createIndexesCmd(coll: String, fields: Seq[String]): BDoc =
    BDoc(
      "createIndexes" -> BString(coll),
      "indexes" -> BArray(Vector(BDoc(
        "key" -> BDoc(ListMap(fields.map(f => f -> (BInt32(1): BsonValue)): _*)),
        "name" -> BString(fields.map(f => s"${f}_1").mkString("_"))))))

  def splitVectorCmd(ns: String, key: String, maxChunkBytes: Long): BDoc =
    BDoc(
      "splitVector" -> BString(ns),
      "keyPattern" -> BDoc(key -> BInt32(1)),
      "maxChunkSizeBytes" -> BInt64(maxChunkBytes))

  /** `[{$sample: {size: n}}, {$project: {key: 1}}]` — the sample
    * splitter's pipeline (core/.../splitter/SampleSplitter.java:79-88).
    */
  def sampleStages(key: String, n: Int): Seq[BDoc] = Seq(
    BDoc("$sample" -> BDoc("size" -> BInt32(n))),
    BDoc("$project" -> (
      if (key == "_id") BDoc("_id" -> BInt32(1))
      else BDoc("_id" -> BInt32(0), key -> BInt32(1)))))

  /** Projection doc matching the engine's projection semantics (ONLY the
    * listed fields — `_id` comes back only when asked for).
    */
  def projectionDoc(fields: Seq[String]): BDoc = {
    val incl = fields.map(f => f -> BInt32(1))
    BDoc(ListMap(
      (if (fields.contains("_id")) incl else ("_id" -> BInt32(0)) +: incl): _*))
  }

  def sortDoc(key: String, descending: Boolean): BDoc =
    BDoc(key -> BInt32(if (descending) -1 else 1))

  /** Compound cursor sort doc `{k1: ±1, k2: ±1, ...}` — field order IS
    * the sort precedence (the reference's sort doc shape,
    * MongoInputSplit.java:281). */
  def sortDoc(spec: Seq[(String, Boolean)]): BDoc =
    BDoc(ListMap(spec.map { case (k, desc) =>
      k -> (BInt32(if (desc) -1 else 1): BsonValue)
    }: _*))

  /** Alias of the companion non-null-presence accumulator rendered
    * alongside every plain `$sum`: a REAL server's `$sum` returns 0
    * (never NULL) for a group whose column is entirely null/missing,
    * while the [[ServerClient.groupAggregate]] contract (= Spark's SUM
    * semantics) requires NULL — the companion count lets the client
    * binding tell an all-null group (count 0 → NULL) from a genuine zero
    * sum. `~` cannot appear in a Spark-generated aggregate alias
    * (`sum(col)`), so the companion never collides.
    */
  def sumPresenceAlias(a: String): String = a + "~nn"

  /** Dot-free WIRE spelling of a `$group` output field name or
    * compound-`_id` key: a nested group key's natural (contract) name is
    * dotted (`meta.lang`), but a dotted key inside a `$group` document
    * is illegal as a literal field name — so the renderer swaps `.` for
    * `~` on the wire and [[regroup]] swaps back when re-keying the
    * result to the contract names. `~` cannot appear in a
    * Spark-generated aggregate alias or a Spark nested-field reference,
    * so engine-generated names never collide; a hand-written column
    * literally named `a~b` next to a nested key `a.b` REFUSES the
    * grouped pushdown outright (r14 — the builder's collision gate),
    * so the swap is never ambiguous on the wire.
    */
  def wireName(s: String): String = s.replace('.', '~')

  /** COUNT(col) accumulator: sum of (0 when null/missing else 1); `$type`
    * is the canonical null-AND-missing discriminator in a pipeline.
    * `ref` is the already-`$`-prefixed field path.
    */
  private def countColAcc(ref: String): BDoc =
    BDoc("$sum" -> BDoc("$cond" -> BArray(Vector(
      BDoc("$in" -> BArray(Vector(
        BDoc("$type" -> BString(ref)),
        BArray(Vector(BString("null"), BString("missing")))))),
      BInt32(0), BInt32(1)))))

  /** The `$group` stage document, with a caller-supplied column→path
    * resolver: the plain grouped pipeline resolves a column to itself,
    * the lookup-join pipeline resolves right-side outputs to their
    * pre-flatten `__j.` home. `_id` shape: no keys → `null`, one →
    * `"$k"`, several → a compound doc; every plain SUM renders its
    * [[sumPresenceAlias]] companion.
    */
  def groupStageDoc(pathOf: String => String, groupKeys: Seq[String],
      aggs: Seq[GroupAgg]): BDoc = {
    def ref(c: String): String = "$" + pathOf(c)
    val idValue: BsonValue = groupKeys match {
      case Seq() => BNull
      case Seq(k) => BString(ref(k))
      // compound keys land as LITERAL field names — dot-free on the wire
      case ks => BDoc(ks.map(k => wireName(k) -> (BString(ref(k)): BsonValue)): _*)
    }
    val groupFields: Seq[(String, BsonValue)] =
      ("_id" -> idValue) +: aggs.flatMap {
        case GroupAgg.CountAll(a) => Seq(wireName(a) -> BDoc("$sum" -> BInt32(1)))
        case GroupAgg.CountCol(c, a) => Seq(wireName(a) -> countColAcc(ref(c)))
        case GroupAgg.MinOf(c, a) => Seq(wireName(a) -> BDoc("$min" -> BString(ref(c))))
        case GroupAgg.MaxOf(c, a) => Seq(wireName(a) -> BDoc("$max" -> BString(ref(c))))
        case GroupAgg.SumOf(c, a) =>
          Seq(wireName(a) -> BDoc("$sum" -> BString(ref(c))),
            wireName(sumPresenceAlias(a)) -> countColAcc(ref(c)))
      }
    BDoc("$group" -> BDoc(groupFields: _*))
  }

  /** Re-key one `$group` result doc to the [[ServerClient
    * .groupAggregate]] contract: the server's `_id` group value(s)
    * (scalar / compound doc / null) come back under each group column's
    * name, and a plain `$sum` whose [[sumPresenceAlias]] companion says
    * 0 non-null inputs is corrected to NULL (a real server's `$sum` is
    * 0 there; the contract — Spark SUM — requires NULL).
    */
  def regroup(d: BDoc, groupKeys: Seq[String], aggs: Seq[GroupAgg]): BDoc = {
    val groupFields: Seq[(String, BsonValue)] = groupKeys match {
      case Seq() => Seq.empty
      case Seq(k) => Seq(k -> d.get("_id").getOrElse(BNull))
      case ks =>
        val idDoc = d.get("_id") match {
          case Some(doc: BDoc) => doc
          case _ => BDoc.empty
        }
        // a missing field groups as a MISSING entry in the compound
        // _id — read it back as NULL, Spark's value for it. The wire
        // keys are the dot-sanitized [[wireName]] forms; re-key to the
        // contract (dotted) names.
        ks.map(k => k -> idDoc.get(wireName(k)).getOrElse(BNull))
    }
    val aggFields = aggs.map {
      case GroupAgg.SumOf(_, a)
          if d.get(wireName(sumPresenceAlias(a))).flatMap(asLong).contains(0L) =>
        a -> (BNull: BsonValue)
      case other => other.alias -> d.get(wireName(other.alias)).getOrElse(BNull)
    }
    BDoc(groupFields ++ aggFields: _*)
  }

  /** `[{$match: q}, {$group: {_id: <key>, <alias>: {$min: "$col"}, ...}}]`
    * — the grouped-aggregation pipeline for
    * [[ServerClient.groupAggregate]]; server-side `aggregate()` is the
    * reference's established pattern (SampleSplitter.java:79-88), here
    * with the `$group` stage. COUNT renders as the canonical
    * `{$sum: 1}`. The `_id` shape follows the key count: no keys →
    * `null` (a filtered GLOBAL aggregate — one group for all matched
    * docs), one key → `"$key"`, several → the compound doc
    * `{k1: "$k1", k2: "$k2", ...}`. Every plain SUM also renders its
    * [[sumPresenceAlias]] companion (see there).
    */
  /** The `$unwind` stage body; `includeArrayIndex` renders the element's
    * original index (int64 on a real server, NULL for null/empty/
    * non-array parents) into `posField` — posexplode's pos source. */
  def unwindBody(u: ServerClient.Unwind): BDoc = BDoc(
    (Seq("path" -> (BString("$" + u.path): BsonValue),
      "preserveNullAndEmptyArrays" -> (BBool(u.preserveNullAndEmpty): BsonValue)) ++
      u.posField.map(f => "includeArrayIndex" -> (BString(f): BsonValue))): _*)

  /** The unwind as a STAGE SEQUENCE: one `$unwind` for arrays; for a
    * MAP explode (r15), `$set: {__graft_kv: {$objectToArray: "$path"}}`
    * followed by `$unwind: "$__graft_kv"` — each result doc carries one
    * `{k, v}` entry, which the key/value columns read through their
    * column_mapping entries. */
  def unwindStageSeq(u: ServerClient.Unwind): Seq[BDoc] =
    if (!u.mapKv) Seq(BDoc("$unwind" -> unwindBody(u)))
    else {
      val kv = graft.plans.UnwindRelocate.KvDocField
      Seq(
        BDoc("$set" -> BDoc(kv ->
          BDoc("$objectToArray" -> BString("$" + u.path)))),
        BDoc("$unwind" -> BDoc(
          (Seq("path" -> (BString("$" + kv): BsonValue),
            "preserveNullAndEmptyArrays" ->
              (BBool(u.preserveNullAndEmpty): BsonValue)) ++
            u.posField.map(f =>
              "includeArrayIndex" -> (BString(f): BsonValue))): _*)))
    }

  def groupStages(matchDoc: BDoc, groupKeys: Seq[String],
      aggs: Seq[GroupAgg],
      unwind: Option[ServerClient.Unwind] = None,
      postMatchDoc: BDoc = BDoc.empty,
      /** derived columns (r17): a `$set` after the pre-`$match` (which
        * never references them — computed filters stay residual at the
        * scan), so group keys/aggregates address real fields. */
      computed: Seq[graft.query.ComputedCol] = Nil): Seq[BDoc] = {
    val group = groupStageDoc(identity, groupKeys, aggs)
    val pre =
      if (matchDoc.fields.isEmpty) Seq.empty
      else Seq(BDoc("$match" -> matchDoc))
    val setStage = graft.query.ComputedCol.setStage(computed).toSeq
    // the PRE query never references the unwound element (the builder
    // splits element filters into postMatchDoc), so $match commutes
    // with $unwind and runs FIRST — fewer docs enter the unwind; the
    // POST $match filters the element itself (post-unwind the path
    // holds the element) between $unwind and $group
    val uw = unwind.toSeq.flatMap(unwindStageSeq)
    val post =
      if (postMatchDoc.fields.isEmpty) Seq.empty
      else Seq(BDoc("$match" -> postMatchDoc))
    pre ++ setStage ++ uw ++ post :+ group
  }

  /** `[$match(pre), $unwind, $match(post), $sort?, $skip?, $limit?,
    * $project?]` — the unwound ROW pipeline for
    * [[ServerClient.unwoundRead]]: a LIMIT / ORDER-BY-LIMIT / OFFSET
    * tail over an unwound scan must count UNWOUND rows, which the
    * find() cursor's parent-doc knobs cannot. Stage order is the
    * semantic order; `$project` runs LAST so the sort sees stored
    * documents and only surviving rows pay the reshape.
    */
  def unwoundStages(matchDoc: BDoc, u: ServerClient.Unwind,
      postMatchDoc: BDoc, sortSpec: Seq[(String, Boolean)],
      skip: Long, limit: Long, projection: Option[Seq[String]]): Seq[BDoc] = {
    val pre =
      if (matchDoc.fields.isEmpty) Seq.empty
      else Seq(BDoc("$match" -> matchDoc))
    val uw = unwindStageSeq(u)
    val post =
      if (postMatchDoc.fields.isEmpty) Seq.empty
      else Seq(BDoc("$match" -> postMatchDoc))
    val sort =
      if (sortSpec.isEmpty) Seq.empty else Seq(BDoc("$sort" -> sortDoc(sortSpec)))
    val sk = if (skip > 0) Seq(BDoc("$skip" -> BInt64(skip))) else Seq.empty
    val lim = if (limit >= 0) Seq(BDoc("$limit" -> BInt64(limit))) else Seq.empty
    val proj = projection.filter(_.nonEmpty)
      .map(f => BDoc("$project" -> projectionDoc(f))).toSeq
    pre ++ uw ++ post ++ sort ++ sk ++ lim ++ proj
  }

  /** `$project` doc renaming each doc field to its output name —
    * `{out: "$field", ...}` with `_id` excluded unless it IS an output
    * name (a computed `_id` entry replaces the exclusion).
    */
  def aliasProjection(spec: Seq[(String, String)]): BDoc = {
    val renames = spec.map { case (f, o) => o -> (BString("$" + f): BsonValue) }
    BDoc(ListMap(
      (if (spec.exists(_._2 == "_id")) renames
       else ("_id" -> (BInt32(0): BsonValue)) +: renames): _*))
  }

  /** A split range as a bracket-style `$match` conjunct —
    * `{k: {$gte: lo, $lt: hi}}`. A cursor gets ranges as `$min`/`$max`
    * index bounds (cross-type exact); a PIPELINE has no such knob, and
    * the bracket spelling is only exact over uniformly-stored keys —
    * callers gate on `assume_uniform_storage` (see
    * [[ServerClient.lookupJoin]]).
    */
  def rangeMatchDoc(key: String, lo: Option[BsonValue],
      hi: Option[BsonValue]): Option[BDoc] =
    if (lo.isEmpty && hi.isEmpty) None
    else Some(BDoc(key -> BDoc(ListMap(
      (lo.map("$gte" -> _) ++ hi.map("$lt" -> _)).toSeq: _*))))

  /** The `$lookup` equi-join pipeline of [[ServerClient.lookupJoin]]:
    *
    * {{{
    * [{$match: leftMatch},                       // split range ∧ query
    *  {$project: {lOut: "$lField", ...}},        // driving aliases
    *  {$lookup: {from: rightColl,
    *             let: {v0: "$lKeyOut0", ...},
    *             pipeline: [{$match: rightMatch},    // query ∧ keys non-null
    *                        {$match: {$expr: {$and: [{$eq: ["$rKeyField0", "$$v0"]}, ...]}}},
    *                        {$project: {rOut: "$rField", ...}}],
    *             as: "__j"}},
    *  {$unwind: {path: "$__j", preserveNullAndEmptyArrays: leftOuter}}]
    * }}}
    *
    * The caller flattens each result doc's `__j` subdocument to the top
    * level. Key equality runs BEFORE the right projection, so the
    * `$expr` references right DOC fields; `let` vars bind the driving
    * side's already-projected output names. Server-side `aggregate()`
    * is the reference's established pattern
    * (core/.../splitter/SampleSplitter.java:79-88) — `$lookup` is that
    * pattern applied to the join the reference always re-shuffled
    * client-side.
    */
  val JoinedField = "__j"

  /** Tail stages for the join's optional group/limit arm: the `$group`
    * references left outputs at the top level and right outputs at
    * their pre-flatten `__j.` home; the `$limit` is the partial
    * per-pipeline row cap. `leftOuts` = the left side's output names.
    */
  /** The joined-output home of a column name relative to the CURRENT
    * flatten boundary: a left output (matched by HEAD — a nested ref
    * `meta.lang` lives where its top-level output `meta` does) sits at
    * the top level, a right output at its pre-flatten `__j.` place. */
  private def joinedHome(leftOuts: Set[String])(c: String): String =
    if (leftOuts(c.split('.').head)) c else JoinedField + "." + c

  def lookupTail(leftOuts: Set[String],
      group: Option[(Seq[String], Seq[GroupAgg])],
      limit: Option[Long],
      topN: Option[(Seq[(String, Boolean)], Long)] = None,
      skip: Option[Long] = None): Seq[BDoc] =
    skip.map(n => BDoc("$skip" -> BInt64(n))).toSeq ++ ((group, topN) match {
      case (Some((keys, aggs)), _) =>
        Seq(groupStageDoc(joinedHome(leftOuts), keys, aggs))
      case (None, Some((spec, n))) =>
        // ORDER BY ... LIMIT n over the joined rows: a $sort on the
        // joined-home PATHS plus the partial $limit — one more pipeline
        // tail, never a Spark sort over shipped rows
        Seq(
          BDoc("$sort" -> BDoc(ListMap(spec.map { case (c, desc) =>
            joinedHome(leftOuts)(c) -> (BInt32(if (desc) -1 else 1): BsonValue)
          }: _*))),
          BDoc("$limit" -> BInt64(n)))
      case (None, None) => limit.map(n => BDoc("$limit" -> BInt64(n))).toSeq
    })

  /** The `$lookup`+`$unwind` pair joining `rightColl` on let-var key
    * equalities — the per-stage core shared by the base pipeline and
    * every [[ChainStage]]. `keys` are (left OUTPUT, right OUTPUT) pairs;
    * the `$expr` references right DOC fields (equality runs before the
    * right projection), `let` vars bind the driving side's
    * already-projected output names.
    */
  private def lookupUnwind(rightColl: String, rightMatch: BDoc,
      rightProject: Seq[(String, String)],
      keys: Seq[(String, String)], leftOuter: Boolean,
      /** range conjuncts (r17): `leftOut OP rightOut` rendered as
        * further `$expr` comparisons — `{$lt: ["$$rK", "$rField"]}` —
        * with a `{$gt: ["$$rK", null]}` guard per driving operand
        * (aggregation comparisons use BSON TOTAL order, where
        * null/missing sort below every value: an unguarded null left
        * operand would `$lt`-match where Spark's null comparison drops
        * the row — the guard makes a LEFT OUTER row with a null range
        * operand null-extend exactly like Spark; under INNER the
        * driving `$match` already filtered it, the guard is then
        * vacuous). Right-side operands are null-filtered by the
        * caller's rightMatch, mirroring the key non-null conjuncts. */
      ranges: Seq[LookupJoin.RangeKey] = Nil,
      rightComputed: Seq[graft.query.ComputedCol] = Nil): Seq[BDoc] = {
    val letVars = keys.zipWithIndex.map { case ((lo, _), i) => s"v$i" -> lo } ++
      ranges.zipWithIndex.map { case (r, i) => s"r$i" -> r.leftOut }
    // key outputs may be nested under a projected struct column —
    // resolve to the document field path ($expr runs pre-projection)
    val eqs: Vector[BsonValue] = keys.zipWithIndex.map { case ((_, ro), i) =>
      BDoc("$eq" -> BArray(Vector(
        BString("$" + LookupJoin.fieldOf(rightProject, ro)),
        BString("$$v" + i)))): BsonValue
    }.toVector
    val rangeOps = Map("<" -> "$lt", "<=" -> "$lte", ">" -> "$gt", ">=" -> "$gte")
    val rngs: Vector[BsonValue] = ranges.zipWithIndex.flatMap { case (r, i) =>
      Vector[BsonValue](
        BDoc("$gt" -> BArray(Vector(BString("$$r" + i), BNull))),
        BDoc(rangeOps(r.op) -> BArray(Vector(
          BString("$$r" + i),
          BString("$" + LookupJoin.fieldOf(rightProject, r.rightOut))))))
    }.toVector
    val conds = eqs ++ rngs
    val exprDoc = BDoc("$expr" ->
      (if (conds.size == 1) conds.head else BDoc("$and" -> BArray(conds))))
    val innerPipeline: Vector[BsonValue] =
      // lookup-side derived columns materialize FIRST: the rightMatch
      // may carry the non-null key prune on a computed field (r17)
      graft.query.ComputedCol.setStage(rightComputed)
        .toVector.map(identity[BsonValue]) ++
      (if (rightMatch.fields.isEmpty) Vector.empty[BsonValue]
       else Vector(BDoc("$match" -> rightMatch): BsonValue)) ++
        Vector[BsonValue](
          BDoc("$match" -> exprDoc),
          BDoc("$project" -> aliasProjection(rightProject)))
    val lookup = BDoc("$lookup" -> BDoc(
      "from" -> BString(rightColl),
      "let" -> BDoc(ListMap(letVars.map { case (v, lo) =>
        v -> (BString("$" + lo): BsonValue) }: _*)),
      "pipeline" -> BArray(innerPipeline),
      "as" -> BString(JoinedField)))
    val unwind = BDoc("$unwind" -> BDoc(
      "path" -> BString("$" + JoinedField),
      "preserveNullAndEmptyArrays" -> BBool(leftOuter)))
    Seq(lookup, unwind)
  }

  def lookupStages(leftMatch: BDoc, leftProject: Seq[(String, String)],
      rightColl: String, rightMatch: BDoc,
      rightProject: Seq[(String, String)],
      keys: Seq[(String, String)], leftOuter: Boolean,
      /** driving-side `$unwind` + its post-unwind element `$match`
        * (r15): rendered between the pre-`$match` and the left
        * `$project`, so per-ELEMENT rows feed the `$lookup`. */
      unwind: Option[ServerClient.Unwind] = None,
      unwindPostDoc: BDoc = BDoc.empty,
      ranges: Seq[LookupJoin.RangeKey] = Nil,
      /** derived columns (r17): the DRIVING side's `$set` renders after
        * its `$match` (which never references them — the scan keeps the
        * non-null key prune off computed fields under INNER, the `$expr`
        * equality/guards handle nulls); the LOOKUP side's `$set` renders
        * FIRST in the sub-pipeline (its `$match` may carry the non-null
        * prune on a computed key). */
      leftComputed: Seq[graft.query.ComputedCol] = Nil,
      rightComputed: Seq[graft.query.ComputedCol] = Nil): Seq[BDoc] =
    (if (leftMatch.fields.isEmpty) Seq.empty
     else Seq(BDoc("$match" -> leftMatch))) ++
      graft.query.ComputedCol.setStage(leftComputed).toSeq ++
      unwind.toSeq.flatMap(unwindStageSeq) ++
      (if (unwindPostDoc.fields.isEmpty) Seq.empty
       else Seq(BDoc("$match" -> unwindPostDoc))) ++
      Seq(BDoc("$project" -> aliasProjection(leftProject))) ++
      lookupUnwind(rightColl, rightMatch, rightProject, keys, leftOuter,
        ranges, rightComputed)

  /** One CHAINED stage: a `$project` that FLATTENS the previous join
    * (each previous output re-aliased from its joined home to this
    * stage's output name), then the stage's own `$lookup`+`$unwind` —
    * the 3-way+ star query stays ONE pipeline.
    */
  def chainStages(prevLeftOuts: Set[String], leftProject: Seq[(String, String)],
      rightColl: String, rightMatch: BDoc,
      rightProject: Seq[(String, String)],
      keys: Seq[(String, String)], leftOuter: Boolean,
      /** range conjuncts of THIS stage (r18): rendered into its `$expr`
        * with the same per-var null guards as the base join's. */
      ranges: Seq[LookupJoin.RangeKey] = Nil): Seq[BDoc] = {
    val flatten = aliasProjection(leftProject.map { case (prev, out) =>
      (joinedHome(prevLeftOuts)(prev), out)
    })
    Seq(BDoc("$project" -> flatten)) ++
      lookupUnwind(rightColl, rightMatch, rightProject, keys, leftOuter,
        ranges)
  }

  /** Apply a projection client-side (the residual-query path cannot push
    * the server projection: the residual may read unprojected fields).
    * Dotted paths re-NEST like a server projection does (`{"a.b": 1}`
    * returns `{a: {b: ...}}`) — consumers read projected values by path,
    * so client- and server-side projections must produce one shape.
    */
  def projectClient(d: BDoc, fields: Seq[String]): BDoc =
    projector(fields)(d)

  /** Pre-compiled form of [[projectClient]] for per-cursor use: the
    * field dedup and dotted-path splits happen once, not once per
    * document streamed through the cursor. Same output exactly.
    */
  def projector(fields: Seq[String]): BDoc => BDoc = {
    val parts = fields.distinct.map(f => (f, f.split('.').toList))
    d => parts.foldLeft(BDoc.empty) { case (acc, (f, ps)) =>
      d.getPath(f) match {
        case Some(v) => insertPath(acc, ps, v)
        case None => acc
      }
    }
  }

  /** Insert a value at a dotted path, creating/merging subdocuments. */
  private def insertPath(d: BDoc, parts: List[String], v: BsonValue): BDoc =
    parts match {
      case last :: Nil => BDoc(d.fields.updated(last, v))
      case head :: tail =>
        val inner = d.fields.get(head) match {
          case Some(b: BDoc) => b
          case _ => BDoc.empty
        }
        BDoc(d.fields.updated(head, insertPath(inner, tail, v)))
      case Nil => d
    }

  /** `rs0/h1:27017,h2:27017` → `Seq(h1:27017, h2:27017)` — strip the
    * replica-set prefix of a `config.shards` host string, the reference's
    * convention when mapping chunk shards to preferred locations
    * (core/.../splitter/ShardChunkMongoSplitter.java).
    */
  def hostList(host: String): Seq[String] = {
    val stripped = host.indexOf('/') match {
      case -1 => host
      case i => host.substring(i + 1)
    }
    stripped.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  def asLong(v: BsonValue): Option[Long] = v match {
    case BInt32(x) => Some(x.toLong)
    case BInt64(x) => Some(x)
    case BDouble(x) => Some(x.toLong)
    case _ => None
  }
}

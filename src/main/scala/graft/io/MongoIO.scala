package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.schema.FieldDef

/**
 * Document-store (MongoDB-shaped) source/sink, mirroring the reference's
 * query surface (reference:
 * src/etl_core/components/databases/mongodb/mongodb_read.py:31-73,
 * mongodb_write.py:21-111, receivers/databases/mongodb/mongodb_receiver.py:47-258):
 *
 *  - find() with equality filter, sort [(field, ±1)], skip, limit;
 *  - PROJECTION PUSHDOWN derived from the out-port schema's leaf paths —
 *    `_id` excluded unless declared (mongodb_read.py:53-73), so the store
 *    only ships declared fields;
 *  - writes: INSERT (insert_many), UPSERT ($set by key_fields match),
 *    TRUNCATE; executed per partition through a serializable store
 *    factory — a real MongoDB implementation opens one client per
 *    partition there (no Mongo driver ships in this offline environment,
 *    so the bundled implementation is an in-process store that preserves
 *    exactly these semantics for tests and local runs).
 *
 * Documents travel as JSON strings across the trait boundary; Spark-side
 * they parse via from_json against the declared schema — typed, columnar,
 * and nested end-to-end.
 */
object MongoIO {

  /** Half-open range predicate on a splittable key (Mongo:
    * {field: {$gte: .., $lt: ..}}); None bound = unbounded side. */
  final case class KeyRange(field: String, gte: Option[Any], lt: Option[Any])

  final case class FindSpec(
      filter: Map[String, Any] = Map.empty,     // top-level equality match
      sort: Seq[(String, Int)] = Nil,           // (field, 1|-1)
      skip: Int = 0,
      limit: Option[Int] = None,
      projection: Seq[String] = Nil,            // dotted leaf paths; empty = all
      range: Option[KeyRange] = None)           // partition range pushdown

  /** Store seam: a real Mongo impl wraps a MongoClient per instance. */
  trait DocumentStore {
    def find(collection: String, spec: FindSpec): Seq[String]
    /** Matching-document count for `filter` — cheap metadata (Mongo:
      * countDocuments), used by the read path to split the fetch into
      * executor-side slices. */
    def count(collection: String, filter: Map[String, Any]): Long
    def insert(collection: String, docs: Seq[String]): Unit
    def upsert(collection: String, docs: Seq[String], keys: Seq[String]): Unit
    /** UPDATE mode (no insert-if-missing): for each incoming doc, match
      * existing documents by `matchFilter` (explicit, overrides keys) or
      * by the doc's `keys` values, and $set only `updateFields` (all doc
      * fields when empty). Reference mongodb_receiver.py:47-63,310-320. */
    def update(collection: String, docs: Seq[String], keys: Seq[String],
               matchFilter: Map[String, Any], updateFields: Seq[String]): Unit
    def truncate(collection: String): Unit
    /** Up to `parts - 1` ascending split values of `field` over the
      * documents matching `filter` — cheap server-side metadata (real
      * MongoDB: splitVector on _id, or a $sample + sort aggregation).
      * Nil = store cannot split this key; readers fall back to
      * skip/limit slicing. */
    def splitPoints(collection: String, filter: Map[String, Any],
                    field: String, parts: Int): Seq[Any] = Nil
  }

  /** Serializable handle that opens a store on an executor. */
  trait StoreFactory extends Serializable { def open(): DocumentStore }

  /** Dotted leaf paths of a schema — the derived projection
    * (mongodb_read.py:53-73). `_id` appears only if declared. */
  def projectionOf(fields: Seq[FieldDef]): Seq[String] = {
    def leaves(prefix: String, fs: Seq[FieldDef]): Seq[String] = fs.flatMap { f =>
      val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      if (f.children.nonEmpty) leaves(p, f.children) else Seq(p)
    }
    leaves("", fields)
  }

  /** Read: pushdown filter/sort/skip/limit/projection into the store, parse
    * the returned documents against the declared schema.
    *
    * DISTRIBUTED: the driver touches only metadata (countDocuments /
    * splitPoints); the documents themselves are fetched inside
    * `mapPartitions`-style tasks, one store per partition (mirroring the
    * write path). No document ever materializes on the driver, so the
    * read scales with executor count instead of driver heap.
    *
    * PARTITIONING, preferred path: when `splitKey` is set and the query
    * is splittable (no sort/skip/limit — those impose a global order the
    * server must own), the driver fetches up to P-1 split values of the
    * key and each task runs an independent range find
    * ({key: {$gte, $lt}}): against a real MongoDB every task is an
    * indexed range scan, total server work O(n). Fallback path
    * (unsplittable queries, or a store that cannot split the key):
    * disjoint skip/limit slices of the one global enumeration — correct
    * under the stable-order contract, but server-side skip is O(skip),
    * so the slice fleet costs O(n·P) cursor-walk; fine for
    * bounded/sorted reads, which is exactly where it still applies. */
  def read(spark: SparkSession, factory: StoreFactory, collection: String,
           schema: Seq[FieldDef], filter: Map[String, Any] = Map.empty,
           sort: Seq[(String, Int)] = Nil, skip: Int = 0,
           limit: Option[Int] = None, numPartitions: Int = 0,
           splitKey: Option[String] = None): DataFrame = {
    import spark.implicits._
    val spec = FindSpec(filter, sort, skip, limit, projectionOf(schema))
    val st = FieldDef.toStructType(schema)
    val target = if (numPartitions > 0) numPartitions
                 else spark.sparkContext.defaultParallelism
    def fromDocs(docs: org.apache.spark.sql.Dataset[String]): DataFrame =
      docs.toDF("doc")
        .select(from_json(col("doc"), st).as("rec"))
        .select(col("rec.*"))

    val splittable = splitKey.isDefined && sort.isEmpty && skip == 0 && limit.isEmpty
    val points =
      if (splittable)
        factory.open().splitPoints(collection, filter, splitKey.get, target)
      else Nil
    if (splittable && points.nonEmpty) {
      // range partitions: (-inf, p1), [p1, p2), ..., [pLast, +inf)
      val key = splitKey.get
      val bounds = (None +: points.map(Some(_))) :+ None
      val ranges = bounds.sliding(2).map {
        case Seq(lo, hi) => KeyRange(key, lo, hi)
      }.toSeq
      fromDocs(spark.createDataset(
        spark.sparkContext.parallelize(ranges, ranges.size)
          .mapPartitions { it =>
            val store = factory.open() // one store per partition, like write
            it.flatMap(r => store.find(collection, spec.copy(range = Some(r))))
          }))
    } else {
      val matched = factory.open().count(collection, filter)
      val avail = math.max(0L, matched - skip)
      val n = limit.fold(avail)(l => math.min(avail, l.toLong))
      // don't spin up a task per handful of docs; at production scale the
      // slice count is driven by the declared parallelism
      val minChunk = 100L
      val parts = math.max(1L, math.min(target.toLong, (n + minChunk - 1) / minChunk)).toInt
      // skip/limit pagination bottoms out in the driver's skip(int) —
      // a silent .toInt past 2^31 would issue negative skips and drop
      // or duplicate data; fail loudly and point at the ranged path
      require(skip + n <= Int.MaxValue,
        s"mongo read: skip+count ${skip + n} exceeds the driver's int " +
          "skip range — declare a split_key so the read slices by key " +
          "ranges instead of skip/limit")
      val slices = (0 until parts).map { i =>
        val start = n * i / parts
        val end = n * (i + 1) / parts
        (skip + start, (end - start).toInt)
      }.filter(_._2 > 0)
      if (slices.isEmpty) fromDocs(spark.emptyDataset[String])
      else fromDocs(spark.createDataset(
        spark.sparkContext.parallelize(slices, slices.size)
          .mapPartitions { it =>
            val store = factory.open()
            it.flatMap { case (sk, ln) =>
              store.find(collection, spec.copy(skip = sk.toInt, limit = Some(ln)))
            }
          }))
    }
  }

  /** Write with insert/upsert/update/truncate modes, one store per
    * partition. `update` mirrors the reference's distinct UPDATE
    * operation: match by `matchFilter` (explicit, overrides key_fields)
    * or per-row key values, $set restricted to `updateFields` when given,
    * never inserting a missing document. */
  def write(df: DataFrame, factory: StoreFactory, collection: String,
            mode: String, keys: Seq[String] = Nil, batchSize: Int = 1000,
            matchFilter: Map[String, Any] = Map.empty,
            updateFields: Seq[String] = Nil): Unit =
    mode.toLowerCase match {
      case "truncate" =>
        factory.open().truncate(collection)
        writeInsert(df, factory, collection, batchSize)
      case "insert" => writeInsert(df, factory, collection, batchSize)
      case "upsert" =>
        require(keys.nonEmpty, "mongo upsert requires key_fields")
        df.toJSON.foreachPartition { it: Iterator[String] =>
          val store = factory.open()
          it.grouped(batchSize).foreach(b => store.upsert(collection, b.toSeq, keys))
        }
      case "update" =>
        require(keys.nonEmpty || matchFilter.nonEmpty,
          "mongo update requires key_fields or match_filter")
        df.toJSON.foreachPartition { it: Iterator[String] =>
          val store = factory.open()
          it.grouped(batchSize).foreach(b =>
            store.update(collection, b.toSeq, keys, matchFilter, updateFields))
        }
      case other => throw new IllegalArgumentException(s"unknown mongo write mode: $other")
    }

  private def writeInsert(df: DataFrame, factory: StoreFactory,
                          collection: String, batchSize: Int): Unit =
    df.toJSON.foreachPartition { it: Iterator[String] =>
      val store = factory.open()
      it.grouped(batchSize).foreach(b => store.insert(collection, b.toSeq))
    }

  // ------------------------------------------------- in-process test store

  /** JVM-local store registry; `InMemory(name)` is a serializable factory
    * resolving to the same store on every local-mode "executor". */
  final case class InMemory(name: String) extends StoreFactory {
    def open(): DocumentStore = InMemoryStores.get(name)
  }

  object InMemoryStores {
    private val stores = new java.util.concurrent.ConcurrentHashMap[String, InMemoryStore]()
    def get(name: String): InMemoryStore =
      stores.computeIfAbsent(name, _ => new InMemoryStore)
    def drop(name: String): Unit = stores.remove(name)
  }

  final class InMemoryStore extends DocumentStore {
    private val colls =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.List[String]]()

    private def coll(c: String): java.util.List[String] =
      colls.computeIfAbsent(c, _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]()))

    private def field(doc: JValue, path: String): JValue =
      path.split('.').foldLeft(doc)((j, seg) => j \ seg)

    private def toJ(v: Any): JValue = v match {
      case s: String  => JString(s)
      case i: Int     => JInt(BigInt(i))
      case l: Long    => JInt(BigInt(l))
      case i: BigInt  => JInt(i)
      case d: Double  => JDouble(d)
      case b: Boolean => JBool(b)
      case j: JValue  => j
      case other      => JString(String.valueOf(other))
    }

    private def inRange(d: JValue, r: KeyRange): Boolean = {
      val v = field(d, r.field)
      // a doc missing the key sorts below every value (BSON missing-first):
      // it belongs to the unbounded-below partition, never lost
      if (v == JNothing) r.gte.isEmpty
      else r.gte.forall(b => jOrd.compare(v, toJ(b)) >= 0) &&
        r.lt.forall(b => jOrd.compare(v, toJ(b)) < 0)
    }

    private def matches(d: JValue, filter: Map[String, Any]): Boolean =
      filter.forall { case (k, v) =>
        field(d, k) match {
          case JString(s)  => s == v
          case JInt(i)     => i == v
          case JLong(l)    => l == v
          case JDouble(x)  => x == v
          case JBool(b)    => b == v
          case _           => false
        }
      }

    def count(collection: String, filter: Map[String, Any]): Long = {
      import scala.jdk.CollectionConverters._
      val docs = coll(collection).asScala.toSeq
      if (filter.isEmpty) docs.size.toLong
      else docs.count(s => matches(JsonMethods.parse(s), filter)).toLong
    }

    /** Total order over JValues, BSON-flavoured: missing < null < numbers
      * < strings < objects < arrays < booleans. Ranking FIRST keeps the
      * order transitive on mixed-type keys (a rendered-string fallback
      * across types is not: JInt(10) < JString("3") < JInt(9)), so
      * TimSort never throws and range bounds stay monotone. Within a
      * rank: numbers compare numerically across JInt/JLong/JDouble,
      * strings/bools natively, composites by rendered JSON. */
    private val jOrd = new Ordering[JValue] {
      private def rank(v: JValue): Int = v match {
        case JNothing                        => 0
        case JNull                           => 1
        case JInt(_) | JLong(_) | JDouble(_) | JDecimal(_) => 2
        case JString(_)                      => 3
        case JObject(_)                      => 4
        case JArray(_)                       => 5
        case JBool(_)                        => 6
        case _                               => 7
      }
      private def num(v: JValue): BigDecimal = v match {
        case JInt(x)     => BigDecimal(x)
        case JLong(x)    => BigDecimal(x)
        case JDouble(x)  => BigDecimal(x)
        case JDecimal(x) => x
        case _           => BigDecimal(0)
      }
      // BigDecimal(Double) throws on NaN/±Infinity, which a stored doc can
      // legally carry; rank such pairs with IEEE total order instead
      // (Double.compare: -Inf < finite < +Inf < NaN — still transitive).
      private def nonFinite(v: JValue): Boolean = v match {
        case JDouble(x) => !java.lang.Double.isFinite(x)
        case _          => false
      }
      private def dbl(v: JValue): Double = v match {
        case JInt(x)     => x.toDouble
        case JLong(x)    => x.toDouble
        case JDouble(x)  => x
        case JDecimal(x) => x.toDouble
        case _           => 0.0
      }
      def compare(a: JValue, b: JValue): Int = {
        val byRank = rank(a).compare(rank(b))
        if (byRank != 0) byRank
        else (a, b) match {
          case (JString(x), JString(y)) => x.compare(y)
          case (JBool(x), JBool(y))     => x.compare(y)
          case _ if rank(a) == 2 && (nonFinite(a) || nonFinite(b)) =>
            // Never convert the exact side to Double here: a JDecimal whose
            // toDouble overflows to Infinity would compare EQUAL to
            // JDouble(Infinity) while two such JDecimals compare exactly —
            // an intransitive ordering that can trip TimSort. Rank instead:
            // -Inf < all exact values < +Inf < NaN (IEEE total order for
            // the both-non-finite case).
            if (nonFinite(a) && nonFinite(b))
              java.lang.Double.compare(dbl(a), dbl(b))
            else if (nonFinite(a))
              (if (dbl(a) == Double.NegativeInfinity) -1 else 1)
            else
              (if (dbl(b) == Double.NegativeInfinity) 1 else -1)
          case _ if rank(a) == 2        => num(a).compare(num(b))
          case _ if rank(a) <= 1        => 0
          case (x, y) => JsonMethods.compact(JsonMethods.render(x))
            .compare(JsonMethods.compact(JsonMethods.render(y)))
        }
      }
    }

    def find(collection: String, spec: FindSpec): Seq[String] = {
      import scala.jdk.CollectionConverters._
      var docs = coll(collection).asScala.toSeq.map(JsonMethods.parse(_))
      if (spec.filter.nonEmpty)
        docs = docs.filter(matches(_, spec.filter))
      spec.range.foreach(r => docs = docs.filter(inRange(_, r)))
      if (spec.sort.nonEmpty) {
        docs = spec.sort.reverse.foldLeft(docs) { case (ds, (f, dir)) =>
          val sorted = ds.sortBy(field(_, f))(jOrd)
          if (dir < 0) sorted.reverse else sorted
        }
      }
      docs = docs.drop(spec.skip)
      spec.limit.foreach(l => docs = docs.take(l))
      val projected =
        if (spec.projection.isEmpty) docs
        else docs.map { d =>
          // keep only projected top-level branches (dotted prefixes)
          val tops = spec.projection.map(_.split('.').head).distinct
          JObject(tops.flatMap(t => (d \ t) match {
            case JNothing => None
            case v        => Some(t -> v)
          }).toList)
        }
      projected.map(d => JsonMethods.compact(JsonMethods.render(d)))
    }

    def insert(collection: String, docs: Seq[String]): Unit =
      coll(collection).addAll(java.util.Arrays.asList(docs: _*))

    def upsert(collection: String, docs: Seq[String], keys: Seq[String]): Unit = {
      val list = coll(collection)
      docs.foreach { docStr =>
        val doc = JsonMethods.parse(docStr)
        val keyVals = keys.map(k => k -> field(doc, k))
        var matched = false
        var i = 0
        while (i < list.size()) {
          val cur = JsonMethods.parse(list.get(i))
          if (keyVals.forall { case (k, v) => field(cur, k) == v }) {
            // $set semantics: merge incoming fields over the match
            val merged = cur.merge(doc)
            list.set(i, JsonMethods.compact(JsonMethods.render(merged)))
            matched = true
          }
          i += 1
        }
        if (!matched) list.add(docStr)
      }
    }

    def update(collection: String, docs: Seq[String], keys: Seq[String],
               matchFilter: Map[String, Any], updateFields: Seq[String]): Unit = {
      val list = coll(collection)
      docs.foreach { docStr =>
        val doc = JsonMethods.parse(docStr)
        // explicit match_filter overrides key-derived matching
        val keyVals = keys.map(k => k -> field(doc, k))
        def hit(cur: JValue): Boolean =
          if (matchFilter.nonEmpty) matches(cur, matchFilter)
          else keyVals.forall { case (k, v) => field(cur, k) == v }
        val setDoc: JValue =
          if (updateFields.isEmpty) doc
          else JObject(updateFields.flatMap(f => (doc \ f) match {
            case JNothing => None
            case v        => Some(f -> v)
          }).toList)
        var i = 0
        while (i < list.size()) {
          val cur = JsonMethods.parse(list.get(i))
          if (hit(cur)) // $set merge; no insert when nothing matches
            list.set(i, JsonMethods.compact(JsonMethods.render(cur.merge(setDoc))))
          i += 1
        }
      }
    }

    def truncate(collection: String): Unit = coll(collection).clear()

    /** Quantile split values of `field` (real MongoDB: splitVector /
      * $sample). Returns distinct interior points only — may be fewer
      * than parts-1 on small or low-cardinality data. */
    override def splitPoints(collection: String, filter: Map[String, Any],
                             field0: String, parts: Int): Seq[Any] = {
      import scala.jdk.CollectionConverters._
      var docs = coll(collection).asScala.toSeq.map(JsonMethods.parse(_))
      if (filter.nonEmpty) docs = docs.filter(matches(_, filter))
      // SCALARS ONLY: a JNull/object/array split value would round-trip
      // through toJ as a rendered string (JNull -> JString("null")), making
      // the bound compare differently in inRange than the value did here —
      // range bounds would lose monotonicity and a doc could match zero or
      // two partitions. Docs whose key is null/missing/non-scalar still
      // land deterministically via jOrd's total order against scalar bounds.
      val vals = docs.map(field(_, field0)).filter {
        case JString(_) | JInt(_) | JLong(_) | JDouble(_) | JBool(_) => true
        case _ => false
      }.sorted(jOrd)
      if (vals.isEmpty || parts <= 1) Nil
      else (1 until parts).map(i => vals(vals.size * i / parts)).distinct
        .map {
          case JString(s) => s: Any
          case JInt(i)    => i.toLong: Any
          case JLong(l)   => l: Any
          case JDouble(d) => d: Any
          case JBool(b)   => b: Any
          case other      => JsonMethods.compact(JsonMethods.render(other)): Any
        }
    }
  }

  // ------------------------------------------------ wire-protocol store

  /** StoreFactory over the official MongoDB sync driver, bound by
    * REFLECTION: the offline build carries no driver jar and may add none
    * (zero egress), so the adapter resolves `com.mongodb.client.*` at
    * runtime when a deployment puts `mongodb-driver-sync` (and its bson /
    * mongodb-driver-core companions) on the classpath. Everything above
    * this seam — range-partitioned reads, executor-side batching, the four
    * write modes — is shared with the in-memory store, so pointing a job
    * at a live server is a config change, not a rewrite. Gated integration
    * coverage: io/RealDbIntegrationSpec (GRAFT_ITEST_MONGO_URI).
    * Mirrors the reference's opt-in layer
    * (tests/components/databases/test_real_database_connection.py). */
  final case class RealMongo(uri: String, database: String) extends StoreFactory {
    def open(): DocumentStore = new DriverStore(uri, database)
  }

  object DriverStore {
    /** True when the sync driver is on the classpath. */
    def available: Boolean =
      try { Class.forName("com.mongodb.client.MongoClients"); true }
      catch { case _: ClassNotFoundException => false }

    // one client per URI per JVM — the driver manages its own socket pool,
    // mirroring JdbcIO.ConnectionPool's executor-local reuse
    private val clients =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    private[io] def client(uri: String): AnyRef =
      clients.computeIfAbsent(uri, u =>
        Class.forName("com.mongodb.client.MongoClients")
          .getMethod("create", classOf[String]).invoke(null, u))
  }

  /** DocumentStore over a live server. Method handles are looked up on the
    * driver's PUBLIC INTERFACES (MongoDatabase/MongoCollection/
    * FindIterable), never on implementation classes — impl classes are
    * package-private and direct getMethod on them throws
    * IllegalAccessException. Documents cross the seam as driver-rendered
    * JSON (`Document.toJson`), the same contract the in-memory store
    * speaks. */
  final class DriverStore(uri: String, database: String) extends DocumentStore {
    require(DriverStore.available,
      "mongodb-driver-sync is not on the classpath — RealMongo needs the " +
        "official MongoDB sync driver at runtime (the offline build ships none)")

    private val docCls    = Class.forName("org.bson.Document")
    private val bsonCls   = Class.forName("org.bson.conversions.Bson")
    private val dbCls     = Class.forName("com.mongodb.client.MongoDatabase")
    private val collCls   = Class.forName("com.mongodb.client.MongoCollection")
    private val findCls   = Class.forName("com.mongodb.client.FindIterable")
    private val updOptCls = Class.forName("com.mongodb.client.model.UpdateOptions")

    private def newDoc(): AnyRef =
      docCls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
    private def parse(json: String): AnyRef =
      docCls.getMethod("parse", classOf[String]).invoke(null, json)
    private def append(d: AnyRef, k: String, v: Any): AnyRef =
      docCls.getMethod("append", classOf[String], classOf[Object])
        .invoke(d, k, v.asInstanceOf[Object])
    private def getField(d: AnyRef, k: String): AnyRef = {
      // filter KEYS keep their dotted form (Mongo's own nested-path
      // match syntax), but the VALUE must be extracted by walking the
      // parsed document: Document.get does no dot traversal, so a
      // dotted key_field would read null and the filter would match
      // any document missing that path — the in-memory store's field()
      // splits on '.', and this must stay in lockstep with it
      val get = docCls.getMethod("get", classOf[Object])
      k.split('.').foldLeft(d) { (cur, seg) =>
        if (cur == null || !docCls.isInstance(cur)) null
        else get.invoke(cur, seg)
      }
    }
    private def toJson(d: AnyRef): String =
      docCls.getMethod("toJson").invoke(d).asInstanceOf[String]
    private def docOf(fields: Iterable[(String, Any)]): AnyRef =
      fields.foldLeft(newDoc()) { case (d, (k, v)) => append(d, k, v) }

    private val db = {
      val c = DriverStore.client(uri)
      Class.forName("com.mongodb.client.MongoClient")
        .getMethod("getDatabase", classOf[String]).invoke(c, database)
    }
    private def coll(name: String): AnyRef =
      dbCls.getMethod("getCollection", classOf[String]).invoke(db, name)

    private def rangeDoc(r: KeyRange): Option[(String, Any)] = {
      val bounds = r.gte.map("$gte" -> _).toSeq ++ r.lt.map("$lt" -> _).toSeq
      if (bounds.isEmpty) None else Some(r.field -> docOf(bounds))
    }

    def find(collection: String, spec: FindSpec): Seq[String] = {
      val filter = docOf(spec.filter ++ spec.range.flatMap(rangeDoc))
      var it = collCls.getMethod("find", bsonCls).invoke(coll(collection), filter)
      if (spec.sort.nonEmpty)
        it = findCls.getMethod("sort", bsonCls)
          .invoke(it, docOf(spec.sort.map { case (f, d) => f -> (d: Any) }))
      if (spec.skip > 0)
        it = findCls.getMethod("skip", classOf[Int])
          .invoke(it, Int.box(spec.skip))
      spec.limit.foreach { l =>
        it = findCls.getMethod("limit", classOf[Int]).invoke(it, Int.box(l))
      }
      if (spec.projection.nonEmpty) {
        // same contract as the in-memory store: _id only when declared
        val incl = spec.projection.map(p => p -> (1: Any))
        val proj =
          if (spec.projection.contains("_id")) docOf(incl)
          else append(docOf(incl), "_id", 0)
        it = findCls.getMethod("projection", bsonCls).invoke(it, proj)
      }
      val out = scala.collection.mutable.ListBuffer.empty[String]
      val cursor = it.asInstanceOf[java.lang.Iterable[AnyRef]].iterator()
      while (cursor.hasNext) out += toJson(cursor.next())
      out.toSeq
    }

    def count(collection: String, filter: Map[String, Any]): Long =
      collCls.getMethod("countDocuments", bsonCls)
        .invoke(coll(collection), docOf(filter)).asInstanceOf[Long]

    def insert(collection: String, docs: Seq[String]): Unit = {
      val list = new java.util.ArrayList[AnyRef](docs.size)
      docs.foreach(d => list.add(parse(d)))
      collCls.getMethod("insertMany", classOf[java.util.List[_]])
        .invoke(coll(collection), list)
    }

    def upsert(collection: String, docs: Seq[String], keys: Seq[String]): Unit = {
      val c = coll(collection)
      val upsertOpts = {
        val o = updOptCls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
        updOptCls.getMethod("upsert", classOf[Boolean]).invoke(o, Boolean.box(true))
        o
      }
      val updateOne = collCls.getMethod("updateOne", bsonCls, bsonCls, updOptCls)
      docs.foreach { s =>
        val d = parse(s)
        val filter = docOf(keys.map(k => k -> (getField(d, k): Any)))
        updateOne.invoke(c, filter, append(newDoc(), "$set", d), upsertOpts)
      }
    }

    def update(collection: String, docs: Seq[String], keys: Seq[String],
               matchFilter: Map[String, Any], updateFields: Seq[String]): Unit = {
      val c = coll(collection)
      val updateMany = collCls.getMethod("updateMany", bsonCls, bsonCls)
      docs.foreach { s =>
        val d = parse(s)
        val filter =
          if (matchFilter.nonEmpty) docOf(matchFilter)
          else docOf(keys.map(k => k -> (getField(d, k): Any)))
        val setDoc =
          if (updateFields.isEmpty) d
          else docOf(updateFields.map(f => f -> (getField(d, f): Any)))
        updateMany.invoke(c, filter, append(newDoc(), "$set", setDoc))
      }
    }

    def truncate(collection: String): Unit =
      collCls.getMethod("deleteMany", bsonCls).invoke(coll(collection), newDoc())
  }
}

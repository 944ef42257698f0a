package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Server-side filter algebra — the predicate set applied during the relay
  * buffer scan and during bootstrap write-out (SURVEY.md §2.3).
  *
  * The reference models this as `DbusFilter.allow(DbusEvent): Boolean`
  * objects interpreted per event in the scan loop
  * (databus-core/.../filter/DbusFilter.java:24-26;
  * DbusEventBuffer.java:2235+). Spark-first re-expression: every filter is
  * a [[Column]] *predicate over the envelope columns*, so Catalyst pushes it
  * into the parquet scan (PushedFilters) instead of evaluating it per-row in
  * JVM code — at 100 TB that is the difference between scanning everything
  * and pruning row groups at the storage layer.
  *
  * Envelope columns referenced: `source_id`, `partition_id`, `key_long`,
  * `key_string`, `opcode` (null ⇒ control event).
  */
sealed trait DbusFilter {
  /** The predicate as a Catalyst column expression. */
  def toColumn: Column
  /** Schema-aware form: serving paths pass the envelope's column names so
    * filters whose semantics depend on the KEY KIND (KeyRange over mixed
    * LONG/STRING keys) can qualify themselves; every other filter ignores
    * it. Default = [[toColumn]]. */
  def toColumnFor(fields: Seq[String]): Column = toColumn
  /** SQL WHERE text for external-store pushdown, where expressible —
    * FilterToSQL fidelity (filter/FilterToSQL.java:27-77). `keyCol` is the
    * store's key column name (the reference hardcodes `srckey`). */
  def toSql(keyCol: String = "srckey"): Option[String] = None
}

/** Constant-true (filter/AllowAllDbusFilter.java:24). */
case object AllowAllFilter extends DbusFilter {
  override def toColumn: Column = lit(true)
  override def toSql(keyCol: String): Option[String] = Some("")
}

/** AND of a filter list (filter/ConjunctionDbusFilter.java:28-39). */
case class ConjunctionFilter(filters: Seq[DbusFilter]) extends DbusFilter {
  override def toColumn: Column =
    filters.map(_.toColumn).foldLeft(lit(true))(_ && _)
  override def toColumnFor(fields: Seq[String]): Column =
    filters.map(_.toColumnFor(fields)).foldLeft(lit(true))(_ && _)
}

/** srcId ∈ set (filter/SourceDbusFilter.java:26-37). */
case class SourceFilter(sourceIds: Set[Int]) extends DbusFilter {
  override def toColumn: Column =
    col("source_id").isin(sourceIds.toSeq.sorted.map(Integer.valueOf): _*)
}

/** partitionId == p, or wildcard; wraps a nested filter
  * (filter/PhysicalPartitionDbusFilter.java:29-47). */
case class PhysicalPartitionFilter(
    partition: Option[Short], nested: Option[DbusFilter]) extends DbusFilter {
  override def toColumn: Column = {
    val p = partition.map(col("partition_id") === _).getOrElse(lit(true))
    nested.map(n => p && n.toColumn).getOrElse(p)
  }
  override def toColumnFor(fields: Seq[String]): Column = {
    val p = partition.map(col("partition_id") === _).getOrElse(lit(true))
    nested.map(n => p && n.toColumnFor(fields)).getOrElse(p)
  }
}

/** (srcId, logicalPartition) membership with wildcards; control messages
  * always pass (filter/LogicalSourceAndPartitionDbusFilter.java:35-117). */
case class LogicalSourceAndPartitionFilter(
    allowed: Map[Int, Option[Set[Short]]]) extends DbusFilter {
  override def toColumn: Column = {
    val dataPred = allowed.toSeq.sortBy(_._1).map { case (src, parts) =>
      val srcPred = col("source_id") === src
      parts match {
        case None => srcPred // wildcard: all logical partitions
        case Some(ps) =>
          srcPred && col("partition_id").isin(ps.toSeq.sorted.map(p => Integer.valueOf(p.toInt)): _*)
      }
    }.foldLeft(lit(false))(_ || _)
    dataPred || col("opcode").isNull // control rows always pass (:46-52)
  }
}

/** Numeric key ∈ [min, max) — `Range.contains` is half-open
  * (filter/KeyRangeFilter.java:25-40; util/Range.java:30-44). String keys
  * are ONLY parse-as-long in the reference — an unparseable string key
  * throws there (KeyRangeFilter.java:50-57, no hashCode fallback, unlike
  * KeyMod) — so on a mixed-key envelope the range must never range over
  * the source's hashCode coercion: [[toColumnFor]] EXCLUDES events whose
  * key_string does not parse as a long (the columnar analog of the
  * reference's per-event throw; overflowing numeric strings are excluded
  * too, matching Long.parseLong's NumberFormatException). Envelopes
  * without `key_string` carry numeric keys in `key_long`, where the range
  * applies directly. */
case class KeyRangeFilter(minKey: Long, maxKey: Long) extends DbusFilter {
  override def toColumn: Column =
    col("key_long") >= minKey && col("key_long") < maxKey
  override def toColumnFor(fields: Seq[String]): Column =
    if (fields.contains("key_string"))
      (col("key_string").isNull ||
        (col("key_string").rlike("^[+-]?\\d+$") &&
          col("key_string").try_cast("long").isNotNull)) && toColumn
    else toColumn
  override def toSql(keyCol: String): Option[String] =
    Some(s"($keyCol >= $minKey AND $keyCol < $maxKey)")
}

/** abs(key) % numBuckets ∈ [minBucket, maxBucket)
  * (filter/KeyModFilter.java:34-79). String keys: parse-as-long, else Java
  * `String.hashCode` — reproduced exactly in [[Filters.javaStringHash]] for
  * bucket-assignment parity (KeyModFilter.java:55-70). */
case class KeyModFilter(numBuckets: Long, minBucket: Long, maxBucket: Long)
    extends DbusFilter {
  require(numBuckets > 0 && minBucket >= 0 && maxBucket <= numBuckets &&
    minBucket < maxBucket, s"bad mod filter: $this")
  override def toColumn: Column = {
    val bkt = abs(col("key_long")) % numBuckets
    bkt >= minBucket && bkt < maxBucket
  }
  override def toSql(keyCol: String): Option[String] =
    Some(s"(abs($keyCol) % $numBuckets >= $minBucket AND " +
      s"abs($keyCol) % $numBuckets < $maxBucket)")
}

/** Per-source partition spec: type NONE | RANGE | MOD + sub-filter list,
  * OR-combined (filter/DbusKeyFilter.java:54,165;
  * KeyFilterConfigHolder.java:36,54-58). */
case class DbusKeyFilter(partitionType: String, filters: Seq[DbusFilter])
    extends DbusFilter {
  override def toColumn: Column =
    if (partitionType == "NONE" || filters.isEmpty) lit(true)
    else filters.map(_.toColumn).foldLeft(lit(false))(_ || _)
  override def toColumnFor(fields: Seq[String]): Column =
    if (partitionType == "NONE" || filters.isEmpty) lit(true)
    else filters.map(_.toColumnFor(fields)).foldLeft(lit(false))(_ || _)
  override def toSql(keyCol: String): Option[String] =
    if (partitionType == "NONE" || filters.isEmpty) Some("")
    else {
      val parts = filters.map(_.toSql(keyCol))
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.mkString("(", " OR ", ")"))
    }
}

/** Map srcId → DbusKeyFilter; an event is tested against the filter of its
  * own source, sources without a filter pass
  * (filter/DbusKeyCompositeFilter.java:40,76-84). Spark form: a chained
  * CASE — one predicate, fully pushable. */
case class CompositeKeyFilter(bySource: Map[Int, DbusKeyFilter]) extends DbusFilter {
  override def toColumn: Column =
    bySource.toSeq.sortBy(_._1).foldLeft(lit(true)) { case (acc, (src, f)) =>
      when(col("source_id") === src, f.toColumn).otherwise(acc)
    }
  override def toColumnFor(fields: Seq[String]): Column =
    bySource.toSeq.sortBy(_._1).foldLeft(lit(true)) { case (acc, (src, f)) =>
      when(col("source_id") === src, f.toColumnFor(fields)).otherwise(acc)
    }
}

/** Subscription list → server-side predicate: each subscription's
  * (physicalPartition, logicalSource, logicalPartition) triple becomes a
  * conjunct and the list ORs — a consumer registers for the union of its
  * subscriptions (DbusEventBufferMult.constructFilters,
  * DbusEventBufferMult.java:561; subscriptions parsed by the
  * [[graft.model.Subscription]] URI codec). Both partition coordinates
  * test `partition_id`: this engine's envelope runs one logical partition
  * per physical timeline (SURVEY §1.5 mapping). */
case class SubscriptionFilter(subs: Seq[graft.model.Subscription],
    registry: graft.model.SourceRegistry) extends DbusFilter {
  require(subs.nonEmpty, "empty subscription list")
  override def toColumn: Column =
    subs.map { s =>
      val pp = s.physicalPartition
        .map(p => col("partition_id") === p.toInt).getOrElse(lit(true))
      val ls = s.logicalSource
        .map(n => col("source_id") === registry.idOf(n)).getOrElse(lit(true))
      val lp = s.logicalPartition
        .map(p => col("partition_id") === p.toInt).getOrElse(lit(true))
      pp && ls && lp
    }.foldLeft(lit(false))(_ || _)
}

object Filters {

  /** Parse a subscription CSV (modern or legacy URIs) into the serving
    * filter (§2.8 SubscriptionUriCodec → engine predicate). */
  def fromSubscriptions(csv: String,
      registry: graft.model.SourceRegistry): SubscriptionFilter =
    SubscriptionFilter(graft.model.Subscription.parseList(csv), registry)

  /** Exact Java `String.hashCode` — needed for bucket parity with the
    * reference's mod-partitioning of non-numeric string keys
    * (KeyModFilter.java:55-70). Kept out of hot paths; numeric keys use the
    * pure-arithmetic column path. */
  def javaStringHash(s: String): Int = s.hashCode

  val javaStringHashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => if (s == null) null else Integer.valueOf(s.hashCode))

  /** Key bucket for string-keyed events: parse-as-long when numeric, else
    * hashCode (KeyModFilter.java:55-70). */
  def stringKeyBucket(keyString: Column, numBuckets: Long): Column =
    // cast returns null when the numeric string overflows Long — the
    // reference catches NumberFormatException and falls back to hashCode
    // (KeyModFilter.java:55-70), so the hash branch is the null-fallback
    // too (otherwise an overflowing key would match no bucket at all)
    // [+-]? — Long.parseLong accepts a leading '+' as well as '-', so a
    // "+123" key is RANGED/bucketed as 123, not hash-coerced/excluded
    when(keyString.rlike("^[+-]?\\d+$") && keyString.cast("long").isNotNull,
      pmod(abs(keyString.cast("long")), lit(numBuckets)))
      .otherwise(pmod(abs(javaStringHashUdf(keyString).cast("long")), lit(numBuckets)))

  // --- JSON config parsing (filter/KeyFilterConfigJSONFactory.java:46,150) ---

  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  private lazy val mapper = new ObjectMapper()

  /** One DbusKeyFilter JSON object:
    * `{"partitionType":"RANGE","filters":[{"keyRange":{"start":100,"end":200}}]}`
    * or MOD: `{"partitionType":"MOD","filters":[{"numBuckets":4,"bktRange":{"start":0,"end":2}}]}`.
    * Shape mirrors the Jackson serialization the reference parses
    * (KeyFilterConfigJSONFactory.getDbusKeyFilter; test fixtures in
    * TestDbusKeyCompositeFilter.java:162). */
  private def parseKeyFilterNode(node: JsonNode): DbusKeyFilter = {
    val ptype = node.get("partitionType").asText()
    val subs = Option(node.get("filters")).toSeq.flatMap { arr =>
      (0 until arr.size()).map { i =>
        val f = arr.get(i)
        ptype match {
          case "RANGE" =>
            val r = f.get("keyRange")
            KeyRangeFilter(r.get("start").asLong(), r.get("end").asLong())
          case "MOD" =>
            val r = f.get("bktRange")
            KeyModFilter(f.get("numBuckets").asLong(),
              r.get("start").asLong(), r.get("end").asLong())
          case other => throw new IllegalArgumentException(s"partitionType $other")
        }
      }
    }
    DbusKeyFilter(ptype, subs)
  }

  /** Parse the srcId→filter map form:
    * `{"40":{"partitionType":"RANGE","filters":[...]}, "41":{...}}`
    * (KeyFilterConfigJSONFactory.parseSrcIdFilterConfigMap). */
  def parseCompositeConfig(json: String): CompositeKeyFilter = {
    val root = mapper.readTree(json)
    val it = root.fields()
    val m = scala.collection.mutable.Map[Int, DbusKeyFilter]()
    while (it.hasNext) {
      val e = it.next()
      m(e.getKey.toInt) = parseKeyFilterNode(e.getValue)
    }
    CompositeKeyFilter(m.toMap)
  }

  // --- partitioned-cluster filter factories (§2.8) ---

  /** Auto-generate the mod filter for one consumer instance out of
    * `totalBuckets` (DbusModPartitionedFilterFactory shape). */
  def modPartition(totalBuckets: Long, bucket: Long): DbusKeyFilter =
    DbusKeyFilter("MOD", Seq(KeyModFilter(totalBuckets, bucket, bucket + 1)))

  /** Auto-generate the range filter for one consumer instance given a
    * key-range size (DbusRangePartitionedFilterFactory shape). */
  def rangePartition(rangeSize: Long, partition: Long): DbusKeyFilter =
    DbusKeyFilter("RANGE",
      Seq(KeyRangeFilter(rangeSize * partition, rangeSize * (partition + 1))))
}

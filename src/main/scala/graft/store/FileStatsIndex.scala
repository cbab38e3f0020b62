package graft.store

import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name, max, min}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._

/** Per-file MIN/MAX data-skipping index — the zonemap complement to
  * [[BloomIndex]]: a bloom serves EQUALITY on hash-scattered columns;
  * this serves RANGE (and equality) predicates on columns with real
  * per-file locality — a sorted index column's range-partitioned
  * files, a z-ordered layout's clustered dimensions, a monotonically
  * growing event id. The `_period_stats` zonemap prunes PERIODS of
  * time layouts; this prunes FILES of any layout, so flat z-ordered
  * items finally skip too, and fat periods skip within themselves.
  *
  * Mechanics mirror the bloom deliberately (one JSON sidecar per
  * column at the item root, `__filestats_<col>.json`; validity keyed
  * on the committed generation captured before the build's scan;
  * driver-side path selection; partial-month commits refresh
  * incrementally; anything uncertain reads unpruned):
  *  - the build is ONE aggregation: `groupBy(input_file_name)` with
  *    min/max per column — the shuffle moves one skinny row per
  *    (file, column set), never data rows;
  *  - bounds are stored in a canonical ORDERED domain per type
  *    (integral/date/timestamp/boolean → long; float/double → double;
  *    string → the exact UTF-8 string, compared via [[UTF8String]]
  *    binary order — the same order Spark sorts and compares in, NOT
  *    Java's UTF-16 `compareTo`, which diverges on supplementary
  *    characters);
  *  - a file whose recorded bounds are null (every row null in the
  *    column) cannot satisfy any comparison predicate and is dropped
  *    for them — SQL comparison semantics make null rows unmatchable;
  *  - each entry also records the file's NULL COUNT, serving IS NULL
  *    (drop zero-null files — the data-quality sweep reads only the
  *    files that actually hold gaps) and IS NOT NULL (drop all-null
  *    files). Sidecars written before the null-aware format load fine:
  *    comparisons serve as before, IS NULL conservatively keeps.
  *
  * Sidecar size is O(files × columns × ~tens of bytes) — no practical
  * ceiling, unlike the bloom's bitsets.
  */
object FileStatsIndex {

  /** Format tag — bump on any change to domains or serialization. */
  val AlgoTag = "minmax-v1"

  private val SidecarPrefix = "__filestats_"

  def sidecarName(column: String): String =
    SidecarPrefix + java.net.URLEncoder.encode(column, "UTF-8") + ".json"

  /** Types with a total order this index serves. */
  def supportedType(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
        LongType | FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => false
  }

  // ------------------------------------------------------- bound domain

  /** A file's recorded bounds in the canonical ordered domain:
    * `Long` (integral/temporal/boolean), `Double`, or `UTF8String` —
    * plus the file's NULL count in the column (None on sidecars
    * written before the null-aware format: comparisons still serve;
    * IS NULL pruning conservatively keeps the file). */
  private[store] final case class Bounds(lo: Any, hi: Any,
                                         nulls: Option[Long] = None) {
    def isNullOnly: Boolean = lo == null
  }

  /** Fold -0.0 into 0.0 so the domain order matches Spark's comparison
    * semantics (NaN already agrees: both orders place it largest). */
  private def zeroNorm(d: Double): Double = if (d == 0.0d) 0.0d else d

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: java.lang.Long)     => java.lang.Long.compare(x, y)
    case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
    case (x: UTF8String, y: UTF8String)             => x.compareTo(y)
    case _ => throw new IllegalStateException(s"unordered pair: $a / $b")
  }

  /** JVM value (from an agg Row or a filter literal) → canonical
    * domain value for `dt`; None = not coercible (skip pruning). */
  private[store] def toDomain(v: Any, dt: DataType): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType, n: Byte)  => Some(Long.box(n.toLong))
    case (ByteType | ShortType | IntegerType | LongType, n: Short) => Some(Long.box(n.toLong))
    case (ByteType | ShortType | IntegerType | LongType, n: Int)   => Some(Long.box(n.toLong))
    case (ByteType | ShortType | IntegerType | LongType, n: Long)  => Some(Long.box(n))
    // ±0.0 normalized: the domain orders with java.lang.Double.compare
    // (-0.0 < 0.0), but Spark's comparisons treat them equal — without
    // the fold a file whose max is -0.0 would be dropped for `= 0.0`
    case (FloatType | DoubleType, f: Float)  => Some(Double.box(zeroNorm(f.toDouble)))
    case (FloatType | DoubleType, d: Double) => Some(Double.box(zeroNorm(d)))
    // an Int/Long literal against a float column compares exactly once
    // widened (Long→Double is lossy above 2^53 — refuse there)
    case (FloatType | DoubleType, n: Int)    => Some(Double.box(n.toDouble))
    case (FloatType | DoubleType, n: Long) if n.toDouble.toLong == n =>
      Some(Double.box(n.toDouble))
    case (BooleanType, b: Boolean) => Some(Long.box(if (b) 1L else 0L))
    case (StringType, s: String)      => Some(UTF8String.fromString(s))
    case (StringType, u: UTF8String)  => Some(u)
    case (DateType, d: java.sql.Date)       => Some(Long.box(d.toLocalDate.toEpochDay))
    case (DateType, d: java.time.LocalDate) => Some(Long.box(d.toEpochDay))
    case (TimestampType, t: java.sql.Timestamp) =>
      Some(Long.box(t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L))
    case (TimestampType, t: java.time.Instant) =>
      Some(Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000L))
    // NTZ wall time mapped on a FIXED epoch scale (no zone): both the
    // build and the literal go through the same conversion, so the
    // order is exact whatever the session zone
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(Long.box(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        t.getNano / 1000L))
    case _ => None
  }

  private def domainToJson(v: Any): JValue = v match {
    case null            => JNull
    case l: java.lang.Long   => JLong(l)
    case d: java.lang.Double => JDouble(d)
    case u: UTF8String   => JString(u.toString)
  }

  private def jsonToDomain(j: JValue, dt: DataType): Option[Any] = (dt, j) match {
    case (_, JNull) => Some(null)
    case (ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType, JLong(l)) => Some(Long.box(l))
    case (ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType, JInt(i)) => Some(Long.box(i.toLong))
    case (FloatType | DoubleType, JDouble(d)) => Some(Double.box(zeroNorm(d)))
    case (FloatType | DoubleType, JLong(l))   => Some(Double.box(l.toDouble))
    case (FloatType | DoubleType, JInt(i))    => Some(Double.box(i.toDouble))
    case (StringType, JString(s)) => Some(UTF8String.fromString(s))
    case _ => None
  }

  // ---------------------------------------------------------------- build

  /** One aggregation over `raw`: per-file min/max + NULL count of
    * every column. Returns column → (relative file → bounds). Files
    * where a column is entirely null record null bounds (droppable for
    * comparisons); the null count serves IS NULL / IS NOT NULL file
    * skipping (a zero-null file cannot match IS NULL). */
  private[store] def buildStats(raw: DataFrame, columns: Seq[String])
      : Map[String, Map[String, Bounds]] = {
    import org.apache.spark.sql.functions.{count, lit, sum, when}
    val aggs = columns.flatMap(c =>
      Seq(min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
        sum(when(col(c).isNull, lit(1L)).otherwise(lit(0L))).as(s"__nn_$c")))
    val rows = raw
      .select(input_file_name().as("__f") +: columns.map(col): _*)
      .groupBy(col("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val schema = raw.select(columns.map(col): _*).schema
    columns.map { c =>
      val dt = schema(c).dataType
      c -> rows.map { r =>
        val f = relKeyOf(r.getString(0))
        val lo = toDomain(r.getAs[Any](s"__mn_$c"), dt).orNull
        val hi = toDomain(r.getAs[Any](s"__mx_$c"), dt).orNull
        f -> Bounds(lo, hi, Option(r.getAs[Any](s"__nn_$c"))
          .map(_.asInstanceOf[Number].longValue()))
      }.toMap
    }.toMap
  }

  private def relKeyOf(uri: String): String = {
    val segs = uri.split('/')
    val name = segs.last
    if (segs.length >= 2 && segs(segs.length - 2).startsWith(Collection.MonthCol + "="))
      segs(segs.length - 2) + "/" + name
    else name
  }

  private[store] def writeSidecar(itemPath: SPath, column: String,
                                  generation: Long,
                                  files: Map[String, Bounds]): Unit = {
    val json = JObject(List(
      "algo" -> JString(AlgoTag),
      "column" -> JString(column),
      "generation" -> JLong(generation),
      "files" -> JObject(files.toList.sortBy(_._1).map { case (f, b) =>
        // [lo, hi] or [lo, hi, nullCount] — readers accept both, so
        // pre-null-aware sidecars keep serving comparisons
        f -> (JArray(List(domainToJson(b.lo), domainToJson(b.hi)) ++
          b.nulls.map(n => JLong(n)).toList): JValue)
      })))
    itemPath.fs.writeBytesAtomic(
      itemPath.resolve(sidecarName(column)).raw,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(json))
        .getBytes(StandardCharsets.UTF_8))
    cache.remove(itemPath.resolve(sidecarName(column)).raw)
  }

  // ---------------------------------------------------------------- load

  private final case class Loaded(generation: Long,
                                  raw: Map[String, (JValue, JValue, Option[Long])])

  private val cache = TrieMap.empty[String, (java.time.Instant, Loaded)]

  private def load(itemPath: SPath, column: String): Option[Loaded] = {
    val p = itemPath.resolve(sidecarName(column))
    val mtime = itemPath.fs.modifiedAt(p.raw).getOrElse(return None)
    cache.get(p.raw) match {
      case Some((m, l)) if m == mtime => return Some(l)
      case _ => ()
    }
    val parsed =
      try {
        val json = org.json4s.jackson.JsonMethods.parse(
          new String(itemPath.fs.readBytes(p.raw), StandardCharsets.UTF_8))
        val fields = json.asInstanceOf[JObject].obj.toMap
        if (!fields.get("algo").contains(JString(AlgoTag))) return None
        val gen = fields.get("generation") match {
          case Some(JLong(g)) => g
          case Some(JInt(g))  => g.toLong
          case _              => return None
        }
        val files = fields("files").asInstanceOf[JObject].obj.map {
          case (f, JArray(List(lo, hi)))           => f -> ((lo, hi, None: Option[Long]))
          case (f, JArray(List(lo, hi, JLong(n)))) => f -> ((lo, hi, Some(n)))
          case (f, JArray(List(lo, hi, JInt(n))))  => f -> ((lo, hi, Some(n.toLong)))
          case _ => return None
        }.toMap
        Loaded(gen, files)
      } catch { case scala.util.control.NonFatal(_) => return None }
    if (cache.size > 1024) cache.clear()
    cache.put(p.raw, (mtime, parsed))
    Some(parsed)
  }

  // ---------------------------------------------------------------- prune

  /** Can `op v` hold for any value inside [lo, hi]? Null bounds = the
    * file's column is entirely null = no comparison matches. The null
    * probes read the recorded null COUNT instead: a zero-null file
    * cannot match IS NULL (unknown count — a pre-null-aware sidecar —
    * conservatively keeps), an all-null file cannot match IS NOT NULL. */
  private def mightSatisfy(b: Bounds, op: String, vs: Seq[Any]): Boolean =
    op match {
      case "isnull"  => b.nulls.forall(_ > 0L)
      case "notnull" => !b.isNullOnly
      case _ if b.isNullOnly => false
      case "==" | "=" => vs.exists(v => cmp(v, b.lo) >= 0 && cmp(v, b.hi) <= 0)
      case "in"       => vs.exists(v => cmp(v, b.lo) >= 0 && cmp(v, b.hi) <= 0)
      case ">"        => cmp(b.hi, vs.head) > 0
      case ">="       => cmp(b.hi, vs.head) >= 0
      case "<"        => cmp(b.lo, vs.head) < 0
      case "<="       => cmp(b.lo, vs.head) <= 0
      case _          => true
    }

  private def servableOps: Set[String] =
    Set("==", "=", "in", ">", ">=", "<", "<=", "isnull", "notnull")

  /** Driver-side file pruning, same contract as
    * [[BloomIndex.prunedFiles]]: None = no pruning applies (or it
    * would not shrink); Some(kept) = read exactly these files.
    * `allFiles` and `generation` carry the same meaning as there. */
  private[graft] def prunedFiles(itemPath: SPath,
                                 preds: Seq[Filters.Pred],
                                 encodedSchema: StructType,
                                 allFiles: () => Seq[String],
                                 generation: Long): Option[Seq[String]] = {
    val cands: Seq[(String, String, Seq[Any])] = preds.flatMap {
      // null probes carry no literal (value ignored by contract)
      case Filters.Pred(c, op @ ("isnull" | "notnull" | "isnotnull"), _) =>
        Some((c, if (op == "isnotnull") "notnull" else op, Nil))
      case Filters.Pred(c, op, v) if servableOps(op) && v != null =>
        (op, v) match {
          case ("in", vs: Iterable[_])
              if vs.nonEmpty && vs.size <= BloomIndex.MaxInValues &&
                !vs.exists(_ == null) =>
            Some((c, "in", vs.toSeq.map(_.asInstanceOf[Any])))
          case ("in", _) => None
          case _         => Some((c, op, Seq(v)))
        }
      case _ => None
    }
    if (cands.isEmpty) return None
    // per usable pred: file → bounds in the canonical domain, plus the
    // coerced literal(s); any doubt (type mismatch, stale, unreadable
    // bound) drops the PRED, never a file
    val usable: Seq[(Map[String, Bounds], String, Seq[Any])] = cands.flatMap {
      case (c, op, vs) =>
        encodedSchema.fields.find(_.name == c).flatMap { fld =>
          if (!supportedType(fld.dataType)) None
          else load(itemPath, c).filter(_.generation == generation).flatMap { l =>
            val dom = vs.flatMap(v => toDomain(v, fld.dataType))
            if (dom.size != vs.size) None
            else Some((domainBounds(l, fld.dataType), op, dom))
          }
        }
    }
    if (usable.isEmpty) return None
    val all = allFiles()
    if (all.isEmpty) return None
    val kept = all.filter(mightMatch(usable))
    if (kept.size == all.size) None else Some(kept)
  }

  /** A loaded sidecar's raw entries in the canonical domain (an
    * unreadable bound drops the file → unknown → kept). */
  private def domainBounds(l: Loaded, dt: DataType): Map[String, Bounds] =
    l.raw.flatMap { case (f, (lo, hi, nulls)) =>
      (jsonToDomain(lo, dt), jsonToDomain(hi, dt)) match {
        case (Some(a), Some(b)) => Some(f -> Bounds(a, b, nulls))
        case _                  => None
      }
    }

  /** Whether a file's bounds MIGHT satisfy every usable conjunct;
    * unknown files (raced listings) always might. */
  private def mightMatch(usable: Seq[(Map[String, Bounds], String, Seq[Any])])
      (f: String): Boolean =
    usable.forall { case (bounds, op, vs) =>
      bounds.get(f).forall(mightSatisfy(_, op, vs))
    }

  // ------------------------------------------------------------- refresh

  /** Incremental maintenance after a partial-month commit — identical
    * protocol to [[BloomIndex.refreshAfterPartialCommit]]: re-stat only
    * the touched period dirs, carry untouched files' bounds, publish
    * keyed to the commit's own generation. */
  private[store] def refreshAfterPartialCommit(spark: SparkSession,
                                               itemPath: SPath,
                                               months: Seq[String],
                                               oldGen: Long,
                                               newGen: Long): Unit = {
    if (months.isEmpty) return
    val valid = indexedColumns(itemPath)
      .flatMap(c => load(itemPath, c).filter(_.generation == oldGen).map(c -> _))
    if (valid.isEmpty) return
    val enc = Meta.read(itemPath).get("schema_json_encoded") match {
      case Some(JString(sj)) =>
        DataType.fromJson(sj).asInstanceOf[StructType]
      case _ => return
    }
    val dataDir = itemPath.resolve(Item.DataDir)
    val touchedDirs = months
      .map(m => dataDir.resolve(s"${Collection.MonthCol}=$m"))
      .filter(_.isDir)
    val prefixes = months.map(m => s"${Collection.MonthCol}=$m/")
    val gcols = valid.map(_._1).filter(c => enc.fields.exists(_.name == c))
    val fresh: Map[String, Map[String, Bounds]] =
      if (touchedDirs.isEmpty || gcols.isEmpty) Map.empty
      else buildStats(
        spark.read.schema(enc).parquet(touchedDirs.map(_.toString): _*), gcols)
    valid.foreach { case (c, l) =>
      val dt = enc.fields.find(_.name == c).map(_.dataType)
      val carried = l.raw.view
        .filterKeys(f => !prefixes.exists(f.startsWith))
        .flatMap { case (f, (lo, hi, nulls)) =>
          dt.flatMap(d => (jsonToDomain(lo, d), jsonToDomain(hi, d)) match {
            case (Some(a), Some(b)) => Some(f -> Bounds(a, b, nulls))
            case _                  => None
          })
        }.toMap
      writeSidecar(itemPath, c, newGen,
        carried ++ fresh.getOrElse(c, Map.empty))
    }
  }

  // -------------------------------------------------------------- advise

  /** Raw per-column metrics for the skip-index advisor — what each
    * index would actually deliver on the CURRENT physical layout:
    *  - fileOverlap: mean over files f of the fraction of files whose
    *    [min,max] interval contains f's min — ~1/files when intervals
    *    are disjoint (a zonemap separates), →1 when every interval
    *    covers everything (a zonemap skips nothing);
    *  - distinctRatio: approx distinct / non-null rows — near 1 for
    *    the point-lookup shape a bloom serves;
    *  - nullFrac — nonzero means IS NULL pruning has something to skip.
    * Two jobs: the shared per-file stats aggregation plus one global
    * (count, approx distinct per column) aggregate. Purely advisory —
    * nothing is written. */
  /** The advisor's interval-separation metric: mean over files f of
    * the fraction of files g whose [lo, hi] contains f.lo. Exact
    * O(n log n) sort-and-sweep (the naive O(files^2) pairwise loop
    * would spin the driver for minutes on a tens-of-thousands-file
    * item): the number of intervals containing a point p is
    * #{g.lo <= p} − #{g.hi < p}, two binary searches over the
    * pre-sorted lo and hi arrays. Property-tested equivalent to the
    * pairwise definition (FileStatsSweepSpec). */
  private[store] def overlapOf(bounded: Seq[Bounds]): Double =
    if (bounded.size <= 1) 0.0
    else {
      val los = bounded.map(_.lo).sortWith(cmp(_, _) < 0).toArray
      val his = bounded.map(_.hi).sortWith(cmp(_, _) < 0).toArray
      // first index whose element fails `keep` in a sorted array =
      // the count of elements satisfying it (keep must be a prefix
      // predicate along the sort order, which <= p and < p both are)
      def countWhile(sorted: Array[Any], keep: Any => Boolean): Int = {
        var l = 0; var r = sorted.length
        while (l < r) {
          val m = (l + r) >>> 1
          if (keep(sorted(m))) l = m + 1 else r = m
        }
        l
      }
      bounded.map { f =>
        val containing =
          countWhile(los, x => cmp(x, f.lo) <= 0) -
            countWhile(his, x => cmp(x, f.lo) < 0)
        containing.toDouble / bounded.size
      }.sum / bounded.size
    }

  private[store] def measure(raw: DataFrame, columns: Seq[String])
      : Map[String, (Double, Double, Double)] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, count, lit}
    if (columns.isEmpty) return Map.empty
    val stats = buildStats(raw, columns)
    val g = raw.agg(count(lit(1)).as("__n"),
      columns.map(c => approx_count_distinct(col(c)).as(s"__d_$c")): _*).head()
    val n = g.getAs[Long]("__n")
    columns.map { c =>
      val perFile = stats.getOrElse(c, Map.empty).values.toSeq
      val overlap = overlapOf(perFile.filterNot(_.isNullOnly))
      val nulls = perFile.flatMap(_.nulls).sum
      val nonNull = math.max(1L, n - nulls)
      c -> (overlap,
        math.min(1.0, g.getAs[Long](s"__d_$c").toDouble / nonNull),
        if (n == 0) 0.0 else nulls.toDouble / n)
    }.toMap
  }

  // --------------------------------------------------------------- admin

  private[graft] def indexedColumns(itemPath: SPath): Seq[String] =
    itemPath.fs.listFiles(itemPath.raw)
      .filter(f => f.startsWith(SidecarPrefix) && f.endsWith(".json"))
      .map(f => java.net.URLDecoder.decode(
        f.stripPrefix(SidecarPrefix).stripSuffix(".json"), "UTF-8"))
      .sorted

  private[store] def dropSidecars(itemPath: SPath, columns: Seq[String]): Seq[String] = {
    val targets = if (columns.nonEmpty) columns else indexedColumns(itemPath)
    targets.flatMap { c =>
      val p = itemPath.resolve(sidecarName(c))
      if (p.exists) {
        p.deleteRecursively()
        cache.remove(p.raw)
        Some(c)
      } else None
    }
  }

  /** Per-column state for the `$filestats` metadata table:
    * (column, generation, numFiles, nullAware, totalNulls) —
    * `nullAware` = every entry carries a null count (a pre-null-aware
    * sidecar serves comparisons but not IS NULL pruning); `totalNulls`
    * sums the recorded counts (0 when not null-aware). */
  private[graft] def sidecarStates(itemPath: SPath)
      : Seq[(String, Long, Int, Boolean, Long)] =
    indexedColumns(itemPath).flatMap(c =>
      load(itemPath, c).map { l =>
        val counts = l.raw.valuesIterator.map(_._3).toSeq
        (c, l.generation, l.raw.size,
          counts.nonEmpty && counts.forall(_.isDefined),
          counts.flatten.sum)
      })
}

package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{DedupIndex, Similarity}
import graft.store.{Collection, DuplicateHandling, Filters, GraftStore}

/** One workload: a set-up, rounds of operations, and checks of the state
  * the rounds leave. Every round issues the same operations, so the share
  * of failed operations does not depend on how many rounds a run makes. */
trait Workload {
  /** Build the workload's state in a fresh store under `dir`. */
  def setUp(dir: Path): Unit
  /** Untimed rounds before the timed ones, so that those find the JIT
    * mostly settled: five to ten seconds of the workload's operations. */
  def warmUpRounds: Int
  def round(r: Int): Unit
  /** Checks over the state the rounds left, after the timed phase. */
  def finish(): Unit
  /** Logical bytes of the live user rows, for the storage ratio. */
  def userBytes: Long
}

object Workload {
  val Names: Seq[String] = Seq("bar-append", "range-read", "corpus-ingest")

  def apply(name: String, spark: SparkSession, seed: Long, rec: Recorder): Workload = name match {
    case "bar-append" => new BarAppend(spark, seed, rec)
    case "range-read" => new RangeRead(spark, seed, rec)
    case "corpus-ingest" => new CorpusIngest(spark, seed, rec)
  }

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** Spark expression for the timestamp of minute-grid bar index `i`:
    * the same calendar as [[Models.tradingDate]]. */
  def barTs(i: org.apache.spark.sql.Column, perDay: Int, stepSeconds: Int): org.apache.spark.sql.Column = {
    val day = floor(i / perDay).cast("long")
    val calendarDays = floor(day / 5).cast("long") * 7 + pmod(day, lit(5L))
    timestamp_seconds(lit(Models.epochSecond(Models.Epoch) + Models.OpenSecond) +
      calendarDays * 86400 + pmod(i, lit(perDay.toLong)) * stepSeconds)
  }
}

/** pystore's core loop: append one trading day of minute bars, with the
  * previous day's last bars re-delivered and changed, to symbol items in
  * the monthly layout, keeping the last delivery of a timestamp. Items
  * are taken in turn, and each append is read back outside its timing. */
final class BarAppend(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  import Models.Bars

  /** Four symbols, each holding January and February 2024 (44 trading
    * days); the appends start on 1 March, so the timed phase rewrites the
    * March period of every item and, on its first day, February too. */
  private val Items = 4
  private val History = 44

  private val seedTerm = Bars.seedTerm(seed)
  private val schema = StructType(StructField("ts", TimestampType) +:
    Bars.Fields.map(StructField(_, LongType)))
  private var root: Path = _
  private var coll: Collection = _
  private var models: IndexedSeq[Bars.Item] = _
  private var nextDay = History

  private def item(k: Int) = s"SYM$k"

  def warmUpRounds = 3

  def setUp(dir: Path): Unit = {
    root = dir
    coll = GraftStore(spark, "bars", dir).collection("bars")
    models = (0 until Items).map(k => new Bars.Item(seedTerm, k, History))
    (0 until Items).foreach { k =>
      val i = col("id")
      val frame = spark.range(0L, History.toLong * Bars.PerDay).select(
        (Workload.barTs(i, Bars.PerDay, 60).as("ts") +:
          Bars.Fields.indices.map(f => (lit(1000L * (f + 1)) +
            pmod(i * 7919L + lit(Bars.offset(seedTerm, k, 0, f)), lit(5000L))).as(Bars.Fields(f)))): _*)
      coll.write(item(k), frame, indexCols = Seq("ts"), timeLayout = Some("monthly"))
    }
    nextDay = History
  }

  def round(r: Int): Unit = {
    val d = nextDay
    nextDay += 1
    (0 until Items).foreach(k => rec.operation("append")(appendDay(k, d)))
  }

  private def appendDay(k: Int, d: Int): Unit = {
    val rows = Bars.delivery(d).map { case (i, v) =>
      val b = Bars.bar(seedTerm, k, i, v)
      Row.fromSeq(Workload.ts(b.tsMicros) +: b.values)
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    rec.call("store.append", listing = Some(root)) {
      rec.timed("op_ms", "op_cpu_ms")(coll.append(item(k), df, DuplicateHandling.KeepLast))
    }
    models(k).append(d)
    val from = Bars.tsMicros((d - 1L) * Bars.PerDay)
    val until = Bars.tsMicros((d + 1L) * Bars.PerDay - 1) + 1
    val got = rec.timed("read_ms", "read_cpu_ms") {
      rec.call("store.check_read") {
        coll.item(item(k), filters = Seq(Filters.Pred("ts", ">=", Workload.ts(from)),
          Filters.Pred("ts", "<", Workload.ts(until)))).data.collect()
      }
    }
    same(k, got, models(k).between(from, until), s"day $d")
  }

  private def same(k: Int, got: Array[Row], want: Seq[Bars.Bar], what: String): Unit = {
    val bars = got.map(r => Bars.Bar(Workload.micros(r.getAs[Timestamp]("ts")),
      Bars.Fields.map(r.getAs[Long](_)))).sortBy(_.tsMicros).toSeq
    rec.check(bars.map(_.tsMicros).distinct.size == bars.size,
      s"${item(k)} $what: a timestamp appears twice")
    rec.check(bars == want, s"${item(k)} $what: ${bars.size} rows differ from the " +
      s"${want.size} rows of the model")
  }

  def finish(): Unit = (0 until Items).foreach { k =>
    same(k, coll.item(item(k)).data.collect(), models(k).all, "final rows")
  }

  def userBytes: Long = models.map(_.size.toLong).sum * Bars.RowBytes
}

/** Reads of seeded 30-day windows of one or two columns from symbol
  * items picked by sector metadata, alternating between the Item API and
  * the same predicate through the graft V2 source. Nothing is written in
  * the timed phase, so period pruning and scan planning do the work. */
final class RangeRead(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  import Models.Quotes

  /** Four symbols in two sectors, one year (252 trading days, 13 monthly
    * periods) of five-minute quotes each. */
  private val Items = 4
  private val Days = 252
  private val Sectors = Seq("energy", "tech")
  private val WindowDays = 30

  private var coll: Collection = _

  private def item(k: Int) = s"Q$k"

  def warmUpRounds = 12

  def setUp(dir: Path): Unit = {
    coll = GraftStore(spark, "quotes", dir).collection("quotes")
    (0 until Items).foreach { k =>
      val i = col("id")
      val frame = spark.range(0L, Days.toLong * Quotes.PerDay).select(
        (Workload.barTs(i, Quotes.PerDay, 300).as("ts") +: Quotes.Fields.map(f =>
          (lit(Quotes.base(seed, k, f)) + i * Quotes.slope(f)).as(f))): _*)
      coll.write(item(k), frame, indexCols = Seq("ts"), timeLayout = Some("monthly"),
        metadata = Map("sector" -> Sectors(k % Sectors.size)))
    }
  }

  def round(r: Int): Unit = {
    val from = Models.tradingDate(Models.pick(Days - 22, seed, r.toLong, 1L))
    val until = from.plusDays(WindowDays)
    val sector = Sectors(Models.pick(Sectors.size, seed, r.toLong, 2L))
    val fields = Seq(Seq("px"), Seq("qty"), Quotes.Fields)(Models.pick(3, seed, r.toLong, 3L))
    val lo = Workload.ts(Models.epochSecond(from) * 1000000L)
    val hi = Workload.ts(Models.epochSecond(until) * 1000000L)
    val (i0, i1) = Quotes.window(from, until, Days)

    def readAll(read: String => Array[Row]): Seq[(String, Array[Row])] =
      rec.call("store.list_items")(coll.listItems(Map("sector" -> sector))).toSeq.sorted
        .map(it => it -> read(it))

    rec.operation("item_read") {
      val got = rec.timed("op_ms", "op_cpu_ms")(readAll { it =>
        val df = rec.call("store.read.plan") {
          val d = coll.item(it, filters = Seq(Filters.Pred("ts", ">=", lo), Filters.Pred("ts", "<", hi)),
            columns = fields).data
          d.queryExecution.executedPlan
          d
        }
        val rows = rec.call("store.read.exec")(df.collect())
        rec.outputRows(rows.length)
        rows
      })
      verify(got, sector, fields, i0, i1)
    }
    rec.operation("source_read") {
      val got = rec.timed("read_ms", "read_cpu_ms")(readAll { it =>
        val df = rec.call("sources.scan.plan") {
          val d = spark.read.format("graft").load(coll.path.resolve(it).toString)
            .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
            .select(("ts" +: fields).map(col): _*)
          d.queryExecution.executedPlan
          d
        }
        val rows = rec.call("sources.scan.exec")(df.collect())
        rec.outputRows(rows.length)
        rows
      })
      verify(got, sector, fields, i0, i1)
    }
  }

  private def verify(got: Seq[(String, Array[Row])], sector: String, fields: Seq[String],
                     i0: Long, i1: Long): Unit = {
    val want = (0 until Items).filter(k => Sectors(k % Sectors.size) == sector).map(item)
    rec.check(got.map(_._1) == want, s"sector $sector picked ${got.map(_._1)}, not $want")
    got.foreach { case (it, rows) =>
      val (n, sums) = Quotes.expected(seed, it.drop(1).toInt, fields, i0, i1)
      val gotSums = fields.map(f => rows.map(_.getAs[Long](f)).sum)
      rec.check(rows.length == n && gotSums == sums,
        s"$it window [$i0, $i1) ${fields.mkString(",")}: ${rows.length} rows, sums $gotSums; " +
          s"expected $n rows, sums $sums")
    }
  }

  def finish(): Unit = ()

  def userBytes: Long = Items.toLong * Days * Quotes.PerDay * 8 * (1 + Quotes.Fields.size)
}

/** Batches of documents and embeddings through near-duplicate probing,
  * a string-keyed document append, index appends and similarity search:
  * the operators layer, and the store in the flat layout with long and
  * string keys. */
final class CorpusIngest(spark: SparkSession, seed: Long, rec: Recorder) extends Workload {
  import Models.Corpus

  /** The shapes of the sf0.1 `documents` and `embeddings` fixtures:
    * 2,000 documents of 40-99 words, 2,000 vectors of 64 floats. */
  private val Docs = 2000
  private val Vectors = 2000
  private val NList = 16
  private val NProbe = 4
  private val K = 10
  private val Threshold = 0.8
  /** Recall@10 of the IVF search against exact top-10, averaged over a
    * batch's perturbed queries. */
  private val RecallFloor = 0.8
  private val Exact = 8
  private val Near = 8
  private val Novel = 24
  private val NewVectors = 20
  private val Queries = 10

  private val docSchema = StructType(Seq(StructField("doc_key", StringType),
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private var coll: Collection = _
  private var minhash: DedupIndex.MinhashIndex = _
  private var ivf: Similarity.IvfIndex = _
  private val docKeys = scala.collection.mutable.Set.empty[String]
  private var docBytes = 0L
  private val vectors = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
  private var batch = 0

  private def key(id: Long) = f"doc-$id%012d"

  def warmUpRounds = 2

  private def docFrame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (id, t) => Row(key(id), id, t) }.asJava, docSchema)

  private def vecFrame(vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(vs.map { case (id, v) => Row(id, v.toSeq) }.asJava, vecSchema)

  private def keep(docs: Seq[(Long, String)]): Unit = docs.foreach { case (id, t) =>
    docKeys += key(id)
    docBytes += 8 + key(id).length + t.length
  }

  def setUp(dir: Path): Unit = {
    coll = GraftStore(spark, "corpus", dir).collection("corpus")
    docKeys.clear(); docBytes = 0; vectors.clear(); batch = 0
    val docs = (0L until Docs).map(id => id -> Corpus.text(seed, id))
    val frame = docFrame(docs)
    coll.write("docs", frame, indexCols = Seq("doc_key"))
    keep(docs)
    minhash = DedupIndex.buildAndSaveMinhashIndex(frame, coll, "mh")
    (0L until Vectors).foreach(id => vectors(id) = Corpus.vector(seed, id))
    Similarity.buildIvfIndex(vecFrame(vectors.toSeq), NList, kmeansIters = 5).save(coll, "ivf")
    ivf = Similarity.IvfIndex.load(coll, "ivf")
  }

  def round(r: Int): Unit = rec.operation("batch") {
    val b = batch
    batch += 1
    val base = 1000000L + b * 100L
    val exact = (0 until Exact).map(j => base + j -> Corpus.text(seed, Models.pick(Docs, seed, base + j, 5L).toLong))
    val near = (0 until Near).map { j =>
      val id = base + Exact + j
      id -> Corpus.nearCopy(seed, Corpus.text(seed, Models.pick(Docs, seed, id, 5L).toLong), id)
    }
    val novel = (0 until Novel).map(j => base + Exact + Near + j).map(id => id -> Corpus.text(seed, id))
    val incoming = exact ++ near ++ novel
    val newVectors = (0 until NewVectors).map(j => base + j -> Corpus.vector(seed, base + j))
    // query 0 is a corpus vector as it is; the others are perturbed
    val sources = (0 until Queries).map(j => Models.pick(Vectors, seed, base, j.toLong, 6L).toLong)
    val queries = sources.zipWithIndex.map { case (src, j) =>
      val q = if (j == 0) vectors(src) else Corpus.perturbed(seed, vectors(src), base + j)
      (2000000000L + base + j) -> q
    }
    val incomingFrame = docFrame(incoming)
    val newVectorFrame = vecFrame(newVectors)
    val queryFrame = vecFrame(queries)

    val (pairs, survivors, hits) = rec.timed("op_ms", "op_cpu_ms") {
      val pairs = rec.call("operators.probe") {
        val (plan, caches) = DedupIndex.probeMinhashIndexRetained(minhash, incomingFrame, Threshold)
        try plan.collect() finally caches.foreach(_.unpersist(blocking = false))
      }
      val flagged = pairs.flatMap(p => Seq(p.getLong(0), p.getLong(1))).toSet
      val survivors = incoming.filterNot { case (id, _) => flagged(id) }
      val survivorFrame = docFrame(survivors)
      rec.call("store.doc_append")(coll.append("docs", survivorFrame))
      minhash = rec.call("operators.minhash_append")(
        DedupIndex.appendToMinhashIndex(survivorFrame, coll, "mh"))
      ivf = rec.call("operators.ivf_append")(Similarity.appendToIvfIndex(newVectorFrame, coll, "ivf"))
      val hits = rec.timed("read_ms", "read_cpu_ms")(rec.call("operators.search")(
        Similarity.ivfSearch(ivf, queryFrame, K, NProbe).collect()))
      (pairs, survivors, hits)
    }
    keep(survivors)
    newVectors.foreach { case (id, v) => vectors(id) = v }

    val flagged = pairs.flatMap(p => Seq(p.getLong(0), p.getLong(1))).toSet
    rec.check(exact.forall(d => flagged(d._1)), s"batch $b: an exact copy was not flagged")
    rec.check(!novel.exists(d => flagged(d._1)), s"batch $b: a novel document was flagged")
    val byQuery = hits.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    }
    rec.check(byQuery.get(queries.head._1).flatMap(_.headOption).contains(sources.head),
      s"batch $b: corpus vector ${sources.head} is not its own rank-1 neighbour")
    val recall = queries.tail.map { case (q, v) =>
      Corpus.topK(vectors, v, K).intersect(byQuery.getOrElse(q, Nil)).size.toDouble / K
    }.sum / (Queries - 1)
    rec.check(recall >= RecallFloor, f"batch $b: recall@$K $recall%.3f below $RecallFloor")
  }

  def finish(): Unit = {
    val keys = coll.item("docs", columns = Seq("doc_key")).data.collect().map(_.getString(0))
    rec.check(keys.length == docKeys.size && keys.toSet == docKeys,
      s"docs holds ${keys.length} keys; the model holds ${docKeys.size}")
    val assigned = coll.item("ivf__assigned").data.count()
    rec.check(assigned == vectors.size, s"the IVF index holds $assigned vectors, not ${vectors.size}")
  }

  def userBytes: Long = docBytes + vectors.size.toLong * (8 + 4 * Corpus.Dim)
}

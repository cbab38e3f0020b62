package perfbench

import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

/** Input generators and the plain-Scala models the benchmark checks the
  * program's outputs against. Nothing here touches Spark or the store:
  * every expected value is computed from the generator alone. */
object Models {

  /** 64-bit mix (SplitMix64 finaliser): the one source of seeded choices. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(parts: Long*): Long = parts.foldLeft(0x5DEECE66DL)((h, p) => mix(h ^ p))

  /** A draw in [0, n) from the seeded key. */
  def pick(n: Int, parts: Long*): Int = java.lang.Math.floorMod(mix(parts: _*), n.toLong).toInt

  // ---------------------------------------------------------- calendar

  /** Trading day 0 is Monday 2024-01-01; trading days are weekdays. */
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  /** Sessions open at 14:30 UTC. */
  val OpenSecond: Long = 14L * 3600 + 30 * 60

  def tradingDate(d: Int): LocalDate = Epoch.plusDays(d / 5 * 7L + d % 5)

  def epochSecond(date: LocalDate): Long = date.atStartOfDay(ZoneOffset.UTC).toEpochSecond

  /** Number of trading days whose date lies before `date`. */
  def tradingDaysBefore(date: LocalDate): Int = {
    val days = java.time.temporal.ChronoUnit.DAYS.between(Epoch, date).toInt
    days / 7 * 5 + math.min(days % 7, 5)
  }

  // --------------------------------------------------- bar-append model

  /** Minute bars: one trading day is 390 bars; each append re-delivers,
    * changed, the last 39 bars of the day before. */
  object Bars {
    val PerDay = 390
    val Redelivered = 39
    val Fields: Seq[String] = Seq("open", "high", "low", "close", "volume")
    /** Logical row width: the timestamp and five 8-byte fields. */
    val RowBytes = 48

    final case class Bar(tsMicros: Long, values: Seq[Long])

    /** Bar index `i` counts minutes from day 0: i = day * 390 + minute. */
    def tsMicros(i: Long): Long =
      (epochSecond(tradingDate((i / PerDay).toInt)) + OpenSecond + (i % PerDay) * 60) * 1000000L

    /** Field value of bar `i` of symbol `k` in delivery version `v`. The
      * same affine form is written as a Spark expression by the
      * workload, so products stay far below 2^63. */
    def value(seedTerm: Long, k: Int, i: Long, v: Int, field: Int): Long =
      1000L * (field + 1) + java.lang.Math.floorMod(i * 7919L + offset(seedTerm, k, v, field), 5000L)

    def offset(seedTerm: Long, k: Int, v: Int, field: Int): Long =
      seedTerm + k * 104729L + v * 15485863L + field * 32452843L

    def seedTerm(seed: Long): Long = java.lang.Math.floorMod(mix(seed, 1L), 1000000000L)

    def bar(seedTerm: Long, k: Int, i: Long, v: Int): Bar =
      Bar(tsMicros(i), Fields.indices.map(f => value(seedTerm, k, i, v, f)))

    /** Bar indexes and versions of the append that delivers day `d`. */
    def delivery(d: Int): Seq[(Long, Int)] = {
      val today = (d.toLong * PerDay until (d + 1).toLong * PerDay).map(_ -> 0)
      val again =
        if (d == 0) Nil
        else (d.toLong * PerDay - Redelivered until d.toLong * PerDay).map(_ -> 1)
      again ++ today
    }

    /** One item's rows after the initial write of days [0, history) and
      * the appends of `appended` days in order, the last delivery of a
      * timestamp winning. Sorted by timestamp. */
    final class Item(seedTerm: Long, k: Int, history: Int) {
      private val rows = mutable.TreeMap.empty[Long, Bar]
      (0L until history.toLong * PerDay).foreach(i => put(i, 0))
      private def put(i: Long, v: Int): Unit = {
        val b = bar(seedTerm, k, i, v)
        rows(b.tsMicros) = b
      }
      def append(d: Int): Unit = delivery(d).foreach { case (i, v) => put(i, v) }
      def all: Seq[Bar] = rows.values.toSeq
      def between(fromMicros: Long, untilMicros: Long): Seq[Bar] =
        rows.range(fromMicros, untilMicros).values.toSeq
      def size: Int = rows.size
    }
  }

  // ---------------------------------------------------- range-read model

  /** Five-minute quotes whose values are affine in the bar index, so a
    * window's count and sums have a closed form. */
  object Quotes {
    val PerDay = 78
    val Fields: Seq[String] = Seq("px", "qty")

    def tsSecond(i: Long): Long =
      epochSecond(tradingDate((i / PerDay).toInt)) + OpenSecond + (i % PerDay) * 300

    /** px = base + 3i and qty = base + i for bar index i. */
    def slope(field: String): Long = if (field == "px") 3L else 1L
    def base(seed: Long, k: Int, field: String): Long =
      1000L + pick(100000, seed, k.toLong, field.hashCode.toLong)

    /** Bar-index range [i0, i1) of the calendar window [from, until),
      * clipped to the `days` trading days written. */
    def window(from: LocalDate, until: LocalDate, days: Int): (Long, Long) = {
      val d0 = math.min(tradingDaysBefore(from), days)
      val d1 = math.min(tradingDaysBefore(until), days)
      (d0.toLong * PerDay, d1.toLong * PerDay)
    }

    /** Row count and per-field sum of item `k` over bar indexes [i0, i1). */
    def expected(seed: Long, k: Int, fields: Seq[String], i0: Long, i1: Long): (Long, Seq[Long]) = {
      val n = i1 - i0
      val indexSum = (i0 + i1 - 1) * n / 2
      (n, fields.map(f => base(seed, k, f) * n + slope(f) * indexSum))
    }
  }

  // ------------------------------------------------- corpus-ingest model

  object Corpus {
    val Vocabulary = 500
    val Dim = 64
    val Clusters = 10

    /** Letters-only words, so the store's tokenizer keeps each intact. */
    def word(w: Int): String = {
      val sb = new StringBuilder("w")
      var x = w
      do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
      sb.toString
    }

    def text(seed: Long, key: Long): String = {
      val n = 40 + pick(60, seed, key, -1L)
      (0 until n).map(j => word(pick(Vocabulary, seed, key, j.toLong))).mkString(" ")
    }

    /** `source` with one word replaced by a different one: about 0.9
      * Jaccard on word 3-shingles. */
    def nearCopy(seed: Long, source: String, key: Long): String = {
      val words = source.split(" ")
      val at = pick(words.length, seed, key, -2L)
      val w = pick(Vocabulary, seed, key, -3L)
      val other = if (word(w) == words(at)) word((w + 1) % Vocabulary) else word(w)
      words.updated(at, other).mkString(" ")
    }

    /** Vectors lie around one of `Clusters` seeded centres. */
    def vector(seed: Long, key: Long): Array[Float] = {
      val c = pick(Clusters, seed, key, -4L)
      Array.tabulate(Dim)(j => (centre(seed, c, j) + 0.35 * gauss(seed, key, j)).toFloat)
    }

    def centre(seed: Long, c: Int, j: Int): Double = gauss(seed, -1000L - c, j)

    def perturbed(seed: Long, v: Array[Float], key: Long): Array[Float] =
      Array.tabulate(Dim)(j => (v(j) + 0.05 * gauss(seed, key, j)).toFloat)

    /** A standard normal draw (Box-Muller over two seeded uniforms). */
    def gauss(seed: Long, key: Long, j: Int): Double = {
      def unit(salt: Long) = ((mix(seed, key, j.toLong, salt) >>> 11) + 1).toDouble / (1L << 53).toDouble
      math.sqrt(-2 * math.log(unit(1L))) * math.cos(2 * math.Pi * unit(2L))
    }

    def cosine(a: Array[Float], b: Array[Float]): Double = {
      var dot, na, nb = 0.0
      var j = 0
      while (j < a.length) {
        dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
        j += 1
      }
      dot / math.sqrt(na * nb)
    }

    /** Exact top-k ids by cosine, ties to the smaller id. */
    def topK(corpus: collection.Map[Long, Array[Float]], q: Array[Float], k: Int): Seq[Long] =
      corpus.toSeq.map { case (id, v) => (-cosine(q, v), id) }.sorted.take(k).map(_._2)
  }
}

package perfbench

import java.time.{DayOfWeek, Instant, LocalDate}

import org.scalatest.funsuite.AnyFunSuite

class ModelsSpec extends AnyFunSuite {
  import Models._

  test("the trading calendar skips weekends and inverts") {
    assert(tradingDate(0) == LocalDate.of(2024, 1, 1))
    assert(tradingDate(5) == LocalDate.of(2024, 1, 8))
    assert(tradingDate(44) == LocalDate.of(2024, 3, 1))
    (0 until 600).foreach { d =>
      val date = tradingDate(d)
      assert(date.getDayOfWeek != DayOfWeek.SATURDAY && date.getDayOfWeek != DayOfWeek.SUNDAY)
      assert(tradingDaysBefore(date) == d)
      assert(tradingDaysBefore(date.plusDays(1)) == d + 1)
    }
    // a weekend adds no trading day
    assert(tradingDaysBefore(LocalDate.of(2024, 1, 6)) == 5)
    assert(tradingDaysBefore(LocalDate.of(2024, 1, 8)) == 5)
  }

  test("bar timestamps follow the session grid") {
    assert(Instant.ofEpochSecond(Bars.tsMicros(0) / 1000000) == Instant.parse("2024-01-01T14:30:00Z"))
    assert(Instant.ofEpochSecond(Bars.tsMicros(389) / 1000000) == Instant.parse("2024-01-01T20:59:00Z"))
    assert(Instant.ofEpochSecond(Bars.tsMicros(390) / 1000000) == Instant.parse("2024-01-02T14:30:00Z"))
  }

  test("a delivery is one day plus the changed tail of the day before") {
    assert(Bars.delivery(0).size == Bars.PerDay)
    val d = Bars.delivery(45)
    assert(d.size == Bars.PerDay + Bars.Redelivered)
    assert(d.count(_._2 == 1) == Bars.Redelivered)
    assert(d.filter(_._2 == 1).forall(_._1 / Bars.PerDay == 44))
    assert(d.filter(_._2 == 0).forall(_._1 / Bars.PerDay == 45))
    val st = Bars.seedTerm(7)
    assert(Bars.bar(st, 0, 100, 0) != Bars.bar(st, 0, 100, 1), "a re-delivery changes the bar")
  }

  test("the bar model keeps the last delivery of each timestamp") {
    val st = Bars.seedTerm(3)
    val m = new Bars.Item(st, 1, 2)
    assert(m.size == 2 * Bars.PerDay)
    m.append(2)
    m.append(3)
    assert(m.size == 4 * Bars.PerDay)
    val rows = m.all
    assert(rows.map(_.tsMicros) == rows.map(_.tsMicros).sorted.distinct)
    val tailOfDay1 = (2L * Bars.PerDay - Bars.Redelivered until 2L * Bars.PerDay)
    assert(tailOfDay1.forall(i => rows(i.toInt) == Bars.bar(st, 1, i, 1)))
    assert(rows(2 * Bars.PerDay - Bars.Redelivered - 1) == Bars.bar(st, 1, 2L * Bars.PerDay - Bars.Redelivered - 1, 0))
    assert(rows(3 * Bars.PerDay + 5) == Bars.bar(st, 1, 3L * Bars.PerDay + 5, 0))
    val window = m.between(Bars.tsMicros(Bars.PerDay), Bars.tsMicros(2L * Bars.PerDay))
    assert(window == rows.slice(Bars.PerDay, 2 * Bars.PerDay))
  }

  test("bar values stay in their field's band") {
    val st = Bars.seedTerm(11)
    for (k <- 0 until 4; i <- 0L until 2000L by 37; v <- 0 to 1; f <- Bars.Fields.indices) {
      val x = Bars.value(st, k, i, v, f)
      assert(x >= 1000L * (f + 1) && x < 1000L * (f + 1) + 5000)
    }
  }

  test("a quote window's closed form equals summing the generator") {
    val seed = 5L
    val days = 252
    for (start <- Seq(0, 17, 100, 229); span <- Seq(1, 30, 45)) {
      val from = tradingDate(start)
      val until = from.plusDays(span)
      val (i0, i1) = Quotes.window(from, until, days)
      val inWindow = (0L until days.toLong * Quotes.PerDay).filter { i =>
        val t = Quotes.tsSecond(i)
        t >= epochSecond(from) && t < epochSecond(until)
      }
      assert(inWindow.nonEmpty)
      assert(inWindow.head == i0 && inWindow.last == i1 - 1 && inWindow.size == i1 - i0)
      val (n, sums) = Quotes.expected(seed, 2, Quotes.Fields, i0, i1)
      assert(n == inWindow.size)
      assert(sums == Quotes.Fields.map(f =>
        inWindow.map(i => Quotes.base(seed, 2, f) + Quotes.slope(f) * i).sum))
    }
  }

  test("a quote window is clipped to the days written") {
    val (i0, i1) = Quotes.window(tradingDate(240), tradingDate(240).plusDays(30), 252)
    assert(i0 == 240L * Quotes.PerDay && i1 == 252L * Quotes.PerDay)
  }

  private def shingles(t: String): Set[Seq[String]] = t.split(" ").toSeq.sliding(3).toSet

  test("near copies stay near and novel documents stay apart") {
    val seed = 9L
    (0L until 200L).foreach { id =>
      val t = Corpus.text(seed, id)
      assert(t.split(" ").length >= 40 && t.split(" ").forall(_.forall(_.isLetter)))
      val near = Corpus.nearCopy(seed, t, id + 1000)
      assert(near != t && near.split(" ").length == t.split(" ").length)
      val (a, b) = (shingles(t), shingles(near))
      assert((a & b).size.toDouble / (a | b).size >= 0.8)
      val other = shingles(Corpus.text(seed, id + 5000))
      assert((a & other).size.toDouble / (a | other).size < 0.1)
    }
  }

  test("exact top-k ranks by cosine, ties to the smaller id") {
    val corpus = Map(1L -> Array(1f, 0f), 2L -> Array(0f, 1f), 3L -> Array(1f, 1f), 4L -> Array(2f, 0f))
    assert(Corpus.topK(corpus, Array(1f, 0.1f), 2) == Seq(1L, 4L))
    assert(Corpus.topK(corpus, Array(0f, 1f), 3) == Seq(2L, 3L, 1L))
  }

  test("a perturbed vector's nearest neighbour is its source") {
    val seed = 4L
    val corpus = (0L until 300L).map(id => id -> Corpus.vector(seed, id)).toMap
    (0L until 50L).foreach { id =>
      assert(Corpus.topK(corpus, Corpus.perturbed(seed, corpus(id), 77L + id), 1) == Seq(id))
    }
  }
}
